"""Driver-side file metadata through the Hadoop FileSystem API.

The sink's staging swap, the refresh watermark, the rollup job's input
fingerprint, compaction and retention all go through the same
FileSystem API Spark writes with, so they work unchanged on local disk,
HDFS or S3. Nothing here starts a Spark job.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def jvm_class(spark: SparkSession, name: str):
    """The JVM class ``name`` (fully qualified). One lookup by the full
    name; ``spark._jvm.org.apache...`` resolves each package segment
    through a failed class lookup first, ~40x slower."""
    return getattr(spark._jvm, name)


def fs_path(spark: SparkSession, path: str):
    """``(FileSystem, Path)`` for ``path``."""
    hpath = jvm_class(spark, "org.apache.hadoop.fs.Path")(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def exists(spark: SparkSession, path: str) -> bool:
    fs, hpath = fs_path(spark, path)
    return fs.exists(hpath)


def read_text(spark: SparkSession, path: str) -> str | None:
    """First line of the file at ``path``, or None if it is absent."""
    fs, hpath = fs_path(spark, path)
    if not fs.exists(hpath):
        return None
    stream = fs.open(hpath)
    try:
        reader = jvm_class(spark, "java.io.BufferedReader")(
            jvm_class(spark, "java.io.InputStreamReader")(stream)
        )
        return reader.readLine()
    finally:
        stream.close()


def write_text(spark: SparkSession, path: str, text: str) -> None:
    """Create or overwrite the file at ``path`` with ``text``."""
    fs, hpath = fs_path(spark, path)
    out = fs.create(hpath, True)
    out.write(bytearray(text.encode()))
    out.close()


def rename(fs, src, dst) -> None:
    """``fs.rename`` that raises: Hadoop reports a failed rename by
    returning False, which a caller committing data must not miss."""
    if not fs.rename(src, dst):
        raise OSError(f"rename {src} -> {dst} failed")
