"""Small-file compaction for partitioned parquet tiers (the operational
twin of Iceberg's ``rewrite_data_files``).

Tier sinks append per-run files; at 100 TB a hot partition accumulates
thousands of small parquet files and every downstream scan pays the
per-file open cost (plus driver memory for the file index). This pass:

1. Walks the partition directories with filesystem METADATA only
   (no Spark job) and plans which partitions need rewriting: more files
   than ``ceil(bytes / target_file_bytes)``.
2. Rewrites each planned partition with a single coalesced write into a
   temp dir inside the partition, then commits by swapping files — so a
   reader sees either the old file set or the new one, and untouched
   partitions are never rewritten (asserted in tests by file identity).

On Iceberg this whole module is `CALL rewrite_data_files(...)`; the
parquet fallback keeps the same contract: same rows, fewer files,
untouched partitions untouched.
"""

from __future__ import annotations

import math

from pyspark.sql import SparkSession

from tsclust_spark import hadoopfs
from tsclust_spark.plans.merge import _partition_dirs


def _data_files(fs, dir_path):
    """[(path, bytes)] of the parquet data files directly in dir_path."""
    out = []
    for status in fs.listStatus(dir_path):
        name = status.getPath().getName()
        if status.isFile() and not name.startswith(("_", ".")):
            out.append((status.getPath(), status.getLen()))
    return out


def plan_compaction(
    spark: SparkSession,
    path: str,
    n_partition_levels: int,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> list[dict]:
    """Metadata-only compaction plan: one entry per partition whose file
    count exceeds what its byte size needs at ``target_file_bytes``."""
    fs, _ = hadoopfs.fs_path(spark, path)
    plans = []
    for vals, pdir in _partition_dirs(spark, path, n_partition_levels).items():
        files = _data_files(fs, pdir)
        total = sum(b for _, b in files)
        target_n = max(1, math.ceil(total / target_file_bytes))
        if len(files) > target_n:
            plans.append(
                {
                    "partition": vals,
                    "dir": str(pdir),
                    "n_files": len(files),
                    "bytes": int(total),
                    "target_n": int(target_n),
                }
            )
    return plans


def compact_partition(spark: SparkSession, dir_path: str, target_n: int) -> None:
    """Rewrite ONE partition directory to ``target_n`` files.

    Write-then-swap: the coalesced rewrite lands in ``_compact_tmp``
    inside the partition, old data files are deleted, new files moved
    in, tmp removed — readers see old-or-new, never a partial mix of
    half the old files. (Iceberg gets true snapshot isolation; this is
    the honest parquet equivalent.)
    """
    fs, hdir = hadoopfs.fs_path(spark, dir_path)
    Path = hadoopfs.jvm_class(spark, "org.apache.hadoop.fs.Path")
    tmp = Path(dir_path + "/_compact_tmp")
    old_files = [p for p, _ in _data_files(fs, hdir)]
    (
        spark.read.parquet(dir_path)
        .coalesce(target_n)
        .write.mode("overwrite")
        .parquet(str(tmp))
    )
    for p in old_files:
        fs.delete(p, False)
    for status in fs.listStatus(tmp):
        name = status.getPath().getName()
        if status.isFile() and not name.startswith(("_", ".")):
            hadoopfs.rename(
                fs,
                status.getPath(),
                Path(dir_path + "/" + name),
            )
    fs.delete(tmp, True)


def compact(
    spark: SparkSession,
    path: str,
    n_partition_levels: int,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> dict:
    """Plan + execute compaction over every oversized partition.

    Returns {"partitions_compacted", "files_before", "files_after"}.
    Partitions already at-or-under their target file count are not
    touched (not read, not rewritten).
    """
    plans = plan_compaction(spark, path, n_partition_levels, target_file_bytes)
    for p in plans:
        compact_partition(spark, p["dir"], p["target_n"])
    return {
        "partitions_compacted": len(plans),
        "files_before": sum(p["n_files"] for p in plans),
        "files_after": sum(p["target_n"] for p in plans),
    }
