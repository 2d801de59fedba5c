"""SparkSession factory with the engine's scale-oriented defaults.

Designed for a multi-executor cluster at 10^12-sequence scale; in the
sandbox it runs ``local[N]``. All knobs are plain public Spark SQL
configs — AQE (runtime re-planning + skew-join splitting), Arrow batching
for the pandas-UDF kernels, and sensible shuffle-partition counts.

Importing this module (the package ``__init__`` does) also installs a
stat-keyed cache for ``zipimport``'s archive directories. PySpark's worker
calls ``importlib.invalidate_caches()`` at the start of every task, and on
CPython 3.11 and 3.12.1 each cached ``zipimporter`` then re-reads its
archive's whole central directory: a reused worker holds ~16 of them over
the shipped ``pyspark.zip`` and py4j archives, which made up most of each
task's fixed "time to initialize Python workers". With the cache,
``invalidate_caches`` re-reads an archive only when its ``(st_mtime_ns,
st_size, st_ino)`` changed since the last read. Every Python worker that
unpickles an engine kernel imports the package and so installs it; the
driver process installs it too, which is harmless.

It has the purpose of CPython's gh-103200 but not its mechanism: from
3.13, ``invalidate_caches`` drops the cached directory and the next lookup
reads it again, with no stat check. The cache is installed only where
``zipimporter`` still keeps its directory in ``self._files`` (the eager
implementation it replaces; 3.13 reads it through ``_get_files``). Delete
:func:`_install_zip_cache` and its state once the minimum supported
Python has the lazy implementation, after measuring the per-task worker
init time there (not yet measured).
"""

from __future__ import annotations

import os
import zipimport

from pyspark.sql import SparkSession

# archive path -> (st_mtime_ns, st_size, st_ino) when its directory was
# last read; process-wide, like zipimport's own directory cache it guards
_ZIP_STAMPS: dict[str, tuple[int, int, int]] = {}
_STDLIB_ZIP_INVALIDATE = zipimport.zipimporter.invalidate_caches


def _zipimporter_invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive's
    directory only when the file changed since the last read."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
    except OSError:
        stamp = None
    files = zipimport._zip_directory_cache.get(self.archive)
    if files is not None and stamp is not None and (
        _ZIP_STAMPS.get(self.archive) == stamp
    ):
        # another importer over the same archive may have re-read it
        self._files = files
        return
    # stat before the read: a change racing the read leaves an older
    # stamp behind, so the next call reads again
    _STDLIB_ZIP_INVALIDATE(self)
    if stamp is not None and self.archive in zipimport._zip_directory_cache:
        _ZIP_STAMPS[self.archive] = stamp
    else:
        _ZIP_STAMPS.pop(self.archive, None)


def _install_zip_cache() -> None:
    if not hasattr(zipimport.zipimporter, "_get_files"):
        zipimport.zipimporter.invalidate_caches = _zipimporter_invalidate_caches


_install_zip_cache()

# Arrow batch cap: token arrays run up to ~4096 int32 each (~16 KiB/row),
# so 2048 rows/batch keeps a kernel batch around 32 MiB — comfortably
# inside a Python-worker heap while still amortizing Arrow transfer.
ARROW_MAX_RECORDS_PER_BATCH = 2048


def engine_confs(shuffle_partitions: int | None = None) -> dict[str, str]:
    """The config set every engine session (local or cluster) should run with."""
    confs = {
        # AQE: runtime coalescing of small shuffle partitions and
        # skew-join splitting. Salting (operators/salting.py) covers the
        # skewed-groupBy case AQE does not.
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # Arrow for pandas UDFs / toPandas — the kernel transport.
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": str(
            ARROW_MAX_RECORDS_PER_BATCH
        ),
        # 128 MiB scan splits — parquet row-group sized.
        "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
        # Session timezone pinned so window/date_trunc bucketing is
        # deterministic and matches the DuckDB/numpy oracles.
        "spark.sql.session.timeZone": "UTC",
    }
    if shuffle_partitions is not None:
        confs["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    return confs


def get_spark(
    app_name: str = "tsclust_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a session.

    ``cores`` defaults to ``$SPARK_GRAFT_CPUS`` or all local cores. On a
    real cluster, pass ``cores=None`` and set master via spark-submit;
    ``local[...]`` is only used when no master is configured.
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    if shuffle_partitions is None:
        # one shuffle partition per core locally; clusters override.
        shuffle_partitions = max(int(cores), 8)

    builder = SparkSession.builder.appName(app_name)
    # Respect an externally-provided master (spark-submit --master);
    # otherwise run local with the requested parallelism.
    if not os.environ.get("SPARK_MASTER_OVERRIDE"):
        builder = builder.master(f"local[{cores}]")
    for k, v in engine_confs(shuffle_partitions).items():
        builder = builder.config(k, v)
    builder = builder.config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    for k, v in (extra_confs or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def iceberg_available(spark: SparkSession) -> bool:
    """True when the Iceberg Spark runtime is on the session classpath.

    Probed at runtime (not import) so the same code runs on a cluster
    with ``--packages org.apache.iceberg:iceberg-spark-runtime-...``
    and in this sandbox (no catalog jar): callers pick the executed
    Iceberg MERGE path vs the partitioned-parquet fallback from this.
    """
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False
