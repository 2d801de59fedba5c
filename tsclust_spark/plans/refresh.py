"""Continuous-aggregate refresh policy: incremental tier materialization.

The materializer job that ``operators.rollup.realtime_tier`` assumes:
a stored tier table plus a persisted high-water mark, advanced by
periodic refreshes that aggregate ONLY raw rows at/after the previous
mark and MERGE the resulting buckets (the TimescaleDB
refresh-continuous-aggregate pattern).

Invariants:
- every raw row with ``ts`` < stored watermark is reflected in the tier;
- the boundary bucket the previous refresh saw only partially is
  recomputed from raw, never trusted;
- refresh is idempotent (same ``now`` -> byte-identical tier, MERGE
  upserts the same rows onto themselves);
- ``realtime_tier(raw, stored, watermark)`` over the refreshed table
  equals a direct rollup of everything (asserted in tests/test_refresh.py).

Scale notes (100 TB): each refresh scans raw with a PUSHED
``ts >= aligned(prev)`` predicate — one materialization interval, not
history; the MERGE touches only the partitions holding the recomputed
buckets (partition-surgical parquet fallback, real ``MERGE INTO`` on
Iceberg).

Watermark storage: one line of text, the mark as a naive UTC timestamp
in ISO form (``2024-01-01 01:35:00``, microseconds only when nonzero),
in the file ``_WATERMARK`` inside the watermark path. It is read and
written through the same Hadoop FileSystem API as the data, so the job
works unchanged on HDFS/S3, and neither read nor write starts a Spark
job. A watermark path that holds only the legacy format (a one-row
parquet table with a ``watermark timestamp`` column) is still read; the
next write puts the text file beside it, and the text file wins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tsclust_spark import hadoopfs
from tsclust_spark.operators.rollup import TIER_TRUNC, rollup_tier
from tsclust_spark.plans.merge import merge_into

EPOCH = "1970-01-01 00:00:00"
WATERMARK_FILE = "_WATERMARK"


def _align(t, tier):
    """Python-side bucket floor, matching date_trunc in a UTC session."""
    import datetime as dt

    if isinstance(t, str):
        t = dt.datetime.fromisoformat(t)
    if tier == "1m":
        return t.replace(second=0, microsecond=0)
    if tier == "1h":
        return t.replace(minute=0, second=0, microsecond=0)
    return t.replace(hour=0, minute=0, second=0, microsecond=0)


def read_watermark(spark: SparkSession, path: str):
    """Stored high-water mark (a naive UTC datetime), or None if no
    refresh ever ran. Probes the FileSystem first — letting a read fail
    would spew a JVM stack trace into every first run's logs."""
    import datetime as dt

    text = hadoopfs.read_text(spark, f"{path}/{WATERMARK_FILE}")
    if text:
        return dt.datetime.fromisoformat(text)
    if not hadoopfs.exists(spark, path):
        return None
    rows = spark.read.parquet(path).collect()  # the legacy format
    return rows[0].watermark if rows else None


def write_watermark(spark: SparkSession, path: str, wm) -> None:
    """Store ``wm``, a naive UTC datetime, as the mark."""
    hadoopfs.write_text(spark, f"{path}/{WATERMARK_FILE}", wm.isoformat(sep=" "))


def refresh_tier(
    spark: SparkSession,
    points_df: DataFrame,
    tier_path: str,
    watermark_path: str,
    now,
    tier: str = "1m",
    key_col: str = "doc_id",
    ts_col: str = "ts",
    value_col: str = "value",
    integer_values: bool = True,
    iceberg_table: str | None = None,
) -> dict:
    """One refresh step: materialize buckets in
    ``[bucket(prev_watermark), bucket(now))`` and advance the mark.

    ``now`` is the caller's safe-to-materialize bound (max ingested ts,
    or wall clock minus allowed lateness); buckets at/after its aligned
    floor stay unmaterialized — ``realtime_tier`` serves them live.
    Returns ``{"rows": n, "watermark": new_mark, "sink": ...}``.
    """
    assert tier in TIER_TRUNC
    prev = read_watermark(spark, watermark_path) or EPOCH
    lo = _align(prev, tier)
    hi = _align(now, tier)
    if hi <= lo:
        # `now` at or behind the stored mark: nothing new to
        # materialize, and the mark must NEVER regress — a regressed
        # mark would make the next refresh re-aggregate history it
        # already covered (correct via upsert, but unbounded work)
        return {"rows": 0, "watermark": lo, "sink": None}

    fresh = points_df.filter(
        (F.col(ts_col) >= F.lit(lo)) & (F.col(ts_col) < F.lit(hi))
    )
    # persisted so the points are aggregated once: the count fills the
    # cache that the merge then reads (a nondeterministic upstream
    # cannot make the two disagree, and the window is scanned once)
    buckets = (
        rollup_tier(fresh, tier, key_col, ts_col, value_col, integer_values)
        .withColumn("bucket_date", F.to_date("bucket_ts"))
        .persist()
    )
    try:
        n = buckets.count()
        sink = None
        if n > 0:
            sink = merge_into(
                spark,
                buckets,
                key_cols=[key_col, "bucket_ts"],
                partition_cols=["bucket_date"],
                parquet_path=tier_path,
                iceberg_table=iceberg_table,
            )
    finally:
        buckets.unpersist()
    # the new mark is the ALIGNED bound actually materialized, not the
    # raw `now` — realtime_tier then recomputes exactly the buckets this
    # refresh skipped
    write_watermark(spark, watermark_path, hi)
    return {"rows": int(n), "watermark": hi, "sink": sink}


def realtime_view(
    spark: SparkSession,
    points_df: DataFrame,
    tier_path: str,
    watermark_path: str,
    tier: str = "1m",
    key_col: str = "doc_id",
    ts_col: str = "ts",
    value_col: str = "value",
    integer_values: bool = True,
) -> DataFrame:
    """Query surface over a refreshed tier: frozen buckets below the
    stored mark, live raw tail at/after it (fresh answers between
    refreshes)."""
    from tsclust_spark.operators.rollup import realtime_tier

    wm = read_watermark(spark, watermark_path) or EPOCH
    stored = spark.read.parquet(tier_path).drop("bucket_date")
    return realtime_tier(
        points_df,
        stored,
        tier,
        wm,
        key_col,
        ts_col,
        value_col,
        integer_values,
    )
