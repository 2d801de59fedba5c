"""Continuous-aggregate refresh policy: incremental materialization
equals direct rollup; idempotent; realtime view seamless between
refreshes."""

import datetime as dt
import random

import pytest
from pyspark.sql import functions as F

from tsclust_spark.operators.rollup import rollup_tier
from tsclust_spark.plans.refresh import (
    read_watermark,
    realtime_view,
    refresh_tier,
)

T0 = dt.datetime(2024, 1, 1)


def _points(spark, n=500, seed=21):
    rng = random.Random(seed)
    rows = [
        (
            f"d{i % 4}",
            T0 + dt.timedelta(seconds=rng.randrange(3 * 3600)),
            float(rng.randrange(100)),
        )
        for i in range(n)
    ]
    return spark.createDataFrame(
        rows, "doc_id string, ts timestamp, value double"
    )


def _sorted(df):
    cols = ["doc_id", "bucket_ts", "min_value", "max_value",
            "sum_value", "count_value", "mean_value"]
    return [tuple(r) for r in df.select(cols).orderBy("doc_id", "bucket_ts").collect()]


@pytest.mark.spark
def test_incremental_refresh_equals_direct(spark, tmp_path):
    pts = _points(spark)
    tier_path = str(tmp_path / "tier1m")
    wm_path = str(tmp_path / "wm")

    # phase 1: only data before T1 has arrived; T1 is off-boundary
    t1 = T0 + dt.timedelta(minutes=95, seconds=41)
    phase1 = pts.filter(F.col("ts") < F.lit(t1))
    r1 = refresh_tier(
        spark, phase1, tier_path, wm_path, now=t1, integer_values=False
    )
    assert r1["watermark"] == t1.replace(second=0, microsecond=0)
    assert read_watermark(spark, wm_path) == r1["watermark"]

    # between refreshes: the realtime view over (all raw, stale tier)
    # must already equal the direct rollup of everything
    live = realtime_view(
        spark, pts, tier_path, wm_path, integer_values=False
    )
    assert _sorted(live) == _sorted(rollup_tier(pts, "1m", integer_values=False))

    # phase 2: everything arrived; advance past the data
    t2 = T0 + dt.timedelta(hours=4)
    refresh_tier(spark, pts, tier_path, wm_path, now=t2, integer_values=False)
    stored = spark.read.parquet(tier_path).drop("bucket_date")
    assert _sorted(stored) == _sorted(
        rollup_tier(pts, "1m", integer_values=False)
    )


@pytest.mark.spark
def test_refresh_idempotent(spark, tmp_path):
    pts = _points(spark, seed=33)
    tier_path = str(tmp_path / "tier1m")
    wm_path = str(tmp_path / "wm")
    t2 = T0 + dt.timedelta(hours=4)
    refresh_tier(spark, pts, tier_path, wm_path, now=t2, integer_values=False)
    first = _sorted(spark.read.parquet(tier_path).drop("bucket_date"))
    # same `now` again: the window [align(t2), align(t2)) is empty ->
    # zero rows merged, tier byte-identical
    r = refresh_tier(
        spark, pts, tier_path, wm_path, now=t2, integer_values=False
    )
    assert r["rows"] == 0
    assert _sorted(spark.read.parquet(tier_path).drop("bucket_date")) == first


@pytest.mark.spark
def test_no_partial_bucket_ever_stored(spark, tmp_path):
    pts = _points(spark, seed=44)
    tier_path = str(tmp_path / "tier1m")
    wm_path = str(tmp_path / "wm")
    t1 = T0 + dt.timedelta(minutes=30, seconds=29)
    refresh_tier(
        spark,
        pts.filter(F.col("ts") < F.lit(t1)),
        tier_path,
        wm_path,
        now=t1,
        integer_values=False,
    )
    stored = spark.read.parquet(tier_path)
    # the boundary minute is only partially covered by t1 -> it must NOT
    # have been materialized (realtime_tier computes it live instead)
    boundary = t1.replace(second=0, microsecond=0)
    assert stored.filter(F.col("bucket_ts") >= F.lit(boundary)).count() == 0


@pytest.mark.spark
def test_watermark_never_regresses(spark, tmp_path):
    pts = _points(spark, seed=55)
    tier_path = str(tmp_path / "tier1m")
    wm_path = str(tmp_path / "wm")
    t2 = T0 + dt.timedelta(hours=4)
    refresh_tier(spark, pts, tier_path, wm_path, now=t2, integer_values=False)
    before = _sorted(spark.read.parquet(tier_path).drop("bucket_date"))
    # a refresh with an EARLIER `now` (misconfigured scheduler) must be
    # a no-op: no rows, mark unchanged, tier unchanged
    r = refresh_tier(
        spark,
        pts,
        tier_path,
        wm_path,
        now=T0 + dt.timedelta(hours=1),
        integer_values=False,
    )
    assert r["rows"] == 0
    assert read_watermark(spark, wm_path) == t2  # t2 is minute-aligned
    assert _sorted(spark.read.parquet(tier_path).drop("bucket_date")) == before


@pytest.mark.spark
def test_refresh_evaluates_points_once(spark, tmp_path):
    """The fresh window is aggregated once: the rows feeding the refresh
    pass through the upstream plan exactly once, not once for the
    bucket count and again for the merge."""
    pts = _points(spark, seed=45)
    seen = spark.sparkContext.accumulator(0)

    def count_rows(batches):
        for pdf in batches:
            seen.add(len(pdf))
            yield pdf

    counted = pts.mapInPandas(count_rows, pts.schema)
    now = T0 + dt.timedelta(hours=4)
    res = refresh_tier(
        spark, counted, str(tmp_path / "tier1m"), str(tmp_path / "wm"),
        now=now, integer_values=False,
    )
    # the first refresh's window is [epoch, now): every landing point
    in_window = pts.filter(F.col("ts") < F.lit(now)).count()
    assert res["rows"] > 0
    assert seen.value == in_window


@pytest.mark.spark
def test_legacy_parquet_watermark_is_read(spark, tmp_path):
    """A watermark in the legacy format (a one-row parquet table) is
    still read; the next write puts the one-line text file beside it,
    and the text file wins."""
    from tsclust_spark.plans.refresh import WATERMARK_FILE, write_watermark

    wm_path = str(tmp_path / "wm")
    legacy = T0 + dt.timedelta(minutes=30)
    spark.createDataFrame([(legacy,)], "watermark timestamp").coalesce(1).write.parquet(wm_path)
    assert read_watermark(spark, wm_path) == legacy

    pts = _points(spark, seed=66)
    t2 = T0 + dt.timedelta(hours=4)
    r = refresh_tier(spark, pts, str(tmp_path / "tier1m"), wm_path, now=t2,
                     integer_values=False)
    # the window started at the legacy mark, not at the epoch
    assert r["rows"] == rollup_tier(
        pts.filter(F.col("ts") >= F.lit(legacy)), "1m", integer_values=False
    ).count()
    assert read_watermark(spark, wm_path) == t2
    with open(tmp_path / "wm" / WATERMARK_FILE) as f:
        assert f.read() == "2024-01-01 04:00:00"
    write_watermark(spark, wm_path, t2 + dt.timedelta(microseconds=5))
    assert read_watermark(spark, wm_path) == t2 + dt.timedelta(microseconds=5)


@pytest.mark.spark
def test_refresh_job_budget(spark, tmp_path):
    """One refresh that merges with read-back starts at most 11 Spark
    jobs; none of them is a watermark read or write."""
    from tests.test_merge import jobs_in_group

    pts = _points(spark, seed=77)
    tier_path, wm_path = str(tmp_path / "tier1m"), str(tmp_path / "wm")
    refresh_tier(spark, pts, tier_path, wm_path, now=T0 + dt.timedelta(hours=1),
                 integer_values=False)
    names = jobs_in_group(spark, "refresh-job-budget", lambda: refresh_tier(
        spark, pts, tier_path, wm_path, now=T0 + dt.timedelta(hours=4),
        integer_values=False))
    assert 0 < len(names) <= 11, names
    assert not any("refresh.py" in n for n in names), names
