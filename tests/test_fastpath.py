"""Map-only 1m fast path == explode-based generic path, bit-exact."""

import pytest
from pyspark.sql import functions as F

from tsclust_spark.operators.explode import explode_to_points
from tsclust_spark.operators.rollup import rollup_sequences_1m_fast
from tsclust_spark.plans.rollup_job import (
    build_tiers_from_sequences,
    build_tiers_with_rep,
)
from tsclust_spark.sources.datagen import read_sequences


@pytest.mark.spark
def test_fast_1m_equals_exploded(spark):
    seq = read_sequences(spark, "smoke").limit(300).cache()
    fast = rollup_sequences_1m_fast(seq, with_rep=False).drop("rep_value")
    points = explode_to_points(seq, keep_source=False)
    from tsclust_spark.operators.rollup import rollup_tier

    generic = rollup_tier(points, "1m", integer_values=True)
    cols = sorted(fast.columns)
    a, b = fast.select(*cols), generic.select(*cols)
    assert a.count() == b.count()
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


@pytest.mark.spark
def test_fast_tiers_equal_generic_tiers(spark):
    seq = read_sequences(spark, "smoke").limit(300).cache()
    fast = build_tiers_from_sequences(seq)
    generic = build_tiers_with_rep(explode_to_points(seq, keep_source=False))
    for tier in ["1m", "1h", "1d"]:
        cols = sorted(fast[tier].columns)
        a = fast[tier].select(*cols)
        b = generic[tier].select(*cols)
        assert a.exceptAll(b).count() == 0, tier
        assert b.exceptAll(a).count() == 0, tier


@pytest.mark.spark
def test_fast_1m_no_shuffle_in_plan(spark):
    """The scale property itself: the 1m tier plan contains NO exchange."""
    seq = read_sequences(spark, "smoke")
    plan = rollup_sequences_1m_fast(seq)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


@pytest.mark.spark
def test_fast_path_partial_last_bucket(spark):
    # a 70-token doc: bucket 0 has 60 points, bucket 1 has 10
    df = spark.createDataFrame(
        [("d1", list(range(70)), 70, "web")],
        "doc_id string, tokens array<int>, n_tok int, source string",
    )
    rows = {r.bucket_ts.minute: r for r in rollup_sequences_1m_fast(df).collect()}
    assert rows[0].count_value == 60 and rows[1].count_value == 10
    assert rows[0].min_value == 0 and rows[0].max_value == 59
    assert rows[1].min_value == 60 and rows[1].max_value == 69
    assert rows[0].sum_value == sum(range(60))
    # lower medoid of 0..59 is element 30 (1-based idx (60+1)//2 = 30 -> 29)
    assert rows[0].rep_value == 29
    assert rows[1].rep_value == 64


@pytest.mark.spark
def test_arrow_1m_kernel_equals_jvm_fast_path(spark):
    from tsclust_spark.kernels.rollup_arrow import rollup_sequences_1m_arrow

    seq = read_sequences(spark, "smoke").limit(300).cache()
    jvm = rollup_sequences_1m_fast(seq)
    arrow = rollup_sequences_1m_arrow(seq)
    cols = sorted(jvm.columns)
    a, b = arrow.select(*cols), jvm.select(*cols)
    assert a.count() == b.count()
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


@pytest.mark.spark
def test_arrow_1m_no_shuffle_in_plan(spark):
    """The mapInArrow kernel must also be map-only: no Exchange."""
    from tsclust_spark.kernels.rollup_arrow import rollup_sequences_1m_arrow

    seq = read_sequences(spark, "smoke")
    plan = (
        rollup_sequences_1m_arrow(seq)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
    assert "MapInArrow" in plan


from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=50, deadline=None)
@given(
    st.lists(
        st.lists(
            st.integers(min_value=-(2**31), max_value=2**31 - 1),
            min_size=0,
            max_size=200,
        ),
        min_size=0,
        max_size=8,
    )
)
def test_rollup_flat_property_vs_naive(rows):
    """rollup_1m_flat == a naive per-bucket python oracle, for ANY int32
    input (including empty rows, full-int32 range, ragged tails)."""
    import numpy as np

    from tsclust_spark.kernels.rollup_arrow import rollup_1m_flat

    lengths = np.array([len(r) for r in rows], dtype=np.int64)
    nonempty = [np.array(r, dtype=np.int32) for r in rows if r]
    flat = (
        np.concatenate(nonempty) if nonempty else np.empty(0, dtype=np.int32)
    )
    got = rollup_1m_flat(flat, lengths, per_bucket=60)
    out = {
        (int(r), int(b)): (mi, ma, s, c, rep)
        for r, b, mi, ma, s, c, rep in zip(
            got["row_idx"], got["bucket_idx"], got["min"], got["max"],
            got["sum"], got["count"], got["rep"],
        )
    }
    want = {}
    for ri, row in enumerate(rows):
        for b in range(0, (len(row) + 59) // 60):
            seg = sorted(row[b * 60 : (b + 1) * 60])
            want[(ri, b)] = (
                min(seg), max(seg), sum(seg), len(seg),
                seg[(len(seg) + 1) // 2 - 1],
            )
    assert {k: tuple(int(x) for x in v) for k, v in out.items()} == want


def _with_session_tz(spark, tz, fn):
    key = "spark.sql.session.timeZone"
    old = spark.conf.get(key)
    spark.conf.set(key, tz)
    try:
        return fn()
    finally:
        spark.conf.set(key, old)


# around DST transitions: New York's spring gap and autumn overlap,
# Lord Howe's 30-minute shift, Sao Paulo's midnight gap (2018-11-04)
_ZONE_WINDOWS = {
    "UTC": ["2024-01-01T00:00:00Z"],
    "Asia/Kolkata": ["2024-01-01T00:00:00Z"],
    "America/New_York": ["2024-03-10T07:00:00Z", "2024-11-03T06:00:00Z"],
    "Australia/Lord_Howe": ["2024-04-06T15:00:00Z", "2024-10-05T15:30:00Z"],
    "America/Sao_Paulo": ["2018-11-04T03:00:00Z", "2019-02-17T02:00:00Z"],
}


@pytest.mark.spark
@pytest.mark.parametrize("tz", sorted(_ZONE_WINDOWS))
def test_floor_local_matches_date_trunc(spark, tz):
    """The kernel's hour/day floors equal Spark's ``date_trunc`` in the
    session time zone, across DST gaps and overlaps."""
    import datetime as dt

    import numpy as np

    from tsclust_spark.kernels.rollup_arrow import CASCADE, floor_local, session_zone

    ts_us = np.concatenate([
        int(dt.datetime.fromisoformat(c).timestamp()) * 1_000_000
        + np.arange(-36 * 3600, 36 * 3600, 450, dtype=np.int64) * 1_000_000
        for c in _ZONE_WINDOWS[tz]
    ])

    def check():
        df = spark.createDataFrame([(int(t),) for t in ts_us], "us long").select(
            "us", F.timestamp_micros("us").alias("ts")
        )
        zone = session_zone(spark)
        for tier, unit_us in CASCADE:
            trunc = {"1h": "hour", "1d": "day"}[tier]
            want = df.select(
                "us", F.unix_micros(F.date_trunc(trunc, "ts")).alias("f")
            ).orderBy("us").collect()
            got = floor_local(ts_us, unit_us, zone)
            assert [int(g) for g in got] == [r.f for r in want], (tz, tier)

    _with_session_tz(spark, tz, check)


def _parity_rows():
    """Edge rows: empty, 1, 59/60/61 points, int32 extremes, and rows
    long enough to cross hour and day boundaries at every step size."""
    lo, hi = -(2**31), 2**31 - 1
    walk = [((i * 7919) % 2001) - 1000 for i in range(20000)]
    return [
        ("empty", []),
        ("one", [5]),
        ("p59", list(range(59))),
        ("p60", list(range(60, 0, -1))),
        ("p61", [3] * 61),
        ("extremes", [lo, hi] * 1900),
        ("maxed", [hi] * 4000),
        ("walk", walk),
        ("long", [(i * 31) % 97 for i in range(90000)]),
    ]


@pytest.mark.spark
@pytest.mark.parametrize("tz", ["UTC", "Asia/Kolkata"])
@pytest.mark.parametrize("step_seconds", [1, 2, 5])
@pytest.mark.parametrize(
    "t0_epoch",
    # midnight UTC; 23:17:00 UTC, neither hour- nor Kolkata-aligned
    [1704067200, 1704067200 + 23 * 3600 + 17 * 60],
)
def test_tier_kernel_equals_jvm_cascade(spark, tz, step_seconds, t0_epoch):
    """The one-pass kernel's 1h/1d rows equal the JVM cascade
    (``_cascade_with_rep``) over its own 1m rows, row for row."""
    from tsclust_spark.kernels.rollup_arrow import (
        rollup_sequences_1m_arrow,
        rollup_sequences_tiers_arrow,
        tier_slice,
    )
    from tsclust_spark.plans.rollup_job import _cascade_with_rep

    seq = spark.createDataFrame(
        [(d, v, len(v), "web") for d, v in _parity_rows()],
        "doc_id string, tokens array<int>, n_tok int, source string",
    )

    def check():
        tiers = rollup_sequences_tiers_arrow(seq, t0_epoch, step_seconds).cache()
        prev = rollup_sequences_1m_arrow(seq, t0_epoch, step_seconds)
        try:
            for tier in ["1h", "1d"]:
                want = _cascade_with_rep(prev, tier)
                got = tier_slice(tiers, tier).select(*want.columns)
                key = ["doc_id", "bucket_ts"]
                a = [tuple(r) for r in got.orderBy(key).collect()]
                b = [tuple(r) for r in want.orderBy(key).collect()]
                assert a == b, tier
                assert len({r[0] for r in a}) == len(_parity_rows()) - 1
                prev = want
        finally:
            tiers.unpersist()

    _with_session_tz(spark, tz, check)
