"""EWMA vs the closed-form power series; TF-IDF vs a hand oracle."""

import datetime as dt
import math

import numpy as np
import pytest

from tsclust_spark.operators.ewma import ewma
from tsclust_spark.operators.tfidf import tfidf_top_terms

T0 = dt.datetime(2024, 6, 1)
RNG = np.random.default_rng(23)


def test_ewma_matches_power_series(spark):
    alpha = 0.3
    rows = []
    series = {}
    for k in (1, 2):
        vals = RNG.normal(size=25).tolist()
        series[k] = vals
        rows += [
            (k, T0 + dt.timedelta(seconds=60 * i), float(v))
            for i, v in enumerate(vals)
        ]
    df = spark.createDataFrame(rows, "user_id int, ts timestamp, value double")
    out = ewma(df, alpha=alpha).collect()
    got = {}
    for r in out:
        got.setdefault(r["user_id"], {})[int(r["ts"].timestamp())] = r["ewma_value"]
    for k, vals in series.items():
        y = vals[0]
        for i, x in enumerate(vals):
            if i > 0:
                y = (1 - alpha) * y + alpha * x
            ts = int((T0 + dt.timedelta(seconds=60 * i)).timestamp())
            assert got[k][ts] == pytest.approx(y, abs=1e-12)


def test_ewma_alpha_one_is_identity(spark):
    rows = [(1, T0 + dt.timedelta(seconds=i), float(i * i)) for i in range(5)]
    df = spark.createDataFrame(rows, "user_id int, ts timestamp, value double")
    for r in ewma(df, alpha=1.0).collect():
        assert r["ewma_value"] == r["value"]
    with pytest.raises(ValueError):
        ewma(df, alpha=0.0)


def test_ewma_lockstep_bit_equals_scalar():
    """The cross-series lockstep kernel must be BIT-identical to the
    per-point scalar recurrence (same IEEE ops elementwise)."""
    from tsclust_spark.kernels import recurrence
    from tsclust_spark.operators.ewma import EwmaSpec, _ewma_scalar

    rng = np.random.default_rng(7)
    for alpha in (0.3, 0.05, 1.0, 0.731):
        lens = rng.integers(1, 40, size=30)
        lens[0] = 1  # a singleton series
        lens[5] = 500  # one long series dominating max_len
        x = rng.normal(scale=100.0, size=int(lens.sum()))
        starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
        (got,) = recurrence.run(EwmaSpec(alpha), x, starts)
        bounds = np.append(starts, x.size)
        for i in range(lens.size):
            seg = x[bounds[i] : bounds[i + 1]]
            exact = _ewma_scalar(seg, alpha)
            assert np.array_equal(
                got[bounds[i] : bounds[i + 1]], exact
            ), f"alpha={alpha} series={i} not bit-equal"


def test_ewma_adaptive_paths_bit_equal():
    """Both dispatch paths (lockstep for many-short, scalar fallback
    for few-long batches) and the carry must be bit-identical across
    the crossover."""
    from tsclust_spark.kernels import recurrence
    from tsclust_spark.operators.ewma import EwmaSpec, _ewma_scalar

    rng = np.random.default_rng(31)
    shapes = [
        np.full(2, 5000),          # few-long -> scalar path
        np.full(200, 12),          # many-short -> lockstep path
        np.array([3000, 5, 5, 5]), # skewed: max_len forces scalar
    ]
    for lens in shapes:
        x = rng.normal(size=int(lens.sum()))
        starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
        bounds = np.append(starts, x.size)
        for carry in (None, 1.2345):
            (got,) = recurrence.run(
                EwmaSpec(0.3), x, starts, carry=None if carry is None else (carry,)
            )
            for i in range(lens.size):
                seg = x[bounds[i] : bounds[i + 1]].copy()
                if i == 0 and carry is not None:
                    want = np.empty_like(seg)
                    acc = 0.7 * carry + 0.3 * seg[0]
                    want[0] = acc
                    for j in range(1, seg.size):
                        acc = 0.7 * acc + 0.3 * seg[j]
                        want[j] = acc
                else:
                    want = _ewma_scalar(seg, 0.3)
                assert np.array_equal(
                    got[bounds[i] : bounds[i + 1]], want
                ), (lens[:4], i, carry)


def test_ewma_lockstep_carry_split():
    """Splitting one series across two lockstep calls with the carry
    must reproduce the unsplit recurrence bit-exactly (the mapInPandas
    cross-batch path)."""
    from tsclust_spark.kernels import recurrence
    from tsclust_spark.operators.ewma import EwmaSpec, _ewma_scalar

    rng = np.random.default_rng(11)
    x = rng.normal(size=97)
    full = _ewma_scalar(x, 0.3)
    for cut in (1, 2, 50, 96):
        (y1,) = recurrence.run(EwmaSpec(0.3), x[:cut], np.array([0]))
        (y2,) = recurrence.run(
            EwmaSpec(0.3), x[cut:], np.array([0]), carry=(float(y1[-1]),)
        )
        assert np.array_equal(np.concatenate([y1, y2]), full)


def test_ewma_duplicate_ts_tiebreak(spark):
    """Duplicate (key, ts) rows: with a tiebreak column the recurrence
    order is the (ts, tiebreak) total order, independent of shuffle
    arrival (ADVICE r3)."""
    ts = T0
    rows = [(1, i, ts, float(v)) for i, v in enumerate([5.0, -3.0, 7.0, 1.0])]
    df = spark.createDataFrame(
        rows, "user_id int, event_id long, ts timestamp, value double"
    )
    out = {
        r["event_id"]: r["ewma_value"]
        for r in ewma(df, alpha=0.3, tiebreak_col="event_id").collect()
    }
    y = 5.0
    expect = {0: y}
    for i, v in enumerate([-3.0, 7.0, 1.0], start=1):
        y = 0.7 * y + 0.3 * v
        expect[i] = y
    assert out == expect


def test_ewma_cross_batch_carry(spark):
    """Force tiny Arrow batches so one series spans many mapInPandas
    batches — the carry must stitch them bit-exactly."""
    from tsclust_spark.operators.ewma import _ewma_scalar

    vals = RNG.normal(size=53)
    rows = [
        (9, i, T0 + dt.timedelta(seconds=i), float(v))
        for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(
        rows, "user_id int, event_id long, ts timestamp, value double"
    )
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        out = ewma(df, alpha=0.3, tiebreak_col="event_id").collect()
    finally:
        spark.conf.set(key, old)
    got = {r["event_id"]: r["ewma_value"] for r in out}
    exact = _ewma_scalar(np.asarray(vals, dtype=np.float64), 0.3)
    assert len(got) == 53
    for i in range(53):
        assert got[i] == exact[i], f"row {i} not bit-equal across batches"


def test_tfidf_hand_oracle(spark):
    docs = [
        ("d1", "apple banana apple cherry"),
        ("d2", "banana banana durian"),
        ("d3", "cherry durian elder elder elder"),
    ]
    df = spark.createDataFrame(docs, "doc_id string, text string")
    out = tfidf_top_terms(df, k=2).collect()
    n = 3

    def score(tf, length, dfreq):
        return tf / length * (math.log((n + 1) / (dfreq + 1)) + 1)

    # d1: apple tf=2 df=1 -> top; d3: elder tf=3 df=1 -> top
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    top1 = {d: min(rs, key=lambda r: r["rank"]) for d, rs in by_doc.items()}
    assert top1["d1"]["token"] == "apple"
    assert top1["d1"]["tfidf"] == pytest.approx(score(2, 4, 1), abs=1e-6)
    assert top1["d3"]["token"] == "elder"
    assert all(len(rs) == 2 for rs in by_doc.values())
    # deterministic tie-break: d2 'durian' (tf1 df2) vs ... check ranks unique
    for rs in by_doc.values():
        assert sorted(r["rank"] for r in rs) == [1, 2]
