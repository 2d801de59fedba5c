"""Holt smoothing: lockstep kernel bit-equals the scalar reference;
Spark operator bit-equals the kernel, including cross-batch carry."""

import datetime as dt

import numpy as np
import pytest

from tsclust_spark.kernels import recurrence
from tsclust_spark.operators.holt import HoltSpec, _holt_scalar, holt

T0 = dt.datetime(2024, 3, 1)
RNG = np.random.default_rng(47)


def _concat(series):
    x = np.concatenate(series) if series else np.empty(0)
    starts = np.cumsum([0] + [s.size for s in series[:-1]]).astype(np.int64)
    return x.astype(np.float64), starts


@pytest.mark.parametrize("alpha,beta", [(0.3, 0.2), (1.0, 0.0), (0.5, 1.0)])
def test_lockstep_bit_equals_scalar(alpha, beta):
    # many short series forces the matrix path; few long the fallback
    for shape in ([RNG.normal(size=RNG.integers(1, 9)) for _ in range(64)],
                  [RNG.normal(size=500), RNG.normal(size=3)]):
        x, starts = _concat(shape)
        s_l, b_l = recurrence.run(HoltSpec(alpha, beta), x, starts)
        off = 0
        for seg in shape:
            s_s, b_s = _holt_scalar(seg.astype(np.float64), alpha, beta)
            n = seg.size
            assert (s_l[off : off + n] == s_s).all()  # bit-identical
            assert (b_l[off : off + n] == b_s).all()
            off += n


def test_lockstep_carry_bit_equals_unbroken():
    x = RNG.normal(size=300).astype(np.float64)
    s_full, b_full = _holt_scalar(x, 0.3, 0.2)
    cut = 113
    s1, b1 = recurrence.run(HoltSpec(0.3, 0.2), x[:cut], np.array([0]))
    s2, b2 = recurrence.run(
        HoltSpec(0.3, 0.2), x[cut:], np.array([0]),
        carry=(float(s1[-1]), float(b1[-1])),
    )
    assert (np.concatenate([s1, s2]) == s_full).all()
    assert (np.concatenate([b1, b2]) == b_full).all()


def test_spark_bit_equals_kernel(spark):
    rows = []
    for u in (1, 2, 3):
        for i in range(200):
            rows.append(
                (u, T0 + dt.timedelta(seconds=60 * i), float(RNG.normal()))
            )
    # duplicate-ts pair with tiebreak-ordered values
    rows.append((1, rows[0][1], 99.0))
    rows = [(i, *r) for i, r in enumerate(rows)]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, value double"
    )
    got = {
        r["event_id"]: (r["level_value"], r["trend_value"])
        for r in holt(df, 0.3, 0.2, tiebreak_col="event_id").collect()
    }
    by_user = {}
    for eid, u, ts, v in rows:
        by_user.setdefault(u, []).append((ts, eid, v))
    for u, pts in by_user.items():
        pts.sort()
        x = np.array([v for _, _, v in pts], dtype=np.float64)
        s, b = _holt_scalar(x, 0.3, 0.2)
        for j, (_, eid, _) in enumerate(pts):
            assert got[eid] == (s[j], b[j]), (u, eid)


def test_holt_reduces_to_ewma_when_beta_zero():
    from tsclust_spark.operators.ewma import _ewma_scalar

    x = RNG.normal(size=100).astype(np.float64)
    s, b = _holt_scalar(x, 0.3, 0.0)
    assert (b == 0.0).all()
    assert s == pytest.approx(_ewma_scalar(x, 0.3), rel=1e-12)


def test_rejects_bad_params(spark):
    df = spark.createDataFrame(
        [(1, T0, 1.0)], "user_id long, ts timestamp, value double"
    )
    with pytest.raises(ValueError):
        holt(df, 0.0, 0.2)
    with pytest.raises(ValueError):
        holt(df, 0.3, 1.5)


def test_damping_one_is_bit_identical_to_classic():
    from tsclust_spark.operators.holt import _holt_scalar

    x = RNG.normal(size=300).astype(np.float64)
    s0, b0 = _holt_scalar(x, 0.3, 0.2)
    s1, b1 = _holt_scalar(x, 0.3, 0.2, damping=1.0)
    assert (s0 == s1).all() and (b0 == b1).all()
    starts = np.array([0, 100, 250])
    l0 = recurrence.run(HoltSpec(0.3, 0.2), x, starts)
    l1 = recurrence.run(HoltSpec(0.3, 0.2, damping=1.0), x, starts)
    assert (l0[0] == l1[0]).all() and (l0[1] == l1[1]).all()


def test_damped_lockstep_bit_equals_scalar_and_trend_decays():
    from tsclust_spark.operators.holt import _holt_scalar

    xs = [RNG.normal(size=int(n)) for n in RNG.integers(5, 80, 40)]
    flat = np.concatenate(xs).astype(np.float64)
    starts = np.cumsum([0] + [x.size for x in xs[:-1]])
    lo = recurrence.run(HoltSpec(0.3, 0.2, damping=0.9), flat, starts)
    pos = 0
    for x in xs:
        sc = _holt_scalar(x.astype(np.float64), 0.3, 0.2, damping=0.9)
        assert (lo[0][pos : pos + x.size] == sc[0]).all()
        assert (lo[1][pos : pos + x.size] == sc[1]).all()
        pos += x.size

    # a linear ramp that flattens: the damped trend decays toward 0
    # after the ramp ends, the classic trend decays slower (only via
    # beta); with damping every step multiplies the trend by d too
    ramp = np.concatenate([np.arange(50.0), np.full(100, 49.0)])
    _, b_classic = _holt_scalar(ramp, 0.3, 0.2)
    _, b_damped = _holt_scalar(ramp, 0.3, 0.2, damping=0.8)
    assert abs(b_damped[-1]) < abs(b_classic[-1])
    assert abs(b_damped[-1]) < 0.05


def test_damped_rejects_bad_damping(spark):
    from tsclust_spark.operators.holt import holt

    df = spark.createDataFrame(
        [(1, T0, 1.0)], "user_id long, ts timestamp, value double"
    )
    with pytest.raises(ValueError):
        holt(df, 0.3, 0.2, damping=0.0)
    with pytest.raises(ValueError):
        holt(df, 0.3, 0.2, damping=1.5)
