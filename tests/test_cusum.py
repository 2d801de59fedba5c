"""CUSUM: lockstep kernel bit-equals the scalar reference; Spark
operator bit-equals the kernel including cross-batch carry; a planted
mean shift alarms where a z-score stays silent."""

import datetime as dt

import numpy as np
import pytest

from tsclust_spark.kernels import recurrence
from tsclust_spark.operators.cusum import CusumSpec, _cusum_scalar, cusum

T0 = dt.datetime(2024, 8, 1)
RNG = np.random.default_rng(59)


def _concat(series):
    x = np.concatenate(series)
    starts = np.cumsum([0] + [s.size for s in series[:-1]]).astype(np.int64)
    return x.astype(np.float64), starts


@pytest.mark.parametrize("mu,k", [(0.0, 0.5), (10.0, 0.0), (-2.0, 1.5)])
def test_lockstep_bit_equals_scalar(mu, k):
    for shape in ([RNG.normal(mu, 2, RNG.integers(1, 9)) for _ in range(64)],
                  [RNG.normal(mu, 2, 500), RNG.normal(mu, 2, 3)]):
        x, starts = _concat(shape)
        hi_l, lo_l, _ = recurrence.run(CusumSpec(mu, k, h=1.0), x, starts)
        off = 0
        for seg in shape:
            hi_s, lo_s = _cusum_scalar(seg.astype(np.float64), mu, k)
            n = seg.size
            assert (hi_l[off : off + n] == hi_s).all()
            assert (lo_l[off : off + n] == lo_s).all()
            off += n


def test_lockstep_carry_bit_equals_unbroken():
    x = RNG.normal(1.0, 2, 300).astype(np.float64)
    hi_f, lo_f = _cusum_scalar(x, 1.0, 0.3)
    cut = 89
    spec = CusumSpec(1.0, 0.3, h=1.0)
    h1, l1, _ = recurrence.run(spec, x[:cut], np.array([0]))
    h2, l2, _ = recurrence.run(
        spec, x[cut:], np.array([0]), carry=(float(h1[-1]), float(l1[-1]))
    )
    assert (np.concatenate([h1, h2]) == hi_f).all()
    assert (np.concatenate([l1, l2]) == lo_f).all()


def test_detects_small_persistent_shift(spark):
    # in-control N(0,1) for 300 points, then a +0.8 sigma shift: each
    # point is an unremarkable z-score, but CUSUM integrates the shift
    rows, vals = [], []
    for i in range(500):
        v = float(RNG.normal(0.8 if i >= 300 else 0.0, 1.0))
        vals.append(v)
        rows.append((i, 1, T0 + dt.timedelta(seconds=60 * i), v))
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, value double"
    )
    out = sorted(
        cusum(df, mu=0.0, k=0.25, h=8.0, tiebreak_col="event_id").collect(),
        key=lambda r: r["event_id"],
    )
    hi_ref, lo_ref = _cusum_scalar(np.array(vals), 0.0, 0.25)
    for r in out:
        assert r["cusum_hi"] == hi_ref[r["event_id"]]  # bit-identical
        assert r["alarm"] == bool(
            hi_ref[r["event_id"]] > 8.0 or lo_ref[r["event_id"]] > 8.0
        )
    first_alarm = next(r["event_id"] for r in out if r["alarm"])
    assert 300 <= first_alarm <= 340  # fires shortly after the shift
    assert not any(r["alarm"] for r in out if r["event_id"] < 290)


def test_rejects_bad_params(spark):
    df = spark.createDataFrame(
        [(1, T0, 1.0)], "user_id long, ts timestamp, value double"
    )
    with pytest.raises(ValueError):
        cusum(df, mu=0.0, k=0.5, h=0.0)
    with pytest.raises(ValueError):
        cusum(df, mu=0.0, k=-0.1, h=5.0)
