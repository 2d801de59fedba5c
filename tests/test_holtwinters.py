"""Holt-Winters: lockstep kernel bit-equals the scalar reference;
Spark operator bit-equals the kernel; cross-batch carry (including the
seasonal ring) continues a split series exactly; reduces to Holt when
gamma = 0."""

import datetime as dt

import numpy as np
import pytest

from tsclust_spark.kernels import recurrence
from tsclust_spark.operators.holtwinters import (
    HoltWintersSpec,
    _hw_scalar,
    holt_winters,
)

T0 = dt.datetime(2024, 3, 1)
RNG = np.random.default_rng(53)


def _concat(series):
    x = np.concatenate(series) if series else np.empty(0)
    starts = np.cumsum([0] + [s.size for s in series[:-1]]).astype(np.int64)
    return x.astype(np.float64), starts


@pytest.mark.parametrize(
    "alpha,beta,gamma,m",
    [(0.5, 0.25, 0.5, 7), (0.3, 0.2, 0.4, 4), (1.0, 0.0, 0.0, 2)],
)
def test_lockstep_bit_equals_scalar(alpha, beta, gamma, m):
    for shape in (
        [RNG.normal(size=RNG.integers(1, 20)) for _ in range(64)],
        [RNG.normal(size=500), RNG.normal(size=3)],
    ):
        x, starts = _concat(shape)
        s_l, b_l, c_l = recurrence.run(
            HoltWintersSpec(alpha, beta, gamma, m), x, starts
        )
        off = 0
        for seg in shape:
            s_s, b_s, c_s = _hw_scalar(seg.astype(np.float64), alpha, beta, gamma, m)
            n = seg.size
            assert (s_l[off : off + n] == s_s).all()
            assert (b_l[off : off + n] == b_s).all()
            assert (c_l[off : off + n] == c_s).all()
            off += n


@pytest.mark.parametrize("cut", [3, 5, 7, 113])  # below/at/above the m=7 ring
def test_scalar_carry_bit_equals_unbroken(cut):
    m = 7
    x = RNG.normal(size=300).astype(np.float64)
    s_f, b_f, c_f = _hw_scalar(x, 0.5, 0.25, 0.5, m)
    s1, b1, c1 = _hw_scalar(x[:cut], 0.5, 0.25, 0.5, m)
    ring = list(c1[-m:])
    s2, b2, c2 = _hw_scalar(
        x[cut:], 0.5, 0.25, 0.5, m, carry=(float(s1[-1]), float(b1[-1]), ring)
    )
    assert (np.concatenate([s1, s2]) == s_f).all()
    assert (np.concatenate([b1, b2]) == b_f).all()
    assert (np.concatenate([c1, c2]) == c_f).all()


def test_spark_bit_equals_kernel(spark):
    rows = []
    for u in (1, 2, 3):
        for i in range(200):
            rows.append(
                (u, T0 + dt.timedelta(seconds=60 * i), float(RNG.normal()))
            )
    rows.append((1, rows[0][1], 99.0))  # duplicate ts, tiebreak-ordered
    rows = [(i, *r) for i, r in enumerate(rows)]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, value double"
    )
    got = {
        r["event_id"]: (r["level_value"], r["trend_value"], r["seasonal_value"])
        for r in holt_winters(
            df, 0.5, 0.25, 0.5, period=7, tiebreak_col="event_id"
        ).collect()
    }
    by_user = {}
    for eid, u, ts, v in rows:
        by_user.setdefault(u, []).append((ts, eid, v))
    for u, pts in by_user.items():
        pts.sort()
        x = np.array([v for _, _, v in pts], dtype=np.float64)
        s, b, c = _hw_scalar(x, 0.5, 0.25, 0.5, 7)
        for j, (_, eid, _) in enumerate(pts):
            assert got[eid] == (s[j], b[j], c[j]), (u, eid)


def test_reduces_to_holt_when_gamma_zero():
    from tsclust_spark.operators.holt import _holt_scalar

    x = RNG.normal(size=100).astype(np.float64)
    s_hw, b_hw, c_hw = _hw_scalar(x, 0.3, 0.2, 0.0, 5)
    s_h, b_h = _holt_scalar(x, 0.3, 0.2)
    # gamma=0 keeps every seasonal at... c_t = 0*(..) + 1*c_prev = 0
    assert (c_hw == 0.0).all()
    assert (s_hw == s_h).all() and (b_hw == b_h).all()


def test_learns_planted_seasonality():
    # level 100, no trend, exact period-4 pattern [5, -5, 2, -2]
    pat = np.array([5.0, -5.0, 2.0, -2.0])
    x = 100.0 + np.tile(pat, 100)
    s, b, c = _hw_scalar(x, 0.3, 0.05, 0.5, 4)
    tail = c[-40:].reshape(10, 4)
    learned = tail.mean(axis=0)
    # phase alignment: the pattern is recovered up to additive offset
    centered = learned - learned.mean()
    want = pat - pat.mean()
    assert np.abs(centered - want).max() < 0.5


def test_rejects_bad_params(spark):
    df = spark.createDataFrame([(1, T0, 1.0)], "user_id long, ts timestamp, value double")
    with pytest.raises(ValueError):
        holt_winters(df, 0.0, 0.1, 0.1, period=4)
    with pytest.raises(ValueError):
        holt_winters(df, 0.5, 0.1, 0.1, period=1)


@pytest.mark.spark
def test_multiplicative_lockstep_bitexact_and_recovers_ratio(spark):
    """mul=True: lockstep == scalar bit-exact; a pure multiplicative
    seasonal series is tracked with ratio ~ the true profile."""
    from tsclust_spark.operators.holtwinters import (
        HoltWintersSpec,
        _hw_scalar,
        holt_winters,
    )

    rng = np.random.default_rng(23)
    xs = [
        np.abs(rng.normal(50, 5, int(n))) + 1.0
        for n in rng.integers(10, 120, 30)
    ]
    flat = np.concatenate(xs)
    starts = np.cumsum([0] + [x.size for x in xs[:-1]])
    lo = recurrence.run(
        HoltWintersSpec(0.5, 0.25, 0.5, 7, multiplicative=True), flat, starts
    )
    pos = 0
    for x in xs:
        sc = _hw_scalar(x, 0.5, 0.25, 0.5, 7, mul=True)
        for a, b in zip(lo, sc):
            assert np.array_equal(a[pos : pos + x.size], b)
        pos += x.size

    # ratio recovery: x_t = level * season[t % 4], season avg 1
    season = np.array([0.5, 1.5, 0.8, 1.2])
    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, i, t0 + dt.timedelta(hours=i), float(100.0 * season[i % 4]))
        for i in range(400)
    ]
    df = spark.createDataFrame(rows, ["user_id", "event_id", "ts", "value"])
    out = holt_winters(
        df, alpha=0.3, beta=0.05, gamma=0.6, period=4,
        tiebreak_col="event_id", multiplicative=True,
    ).orderBy("event_id").collect()
    tail = out[-8:]
    for r in tail:
        i = r["event_id"]
        assert r["seasonal_value"] == pytest.approx(
            float(season[i % 4]), rel=0.1
        )
        assert r["level_value"] == pytest.approx(100.0, rel=0.1)


@pytest.mark.spark
def test_hw_forecast_continues_perfect_pattern(spark):
    """On a perfectly-learned series, the h-step forecast must equal
    the series' actual continuation (trend + additive season)."""
    from tsclust_spark.operators.holtwinters import (
        _hw_scalar,
        holt_winters,
        hw_forecast,
    )

    pat = np.array([5.0, -5.0, 2.0, -2.0])
    n, m = 400, 4

    def truth(i):
        return 10.0 + 0.5 * i + float(pat[i % m])

    rows = [
        (1, i, T0 + dt.timedelta(hours=i), truth(i)) for i in range(n)
    ]
    df = spark.createDataFrame(
        rows, ["user_id", "event_id", "ts", "value"]
    )
    sm = holt_winters(
        df, 0.3, 0.1, 0.5, period=m, tiebreak_col="event_id"
    )
    fc = {
        r["h"]: r["forecast"]
        for r in hw_forecast(
            sm, horizon=8, period=m, tiebreak_col="event_id"
        ).collect()
    }
    assert set(fc) == set(range(1, 9))
    for h in range(1, 9):
        assert fc[h] == pytest.approx(truth(n - 1 + h), rel=0.02), h

    # forecast formula twin from the scalar kernel's final state
    x = np.array([truth(i) for i in range(n)])
    s, b, c = _hw_scalar(x, 0.3, 0.1, 0.5, m)
    ring = list(c[-m:])
    for h in range(1, 9):
        want = s[-1] + h * b[-1] + ring[(h - 1) % m]
        assert fc[h] == pytest.approx(want, rel=1e-12), h


@pytest.mark.spark
def test_hw_forecast_short_keys_omitted(spark):
    from tsclust_spark.operators.holtwinters import (
        holt_winters,
        hw_forecast,
    )

    rows = [
        (1, i, T0 + dt.timedelta(hours=i), float(i)) for i in range(3)
    ]
    df = spark.createDataFrame(
        rows, ["user_id", "event_id", "ts", "value"]
    )
    sm = holt_winters(df, 0.5, 0.25, 0.5, period=7, tiebreak_col="event_id")
    assert (
        hw_forecast(sm, horizon=5, period=7, tiebreak_col="event_id").count()
        == 0
    )
