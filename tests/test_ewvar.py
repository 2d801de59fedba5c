"""EW variance bands: lockstep bit-equals scalar; Spark bit-equals
kernel incl. carry and prior-state flag semantics."""

import datetime as dt

import numpy as np
import pytest

from tsclust_spark.kernels import recurrence
from tsclust_spark.operators.ewvar import EwvarSpec, _ewvar_scalar, ewvar

T0 = dt.datetime(2024, 10, 1)
RNG = np.random.default_rng(71)


def _concat(series):
    x = np.concatenate(series)
    starts = np.cumsum([0] + [s.size for s in series[:-1]]).astype(np.int64)
    return x.astype(np.float64), starts


@pytest.mark.parametrize("alpha", [0.3, 1.0, 0.05])
def test_lockstep_bit_equals_scalar(alpha):
    for shape in ([RNG.normal(size=RNG.integers(1, 9)) for _ in range(64)],
                  [RNG.normal(size=500), RNG.normal(size=3)]):
        x, starts = _concat(shape)
        y_l, v_l, d_l, _ = recurrence.run(EwvarSpec(alpha), x, starts)
        off = 0
        for seg in shape:
            y_s, v_s, d_s = _ewvar_scalar(seg.astype(np.float64), alpha)
            n = seg.size
            assert (y_l[off : off + n] == y_s).all()
            assert (v_l[off : off + n] == v_s).all()
            assert (d_l[off : off + n] == d_s).all()
            off += n


def test_lockstep_carry_bit_equals_unbroken():
    x = RNG.normal(size=300).astype(np.float64)
    y_f, v_f, d_f = _ewvar_scalar(x, 0.3)
    cut = 127
    y1, v1, d1, _ = recurrence.run(EwvarSpec(0.3), x[:cut], np.array([0]))
    y2, v2, d2, _ = recurrence.run(
        EwvarSpec(0.3), x[cut:], np.array([0]), carry=(float(y1[-1]), float(v1[-1]))
    )
    assert (np.concatenate([y1, y2]) == y_f).all()
    assert (np.concatenate([v1, v2]) == v_f).all()
    assert (np.concatenate([d1, d2]) == d_f).all()


def test_spark_flags_spike_against_prior_band(spark):
    # steady N(10, 0.5) stream with one planted 10-sigma spike: only
    # the spike row flags, judged against the PRIOR band (the spike
    # must not widen the band that judges it)
    rows = []
    for i in range(400):
        v = 30.0 if i == 350 else float(RNG.normal(10, 0.5))
        rows.append((i, 1, T0 + dt.timedelta(seconds=60 * i), v))
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, value double"
    )
    out = sorted(
        ewvar(df, alpha=0.3, k=3.0, tiebreak_col="event_id").collect(),
        key=lambda r: r["event_id"],
    )
    x = np.array([r[3] for r in rows])
    y_ref, v_ref, d2_ref = _ewvar_scalar(x, 0.3)
    v_prior = np.concatenate([[0.0], v_ref[:-1]])
    for r in out:
        i = r["event_id"]
        assert r["ewma_value"] == y_ref[i]
        assert r["ewvar_value"] == v_ref[i]
        assert r["band_flag"] == bool(d2_ref[i] > 9.0 * v_prior[i])
    flagged = [r["event_id"] for r in out if r["band_flag"]]
    assert 350 in flagged
    # alpha=0.3 is a ~6-point effective variance window, so a few
    # percent of in-control draws flag; the bulk never does
    assert len(flagged) < 40


def test_rejects_bad_params(spark):
    df = spark.createDataFrame(
        [(1, T0, 1.0)], "user_id long, ts timestamp, value double"
    )
    with pytest.raises(ValueError):
        ewvar(df, alpha=0.0)
    with pytest.raises(ValueError):
        ewvar(df, alpha=0.3, k=0.0)
