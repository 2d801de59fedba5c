"""Property tests (hypothesis) for the Holt-Winters lockstep kernel —
pure numpy, no Spark."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from tsclust_spark.kernels import recurrence
from tsclust_spark.operators.holtwinters import HoltWintersSpec, _hw_scalar

finite = st.floats(
    allow_nan=False, allow_infinity=False, min_value=-1e6, max_value=1e6
)


@settings(max_examples=40, deadline=None)
@given(
    shapes=st.lists(st.integers(min_value=1, max_value=40), min_size=1, max_size=12),
    alpha=st.floats(min_value=0.05, max_value=1.0),
    beta=st.floats(min_value=0.0, max_value=1.0),
    gamma=st.floats(min_value=0.0, max_value=1.0),
    m=st.integers(min_value=2, max_value=9),
    seed=st.integers(min_value=0, max_value=2**31),
)
def test_hw_lockstep_bit_equals_scalar(shapes, alpha, beta, gamma, m, seed):
    rng = np.random.default_rng(seed)
    series = [rng.normal(size=n) for n in shapes]
    x = np.concatenate(series)
    starts = np.cumsum([0] + [s.size for s in series[:-1]]).astype(np.int64)
    s_l, b_l, c_l = recurrence.run(
        HoltWintersSpec(alpha, beta, gamma, m), x, starts
    )
    off = 0
    for seg in series:
        s_s, b_s, c_s = _hw_scalar(seg, alpha, beta, gamma, m)
        n = seg.size
        assert (s_l[off : off + n] == s_s).all()
        assert (b_l[off : off + n] == b_s).all()
        assert (c_l[off : off + n] == c_s).all()
        off += n


@settings(max_examples=40, deadline=None)
@given(
    n=st.integers(min_value=1, max_value=200),
    cut=st.integers(min_value=1, max_value=199),
    m=st.integers(min_value=2, max_value=9),
    seed=st.integers(min_value=0, max_value=2**31),
)
def test_hw_carry_ring_splits_anywhere(n, cut, m, seed):
    if cut >= n:
        cut = max(1, n - 1) if n > 1 else 1
    rng = np.random.default_rng(seed)
    x = rng.normal(size=max(n, 2))
    s_f, b_f, c_f = _hw_scalar(x, 0.5, 0.25, 0.5, m)
    s1, b1, c1 = _hw_scalar(x[:cut], 0.5, 0.25, 0.5, m)
    ring = list(c1[-m:])
    s2, b2, c2 = _hw_scalar(
        x[cut:], 0.5, 0.25, 0.5, m, carry=(float(s1[-1]), float(b1[-1]), ring)
    )
    assert (np.concatenate([s1, s2]) == s_f).all()
    assert (np.concatenate([b1, b2]) == b_f).all()
    assert (np.concatenate([c1, c2]) == c_f).all()
