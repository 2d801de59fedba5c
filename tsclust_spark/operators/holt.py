"""Holt double exponential smoothing (level + trend) per series.

The trend-aware sibling of :mod:`operators/ewma`: a two-state
sequential recurrence

    s_t = alpha*x_t + (1-alpha)*(s_{t-1} + b_{t-1})
    b_t = beta*(s_t - s_{t-1}) + (1-beta)*b_{t-1}

seeded ``s_0 = x_0, b_0 = 0`` — the smoothing primitive behind
Prometheus' ``double_exponential_smoothing`` and classical Holt
forecasting (forecast at horizon h = s + h*b).  :class:`HoltSpec`
states the step; the shared recurrence engine
(:mod:`tsclust_spark.kernels.recurrence`) runs it.

Bit-exactness: the step executes the same IEEE multiply/add order as
the scalar reference :func:`_holt_scalar` and as the DuckDB
recursive-CTE oracle twin (s' = alpha*x + phi*(s+b);
b' = beta*(s'-s) + gamma*b), asserted in tests/test_holt.py.

Determinism: recurrence order is the sort order; pass ``tiebreak_col``
for duplicate (key, ts) rows (same contract as EWMA, ADVICE r3).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
from pyspark.sql import DataFrame

from tsclust_spark.kernels import recurrence


def _holt_scalar(
    x: np.ndarray,
    alpha: float,
    beta: float,
    carry: tuple[float, float] | None = None,
    damping: float = 1.0,
) -> tuple[np.ndarray, np.ndarray]:
    """Reference kernel: the literal per-point two-state recurrence.

    Bit-exactness oracle for :class:`HoltSpec`.  ``damping`` < 1 runs
    Gardner-McKenzie damped-trend Holt (s' = alpha*x +
    (1-alpha)*(s + d*b); b' = beta*(s'-s) + (1-beta)*d*b); at the
    default 1.0 the extra multiplies are IEEE identities, so classic
    Holt output is bit-unchanged.
    """
    phi = 1.0 - alpha
    gd = (1.0 - beta) * damping
    d = damping
    n = x.size
    s_out = np.empty(n, dtype=np.float64)
    b_out = np.empty(n, dtype=np.float64)
    if n == 0:
        return s_out, b_out
    if carry is not None:
        s_prev, b = carry
        s = alpha * x[0] + phi * (s_prev + d * b)
        b = beta * (s - s_prev) + gd * b
    else:
        s, b = x[0], 0.0
    s_out[0], b_out[0] = s, b
    for i in range(1, n):
        s_new = alpha * x[i] + phi * (s + d * b)
        b = beta * (s_new - s) + gd * b
        s = s_new
        s_out[i], b_out[i] = s, b
    return s_out, b_out


class HoltSpec:
    """The (damped) Holt step for
    :mod:`tsclust_spark.kernels.recurrence`: state and outputs
    ``(s, b)``, seeded ``s_0 = x_0, b_0 = 0``."""

    n_state, lag = 2, 0

    def __init__(self, alpha: float, beta: float, damping: float = 1.0):
        if not 0.0 < alpha <= 1.0:
            raise ValueError("alpha must be in (0, 1]")
        if not 0.0 <= beta <= 1.0:
            raise ValueError("beta must be in [0, 1]")
        if not 0.0 < damping <= 1.0:
            raise ValueError("damping must be in (0, 1]")
        self.alpha, self.beta, self.d = alpha, beta, damping
        self.phi, self.gd = 1.0 - alpha, (1.0 - beta) * damping

    def seed(self, x0):
        st = [x0, np.zeros(x0.size)]
        return st, tuple(st)

    def step(self, st, x):
        s, b = st
        s_new = self.alpha * x + self.phi * (s + self.d * b)
        b *= self.gd
        b += self.beta * (s_new - s)
        st[:] = s_new, b
        return s_new, b


def holt(
    df: DataFrame,
    alpha: float,
    beta: float,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    level_col: str = "level_value",
    trend_col: str = "trend_value",
    tiebreak_col: str | None = None,
    damping: float = 1.0,
) -> DataFrame:
    """Append Holt level and trend per key, ordered by
    (ts_col, tiebreak_col).  ``damping`` in (0, 1] runs the
    Gardner-McKenzie damped-trend variant (1.0 = classic Holt,
    bit-unchanged); damped forecasts flatten toward
    s + b*(d + d^2 + ...) instead of extrapolating linearly forever —
    the default in most production forecast stacks."""
    spec, names = HoltSpec(alpha, beta, damping), (level_col, trend_col)

    def run(batches: Iterator) -> Iterator:
        return recurrence.run_batches(spec, batches, [key_col], value_col, names)

    return recurrence.plan(df, spec, run, names, [key_col], [ts_col, tiebreak_col])
