"""Exponentially weighted mean + variance with adaptive anomaly bands.

The adaptive-threshold sibling of :mod:`operators/ewma`: alongside the
EWMA level ``y`` it tracks an exponentially weighted variance

    d_t = x_t - y_{t-1}                      (innovation vs prior state)
    y_t = beta*y_{t-1} + alpha*x_t           (the EWMA recurrence, same
                                              formulation as ewma.py)
    v_t = beta*(v_{t-1} + alpha*d_t*d_t)     (EW variance of innovations)

seeded ``y_0 = x_0, v_0 = 0`` — and flags a point when its innovation
leaves the prior band: ``d_t^2 > k^2 * v_{t-1}`` (squared form, no
sqrt: one fewer op to keep bit-identical across engines). Flagging
against the PRIOR state matters: the anomaly must not widen the very
band that judges it before it is judged.

:class:`EwvarSpec` states the step; the shared recurrence engine
(:mod:`tsclust_spark.kernels.recurrence`) runs it in the same IEEE op
order as the scalar reference :func:`_ewvar_scalar` and the DuckDB
recursive-CTE twin, so the oracle gate compares bit-identical
recurrences.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
from pyspark.sql import DataFrame

from tsclust_spark.kernels import recurrence


def _ewvar_scalar(
    x: np.ndarray,
    alpha: float,
    carry: tuple[float, float] | None = None,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Reference per-point recurrence. Returns (y, v, d2) where d2 is
    the squared innovation vs the prior state (d2[0] = 0 on a fresh
    seed, the real innovation when continuing from carry)."""
    beta = 1.0 - alpha
    n = x.size
    y = np.empty(n, dtype=np.float64)
    v = np.empty(n, dtype=np.float64)
    d2 = np.empty(n, dtype=np.float64)
    if n == 0:
        return y, v, d2
    if carry is not None:
        y_acc, v_acc = carry
        d = x[0] - y_acc
        d2[0] = d * d
        y_acc = beta * y_acc + alpha * x[0]
        v_acc = beta * (v_acc + alpha * (d * d))
    else:
        y_acc, v_acc = x[0], 0.0
        d2[0] = 0.0
    y[0], v[0] = y_acc, v_acc
    for i in range(1, n):
        d = x[i] - y_acc
        d2[i] = d * d
        y_acc = beta * y_acc + alpha * x[i]
        v_acc = beta * (v_acc + alpha * (d * d))
        y[i], v[i] = y_acc, v_acc
    return y, v, d2


class EwvarSpec:
    """The EW mean/variance step for
    :mod:`tsclust_spark.kernels.recurrence`: state ``(y, v)`` seeded
    ``(x_0, 0)``; outputs ``(y, v, d2, band_flag)`` with ``d2`` the
    squared innovation vs the prior state (0 on a seed)."""

    n_state, lag = 2, 0

    def __init__(self, alpha: float, k: float = 3.0):
        if not 0.0 < alpha <= 1.0:
            raise ValueError("alpha must be in (0, 1]")
        if k <= 0:
            raise ValueError("band width k must be positive")
        self.alpha, self.beta, self.k2 = alpha, 1.0 - alpha, k * k

    def seed(self, x0):
        st = [x0, np.zeros(x0.size)]
        return st, (x0, st[1], np.zeros(x0.size), np.zeros(x0.size, dtype=bool))

    def step(self, st, x):
        y, v = st
        d = x - y
        dd = d * d
        flag = dd > self.k2 * v  # judged against the PRIOR band
        y *= self.beta
        y += self.alpha * x
        v += self.alpha * dd
        v *= self.beta
        st[:] = y, v
        return y, v, dd, flag


def ewvar(
    df: DataFrame,
    alpha: float,
    k: float = 3.0,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Append ``ewma_value``, ``ewvar_value`` and ``band_flag``
    (squared innovation vs PRIOR state > k^2 * prior variance) per key,
    ordered by (ts_col, tiebreak_col)."""
    spec = EwvarSpec(alpha, k)
    names = ("ewma_value", "ewvar_value", None, "band_flag")

    def run(batches: Iterator) -> Iterator:
        return recurrence.run_batches(spec, batches, [key_col], value_col, names)

    return recurrence.plan(df, spec, run, names, [key_col], [ts_col, tiebreak_col])
