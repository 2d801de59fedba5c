"""Tabular CUSUM change-point detection per series.

The sequential change detector (Page 1954): against a known in-control
target ``mu`` with slack ``k``, accumulate one-sided deviations

    hi_t = max(0, hi_{t-1} + (x_t - mu - k))     # upward shifts
    lo_t = max(0, lo_{t-1} + (mu - k - x_t))     # downward shifts

and flag when either exceeds the decision interval ``h`` — the
classic complement to point-wise z-scores (operators/rolling.py,
operators/seasonal.py): a small persistent mean shift never trips a
z-score but integrates linearly in CUSUM.

:class:`CusumSpec` states the step; the shared recurrence engine
(:mod:`tsclust_spark.kernels.recurrence`) runs it.  Each side is one
subtract, one add and one max (max involves no rounding), so every path
and the DuckDB recursive-CTE twin agree bit-for-bit.  The max(0, .) floor
means state cannot accumulate rounding drift while in control.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
from pyspark.sql import DataFrame

from tsclust_spark.kernels import recurrence


def _cusum_scalar(
    x: np.ndarray,
    mu: float,
    k: float,
    carry: tuple[float, float] | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Reference per-point recurrence (bit-exactness oracle); NaN
    propagates, as in :class:`CusumSpec`."""
    n = x.size
    hi = np.empty(n, dtype=np.float64)
    lo = np.empty(n, dtype=np.float64)
    h_acc, l_acc = carry if carry is not None else (0.0, 0.0)
    up = mu + k
    dn = mu - k
    for i in range(n):
        h_acc = max(h_acc + (x[i] - up), 0.0)
        l_acc = max(l_acc + (dn - x[i]), 0.0)
        hi[i] = h_acc
        lo[i] = l_acc
    return hi, lo


class CusumSpec:
    """The CUSUM step for :mod:`tsclust_spark.kernels.recurrence`: state
    ``(hi, lo)`` from 0, outputs ``(hi, lo, alarm)``."""

    n_state, lag = 2, 0

    def __init__(self, mu: float, k: float, h: float):
        if h <= 0:
            raise ValueError("decision interval h must be positive")
        if k < 0:
            raise ValueError("slack k must be non-negative")
        self.up, self.dn, self.h = mu + k, mu - k, h

    def seed(self, x0):
        st = [np.zeros(x0.size), np.zeros(x0.size)]
        return st, self.step(st, x0)

    def step(self, st, x):
        st[0] += x - self.up
        st[1] += self.dn - x
        hi = st[0] = recurrence.max0(st[0])
        lo = st[1] = recurrence.max0(st[1])
        return hi, lo, (hi > self.h) | (lo > self.h)


def cusum(
    df: DataFrame,
    mu: float,
    k: float,
    h: float,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Append ``cusum_hi``, ``cusum_lo`` and ``alarm`` (either side
    > h) per key, ordered by (ts_col, tiebreak_col).

    NULL policy: a NULL or NaN value makes ``cusum_hi`` and
    ``cusum_lo`` NULL from that row to the end of its key's series, and
    ``alarm`` false on those rows, on every execution path (batched,
    alone in a batch, or streamed).  Filter NULLs upstream to skip
    them instead."""
    spec, names = CusumSpec(mu, k, h), ("cusum_hi", "cusum_lo", "alarm")

    def run(batches: Iterator) -> Iterator:
        return recurrence.run_batches(spec, batches, [key_col], value_col, names)

    return recurrence.plan(df, spec, run, names, [key_col], [ts_col, tiebreak_col])
