"""Holt-Winters additive triple exponential smoothing per series.

Completes the smoothing family (EWMA -> Holt -> Holt-Winters): a
three-state recurrence with a seasonal component of period ``m``
(in POINTS, matching the recurrence literature — resample or tier
first if the season is calendar-defined):

    c_prev = c_{t-m}            (0.0 until m points of history exist)
    s_t = alpha*(x_t - c_prev) + (1-alpha)*(s_{t-1} + b_{t-1})
    b_t = beta*(s_t - s_{t-1}) + (1-beta)*b_{t-1}
    c_t = gamma*(x_t - s_{t-1} - b_{t-1}) + (1-gamma)*c_prev

seeded ``s_0 = x_0, b_0 = 0, c_0 = 0`` — the seasonal profile is
ZERO-SEEDED and learned online (the same self-seeding discipline as
``ewma_chunked``'s local recurrences), which keeps the recurrence a
pure function of the ordered value sequence: no lookahead seeding pass,
so the DuckDB recursive-CTE oracle can step the identical IEEE ops,
carrying the last ``m`` seasonals as a list column (FIFO ring).

:class:`HoltWintersSpec` states the step and declares the seasonal lag
``m``; the shared recurrence engine
(:mod:`tsclust_spark.kernels.recurrence`) runs it, serving ``c_{t-m}``
from its output matrix in lockstep and from the carried ring of the
last ``m`` seasonals point by point and across batches.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from tsclust_spark.kernels import recurrence


def _hw_scalar(
    x: np.ndarray,
    alpha: float,
    beta: float,
    gamma: float,
    m: int,
    carry: tuple[float, float, list] | None = None,
    mul: bool = False,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Reference kernel: the literal per-point three-state recurrence.

    ``carry = (s, b, ring)`` continues a series split across batches;
    ``ring`` holds the most recent seasonals oldest-first (len <= m).
    ``mul=True`` runs the MULTIPLICATIVE seasonal form (seasonal is a
    RATIO, neutral element 1.0, the series must be positive):

        s_t = alpha*(x_t / c_prev) + (1-alpha)*(s_{t-1} + b_{t-1})
        b_t = beta*(s_t - s_{t-1}) + (1-beta)*b_{t-1}
        c_t = gamma*(x_t / (s_{t-1} + b_{t-1})) + (1-gamma)*c_prev
    """
    phi = 1.0 - alpha
    psi = 1.0 - beta
    delta = 1.0 - gamma
    neutral = 1.0 if mul else 0.0
    n = x.size
    s_out = np.empty(n, dtype=np.float64)
    b_out = np.empty(n, dtype=np.float64)
    c_out = np.empty(n, dtype=np.float64)
    if n == 0:
        return s_out, b_out, c_out
    if carry is not None:
        s, b = float(carry[0]), float(carry[1])
        ring = list(carry[2])
        start = 0
    else:
        s, b = float(x[0]), 0.0
        ring = [neutral]
        s_out[0], b_out[0], c_out[0] = s, b, neutral
        start = 1
    for i in range(start, n):
        c_prev = ring.pop(0) if len(ring) >= m else neutral
        s_prev = s
        b_prev = b
        if mul:
            s = alpha * (x[i] / c_prev) + phi * (s_prev + b_prev)
            b = beta * (s - s_prev) + psi * b_prev
            c = gamma * (x[i] / (s_prev + b_prev)) + delta * c_prev
        else:
            s = alpha * (x[i] - c_prev) + phi * (s_prev + b_prev)
            b = beta * (s - s_prev) + psi * b_prev
            c = gamma * (x[i] - s_prev - b_prev) + delta * c_prev
        ring.append(c)
        s_out[i], b_out[i], c_out[i] = s, b, c
    return s_out, b_out, c_out


class HoltWintersSpec:
    """The Holt-Winters step for
    :mod:`tsclust_spark.kernels.recurrence`: state ``(s, b)``, outputs
    ``(s, b, c)``; the seasonal from ``period`` rows back comes in as
    the lagged output (``neutral`` until then: 0.0 additive, 1.0
    multiplicative).  Multiplicative division uses ``np.divide`` so a
    zero divisor gives inf/NaN on every path, never an exception."""

    n_state = 2

    def __init__(self, alpha: float, beta: float, gamma: float, period: int,
                 multiplicative: bool = False):
        if not 0.0 < alpha <= 1.0:
            raise ValueError("alpha must be in (0, 1]")
        if not 0.0 <= beta <= 1.0:
            raise ValueError("beta must be in [0, 1]")
        if not 0.0 <= gamma <= 1.0:
            raise ValueError("gamma must be in [0, 1]")
        if period < 2:
            raise ValueError("period must be >= 2 points")
        self.alpha, self.beta, self.gamma = alpha, beta, gamma
        self.phi, self.psi, self.delta = 1.0 - alpha, 1.0 - beta, 1.0 - gamma
        self.lag, self.mul = period, multiplicative
        self.neutral = 1.0 if multiplicative else 0.0

    def seed(self, x0):
        st = [x0, np.zeros(x0.size)]
        return st, (x0, st[1], np.full(x0.size, self.neutral))

    def step(self, st, x, c_prev):
        s, b = st
        if self.mul:
            s_new = self.alpha * np.divide(x, c_prev) + self.phi * (s + b)
            c = self.gamma * np.divide(x, s + b) + self.delta * c_prev
        else:
            s_new = self.alpha * (x - c_prev) + self.phi * (s + b)
            c = self.gamma * (x - s - b) + self.delta * c_prev
        st[:] = s_new, self.beta * (s_new - s) + self.psi * b
        return s_new, st[1], c


def holt_winters(
    df: DataFrame,
    alpha: float,
    beta: float,
    gamma: float,
    period: int,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    level_col: str = "level_value",
    trend_col: str = "trend_value",
    seasonal_col: str = "seasonal_value",
    tiebreak_col: str | None = None,
    multiplicative: bool = False,
) -> DataFrame:
    """Append Holt-Winters level / trend / seasonal per key, ordered by
    (ts_col, tiebreak_col).  ``period`` is in points (>= 2).

    ``multiplicative=True`` switches the seasonal component to a
    RATIO (classical multiplicative Holt-Winters — amplitude grows
    with level, neutral seasonal 1.0).  Only defined for positive
    series: filter ``value > 0`` upstream, as the driver gate does —
    a zero/negative level makes the ratio recurrence blow up, which
    is the textbook constraint, not an engine one."""
    spec = HoltWintersSpec(alpha, beta, gamma, period, multiplicative)
    names = (level_col, trend_col, seasonal_col)

    def run(batches: Iterator) -> Iterator:
        return recurrence.run_batches(spec, batches, [key_col], value_col, names)

    return recurrence.plan(df, spec, run, names, [key_col], [ts_col, tiebreak_col])


def hw_forecast(
    smoothed: DataFrame,
    horizon: int,
    period: int,
    key_col: str = "user_id",
    ts_col: str = "ts",
    level_col: str = "level_value",
    trend_col: str = "trend_value",
    seasonal_col: str = "seasonal_value",
    tiebreak_col: str | None = None,
    multiplicative: bool = False,
) -> DataFrame:
    """Turn :func:`holt_winters` output into actual h-step-ahead
    forecasts: ``(key, h, forecast)`` for h = 1..horizon, from each
    key's FINAL state:

        additive:        yhat(h) = s + h*b + c[(h-1) mod m]
        multiplicative:  yhat(h) = (s + h*b) * c[(h-1) mod m]

    where ``c`` is the last ``period`` seasonal values in phase order
    (the value for step h is the seasonal learned ``period`` steps
    before that phase — the textbook h-step rule with the ring this
    engine's recurrence carries).

    Engine shape: one rank window takes each key's last ``period``
    rows (state + ring tail), one aggregate re-nests the ring as a
    phase-ordered array, and the h horizon rows come from
    posexplode over a ``sequence`` literal — all Catalyst, zero
    Python, output cardinality keys x horizon.  Keys with fewer than
    ``period`` smoothed points are omitted (their ring is still
    part-neutral; forecasting from it silently would look like data).
    """
    order = [F.col(ts_col).desc()] + (
        [F.col(tiebreak_col).desc()] if tiebreak_col else []
    )
    w = Window.partitionBy(key_col).orderBy(*order)
    tail = (
        smoothed.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= period)
    )
    per_key = (
        tail.groupBy(key_col)
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.max(
                F.when(F.col("_rn") == 1, F.col(level_col))
            ).alias("_s"),
            F.max(
                F.when(F.col("_rn") == 1, F.col(trend_col))
            ).alias("_b"),
            # ring oldest-first: _rn = period is c_{t-m+1} ... _rn = 1
            # is c_t; phase for step h is ring[(h-1) mod m] with
            # ring[0] = c_{t-m+1} = the seasonal of phase t+1
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.struct(
                            (-F.col("_rn")).alias("o"),
                            F.col(seasonal_col).alias("c"),
                        )
                    )
                ),
                lambda s: s["c"],
            ).alias("_ring"),
        )
        .filter(F.col("_n") >= period)
    )
    hs = F.posexplode(
        F.sequence(F.lit(1), F.lit(int(horizon)))
    )
    base = per_key.select(key_col, "_s", "_b", "_ring", hs)
    h = F.col("col").cast("long")
    season = F.get(
        F.col("_ring"), ((h - 1) % period).cast("int")
    )
    yhat = (
        (F.col("_s") + h.cast("double") * F.col("_b")) * season
        if multiplicative
        else (F.col("_s") + h.cast("double") * F.col("_b")) + season
    )
    return base.select(
        key_col,
        h.alias("h"),
        yhat.alias("forecast"),
    )
