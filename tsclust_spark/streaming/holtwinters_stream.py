"""Streaming Holt-Winters: the batch level+trend+seasonal recurrence
(operators/holtwinters.py) as a stateful Structured Streaming operator.

State per key is one row — ``(s, b, ring array<double>, last_ts)`` —
the seasonal FIFO ring riding the state exactly as it rides the batch
operator's cross-batch carry, so every arriving point gets the same
(s, b, c) the batch operator computes over the full history and the
one-step-ahead seasonal forecast ``s + b + c_next`` (c_next = the
seasonal that will apply to the NEXT point, 0.0 until m points of
history exist) is available at arrival time.

Ordering / late policy is the recurrence engine's stream contract
(:func:`tsclust_spark.kernels.recurrence.stream`): sort by
(ts[, tiebreak]) within a micro-batch; a point older than the state's
last ts is flagged ``late=true`` and folded as-if-current.  Batch
equivalence is bit-for-bit (both run :class:`HoltWintersSpec` on the
same engine), asserted across micro-batch boundaries in
tests/test_holtwinters_stream.py.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from tsclust_spark.kernels import recurrence
from tsclust_spark.operators.holtwinters import HoltWintersSpec

STATE_SCHEMA = T.StructType(
    [
        T.StructField("s", T.DoubleType()),
        T.StructField("b", T.DoubleType()),
        T.StructField("ring", T.ArrayType(T.DoubleType())),
        T.StructField("last_ts", T.DoubleType()),
    ]
)

OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("level_value", T.DoubleType()),
        T.StructField("trend_value", T.DoubleType()),
        T.StructField("seasonal_value", T.DoubleType()),
        T.StructField("forecast_1", T.DoubleType()),
        T.StructField("late", T.BooleanType()),
    ]
)


def holt_winters_stream(
    points: DataFrame,
    alpha: float,
    beta: float,
    gamma: float,
    period: int,
    timeout: str = "NoTimeout",
    tiebreak_col: str | None = None,
    multiplicative: bool = False,
) -> DataFrame:
    """Apply the stateful Holt-Winters recurrence to a streaming
    DataFrame of ``(user_id long, ts timestamp, value double)``.
    ``multiplicative=True`` runs the ratio-seasonal form,
    batch-identical to ``holt_winters(multiplicative=True)``
    (positive series only); ``forecast_1`` becomes (s+b)*c_next."""
    spec = HoltWintersSpec(alpha, beta, gamma, period, multiplicative)

    def forecast(outs, carry):
        # the seasonals so far: the carried ring, then this chunk's
        s, b, c = outs
        ring = list(carry[-1]) if carry else []
        hist = np.concatenate([ring, c])
        i = np.arange(c.size) + len(ring) + 1 - period
        c_next = np.where(i >= 0, hist[np.maximum(i, 0)], spec.neutral)
        return {"forecast_1": (s + b) * c_next if multiplicative else s + b + c_next}

    return recurrence.stream(
        points, spec, ("level_value", "trend_value", "seasonal_value"),
        STATE_SCHEMA, OUT_SCHEMA, timeout, tiebreak_col, forecast,
    )
