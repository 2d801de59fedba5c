"""Streaming Holt smoothing: the batch level+trend recurrence
(operators/holt.py) as a stateful Structured Streaming operator.

Completes the streaming recurrence family (ewma_stream, cusum_stream):
state per key is ONE row — (level, trend, last_ts) — kept across
micro-batches by ``applyInPandasWithState``, so every arriving point
gets the same (s, b) the batch operator computes over the full
history, and the one-step-ahead forecast ``s + b`` is available at
arrival time.

Ordering / late policy is the recurrence engine's stream contract
(:func:`tsclust_spark.kernels.recurrence.stream`): sort by
(ts[, tiebreak]) within a micro-batch; a point older than the state's
last ts is flagged ``late=true`` and folded as-if-current.

Batch equivalence is bit-for-bit (both run :class:`HoltSpec` on the
same engine), asserted across micro-batch boundaries in
tests/test_holt_stream.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from tsclust_spark.kernels import recurrence
from tsclust_spark.operators.holt import HoltSpec

STATE_SCHEMA = T.StructType(
    [
        T.StructField("s", T.DoubleType()),
        T.StructField("b", T.DoubleType()),
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
        T.StructField("forecast_1", T.DoubleType()),
        T.StructField("late", T.BooleanType()),
    ]
)


def holt_stream(
    points: DataFrame,
    alpha: float,
    beta: float,
    timeout: str = "NoTimeout",
    tiebreak_col: str | None = None,
    damping: float = 1.0,
) -> DataFrame:
    """Apply the stateful Holt recurrence to a streaming DataFrame of
    ``(user_id long, ts timestamp, value double)``.  ``damping`` < 1
    runs the Gardner-McKenzie damped variant, batch-identical to
    ``operators.holt.holt(damping=...)``; ``forecast_1`` becomes the
    damped one-step forecast ``s + d*b`` (at d=1 both are the classic
    forms, bit-unchanged)."""
    spec = HoltSpec(alpha, beta, damping)

    def forecast(outs, carry):
        s, b = outs
        return {"forecast_1": s + spec.d * b}

    return recurrence.stream(
        points, spec, ("level_value", "trend_value"), STATE_SCHEMA, OUT_SCHEMA,
        timeout, tiebreak_col, forecast,
    )
