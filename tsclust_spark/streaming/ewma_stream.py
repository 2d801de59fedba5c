"""Streaming EWMA: the batch recurrence (operators/ewma.py) as a
stateful Structured Streaming operator.

State per key is exactly ONE row (last smoothed value + the timestamp
it was computed at) — `applyInPandasWithState` keeps it across
micro-batches, so the stream emits, for every arriving point, the same
EWMA the batch operator would produce over the full history.  This is
the canonical "custom stateful operator" shape (SURVEY.md streaming
note): state size ~ #live keys, never ~ #events.

Ordering and late rows follow the recurrence engine's stream contract
(:func:`tsclust_spark.kernels.recurrence.stream`): rows sort by
(ts[, tiebreak]) within a micro-batch; across batches the source is
assumed to deliver a key's points in non-decreasing ts order (true for
the engine's file/Kafka sources partitioned by key); an older point is
flagged ``late=true`` and smoothed as-if-current.

Batch equivalence is asserted in tests/test_ewma_stream.py: streaming
output over availableNow triggers == operators.ewma.ewma over the same
input, bit-identical (both run :class:`EwmaSpec` on the same engine).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from tsclust_spark.kernels import recurrence
from tsclust_spark.operators.ewma import EwmaSpec

STATE_SCHEMA = T.StructType(
    [
        T.StructField("y", T.DoubleType()),
        T.StructField("last_ts", T.DoubleType()),
    ]
)

OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("ewma_value", T.DoubleType()),
        T.StructField("late", T.BooleanType()),
    ]
)


def ewma_stream(
    points: DataFrame,
    alpha: float = 0.3,
    timeout: str = "NoTimeout",
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Apply the stateful EWMA to a streaming DataFrame of
    ``(user_id long, ts timestamp, value double)``.  Pass
    ``tiebreak_col`` (an extra unique column on the input) when
    duplicate (key, ts) rows are possible."""
    return recurrence.stream(
        points, EwmaSpec(alpha), ("ewma_value",), STATE_SCHEMA, OUT_SCHEMA,
        timeout, tiebreak_col,
    )
