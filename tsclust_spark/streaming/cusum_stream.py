"""Streaming CUSUM: the batch change-point detector
(operators/cusum.py) as a stateful Structured Streaming operator.

State per key is ONE row — the two one-sided accumulators plus the
last seen timestamp — kept across micro-batches by
``applyInPandasWithState``, so every arriving point gets exactly the
(hi, lo, alarm) the batch operator would produce over the full
history. CUSUM is the natural streaming detector: the alarm is
actionable at arrival time, not at the next batch rollup.

Ordering / late policy is the recurrence engine's stream contract
(:func:`tsclust_spark.kernels.recurrence.stream`): rows sort by
(ts[, tiebreak]) within a micro-batch; a point older than the state's
last ts is flagged ``late=true`` and folded as-if-current (state
already emitted cannot be rewritten).  NULL values follow the batch
operator's policy: NULL outputs from that row on.

Batch equivalence (bit-identical — both run :class:`CusumSpec` on the
same engine) is asserted in tests/test_cusum_stream.py across
micro-batch boundaries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from tsclust_spark.kernels import recurrence
from tsclust_spark.operators.cusum import CusumSpec

STATE_SCHEMA = T.StructType(
    [
        T.StructField("hi", T.DoubleType()),
        T.StructField("lo", T.DoubleType()),
        T.StructField("last_ts", T.DoubleType()),
    ]
)

OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("cusum_hi", T.DoubleType()),
        T.StructField("cusum_lo", T.DoubleType()),
        T.StructField("alarm", T.BooleanType()),
        T.StructField("late", T.BooleanType()),
    ]
)


def cusum_stream(
    points: DataFrame,
    mu: float,
    k: float,
    h: float,
    timeout: str = "NoTimeout",
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Apply the stateful CUSUM to a streaming DataFrame of
    ``(user_id long, ts timestamp, value double)``."""
    return recurrence.stream(
        points, CusumSpec(mu, k, h), ("cusum_hi", "cusum_lo", "alarm"),
        STATE_SCHEMA, OUT_SCHEMA, timeout, tiebreak_col,
    )
