"""Sequence table <-> long points view (SURVEY.md C7/C8).

The engine's primary input is the mandated sequence table
``(doc_id string, tokens array<int>, n_tok int, source string)``
(BASELINE.json:15). The reference's time model is "time = array index"
(reference tsclust/example.py:23-27: one row per timestep), so point
``tokens[p]`` gets the synthetic timestamp ``t0 + p seconds``
(SURVEY.md §1.3).

``posexplode`` is a generator expression inside whole-stage codegen —
no shuffle, no Python. At 100 TB the exploded view is never
materialized; it flows straight into the partial aggregation of the
tier rollup (map-side combine), so the shuffle carries only
``(doc_id, bucket)`` partial aggregates, not raw points.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

EPOCH_T0 = "2024-01-01 00:00:00"  # FIXTURES.md §1 time model


def explode_to_points(
    seq_df: DataFrame,
    t0: str = EPOCH_T0,
    step_seconds: int = 1,
    keep_source: bool = True,
) -> DataFrame:
    """``(doc_id, tokens, ...)`` -> ``(doc_id, pos, ts, value[, source])``."""
    cols = [
        F.col("doc_id"),
        F.posexplode("tokens").alias("pos", "value"),
    ]
    out = seq_df.select(*cols, *(["source"] if keep_source else []))
    return out.withColumn(
        "ts",
        F.timestamp_seconds(
            F.unix_timestamp(F.to_timestamp(F.lit(t0)))
            + F.col("pos").cast("long") * step_seconds
        ),
    )


def renest_points(
    points_df: DataFrame, key_cols: list[str] | None = None
) -> DataFrame:
    """Long points view -> nested array rows, ordered by position (C8).

    ``sort_array(collect_list(struct(pos, value)))`` orders by the
    leading struct field, so the re-nested array is position-ordered
    regardless of shuffle order — required for the round-trip invariant
    ``renest(explode(t)).tokens == t.tokens`` (BASELINE.json:15).
    """
    key_cols = key_cols or ["doc_id"]
    return (
        points_df.groupBy(*key_cols)
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "value"))),
                lambda s: s["value"],
            ).alias("tokens")
        )
        .withColumn("n_tok", F.size("tokens").cast("int"))
    )
