"""Continuous-aggregate tier rollup: raw -> 1m -> 1h -> 1d (SURVEY.md C16/C17).

Each tier stores the decomposable stats ``(min, max, sum, count)`` per
``(key, bucket_ts)``; ``mean`` is derived as ``sum / count`` on read —
never an average of averages — so the 1h tier computed by cascading from
1m is bit-exact equal to the 1h tier computed directly from raw points
(integer sums are associative; this is the SURVEY.md §7 "hard part (a)"
design). Buckets use ``date_trunc``, which exists with identical
semantics in DuckDB for the oracle comparison.

Scale notes (100 TB): the rollup is ONE hash-aggregate per tier —
Catalyst plans partial (map-side) + final aggregation automatically, so
the shuffle carries only per-bucket partials. The cascade re-aggregates
the (already tiny) finer tier instead of rescanning raw data: 1m -> 1h
-> 1d touches ~1/60 then ~1/3600 of the raw volume. Tier tables are
written partitioned by ``bucket_date`` for partition pruning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

TIER_TRUNC = {"1m": "minute", "1h": "hour", "1d": "day"}
TIER_ORDER = ["1m", "1h", "1d"]


def _agg_exprs(value_col: str, sum_type: str):
    return [
        F.min(value_col).alias("min_value"),
        F.max(value_col).alias("max_value"),
        F.sum(value_col).cast(sum_type).alias("sum_value"),
        F.count(value_col).alias("count_value"),
    ]


def _first_last_exprs(order_col: str, value_col: str):
    """TimescaleDB-style ``first(value, ts)`` / ``last(value, ts)``.

    Implemented as min/max over ``struct(order, value)`` — lexicographic
    struct comparison gives "value at earliest/latest order", with ties
    on the order column broken deterministically by the value itself
    (identical semantics in DuckDB via ``min(struct_pack(...))``, which
    the oracle uses). Pure JVM aggregate, composes with the partial/final
    hash-aggregate split like min/max.
    """
    pair = F.struct(F.col(order_col).alias("t"), F.col(value_col).alias("v"))
    return [
        F.min(pair)["v"].alias("first_value"),
        F.max(pair)["v"].alias("last_value"),
    ]


def rollup_tier(
    points_df: DataFrame,
    tier: str = "1m",
    key_col: str = "doc_id",
    ts_col: str = "ts",
    value_col: str = "value",
    integer_values: bool = True,
    include_first_last: bool = False,
) -> DataFrame:
    """Aggregate a long points view into one retention tier.

    Output: ``(key, bucket_ts, min_value, max_value, sum_value,
    count_value, mean_value)``. With ``integer_values`` the sum is kept
    as BIGINT (exact, associative -> bit-exact cascade). With
    ``include_first_last`` the bucket also carries
    ``first_value``/``last_value`` (value at the earliest/latest ts in
    the bucket, TimescaleDB ``first()``/``last()``); these cascade
    exactly because the earliest point of a coarse bucket lives in its
    earliest finer bucket.
    """
    trunc = TIER_TRUNC[tier]
    sum_type = "bigint" if integer_values else "double"
    extra = _first_last_exprs(ts_col, value_col) if include_first_last else []
    out = (
        points_df.groupBy(
            F.col(key_col),
            F.date_trunc(trunc, F.col(ts_col)).alias("bucket_ts"),
        )
        .agg(*_agg_exprs(value_col, sum_type), *extra)
    )
    return out.withColumn(
        "mean_value",
        F.col("sum_value").cast("double") / F.col("count_value"),
    )


def cascade_tier(
    finer_df: DataFrame,
    tier: str,
    key_col: str = "doc_id",
    integer_values: bool = True,
    include_first_last: bool = False,
) -> DataFrame:
    """Coarser tier from a finer tier (1m -> 1h -> 1d), exactly.

    min/max compose as min-of-min / max-of-max; sum and count add. The
    derived mean is therefore identical to a direct rollup from raw.
    first/last compose as first-of-first / last-of-last ordered by the
    finer ``bucket_ts``: the raw-level lexicographic-min ``(ts, value)``
    pair sits in the finer bucket with the smallest ``bucket_ts`` (all
    rows sharing the minimal ts truncate into the same bucket), so the
    cascade reproduces the direct-from-raw result bit-exactly.
    """
    trunc = TIER_TRUNC[tier]
    sum_type = "bigint" if integer_values else "double"
    extra = (
        [
            F.min(F.struct(F.col("bucket_ts").alias("t"),
                           F.col("first_value").alias("v")))["v"]
            .alias("first_value"),
            F.max(F.struct(F.col("bucket_ts").alias("t"),
                           F.col("last_value").alias("v")))["v"]
            .alias("last_value"),
        ]
        if include_first_last
        else []
    )
    out = (
        finer_df.groupBy(
            F.col(key_col),
            F.date_trunc(trunc, F.col("bucket_ts")).alias("bucket_ts"),
        )
        .agg(
            F.min("min_value").alias("min_value"),
            F.max("max_value").alias("max_value"),
            F.sum("sum_value").cast(sum_type).alias("sum_value"),
            F.sum("count_value").alias("count_value"),
            *extra,
        )
    )
    return out.withColumn(
        "mean_value",
        F.col("sum_value").cast("double") / F.col("count_value"),
    )


def realtime_tier(
    points_df: DataFrame,
    materialized_df: DataFrame,
    tier: str = "1m",
    watermark=None,
    key_col: str = "doc_id",
    ts_col: str = "ts",
    value_col: str = "value",
    integer_values: bool = True,
    include_first_last: bool = False,
) -> DataFrame:
    """Real-time continuous aggregate: frozen tier + live raw tail.

    A materialization job runs periodically, so the stored tier lags the
    raw table. This view answers with fresh data anyway (the
    TimescaleDB real-time-cagg pattern): buckets strictly below the
    bucket-aligned ``watermark`` come from ``materialized_df``; buckets
    at/after it are aggregated on the fly from ``points_df``. The
    watermark is aligned DOWN to a bucket boundary before use — a
    boundary bucket only partially covered by the materialization would
    otherwise surface incomplete stats, so it is recomputed from raw
    instead of trusted.

    Scale notes (100 TB): the frozen side is a partition-pruned scan of
    the (tiny) tier table — ``bucket_ts < aligned`` prunes on the
    ``bucket_date`` partition column when reading a written tier. The
    live side scans only raw rows with ``ts >= aligned`` (a plain
    column predicate, pushed to the parquet/Iceberg scan), i.e. the
    last materialization interval, not history. The union adds no
    shuffle beyond the tail's own partial/final aggregate.

    ``watermark``: anything Spark casts to timestamp (str/datetime).
    Caller contract: every raw row with ``ts`` < watermark is reflected
    in ``materialized_df`` (the materializer's own high-water mark).
    """
    trunc = TIER_TRUNC[tier]
    aligned = F.date_trunc(trunc, F.lit(watermark).cast("timestamp"))
    frozen = materialized_df.filter(F.col("bucket_ts") < aligned)
    tail = rollup_tier(
        points_df.filter(F.col(ts_col) >= aligned),
        tier,
        key_col,
        ts_col,
        value_col,
        integer_values,
        include_first_last,
    )
    return frozen.unionByName(tail)


def time_weighted_avg(
    points_df: DataFrame,
    tier: str = "1h",
    key_col: str = "doc_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Time-weighted mean per bucket (TimescaleDB ``time_weight('LOCF')``).

    Irregularly-sampled series over-represent dense intervals under a
    plain mean; here each point is weighted by how long it stayed
    current — LOCF: value_i holds from ts_i until the next in-bucket
    point, the bucket's last point contributes no weight (its interval
    extends past the bucket and is not observed). Single-point /
    all-same-ts buckets fall back to the plain mean. Weights are exact
    integer microseconds (``unix_micros``); ties on ts are ordered by
    value so the zero-weight assignment is deterministic.

    Scale notes (100 TB): one window per (key, bucket) — the partition
    key includes the bucket, so a key's history never serializes through
    one task; skewed single-key traffic splits across buckets. The
    window and the following hash-aggregate share the same grouping, so
    the agg reuses the window's shuffle partitioning (one Exchange
    total).

    Output: ``(key, bucket_ts, twa_value, count_value)``.
    """
    from pyspark.sql import Window

    trunc = TIER_TRUNC[tier]
    # bucket_ts is materialized BEFORE the window so the window and the
    # final groupBy hash-partition on the same output attributes — the
    # aggregate then reuses the window's Exchange (one shuffle total,
    # plan-asserted in tests/test_realtime.py)
    bucketed = points_df.select(
        F.col(key_col),
        F.date_trunc(trunc, F.col(ts_col)).alias("bucket_ts"),
        F.col(ts_col).alias("_ts"),
        F.col(value_col).alias("_v"),
    )
    w = Window.partitionBy(key_col, "bucket_ts").orderBy("_ts", "_v")
    # parquet timestamps may arrive as TIMESTAMP_NTZ; unix_micros wants
    # TIMESTAMP — the NTZ->LTZ cast offsets cancel in the subtraction
    us = F.unix_micros(F.col("_ts").cast("timestamp"))
    weight = F.unix_micros(F.lead("_ts").over(w).cast("timestamp")) - us
    weighted = bucketed.withColumn("_w_us", weight)
    return (
        weighted.groupBy(key_col, "bucket_ts")
        .agg(
            F.coalesce(
                F.sum(F.col("_v") * F.col("_w_us"))
                / F.nullif(F.sum("_w_us"), F.lit(0)),
                F.avg("_v"),
            ).alias("twa_value"),
            F.count("_v").alias("count_value"),
        )
    )


def counter_delta(
    points_df: DataFrame,
    tier: str = "1h",
    key_col: str = "doc_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Counter-reset-aware per-bucket increase (TimescaleDB
    ``counter_agg``/PromQL ``increase`` semantics, within-bucket pairs).

    For a monotonically-increasing counter that occasionally resets to
    zero (process restart), the bucket's increase is the sum of
    consecutive deltas where a negative delta — a reset — contributes
    the post-reset value itself (the counter restarted from 0, so the
    observed value IS the increase since the reset). The bucket's first
    point has no in-bucket predecessor and contributes nothing;
    ``n_resets`` is surfaced for observability. Ties on ts are ordered
    by value for determinism.

    Scale notes (100 TB): same shape as ``time_weighted_avg`` — one
    window per (key, bucket) so hot keys split across buckets, and the
    following hash-aggregate groups on the window's own partition keys
    (one Exchange total).

    Output: ``(key, bucket_ts, increase_value, n_resets, count_value)``.
    """
    from pyspark.sql import Window

    trunc = TIER_TRUNC[tier]
    # bucket_ts computed before the window: the aggregate reuses the
    # window's hash partitioning (one Exchange total, plan-asserted)
    bucketed = points_df.select(
        F.col(key_col),
        F.date_trunc(trunc, F.col(ts_col)).alias("bucket_ts"),
        F.col(ts_col).alias("_ts"),
        F.col(value_col).alias("_v"),
    )
    w = Window.partitionBy(key_col, "bucket_ts").orderBy("_ts", "_v")
    prev = F.lag("_v").over(w)
    delta = F.when(prev.isNull(), F.lit(None)).otherwise(
        F.when(F.col("_v") >= prev, F.col("_v") - prev).otherwise(F.col("_v"))
    )
    stepped = bucketed.select(
        F.col(key_col),
        "bucket_ts",
        "_v",
        delta.alias("_d"),
        (F.col("_v") < prev).cast("int").alias("_reset"),
    )
    return stepped.groupBy(key_col, "bucket_ts").agg(
        F.coalesce(F.sum("_d"), F.lit(0.0)).alias("increase_value"),
        F.coalesce(F.sum("_reset"), F.lit(0)).cast("bigint").alias("n_resets"),
        F.count("_v").alias("count_value"),
    )


def rollup_sequences_1m_fast(
    seq_df: DataFrame,
    t0: str = "2024-01-01 00:00:00",
    step_seconds: int = 1,
    with_rep: bool = True,
) -> DataFrame:
    """Map-only 1m tier straight from the nested sequence rows.

    The mandated input keeps one doc's whole series in one row on an
    implicit 1s grid (SURVEY.md §1.3), so each 60s bucket is a
    contiguous ``slice`` of the tokens array: min/max/sum/count/medoid
    are pure array expressions — **no explode of 60x the rows, and no
    shuffle at all** for the 1m tier (each output row derives from one
    input row). The 1h/1d cascade then shuffles only the 1m tier, 60x
    smaller than the raw points. Requires ``t0`` minute-aligned and
    ``60 % step_seconds == 0``.

    Bit-exact equal to the explode-based
    ``rollup_tier(explode_to_points(seq))`` path (asserted in
    tests/test_fastpath.py).
    """
    if 60 % step_seconds != 0:
        raise ValueError("fast path needs step_seconds dividing 60")
    per_bucket = 60 // step_seconds
    t0_expr = f"to_timestamp('{t0}')"

    chunks = seq_df.filter(F.size("tokens") > 0).select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"""
                transform(
                  sequence(0, int(ceil(size(tokens) / {per_bucket})) - 1),
                  b -> slice(tokens, b * {per_bucket} + 1, {per_bucket}))
                """
            )
        ).alias("bucket_idx", "chunk"),
    )
    out = chunks.select(
        "doc_id",
        F.expr(
            f"{t0_expr} + make_interval(0, 0, 0, 0, 0, bucket_idx, 0)"
        ).alias("bucket_ts"),
        F.array_min("chunk").alias("min_value"),
        F.array_max("chunk").alias("max_value"),
        F.expr("aggregate(chunk, 0L, (acc, x) -> acc + x)").alias("sum_value"),
        F.size("chunk").cast("long").alias("count_value"),
        *(
            [
                F.expr(
                    "element_at(array_sort(chunk),"
                    " cast((size(chunk) + 1) / 2 as int))"
                ).alias("rep_value")
            ]
            if with_rep
            else []
        ),
    )
    return out.withColumn(
        "mean_value", F.col("sum_value").cast("double") / F.col("count_value")
    )

