"""The resumable rollup job: sequences -> compressed raw + tier cascade
(the north-star pipeline: BASELINE.json:6).

Unit of work = ``pmod(hash(doc_id), n_units)`` slice. The input is
staged ONCE into a unit-partitioned layout (or is already one, on
Iceberg ``bucket(doc_id, N)``) so per-unit scans prune. Units run one
after another. Per unit:

1. scan the unit's partition of the staged table (C1/C10) and count
   its rows and points
2. raw branch: Gorilla-compress each row -> ``raw`` retention tier
   (C23/C24), running beside step 3
3. tiers branch: ONE map-only Arrow pass (C16/C17) emits every row's
   1m, 1h and 1d rows -- exact sums and a lower-medoid ``rep_value``
   per window (C27), cascaded 1m -> 1h -> 1d inside the worker, since
   every bucket of every tier lies inside one sequence row -- written
   once to a hidden ``{out_dir}/_staging-<uuid>`` partitioned by
   ``(tier, unit, bucket_date)``; each tier's directories are then
   committed into ``agg_<tier>``. No scratch table, no cascade shuffle
4. every sink MERGEs into its partitioned target (C3), partitions
   ``(unit, bucket_date)`` so units and targets never touch each
   other's files. A failing branch does not cancel the other: the
   unit waits for both, then raises the first failure (raw, tiers)
5. append a manifest record with lineage + points/sec (C4), or, for a
   failed unit, the error in its lineage

A killed job resumes by skipping manifest-complete units. Tier tables
are identical whether produced by one run or any interrupted/resumed
sequence of runs (asserted by tests/test_resume.py).
"""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tsclust_spark import hadoopfs
from tsclust_spark.kernels.barycenter import window_representative
from tsclust_spark.kernels.codec import compress_sequences
from tsclust_spark.kernels.rollup_arrow import rollup_sequences_tiers_arrow, tier_slice
from tsclust_spark.operators.rollup import TIER_ORDER, rollup_tier
from tsclust_spark.plans.manifest import Manifest
from tsclust_spark.plans.merge import commit_staged, staged_write, upsert_partitioned

TIER_KEYS = ["doc_id", "bucket_ts"]
TIER_PARTITIONS = ["unit", "bucket_date"]


def _cascade_with_rep(prev: DataFrame, tier: str) -> DataFrame:
    """One combined groupBy per cascade step: decomposable stats +
    medoid-of-medoids rep, single shuffle (vs agg + rep + join)."""
    from tsclust_spark.operators.rollup import TIER_TRUNC

    trunc = TIER_TRUNC[tier]
    return (
        prev.groupBy(
            "doc_id", F.date_trunc(trunc, "bucket_ts").alias("bucket_ts")
        )
        .agg(
            F.min("min_value").alias("min_value"),
            F.max("max_value").alias("max_value"),
            F.sum("sum_value").alias("sum_value"),
            F.sum("count_value").alias("count_value"),
            F.expr(
                "element_at(sort_array(collect_list(rep_value)),"
                " cast((size(collect_list(rep_value)) + 1) / 2 as int))"
            ).alias("rep_value"),
        )
        .withColumn(
            "mean_value", F.col("sum_value").cast("double") / F.col("count_value")
        )
    )


def build_tiers_with_rep(points: DataFrame) -> dict[str, DataFrame]:
    """1m/1h/1d aggregates + cascaded medoid rep_value from a points view.

    Generic path for arbitrary (key, ts, value) points (e.g. events).
    For the mandated sequence table prefer
    :func:`build_tiers_from_sequences` (map-only 1m, 60x less shuffle).
    """
    tiers: dict[str, DataFrame] = {}
    agg = rollup_tier(points, "1m", integer_values=True)
    rep = window_representative(points, "1m")
    tiers["1m"] = agg.join(rep, TIER_KEYS)
    prev = tiers["1m"]
    for tier in TIER_ORDER[1:]:
        tiers[tier] = _cascade_with_rep(prev, tier)
        prev = tiers[tier]
    return tiers


def build_tiers_from_sequences(
    seq_df: DataFrame,
    t0: str = "2024-01-01 00:00:00",
    step_seconds: int = 1,
    kernel: str = "arrow",
) -> dict[str, DataFrame]:
    """Fast path for the mandated nested input, one plan per tier.

    Two interchangeable, bit-exact kernels (tests/test_fastpath.py):
    ``arrow`` -- the tiers of one map-only ``mapInArrow`` pass
    (:func:`rollup_sequences_tiers_arrow`, the kernel ``run_unit``
    writes from: the list column's flat buffers go straight into numpy
    ``reduceat``, and the 1h/1d cascade runs inside the worker, no
    shuffle) -- and ``jvm`` (a map-only 1m tier of pure array
    expressions, whole-stage codegen, then the cascade shuffles of
    :func:`_cascade_with_rep`, which touch only tier rows). Default
    arrow: its isolated-worker shape is also what scales on a
    1000-executor cluster.
    """
    from tsclust_spark.operators.rollup import rollup_sequences_1m_fast

    if kernel == "arrow":
        import datetime as _dt

        t0_epoch = int(
            _dt.datetime.fromisoformat(t0).replace(tzinfo=_dt.timezone.utc).timestamp()
        )
        tiers = rollup_sequences_tiers_arrow(seq_df, t0_epoch, step_seconds)
        return {tier: tier_slice(tiers, tier) for tier in TIER_ORDER}
    out = {"1m": rollup_sequences_1m_fast(seq_df, t0, step_seconds, with_rep=True)}
    for prev, tier in zip(TIER_ORDER, TIER_ORDER[1:]):
        out[tier] = _cascade_with_rep(out[prev], tier)
    return out


def _input_fingerprint(seq: DataFrame) -> str:
    """Cheap identity of the staged job input: md5 over the sorted
    source file list (metadata-only) when the input is file-backed,
    else the row count. Recorded next to the staged snapshot so a
    resume pointed at a DIFFERENT/updated input restages instead of
    silently processing stale data."""
    import hashlib

    files = sorted(seq.inputFiles())
    if files:
        return "files:" + hashlib.md5(";".join(files).encode()).hexdigest()
    return f"rows:{seq.count()}"


def _upsert_raw(
    spark: SparkSession,
    part: DataFrame,
    unit: int,
    out_dir: str,
    t0_epoch: int,
    step_seconds: int,
) -> None:
    """The raw branch: Gorilla-compress the unit's rows and merge them
    into ``{out_dir}/raw``."""
    # bucket_date = date of the block's LAST point (t0 + (n-1)*step):
    # the raw retention policy drops a block only once its newest
    # point ages past the cutoff. Without this date partition the
    # raw tier was un-expirable (retention silently no-opped).
    blocks = (
        compress_sequences(part, t0_epoch, step_seconds)
        .withColumn("unit", F.lit(unit))
        .withColumn(
            "bucket_date",
            F.to_date(
                F.timestamp_seconds(
                    F.col("t0")
                    + (F.greatest(F.col("n"), F.lit(1)) - 1)
                    * F.lit(step_seconds)
                )
            ),
        )
    )
    # prune on unit only: bucket_date is data-derived (a re-ingested
    # doc's block can END on a different date), so full-tuple pruning
    # would leave the doc's old blob stranded in the old date
    # partition as a stale duplicate. unit IS a pure function of
    # doc_id, so unit-level pruning merges every partition the key
    # could occupy.
    upsert_partitioned(
        spark,
        f"{out_dir}/raw",
        blocks,
        key_cols=["doc_id"],
        partition_cols=["unit", "bucket_date"],
        prune_cols=["unit"],
    )


def _commit_tiers(
    spark: SparkSession,
    part: DataFrame,
    unit: int,
    out_dir: str,
    t0_epoch: int,
    step_seconds: int,
) -> None:
    """The tiers branch: one map-only kernel pass yields the unit's 1m,
    1h and 1d rows, written once to a hidden staging directory
    partitioned by ``(tier, unit, bucket_date)``; each tier's
    directories are then committed into ``{out_dir}/agg_<tier>``."""
    tiers = (
        rollup_sequences_tiers_arrow(part, t0_epoch, step_seconds)
        .withColumn("unit", F.lit(unit))
        .withColumn("bucket_date", F.to_date("bucket_ts"))
    )
    schema = tiers.drop("tier").schema
    with staged_write(spark, out_dir, tiers, ["tier", *TIER_PARTITIONS]) as staged:
        for tier in TIER_ORDER:
            commit_staged(
                spark, f"{out_dir}/agg_{tier}", f"{staged}/tier={tier}",
                schema, TIER_KEYS, TIER_PARTITIONS,
            )


def run_unit(
    spark: SparkSession,
    seq: DataFrame,
    unit: int,
    n_units: int,
    out_dir: str,
    write_raw: bool = True,
    t0_epoch: int = 1704067200,
    step_seconds: int = 1,
) -> tuple[int, int]:
    """Process one work unit; returns (rows, points).

    If ``seq`` already carries a ``unit`` column (the staged layout
    written by :func:`run_rollup`), the filter is a partition-pruned
    scan of that unit's files only; otherwise it falls back to the
    ``pmod(hash(doc_id))`` predicate, which cannot prune and re-scans
    the full input per unit (fine for one unit, ruinous for many).

    Once the unit's row and point count is known, its two sinks run as
    overlapping branches on a thread pool named ``rollup-unit-<u>``:
    the raw branch (compress, then the ``raw`` upsert) and the tiers
    branch (one map-only kernel pass for 1m, 1h and 1d, one staging
    write, then the ``agg_1m``, ``agg_1h`` and ``agg_1d`` commits).
    Every branch runs its jobs under the caller's job group and
    description. A failing branch does not cancel the other: the unit
    waits for both, then raises the first failure in pipeline order
    (raw, tiers), so the caller records a failed unit once and retries
    it whole.
    """
    if "unit" in seq.columns:
        part = seq.filter(F.col("unit") == unit).drop("unit")
    else:
        part = seq.filter(F.pmod(F.hash("doc_id"), F.lit(n_units)) == unit)
    stats = part.agg(
        F.count(F.lit(1)).alias("rows"), F.coalesce(F.sum("n_tok"), F.lit(0)).alias("pts")
    ).collect()[0]
    rows, points_n = int(stats.rows), int(stats.pts)
    if rows == 0:
        return 0, 0

    sinks = [_upsert_raw, _commit_tiers] if write_raw else [_commit_tiers]
    with ThreadPoolExecutor(
        max_workers=len(sinks), thread_name_prefix=f"rollup-unit-{unit}"
    ) as pool:
        # wrapped per branch: each gets its own copy of the caller's
        # local properties (job group, description)
        branches = [
            pool.submit(
                inheritable_thread_target(spark)(sink),
                spark, part, unit, out_dir, t0_epoch, step_seconds,
            )
            for sink in sinks
        ]
        # leaving the pool waits for every branch
    for branch in branches:
        branch.result()  # raises the first failure in pipeline order
    return rows, points_n


def run_rollup(
    spark: SparkSession,
    seq: DataFrame,
    out_dir: str,
    n_units: int = 16,
    resume: bool = True,
    max_units: int | None = None,
    write_raw: bool = True,
    stage: bool = True,
) -> dict:
    """Full (resumable) rollup over all units; returns summary metrics.

    ``stage=True`` (default) writes the input ONCE as
    ``{out_dir}/_staged_n{n_units}/unit=U/...`` so every unit's scan is
    partition-pruned to its own files — one full input scan total
    instead of n_units of them (the pmod-hash predicate cannot prune
    parquet). The staged table is keyed by n_units and reused across
    resumed runs (deterministic: same input + same n_units => same
    staging). Pass ``stage=False`` when the source table is already
    unit-partitioned — e.g. an Iceberg table with a
    ``bucket(doc_id, N)`` partition transform, the real-cluster layout.
    """
    manifest = Manifest(spark, f"{out_dir}/_manifest")
    all_units = [str(u) for u in range(n_units)]
    units = manifest.pending_units(all_units) if resume else all_units
    if max_units is not None:
        units = units[:max_units]

    if stage and len(units) > 1:
        staged_path = f"{out_dir}/_staged_n{n_units}"
        # the staged snapshot is only reusable under resume semantics
        # (resume REQUIRES an immutable input — otherwise completed vs
        # pending units would mix two versions anyway). A resume=False
        # run makes no such promise, so it restages from the live input
        # rather than silently processing a stale snapshot. Resume also
        # validates a recorded input fingerprint: a resume pointed at a
        # DIFFERENT input than the one staged restages loudly instead of
        # processing the stale snapshot.
        fpr_path = f"{staged_path}/_INPUT_FPR"
        reuse = resume and hadoopfs.exists(spark, f"{staged_path}/_SUCCESS")
        fpr = None
        if reuse:
            fpr = _input_fingerprint(seq)
            recorded = hadoopfs.read_text(spark, fpr_path)
            if recorded != fpr:
                reuse = False
        if not reuse:
            (
                seq.withColumn(
                    "unit", F.pmod(F.hash("doc_id"), F.lit(n_units))
                )
                .write.mode("overwrite")
                .partitionBy("unit")
                .parquet(staged_path)
            )
            hadoopfs.write_text(
                spark, fpr_path, fpr or _input_fingerprint(seq)
            )
        # the known schema spares the footer-inference job of a bare read
        unit_field = T.StructField("unit", T.IntegerType())
        seq = spark.read.schema(
            T.StructType([*seq.schema, unit_field])
        ).parquet(staged_path)

    total_rows = total_points = 0
    t_start = time.time()
    for u in units:
        t0 = time.time()
        try:
            rows, pts = run_unit(spark, seq, int(u), n_units, out_dir, write_raw)
        except Exception as exc:
            # record the failure and its cause for observability, then
            # surface it; the unit stays pending (latest-wins: failed !=
            # done) so the next run retries exactly this unit
            manifest.record(
                u, "failed", wall_ms=(time.time() - t0) * 1000.0,
                lineage={
                    "out_dir": out_dir,
                    "n_units": n_units,
                    "error": f"{type(exc).__name__}: {str(exc)[:200]}",
                },
            )
            raise
        wall_ms = (time.time() - t0) * 1000.0
        manifest.record(
            u,
            "done",
            rows=rows,
            points=pts,
            wall_ms=wall_ms,
            lineage={
                "out_dir": out_dir,
                "n_units": n_units,
                "tiers": TIER_ORDER,
                "write_raw": write_raw,
            },
        )
        total_rows += rows
        total_points += pts
    wall = time.time() - t_start
    return {
        "units_processed": len(units),
        "rows": total_rows,
        "points": total_points,
        "wall_sec": wall,
        "points_per_sec": total_points / wall if wall > 0 else 0.0,
    }
