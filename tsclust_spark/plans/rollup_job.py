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
3. map-only 1m tier (Arrow kernel, C16/C17) with exact sums and a
   lower-medoid ``rep_value`` per window (C27), written ONCE to the
   unit-scoped scratch parquet ``{out_dir}/_work/unit=<u>``
4. once the scratch is written, three tier branches run together:
   1m as is, and the 1h/1d cascade (medoid-of-medoids), each read
   from the scratch only, so the scan and the 1m kernel run once per
   unit, not once per tier
5. every branch MERGEs into its partitioned target (C3), partitions
   ``(unit, bucket_date)`` so units and targets never touch each
   other's files. A failing branch does not cancel the others: the
   unit waits for all of them, deletes the scratch, then raises the
   first failure in pipeline order (raw, 1m, 1h, 1d)
6. append a manifest record with lineage + points/sec (C4), or, for a
   failed unit, the error in its lineage

A killed job resumes by skipping manifest-complete units. Tier tables
are identical whether produced by one run or any interrupted/resumed
sequence of runs (asserted by tests/test_resume.py).
"""

from __future__ import annotations

import time
from concurrent.futures import Future, ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tsclust_spark import hadoopfs
from tsclust_spark.kernels.barycenter import window_representative
from tsclust_spark.kernels.codec import compress_sequences
from tsclust_spark.operators.rollup import TIER_ORDER, rollup_tier
from tsclust_spark.plans.manifest import Manifest
from tsclust_spark.plans.merge import upsert_partitioned

TIER_KEYS = ["doc_id", "bucket_ts"]


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
    """Fast path for the mandated nested input: map-only 1m tier (zero
    shuffle), then cascade shuffles touch only tier rows (1/60th then
    1/3600th of the points).

    Two interchangeable, bit-exact 1m kernels (tests/test_fastpath.py):
    ``arrow`` (zero-copy mapInArrow: the list column's flat buffers go
    straight into numpy reduceat — measured 0.976 scaling efficiency
    local[1]->local[4] and 22.6M rolled-up pts/s end-to-end incl. sinks
    at sf0.1/local[32], BENCH/BASELINE.md) and ``jvm`` (pure array
    expressions, whole-stage codegen — competitive at very low core
    counts, but anti-scales under this sandbox's shared JVM heap).
    Default arrow: its isolated-worker shape is also what scales on a
    1000-executor cluster.
    """
    from tsclust_spark.kernels.rollup_arrow import rollup_sequences_1m_arrow
    from tsclust_spark.operators.rollup import rollup_sequences_1m_fast

    tiers: dict[str, DataFrame] = {}
    if kernel == "arrow":
        t0_epoch = 1704067200 if t0 == "2024-01-01 00:00:00" else None
        if t0_epoch is None:
            import datetime as _dt

            t0_epoch = int(
                _dt.datetime.fromisoformat(t0)
                .replace(tzinfo=_dt.timezone.utc)
                .timestamp()
            )
        tiers["1m"] = rollup_sequences_1m_arrow(seq_df, t0_epoch, step_seconds)
    else:
        tiers["1m"] = rollup_sequences_1m_fast(
            seq_df, t0, step_seconds, with_rep=True
        )
    prev = tiers["1m"]
    for tier in TIER_ORDER[1:]:
        tiers[tier] = _cascade_with_rep(prev, tier)
        prev = tiers[tier]
    return tiers


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


def _delete_unit_scratch(spark: SparkSession, work: str) -> None:
    """Delete a unit's scratch dir, then its ``_work`` parent once no
    other unit's scratch is left in it."""
    fs, hpath = hadoopfs.fs_path(spark, work)
    fs.delete(hpath, True)
    parent = hpath.getParent()
    if fs.exists(parent) and len(fs.listStatus(parent)) == 0:
        fs.delete(parent, False)


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


def _write_scratch(
    spark: SparkSession,
    part: DataFrame,
    work: str,
    t0_epoch: int,
    step_seconds: int,
) -> DataFrame:
    """Write the unit's 1m tier once to its scratch ``work`` and return
    the scratch read back."""
    import datetime as _dt

    t0_str = _dt.datetime.fromtimestamp(
        t0_epoch, _dt.timezone.utc
    ).strftime("%Y-%m-%d %H:%M:%S")
    tier_1m = build_tiers_from_sequences(
        part, t0=t0_str, step_seconds=step_seconds
    )["1m"]
    tier_1m.write.mode("overwrite").parquet(work)
    # the known schema spares the footer-inference job of a bare read
    return spark.read.schema(tier_1m.schema).parquet(work)


def _upsert_tier(
    spark: SparkSession, scratch: DataFrame, unit: int, out_dir: str, tier: str
) -> None:
    """A tier branch: cascade ``tier`` from the 1m scratch and merge it
    into ``{out_dir}/agg_<tier>``."""
    tier_df = scratch
    for step in TIER_ORDER[1 : TIER_ORDER.index(tier) + 1]:
        tier_df = _cascade_with_rep(tier_df, step)
    out = tier_df.withColumn("unit", F.lit(unit)).withColumn(
        "bucket_date", F.to_date("bucket_ts")
    )
    upsert_partitioned(
        spark,
        f"{out_dir}/agg_{tier}",
        out,
        key_cols=TIER_KEYS,
        partition_cols=["unit", "bucket_date"],
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

    Once the unit's row and point count is known, its sinks run as
    overlapping branches on a thread pool named ``rollup-unit-<u>``:
    the raw branch (compress, then the ``raw`` upsert) runs beside the
    1m scratch write, and once the scratch is written the ``agg_1m``,
    ``agg_1h`` and ``agg_1d`` upserts run together, each reading only
    the scratch. Every branch runs its jobs under the caller's job
    group and description. A failing branch does not cancel the
    others: the unit waits for every branch, deletes the scratch, then
    raises the first failure in pipeline order (raw, 1m, 1h, 1d), so
    the caller records a failed unit once and retries it whole.
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

    # the unit's 1m tier is materialized ONCE to a unit-scoped scratch
    # parquet and every tier upsert reads it back: otherwise each upsert
    # re-runs the unit's scan and the Arrow 1m kernel under its cascade
    # (three kernel passes per unit). The scratch lives and dies inside
    # this unit, so nothing is reused across units or runs.
    work = f"{out_dir}/_work/unit={unit}"
    branches: list[Future] = []
    try:
        with ThreadPoolExecutor(
            max_workers=len(TIER_ORDER) + write_raw,
            thread_name_prefix=f"rollup-unit-{unit}",
        ) as pool:

            def submit(fn, *args) -> Future:
                # wrapped per branch: each gets its own copy of the
                # caller's local properties (job group, description)
                return pool.submit(inheritable_thread_target(spark)(fn), *args)

            if write_raw:
                branches.append(submit(
                    _upsert_raw, spark, part, unit, out_dir, t0_epoch, step_seconds
                ))
            scratch = submit(
                _write_scratch, spark, part, work, t0_epoch, step_seconds
            )
            branches.append(scratch)
            if scratch.exception() is None:
                branches += [
                    submit(_upsert_tier, spark, scratch.result(), unit, out_dir, tier)
                    for tier in TIER_ORDER
                ]
            # leaving the pool waits for every branch
    finally:
        _delete_unit_scratch(spark, work)
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
        seq = spark.read.parquet(staged_path)

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
