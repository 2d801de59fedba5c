"""Resume/checkpoint semantics (SURVEY.md §5.2.6, FIXTURES.md §4):
an interrupted run + resume produces byte-identical tier tables to a
clean full run, and completed units are not recomputed."""

import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from tsclust_spark.plans.manifest import Manifest
from tsclust_spark.plans.rollup_job import run_rollup
from tsclust_spark.sources.datagen import read_sequences

N_UNITS = 8


@pytest.fixture(scope="module")
def seq(spark):
    # 200 docs is plenty to populate all 8 units
    return read_sequences(spark, "smoke").limit(200).cache()


def _read_tier(spark, out, tier):
    return spark.read.parquet(f"{out}/agg_{tier}").drop("unit", "bucket_date")


@pytest.mark.spark
def test_interrupted_then_resumed_equals_clean(spark, seq, tmp_path_factory):
    clean = str(tmp_path_factory.mktemp("clean"))
    resumed = str(tmp_path_factory.mktemp("resumed"))

    s_clean = run_rollup(spark, seq, clean, n_units=N_UNITS, write_raw=False)
    assert s_clean["units_processed"] == N_UNITS
    assert s_clean["points"] > 0

    # simulate a kill after 3 units, then resume
    s1 = run_rollup(
        spark, seq, resumed, n_units=N_UNITS, max_units=3, write_raw=False
    )
    assert s1["units_processed"] == 3
    s2 = run_rollup(spark, seq, resumed, n_units=N_UNITS, write_raw=False)
    # resume processed ONLY the remaining units
    assert s2["units_processed"] == N_UNITS - 3

    for tier in ["1m", "1h", "1d"]:
        a = _read_tier(spark, clean, tier)
        b = _read_tier(spark, resumed, tier)
        assert a.count() == b.count(), tier
        assert a.exceptAll(b).count() == 0, tier
        assert b.exceptAll(a).count() == 0, tier

    # a further rerun is a no-op (all units complete)
    s3 = run_rollup(spark, seq, resumed, n_units=N_UNITS, write_raw=False)
    assert s3["units_processed"] == 0


@pytest.mark.spark
def test_manifest_metrics_recorded(spark, seq, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("metrics"))
    run_rollup(spark, seq, out, n_units=4, write_raw=False)
    m = Manifest(spark, f"{out}/_manifest").metrics().collect()
    assert len(m) == 4
    for r in m:
        assert r.status == "done"
        assert r.points_per_sec > 0 or r.points == 0
        assert '"n_units": 4' in r.lineage


@pytest.mark.spark
def test_raw_tier_blocks_written(spark, seq, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("raw"))
    run_rollup(spark, seq.limit(50), out, n_units=2, write_raw=True)
    raw = spark.read.parquet(f"{out}/raw")
    assert raw.count() == 50
    assert set(["doc_id", "n", "t0", "dod", "xor"]).issubset(set(raw.columns))
    # compressed payloads beat raw 8B/value overall on the token walk
    tot = raw.agg(
        F.sum(F.length("xor")).alias("xb"), F.sum("n").alias("n")
    ).collect()[0]
    assert tot.xb < tot.n * 8


@pytest.mark.spark
def test_tier_parity_vs_direct_rollup(spark, seq, tmp_path_factory):
    """The unit-sliced, merged output equals a direct whole-table rollup."""
    from tsclust_spark.operators.explode import explode_to_points
    from tsclust_spark.plans.rollup_job import build_tiers_with_rep

    out = str(tmp_path_factory.mktemp("parity"))
    run_rollup(spark, seq, out, n_units=N_UNITS, write_raw=False)
    points = explode_to_points(seq, keep_source=False)
    direct = build_tiers_with_rep(points)
    for tier in ["1m", "1h", "1d"]:
        got = _read_tier(spark, out, tier)
        want = direct[tier]
        cols = sorted(want.columns)
        got, want = got.select(*cols), want.select(*cols)
        assert got.exceptAll(want).count() == 0, tier
        assert want.exceptAll(got).count() == 0, tier


@pytest.mark.spark
def test_manifest_latest_record_wins(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("lww"))
    m = Manifest(spark, f"{out}/_manifest")
    m.record("7", "failed")
    assert m.pending_units(["7", "8"]) == ["7", "8"]
    m.record("7", "done", rows=1, points=10, wall_ms=5.0)
    assert m.pending_units(["7", "8"]) == ["8"]


@pytest.mark.spark
def test_failed_unit_recorded_and_retried(spark, seq, tmp_path_factory, monkeypatch):
    import tsclust_spark.plans.rollup_job as rj

    out = str(tmp_path_factory.mktemp("fail"))
    calls = {"n": 0}
    real = rj.run_unit

    def flaky(spark_, s, unit, n_units, out_dir, write_raw):
        calls["n"] += 1
        if calls["n"] == 2:  # second unit blows up once
            raise RuntimeError("injected")
        return real(spark_, s, unit, n_units, out_dir, write_raw)

    monkeypatch.setattr(rj, "run_unit", flaky)
    with pytest.raises(RuntimeError):
        rj.run_rollup(spark, seq, out, n_units=4, write_raw=False)
    recs = {
        r.unit_id: r
        for r in Manifest(spark, f"{out}/_manifest").metrics().collect()
    }
    assert recs["0"].status == "done" and recs["1"].status == "failed"
    # the failed record carries the cause; the done record has none
    assert json.loads(recs["1"].lineage)["error"] == "RuntimeError: injected"
    assert "error" not in json.loads(recs["0"].lineage)
    # retry completes only the remaining units (incl. the failed one)
    s2 = rj.run_rollup(spark, seq, out, n_units=4, write_raw=False)
    assert s2["units_processed"] == 3


@pytest.mark.spark
def test_staged_units_prune_input_scan(spark, seq, tmp_path_factory):
    """run_rollup stages the input once, unit-partitioned; each unit's
    scan then carries a PartitionFilter on unit= (pruned, not a full
    rescan of the input per unit)."""
    import os

    from pyspark.sql import functions as F

    out = str(tmp_path_factory.mktemp("staged"))
    run_rollup(spark, seq, out, n_units=4, write_raw=False)
    assert os.path.exists(f"{out}/_staged_n4/_SUCCESS")

    staged = spark.read.parquet(f"{out}/_staged_n4")
    assert staged.count() == seq.count()
    plan = (
        staged.filter(F.col("unit") == 1)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan and "unit" in plan


@pytest.mark.spark
def test_stage_false_keeps_predicate_path(spark, seq, tmp_path_factory):
    import os

    out = str(tmp_path_factory.mktemp("nostage"))
    run_rollup(spark, seq, out, n_units=2, write_raw=False, stage=False)
    assert not os.path.exists(f"{out}/_staged_n2")
    assert spark.read.parquet(f"{out}/agg_1d").count() > 0


@pytest.mark.spark
def test_resume_restages_when_input_changes(spark, seq, tmp_path_factory):
    """A resume pointed at a DIFFERENT input than the one staged must
    restage (input fingerprint mismatch), not silently process the
    stale snapshot."""
    base = str(tmp_path_factory.mktemp("fpr"))
    in_a, in_b, out = f"{base}/in_a", f"{base}/in_b", f"{base}/out"

    seq.limit(40).write.parquet(in_a)
    # in_b: same docs plus one distinctive extra
    extra = spark.createDataFrame(
        [("zz-new-doc", [1, 2, 3], 3, "web")],
        "doc_id string, tokens array<int>, n_tok int, source string",
    )
    spark.read.parquet(in_a).unionByName(extra).write.parquet(in_b)

    run_rollup(spark, spark.read.parquet(in_a), out, n_units=N_UNITS,
               max_units=3, write_raw=False)
    staged = f"{out}/_staged_n{N_UNITS}"
    assert spark.read.parquet(staged).filter(
        F.col("doc_id") == "zz-new-doc"
    ).count() == 0

    # resume against in_b: fingerprint mismatch -> restaged from in_b
    run_rollup(spark, spark.read.parquet(in_b), out, n_units=N_UNITS,
               write_raw=False)
    assert spark.read.parquet(staged).filter(
        F.col("doc_id") == "zz-new-doc"
    ).count() == 1

    # and an unchanged-input resume reuses the snapshot (fingerprint file
    # still present and matching)
    from tsclust_spark.hadoopfs import read_text
    from tsclust_spark.plans.rollup_job import _input_fingerprint

    rec = read_text(spark, f"{staged}/_INPUT_FPR")
    assert rec == _input_fingerprint(spark.read.parquet(in_b))
    assert rec is not None and rec.startswith("files:")


def _old_spark_append(spark, path, unit_id, status, updated_at):
    """A record appended by a Spark write job, the format of manifests
    written before records were appended from the driver."""
    from tsclust_spark.plans.manifest import MANIFEST_SCHEMA

    rec = [(unit_id, status, 0, 0, 0.0, 0.0, "{}", updated_at)]
    spark.createDataFrame(rec, MANIFEST_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(path)


@pytest.mark.spark
def test_manifest_record_starts_no_spark_job(spark, tmp_path_factory):
    m = Manifest(spark, f"{tmp_path_factory.mktemp('nojob')}/_manifest")
    sc = spark.sparkContext
    group = "manifest-record-no-job"
    sc.setJobGroup(group, "Manifest.record probe")
    try:
        before = list(sc.statusTracker().getJobIdsForGroup(group))
        m.record("1", "done", rows=1, points=60, wall_ms=2.0)
        after = list(sc.statusTracker().getJobIdsForGroup(group))
        # the probe does see jobs run under the group
        spark.range(3).count()
        control = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert after == before
    assert len(control) > len(after)
    (r,) = m.read().collect()
    assert (r.unit_id, r.status, r.rows, r.points) == ("1", "done", 1, 60)
    assert r.wall_ms == 2.0 and r.points_per_sec == 30000.0


@pytest.mark.spark
def test_manifest_read_ignores_hidden_temp_files(spark, tmp_path_factory):
    path = f"{tmp_path_factory.mktemp('hidden')}/_manifest"
    m = Manifest(spark, path)
    m.record("1", "done", rows=1, points=1, wall_ms=1.0)
    # what a crashed append leaves behind: a hidden, partial temp file
    with open(os.path.join(path, "_part-deadbeef.parquet.tmp"), "wb") as f:
        f.write(b"PAR1 truncated")
    with open(os.path.join(path, ".part-deadbeef.parquet.tmp"), "wb") as f:
        f.write(b"PAR1 truncated")
    assert [r.unit_id for r in m.read().collect()] == ["1"]
    assert m.pending_units(["1", "2"]) == ["2"]


@pytest.mark.spark
def test_manifest_mixed_spark_and_driver_records(spark, tmp_path_factory):
    """Resuming from a manifest written by the Spark-job appender: old
    and driver-written records resolve latest-record-wins together."""
    import time

    path = f"{tmp_path_factory.mktemp('mixed')}/_manifest"
    t = time.time() - 60.0
    _old_spark_append(spark, path, "3", "done", t)
    _old_spark_append(spark, path, "4", "failed", t)
    _old_spark_append(spark, path, "5", "done", t)
    m = Manifest(spark, path)
    m.record("3", "failed")  # newer than the old done: 3 is pending again
    m.record("4", "done", rows=1, points=1, wall_ms=1.0)
    assert m.read().count() == 5
    assert m.pending_units(["3", "4", "5", "6"]) == ["3", "6"]


def _staging_dirs(out):
    """Hidden staging directories left under ``out`` or any target."""
    return glob.glob(f"{out}/_staging-*") + glob.glob(f"{out}/*/_staging-*")


def _spy_commits(monkeypatch, fail_target=None, before=None):
    """Record each tier commit's target; call ``before(target)`` first,
    and raise inside the commit whose target ends with ``fail_target``."""
    import tsclust_spark.plans.rollup_job as rj

    seen = []
    real = rj.commit_staged

    def spy(spark_, target, *args, **kwargs):
        name = os.path.basename(target)
        seen.append(name)
        if before is not None:
            before(name)
        if fail_target and name == fail_target:
            raise RuntimeError(f"injected in {fail_target}")
        return real(spark_, target, *args, **kwargs)

    monkeypatch.setattr(rj, "commit_staged", spy)
    return seen


@pytest.mark.spark
def test_unit_1m_kernel_evaluated_once(spark, seq, tmp_path_factory, monkeypatch):
    """Each unit's tiers come from ONE staging write whose plan runs the
    Arrow kernel once and aggregates nothing (no cascade shuffle); all
    three tiers are committed from it and no staging is left."""
    import tsclust_spark.plans.rollup_job as rj

    out = str(tmp_path_factory.mktemp("once"))
    plans = []
    real = rj.staged_write

    def spy(spark_, base, updates, *args, **kwargs):
        plans.append(updates._jdf.queryExecution().optimizedPlan().toString())
        return real(spark_, base, updates, *args, **kwargs)

    monkeypatch.setattr(rj, "staged_write", spy)
    commits = _spy_commits(monkeypatch)
    run_rollup(spark, seq, out, n_units=2, write_raw=True)
    assert len(plans) == 2
    for plan in plans:
        assert plan.count("MapInArrow") == 1, plan
        assert "Aggregate" not in plan, plan
    assert sorted(commits) == sorted(["agg_1m", "agg_1h", "agg_1d"] * 2)
    assert _staging_dirs(out) == []
    assert not os.path.exists(f"{out}/_work")


@pytest.mark.spark
def test_unit_scratch_removed_when_upsert_fails(
    spark, seq, tmp_path_factory, monkeypatch
):
    out = str(tmp_path_factory.mktemp("scratchfail"))
    _spy_commits(monkeypatch, fail_target="agg_1h")
    with pytest.raises(RuntimeError, match="injected in agg_1h"):
        run_rollup(spark, seq, out, n_units=2, write_raw=False)
    assert _staging_dirs(out) == []
    (r,) = Manifest(spark, f"{out}/_manifest").read().collect()
    assert r.status == "failed"
    assert json.loads(r.lineage)["error"] == "RuntimeError: injected in agg_1h"


@pytest.mark.spark
def test_unit_sinks_overlap(spark, seq, tmp_path_factory, monkeypatch):
    """A unit's raw upsert is still running when its tiers branch
    commits agg_1m: the sinks run as overlapping branches, not in
    sequence."""
    import threading

    import tsclust_spark.plans.rollup_job as rj

    out = str(tmp_path_factory.mktemp("overlap"))
    tiers_committing = threading.Event()
    raw_saw_tiers = []
    real = rj.upsert_partitioned

    def spy(spark_, target, updates, *args, **kwargs):
        if os.path.basename(target) == "raw":
            raw_saw_tiers.append(tiers_committing.wait(20))
        return real(spark_, target, updates, *args, **kwargs)

    monkeypatch.setattr(rj, "upsert_partitioned", spy)
    _spy_commits(monkeypatch, before=lambda name: tiers_committing.set())
    run_rollup(spark, seq, out, n_units=1, write_raw=True)
    assert raw_saw_tiers == [True]
    assert spark.read.parquet(f"{out}/raw").count() == seq.count()


@pytest.mark.spark
def test_unit_branches_keep_caller_job_group(spark, seq, tmp_path_factory):
    """Every Spark job of the run, in both branches, carries the
    caller's job group and description."""
    import time

    out = str(tmp_path_factory.mktemp("jobgroup"))
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()

    def jobs():
        jl = store.jobsList(None)
        return [jl.apply(i) for i in range(jl.size())]

    known = {j.jobId() for j in jobs()}
    sc.setJobGroup("rollup-branches", "rollup branch probe")
    try:
        run_rollup(spark, seq, out, n_units=2, write_raw=True)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    for _ in range(50):  # the listener bus is asynchronous
        mine = [j for j in jobs() if j.jobId() not in known]
        if mine and all(j.completionTime().isDefined() for j in mine):
            break
        time.sleep(0.1)
    # both branches ran jobs: the raw and the tiers staging writes
    assert len(mine) >= 2 * 2
    for j in mine:
        group = j.jobGroup().get() if j.jobGroup().isDefined() else None
        desc = j.description().get() if j.description().isDefined() else None
        assert (group, desc) == ("rollup-branches", "rollup branch probe"), j.name()


@pytest.mark.spark
def test_unit_failure_waits_for_every_branch(
    spark, seq, tmp_path_factory, monkeypatch
):
    """The raw upsert fails while the slowed tiers branch runs: the unit
    waits for the tiers branch to return before it raises the raw
    error, and the failed unit is recorded once."""
    import threading
    import time

    import tsclust_spark.plans.rollup_job as rj

    out = str(tmp_path_factory.mktemp("branchfail"))
    lock = threading.Lock()
    events = []
    tiers_started = threading.Event()
    real_upsert, real_tiers, real_unit = rj.upsert_partitioned, rj._commit_tiers, rj.run_unit

    def log(*event):
        with lock:
            events.append(event)

    def upsert(spark_, target, updates, *args, **kwargs):
        if os.path.basename(target) == "raw":
            tiers_started.wait(20)
            raise RuntimeError("injected in raw")
        return real_upsert(spark_, target, updates, *args, **kwargs)

    def tiers(*args):
        log("start", "tiers")
        tiers_started.set()
        try:
            time.sleep(1.0)
            return real_tiers(*args)
        finally:
            log("end", "tiers")

    def unit(*args, **kwargs):
        try:
            return real_unit(*args, **kwargs)
        except Exception:
            log("raise", "unit")
            raise

    monkeypatch.setattr(rj, "upsert_partitioned", upsert)
    monkeypatch.setattr(rj, "_commit_tiers", tiers)
    monkeypatch.setattr(rj, "run_unit", unit)
    with pytest.raises(RuntimeError, match="injected in raw"):
        run_rollup(spark, seq, out, n_units=2, write_raw=True)

    assert events == [("start", "tiers"), ("end", "tiers"), ("raise", "unit")]
    assert _staging_dirs(out) == []
    (r,) = Manifest(spark, f"{out}/_manifest").read().collect()
    assert r.status == "failed"
    assert json.loads(r.lineage)["error"] == "RuntimeError: injected in raw"


@pytest.mark.spark
def test_rollup_job_budget(spark, seq, tmp_path):
    """A 2-unit ``run_rollup`` with raw over a file-backed input starts
    at most 13 Spark jobs: the input staging write, then 6 per unit
    (its count, the raw and the tiers staging writes), with no
    schema-inference read and no cascade."""
    from tests.test_merge import jobs_in_group

    src = str(tmp_path / "in")
    seq.write.parquet(src)
    inp = spark.read.parquet(src)
    names = jobs_in_group(spark, "rollup-job-budget", lambda: run_rollup(
        spark, inp, str(tmp_path / "out"), n_units=2, resume=False,
    ))
    assert 0 < len(names) <= 13, names
