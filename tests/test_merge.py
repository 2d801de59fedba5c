"""The parquet sink's staging and swap commit: a failed rename leaves
every partition with its old rows, and an upsert starts no collect,
count or localCheckpoint job."""

from __future__ import annotations

import glob
import os

import pytest

from tsclust_spark import hadoopfs
from tsclust_spark.plans.merge import upsert_partitioned

SCHEMA = "k string, part int, v int"


def _table(spark, path):
    return sorted(tuple(r) for r in spark.read.parquet(path).select("k", "part", "v").collect())


def _partition(spark, path, part):
    return sorted(tuple(r) for r in spark.read.parquet(f"{path}/part={part}").collect())


def jobs_in_group(spark, group, fn):
    """Run ``fn`` under a job group; return its jobs' call sites, read
    from the status store once every listed job has completed."""
    import time

    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    store = sc._jsc.sc().statusStore()
    seen = None
    for _ in range(50):
        jobs = store.jobsList(None)
        mine = [jobs.apply(i) for i in range(jobs.size())]
        mine = [j for j in mine if j.jobGroup().isDefined() and j.jobGroup().get() == group]
        names = [j.name() for j in mine]
        if names == seen and all(j.completionTime().isDefined() for j in mine):
            return names
        seen = names
        time.sleep(0.1)
    return seen


@pytest.mark.spark
def test_failed_swap_keeps_old_rows_and_cleans_staging(spark, tmp_path, monkeypatch):
    out = str(tmp_path / "t")
    base = spark.createDataFrame(
        [("a", 1, 10), ("b", 1, 20), ("c", 2, 30), ("e", 3, 50)], SCHEMA
    )
    upsert_partitioned(spark, out, base, ["k"], ["part"])
    before = _table(spark, out)
    parts_before = {p: _partition(spark, out, p) for p in (1, 2, 3)}
    # touches partitions 1 and 2 and adds 4: the swap renames old 1
    # aside, new 1 in, old 2 aside, new 2 in, new 4 in
    upd = spark.createDataFrame([("a", 1, 99), ("c", 2, 77), ("f", 4, 60)], SCHEMA)
    real = hadoopfs.rename

    for fail_at in (1, 4):  # the swap's first rename, then a later one
        calls = []

        def flaky(fs, src, dst, fail_at=fail_at, calls=calls):
            calls.append((str(src), str(dst)))
            if len(calls) == fail_at:
                raise OSError(f"injected at rename {fail_at}")
            return real(fs, src, dst)

        monkeypatch.setattr(hadoopfs, "rename", flaky)
        with pytest.raises(OSError, match=f"injected at rename {fail_at}"):
            upsert_partitioned(spark, out, upd, ["k"], ["part"])
        monkeypatch.setattr(hadoopfs, "rename", real)
        assert len(calls) >= fail_at
        # every partition holds its old rows: not both, not neither
        for p, rows in parts_before.items():
            assert _partition(spark, out, p) == rows, (fail_at, p)
        assert not os.path.exists(f"{out}/part=4")
        assert _table(spark, out) == before
        assert glob.glob(f"{out}/_staging-*") == []

    upsert_partitioned(spark, out, upd, ["k"], ["part"])
    assert _table(spark, out) == [
        ("a", 1, 99), ("b", 1, 20), ("c", 2, 77), ("e", 3, 50), ("f", 4, 60)
    ]
    assert glob.glob(f"{out}/_staging-*") == []


@pytest.mark.spark
def test_upsert_starts_no_collect_count_or_checkpoint_job(spark, tmp_path):
    out = str(tmp_path / "t")
    schema = "k string, unit int, day string, v int"
    base = spark.createDataFrame(
        [("a", 1, "d1", 1), ("b", 1, "d2", 2), ("c", 2, "d1", 3)], schema
    )
    moved = spark.createDataFrame([("a", 1, "d3", 9), ("d", 3, "d1", 4)], schema)

    def run():
        # a fresh table, then a merge that vacates (1, d1) and adds
        # unit 3: both paths of the sink
        upsert_partitioned(spark, out, base, ["k"], ["unit", "day"])
        upsert_partitioned(spark, out, moved, ["k"], ["unit", "day"], prune_cols=["unit"])

    names = jobs_in_group(spark, "upsert-action-budget", run)
    assert names, "the probe saw no job"
    for name in names:
        assert not name.startswith(("collect at", "count at", "localCheckpoint at")), name
    got = sorted(tuple(r) for r in spark.read.parquet(out).select("k", "unit", "day", "v").collect())
    assert got == [("a", 1, "d3", 9), ("b", 1, "d2", 2), ("c", 2, "d1", 3), ("d", 3, "d1", 4)]
    assert not os.path.exists(f"{out}/unit=1/day=d1")
