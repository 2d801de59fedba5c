"""Physical-plan quality gates: the plans we'd want at 100 TB, asserted.

These catch regressions where a refactor silently turns a broadcast
join into a sort-merge join or breaks filter pushdown into the scan.
"""

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.spark
def test_filter_pushdown_reaches_parquet_scan(spark):
    ev = spark.read.parquet(f"{SF}/events.parquet").filter(
        (F.col("user_id") <= 20) & (F.col("ts") < F.lit("2024-01-03"))
    )
    plan = _plan(ev)
    assert "PushedFilters:" in plan
    assert "LessThanOrEqual(user_id,20)" in plan


@pytest.mark.spark
def test_column_pruning_reads_only_needed_columns(spark):
    ev = spark.read.parquet(f"{SF}/events.parquet").select("user_id")
    plan = _plan(ev)
    # ReadSchema must not include the wide props/text columns
    assert "props" not in plan.split("ReadSchema")[-1][:200]


@pytest.mark.spark
def test_broadcast_join_in_revenue_query(spark):
    import __spark_entry__ as e

    plan = _plan(e.queries()["revenue_per_nation"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


@pytest.mark.spark
def test_salted_agg_is_two_stage(spark):
    import __spark_entry__ as e

    plan = _plan(e.queries()["salted_source_stats"](spark, SF))
    # partial+final for each of the two groupBys -> >= 4 HashAggregate
    assert plan.count("HashAggregate") >= 4


@pytest.mark.spark
def test_rollup_partial_aggregation_before_shuffle(spark):
    from tsclust_spark.operators.rollup import rollup_tier

    pts = spark.read.parquet(f"{SF}/events.parquet").select(
        F.col("user_id").alias("doc_id"), "ts", "value"
    )
    plan = _plan(rollup_tier(pts, "1m", integer_values=False))
    # map-side partial agg (keys=...partial stats) must appear before
    # the exchange: two HashAggregates, exactly one Exchange between
    assert plan.count("HashAggregate") >= 2
    assert plan.count("Exchange") == 1


@pytest.mark.spark
def test_iceberg_probe_and_merge_routing(spark, tmp_path_factory):
    """C1/C3: the Iceberg runtime probe decides the executed MERGE path;
    sandbox has no jar -> documented parquet fallback must run."""
    from tsclust_spark.plans.merge import iceberg_merge_sql, merge_into
    from tsclust_spark.session import iceberg_available

    avail = iceberg_available(spark)
    assert isinstance(avail, bool)

    sql = iceberg_merge_sql("cat.db.agg_1m", "updates", ["doc_id", "bucket_ts"])
    assert "MERGE INTO cat.db.agg_1m" in sql
    assert "t.doc_id = u.doc_id AND t.bucket_ts = u.bucket_ts" in sql

    out = str(tmp_path_factory.mktemp("mi"))
    df = spark.createDataFrame([("d1", 1, 5)], "doc_id string, unit int, v int")
    assert merge_into(
        spark, df, ["doc_id"], ["unit"], parquet_path=f"{out}/t"
    ) == "parquet"
    if not avail:
        # iceberg requested but no runtime -> parquet fallback executes
        assert merge_into(
            spark, df, ["doc_id"], ["unit"],
            parquet_path=f"{out}/t", iceberg_table="cat.db.t",
        ) == "parquet"
        with pytest.raises(ValueError):
            merge_into(spark, df, ["doc_id"], ["unit"])
    assert spark.read.parquet(f"{out}/t").count() == 1


@pytest.mark.spark
def test_read_sequences_format_knob(spark):
    from tsclust_spark.session import iceberg_available
    from tsclust_spark.sources.datagen import read_sequences

    with pytest.raises(ValueError):
        read_sequences(spark, "smoke", format="orc")
    if not iceberg_available(spark):
        with pytest.raises(RuntimeError):
            read_sequences(spark, "some.catalog.table", format="iceberg")
    assert read_sequences(spark, "smoke", format="parquet").count() == 1000


@pytest.mark.spark
def test_upsert_partitioned_update_insert_and_fastpath(spark, tmp_path_factory):
    """MERGE fallback semantics, both physical paths: overlapping
    partitions (read-back merge: matched keys updated, new keys
    inserted, sibling rows kept) and disjoint partitions (no-overlap
    fast path: untouched partitions never rewritten)."""
    from tsclust_spark.plans.merge import upsert_partitioned

    out = str(tmp_path_factory.mktemp("ups")) + "/t"
    schema = "k string, part int, v int"
    base = spark.createDataFrame(
        [("a", 1, 10), ("b", 1, 20), ("c", 2, 30)], schema
    )
    upsert_partitioned(spark, out, base, ["k"], ["part"])

    # overlap path: update a, insert d, keep b; partition 2 untouched
    upd = spark.createDataFrame([("a", 1, 99), ("d", 1, 40)], schema)
    upsert_partitioned(spark, out, upd, ["k"], ["part"])
    got = {r.k: (r.part, r.v) for r in spark.read.parquet(out).collect()}
    assert got == {"a": (1, 99), "b": (1, 20), "c": (2, 30), "d": (1, 40)}

    # disjoint fast path: a brand-new partition
    new = spark.createDataFrame([("e", 3, 50)], schema)
    upsert_partitioned(spark, out, new, ["k"], ["part"])
    got = {r.k: (r.part, r.v) for r in spark.read.parquet(out).collect()}
    assert got == {
        "a": (1, 99), "b": (1, 20), "c": (2, 30), "d": (1, 40), "e": (3, 50)
    }


@pytest.mark.spark
def test_upsert_hive_escaped_partition_values(spark, tmp_path_factory):
    """Partition values Hive-escapes in dir names (':' -> %3A) must
    still be detected as overlapping — a false 'disjoint' would skip the
    merge and dynamic overwrite would drop sibling rows."""
    from tsclust_spark.plans.merge import upsert_partitioned

    out = str(tmp_path_factory.mktemp("esc")) + "/t"
    schema = "k string, part string, v int"
    base = spark.createDataFrame([("k1", "a:b", 1), ("k2", "a:b", 2)], schema)
    upsert_partitioned(spark, out, base, ["k"], ["part"])
    upd = spark.createDataFrame([("k1", "a:b", 9)], schema)
    upsert_partitioned(spark, out, upd, ["k"], ["part"])
    got = {r.k: r.v for r in spark.read.parquet(out).collect()}
    assert got == {"k1": 9, "k2": 2}


@pytest.mark.spark
def test_raw_upsert_replaces_blob_that_moved_date(spark, tmp_path_factory):
    """Raw tier: bucket_date derives from the data (block END date), so a
    re-ingested doc whose block ends on a different date must REPLACE its
    old blob, not leave a stale duplicate in the old date partition."""
    from pyspark.sql import functions as F

    from tsclust_spark.plans.rollup_job import run_unit

    out = str(tmp_path_factory.mktemp("rawmv"))
    schema = "doc_id string, tokens array<int>, n_tok int, source string"
    long_toks = list(range(90_000))  # ends 2024-01-02 (> 86400 s)
    seq_a = spark.createDataFrame([("d1", long_toks, 90_000, "web")], schema)
    run_unit(spark, seq_a, 0, 1, out)
    seq_b = spark.createDataFrame([("d1", [5, 6, 7], 3, "web")], schema)
    run_unit(spark, seq_b, 0, 1, out)

    raw = spark.read.parquet(f"{out}/raw")
    rows = raw.filter(F.col("doc_id") == "d1").collect()
    assert len(rows) == 1, "stale blob left in the old bucket_date partition"
    assert rows[0].n == 3


@pytest.mark.spark
def test_upsert_null_and_boolean_partition_values(spark, tmp_path_factory):
    """Null and boolean partition values: the directory names Spark
    writes (__HIVE_DEFAULT_PARTITION__, 'true'/'false') must compare
    equal to the update frame's values — a str() comparison made a live
    null-partition land in the vacated set (deleted after the write,
    data loss) and let booleans falsely skip the overlap merge."""
    from tsclust_spark.plans.merge import upsert_partitioned

    out = str(tmp_path_factory.mktemp("nulls")) + "/t"
    schema = "k string, unit int, flag boolean, v int"
    base = spark.createDataFrame(
        [("a", 1, True, 10), ("b", 1, None, 20), ("c", 2, False, 30)], schema
    )
    upsert_partitioned(spark, out, base, ["k"], ["unit", "flag"])

    # overlap via a boolean partition: update a, keep b/c intact (note:
    # Spark's partition-type inference reads boolean dirs back as the
    # strings 'true'/'false' — expected, orthogonal to the merge)
    upd = spark.createDataFrame([("a", 1, True, 99)], schema)
    upsert_partitioned(spark, out, upd, ["k"], ["unit", "flag"])
    got = {r.k: (r.flag, r.v) for r in spark.read.parquet(out).collect()}
    assert got == {"a": ("true", 99), "b": (None, 20), "c": ("false", 30)}

    # overlap via a NULL partition value: update b in place
    upd2 = spark.createDataFrame([("b", 1, None, 77)], schema)
    upsert_partitioned(spark, out, upd2, ["k"], ["unit", "flag"])
    got = {r.k: (r.flag, r.v) for r in spark.read.parquet(out).collect()}
    assert got == {"a": ("true", 99), "b": (None, 77), "c": ("false", 30)}


@pytest.mark.spark
def test_upsert_vacated_partition_with_null_and_bool(spark, tmp_path_factory):
    """prune_cols prefix + a row moving OUT of a null/boolean partition:
    the vacated directory must be deleted, and ONLY that one — sibling
    live partitions with null/boolean values must survive the write."""
    from tsclust_spark.plans.merge import upsert_partitioned

    out = str(tmp_path_factory.mktemp("vac")) + "/t"
    schema = "k string, unit int, flag boolean, v int"
    base = spark.createDataFrame(
        [("a", 1, None, 10), ("b", 1, True, 20), ("c", 2, None, 30)], schema
    )
    upsert_partitioned(spark, out, base, ["k"], ["unit", "flag"],
                       prune_cols=["unit"])
    # 'a' moves from flag=null to flag=false within unit 1: the
    # (1, null) directory is vacated (deleted); (2, null) and (1, true)
    # must be untouched
    upd = spark.createDataFrame([("a", 1, False, 99)], schema)
    upsert_partitioned(spark, out, upd, ["k"], ["unit", "flag"],
                       prune_cols=["unit"])
    got = {r.k: (r.flag, r.v) for r in spark.read.parquet(out).collect()}
    assert got == {"a": ("false", 99), "b": ("true", 20), "c": (None, 30)}
