"""Barycenter downsampling (C27) + k-medoids clustering (C28) tests."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from tsclust_spark.kernels.barycenter import dba, medoid_index
from tsclust_spark.operators.cluster import _dtw_dist_matrix, kmedoids_assign


def test_dba_identical_series_is_the_series():
    s = np.array([1.0, 2.0, 5.0, 3.0])
    out = dba([s, s.copy(), s.copy()])
    np.testing.assert_allclose(out, s)


def test_dba_single_and_empty():
    s = np.array([4.0, 4.0])
    np.testing.assert_allclose(dba([s]), s)
    assert dba([]).size == 0
    # empty members are dropped
    np.testing.assert_allclose(dba([np.array([]), s]), s)


def test_dba_two_constant_series():
    a = np.full(5, 0.0)
    b = np.full(5, 2.0)
    out = dba([a, b], n_iter=10)
    # barycenter of two flat lines is the flat mean line
    np.testing.assert_allclose(out, np.full(5, 1.0))


def test_medoid_index_picks_central():
    base = np.sin(np.linspace(0, 3, 30))
    series = [base + eps for eps in (-0.2, 0.0, 0.2)]
    assert medoid_index(series) == 1


def test_kmedoids_separated_clusters():
    rng = np.random.RandomState(0)
    lows = [rng.rand(20) * 0.1 for _ in range(5)]
    highs = [10 + rng.rand(20) * 0.1 for _ in range(5)]
    series = lows + highs
    dm = _dtw_dist_matrix(series, "symmetric2", band=2)
    labels, medoids = kmedoids_assign(dm, 2)
    assert len(set(labels[:5])) == 1
    assert len(set(labels[5:])) == 1
    assert labels[0] != labels[5]


@pytest.mark.parametrize(
    "batch_cells",
    [pytest.param(1 << 22, id="one_batch"), pytest.param(280, id="chunked")],
)
def test_dtw_dist_matrix_equals_scalar_kernel(monkeypatch, batch_cells):
    """The batched matrix equals the scalar banded kernel per pair, bit
    for bit, on a ragged block with empty series; a small cell budget
    splits the pairs over several kernel buckets."""
    from tsclust_spark.kernels import dtw_banded
    from tsclust_spark.kernels.dtw_banded import dtw_banded_distance

    monkeypatch.setattr(dtw_banded, "_BUCKET_CELLS", batch_cells)
    rng = np.random.default_rng(7)
    series = [rng.normal(size=n) for n in (0, 1, 3, 17, 0, 40, 8, 8, 25, 2)]
    dm = _dtw_dist_matrix(series, "symmetric2", band=3)
    for i in range(len(series)):
        assert dm[i, i] == 0.0
        for j in range(i + 1, len(series)):
            want = dtw_banded_distance(series[i], series[j], 3, "euclidean", "symmetric2")
            assert dm[i, j] == dm[j, i]
            assert dm[i, j] == want


def test_kmedoids_k_ge_n():
    dm = np.array([[0.0, 1.0], [1.0, 0.0]])
    labels, medoids = kmedoids_assign(dm, 5)
    assert sorted(labels.tolist()) == [0, 1]


@pytest.mark.spark
def test_window_representative_matches_sql_medoid(spark, sf_dir):
    from tsclust_spark.kernels.barycenter import window_representative

    points = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select(F.col("user_id").alias("doc_id"), "ts", "value")
    )
    rep = window_representative(points, "1h")
    # oracle: lower median via SQL expression on the same engine
    oracle = (
        points.groupBy("doc_id", F.date_trunc("hour", "ts").alias("bucket_ts"))
        .agg(F.expr(
            "element_at(sort_array(collect_list(value)),"
            " cast((size(collect_list(value)) + 1) / 2 as int))"
        ).alias("rep_oracle"))
    )
    joined = rep.join(oracle, ["doc_id", "bucket_ts"])
    assert joined.count() == rep.count() == oracle.count()
    assert joined.filter(F.col("rep_value") != F.col("rep_oracle")).count() == 0


@pytest.mark.spark
def test_cluster_sequences_spark(spark):
    from tsclust_spark.operators.cluster import cluster_sequences
    from tsclust_spark.sources.datagen import read_sequences

    seq = read_sequences(spark, "smoke").limit(60)
    out = cluster_sequences(
        seq, k=3, block_col="source", max_series_per_block=40
    )
    rows = out.collect()
    assert len(rows) > 0
    # every row has a valid cluster and its medoid is in the same block
    by_block = {}
    for r in rows:
        assert r.cluster_id >= 0
        by_block.setdefault(r.block, set()).add(r.cluster_id)
    # medoid rows have zero distance to themselves
    for r in rows:
        if r.doc_id == r.medoid_doc_id:
            assert r.dist_to_medoid == 0.0


@pytest.mark.spark
def test_cluster_sequences_no_silent_drop(spark):
    """A block larger than max_series_per_block is sub-sharded, not
    truncated: every input doc_id must appear in the output exactly once."""
    from tsclust_spark.operators.cluster import cluster_sequences
    from tsclust_spark.sources.datagen import read_sequences

    seq = read_sequences(spark, "smoke").limit(60)
    n_in = seq.count()
    # single block ("all") of 60 docs with a cap of 16 -> 4 shards
    out = cluster_sequences(seq, k=2, block_col=None, max_series_per_block=16)
    rows = out.collect()
    assert len(rows) == n_in
    assert len({r.doc_id for r in rows}) == n_in
    # cluster_id is globally unique per block: shard * k + local label,
    # so 4 shards x k=2 -> ids in [0, 8) spanning >1 shard's range
    for r in rows:
        assert 0 <= r.cluster_id < 8
    assert max(r.cluster_id for r in rows) >= 2
    # (block, cluster_id) keys a single medoid — the uniqueness that was
    # silently violated when every shard emitted labels 0..k-1
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault((r.block, r.cluster_id), set()).add(
            r.medoid_doc_id
        )
    assert all(len(m) == 1 for m in by_cluster.values())


@pytest.mark.spark
def test_dba_per_group_spark(spark):
    from tsclust_spark.kernels.barycenter import dba_per_group
    from tsclust_spark.sources.datagen import read_sequences

    seq = read_sequences(spark, "smoke").filter(F.col("n_tok") > 0).limit(12)
    seq = seq.withColumn("cluster_id", F.pmod(F.hash("doc_id"), F.lit(2)).cast("string"))
    out = dba_per_group(seq, group_col="cluster_id", n_iter=2, band=None,
                        max_series_per_group=6)
    rows = out.collect()
    assert 1 <= len(rows) <= 2
    for r in rows:
        assert r.n_series >= 1
        assert len(r.center) > 0
