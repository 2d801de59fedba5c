"""The round-6 broadcast-hydrated pair plan must be row-identical to
the payload-join plan.

`dtw_distance_matrix(repartition=N)` now shuffles only id pairs and
reads token payloads from a Python broadcast of the bounded block
(`dtw_pairs(tokens_bcast=...)`); distances must match the payload-join
path bit-for-bit and the pair set must be exactly the id_a < id_b
upper triangle.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from tsclust_spark.kernels.dtw import dtw_distance_matrix, dtw_pairs


def _block(spark, n_docs=24, seed=3):
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n_docs):
        ln = int(rng.integers(5, 60))
        toks = [int(x) for x in rng.integers(0, 1000, size=ln)]
        rows.append((f"d{i:03d}", toks))
    # one empty-series doc: the broadcast path must keep the scalar
    # kernel's empty-vs-nonempty convention (inf)
    rows.append(("d_empty", []))
    return spark.createDataFrame(rows, "doc_id string, tokens array<int>")


def test_broadcast_path_matches_payload_join(spark):
    df = _block(spark)
    kw = dict(
        pattern_name="symmetric2",
        global_constraint="sakoe_chiba",
        sakoe_chiba_radius=4,
    )
    got = {
        (r["id_a"], r["id_b"]): r["dist"]
        for r in dtw_distance_matrix(df, repartition=6, **kw).collect()
    }
    left = df.select(
        F.col("doc_id").alias("id_a"), F.col("tokens").alias("tokens_a")
    )
    right = df.select(
        F.col("doc_id").alias("id_b"), F.col("tokens").alias("tokens_b")
    )
    pairs = left.join(right, F.col("id_a") < F.col("id_b")).select(
        "id_a", "id_b", "tokens_a", "tokens_b"
    )
    ref = {
        (r["id_a"], r["id_b"]): r["dist"] for r in dtw_pairs(pairs, **kw).collect()
    }
    assert set(got) == set(ref)
    n = df.count()
    assert len(got) == n * (n - 1) // 2
    for k, v in ref.items():
        g = got[k]
        assert (g == v) or (np.isinf(g) and np.isinf(v)), (k, g, v)
    # the empty doc pairs as inf against every non-empty doc
    inf_pairs = [k for k, v in got.items() if np.isinf(v)]
    assert len(inf_pairs) == n - 1


def test_broadcast_missing_id_names_the_id_and_cause(spark):
    """A pair id absent from the broadcast block raises a named error
    stating the id and the likely cause, not a bare KeyError."""
    df = _block(spark, n_docs=4)
    toks = {
        r["doc_id"]: np.asarray(r["tokens"], dtype=np.float64)
        for r in df.collect()
        if r["doc_id"] != "d001"
    }
    bcast = spark.sparkContext.broadcast(toks)
    pairs = spark.createDataFrame([("d000", "d001")], "id_a string, id_b string")
    try:
        with pytest.raises(Exception) as err:
            dtw_pairs(pairs, tokens_bcast=bcast).collect()
    finally:
        bcast.destroy()
    msg = str(err.value)
    assert "BroadcastIdMissing" in msg
    assert "'d001'" in msg
    assert "evaluated differently for the token snapshot" in msg


def test_broadcast_path_evaluates_input_once(spark):
    """The broadcast path scans its input once: the pair ids come from
    the collected block, not from a second scan and self-join. The pair
    multiset stays the self-join's: null ids dropped, duplicate ids
    kept, id_a < id_b."""
    rows = [("b", [1, 2, 3]), ("a", [4, 5]), ("c", [6]), ("a", [4, 5]),
            (None, [7, 8])]
    df = spark.createDataFrame(rows, "doc_id string, tokens array<int>")
    seen = spark.sparkContext.accumulator(0)

    def count_rows(batches):
        for pdf in batches:
            seen.add(len(pdf))
            yield pdf

    counted = df.mapInPandas(count_rows, df.schema)
    got = dtw_distance_matrix(counted, repartition=3).collect()
    assert seen.value == len(rows)
    assert sorted((r["id_a"], r["id_b"]) for r in got) == [
        ("a", "b"), ("a", "b"), ("a", "c"), ("a", "c"), ("b", "c"),
    ]
