"""DTW k-medoids clustering (SURVEY.md C28, B9 "Streaming Time-series
Clustering" — reference setup.py:10; no algorithm exists in the
reference, so the semantics are standard PAM-style k-medoids over the
banded-DTW distance matrix).

Scale design: clustering is quadratic in the number of series, so it
NEVER runs globally. Series are grouped into candidate blocks (by
``source``, an LSH bucket, or any caller-provided key); each block's
distance matrix + medoid sweep runs inside one ``applyInPandas`` group
(a few hundred series max), embarrassingly parallel across blocks. The
output assignment table is linear-size.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tsclust_spark.compat.stepattern import PATTERNS
from tsclust_spark.kernels.dtw import _accumulate, build_mask, pairwise_cost
from tsclust_spark.kernels.dtw_banded import dtw_banded_batch


def _dtw_dist_matrix(series: list[np.ndarray], pattern_name: str, band: int | None):
    pattern = PATTERNS[pattern_name]
    n = len(series)
    iu, ju = np.triu_indices(n, k=1)
    if band is not None and all(s.ndim == 1 for s in series):
        # O(n*band) lockstep kernel, bit-identical to dtw_banded_distance
        # per pair (empty series included); it bounds its own memory
        d = dtw_banded_batch(
            [series[i] for i in iu],
            [series[j] for j in ju],
            band,
            "euclidean",
            pattern,
        )
    else:
        d = np.empty(iu.size)
        steps = pattern.to_numpy()
        for p, (i, j) in enumerate(zip(iu, ju)):
            a, b = series[i], series[j]
            if a.size == 0 or b.size == 0:
                d[p] = 0.0 if a.size == b.size else np.inf
                continue
            cost = pairwise_cost(a, b, "euclidean")
            mask = (
                build_mask(cost.shape[0], cost.shape[1], "sakoe_chiba", band, None)
                if band is not None
                else None
            )
            term = _accumulate(cost, steps, mask)[-1, -1]
            d[p] = (
                np.inf
                if term >= 1e150
                else pattern.normalize(float(term), cost.shape[0], cost.shape[1])
            )
    dm = np.zeros((n, n))
    dm[iu, ju] = d
    dm[ju, iu] = d
    return dm


def kmedoids_assign(dm: np.ndarray, k: int, max_iter: int = 20) -> tuple[np.ndarray, np.ndarray]:
    """Deterministic PAM-lite over a dense distance matrix.

    Init: greedy max-min (first medoid = row with min total distance,
    then repeatedly the point farthest from its nearest medoid). Swap
    phase: each iteration re-picks each cluster's cost-minimizing medoid.
    Returns (labels, medoid_indices).
    """
    n = dm.shape[0]
    k = min(k, n)
    finite = np.where(np.isfinite(dm), dm, np.nanmax(np.where(np.isfinite(dm), dm, 0)) * 2 + 1)
    medoids = [int(np.argmin(finite.sum(axis=1)))]
    while len(medoids) < k:
        near = finite[:, medoids].min(axis=1)
        near[medoids] = -1
        medoids.append(int(np.argmax(near)))
    medoids = np.array(sorted(medoids))
    for _ in range(max_iter):
        labels = np.argmin(finite[:, medoids], axis=1)
        new_medoids = medoids.copy()
        for c in range(len(medoids)):
            members = np.flatnonzero(labels == c)
            if members.size == 0:
                continue
            sub = finite[np.ix_(members, members)]
            new_medoids[c] = int(members[np.argmin(sub.sum(axis=1))])
        new_medoids = np.array(sorted(new_medoids))
        if np.array_equal(new_medoids, medoids):
            break
        medoids = new_medoids
    labels = np.argmin(finite[:, medoids], axis=1)
    return labels, medoids


CLUSTER_SCHEMA = (
    "doc_id string, block string, cluster_id int, medoid_doc_id string, "
    "dist_to_medoid double"
)


def cluster_sequences(
    seq_df: DataFrame,
    k: int = 4,
    block_col: str | None = "source",
    tokens_col: str = "tokens",
    pattern_name: str = "symmetric2",
    band: int | None = 1,
    max_series_per_block: int = 512,
) -> DataFrame:
    """Per-block banded-DTW k-medoids -> (doc_id, cluster_id, ...).

    Blocks larger than ``max_series_per_block`` are hash-sharded into
    ``ceil(block_size / max_series_per_block)`` sub-blocks so EVERY
    doc_id receives a label (no silent truncation): each shard runs its
    own k-medoids — an approximation of the whole-block clustering that
    keeps the per-group DTW matrix bounded at ~max_series_per_block²
    regardless of block skew. ``cluster_id`` is globally unique per
    block (``shard * k + local_label``), so (block, cluster_id) remains
    a valid cluster key even for sharded blocks — a sharded block simply
    exposes up to ``n_shards * k`` clusters. The shard count is derived
    from a per-block size table, so the plan stays shuffle-once.
    """

    def compute(pdf):
        import pandas as pd

        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        series = [np.asarray(t, dtype=np.float64) for t in pdf[tokens_col]]
        dm = _dtw_dist_matrix(series, pattern_name, band)
        labels, medoids = kmedoids_assign(dm, k)
        medoid_ids = pdf["doc_id"].to_numpy()[medoids]
        shard = int(pdf["_shard"].iloc[0])
        return pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "block": str(pdf["_block"].iloc[0]),
                "cluster_id": (shard * k + labels).astype(np.int32),
                "medoid_doc_id": medoid_ids[labels],
                "dist_to_medoid": dm[np.arange(len(series)), medoids[labels]],
            }
        )

    base = seq_df.withColumn(
        "_block", F.col(block_col) if block_col else F.lit("all")
    )
    # partial-aggregated count per block (map-side combine: no hot
    # partition even for a skewed block key). No broadcast hint: block
    # keys can be high-cardinality (LSH buckets), where forcing a
    # broadcast would blow the driver — AQE picks broadcast itself when
    # the size table is actually small.
    sizes = base.groupBy("_block").agg(F.count(F.lit(1)).alias("_block_n"))
    sharded = (
        base.join(sizes, "_block")
        .withColumn(
            "_n_shards",
            F.greatest(
                F.lit(1),
                F.ceil(F.col("_block_n") / F.lit(max_series_per_block)),
            ).cast("int"),
        )
        .withColumn("_shard", F.pmod(F.hash("doc_id"), F.col("_n_shards")))
    )
    return sharded.groupBy("_block", "_shard").applyInPandas(
        compute, schema=CLUSTER_SCHEMA
    )
