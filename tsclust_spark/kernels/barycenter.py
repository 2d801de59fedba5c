"""Barycenter-style downsampling + DBA averaging (SURVEY.md C27, B9).

Two levels, per the north-star's "barycenter-style downsampling ...
pick representative points per rollup window" and the reference's
declared "average" capability (reference setup.py:37 keyword; nothing
implemented there — semantics are the published DBA algorithm, Petitjean
et al. 2011, "A global averaging method for dynamic time warping").

1. :func:`window_representative` — scalar representative per rollup
   window: the **lower medoid** (the window element minimizing total L1
   distance to the others == the lower median for scalars). Pure
   DataFrame ops — ``element_at(sort_array(collect_list(v)), (n+1)/2)``
   — SQL-expressible, so it is DuckDB-oracle-checkable and JVM-only.
   Windows are bounded (<=60 points at 1m from the 1s grid), so the
   collected list is tiny.

2. :func:`dba` — full DTW barycenter averaging of a *set of series*
   (numpy core) + :func:`dba_per_group` (``applyInPandas``): per-group
   average series, used for cluster centroids.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tsclust_spark.kernels.dtw import (
    _accumulate,
    _backtrack,
    build_mask,
    pairwise_cost,
)
from tsclust_spark.compat.stepattern import PATTERNS


def window_representative(
    points_df: DataFrame,
    tier: str = "1m",
    key_col: str = "doc_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Lower-medoid representative per (key, bucket): JVM-only, exact.

    The medoid (not mean) keeps the representative an *actual observed
    point* — the property barycenter downsampling needs so decompressed
    tiers stay in-vocabulary for token values.

    NULL contract: the representative is the lower median of the
    NON-NULL values; a bucket with no non-NULL values emits no row.
    The explicit filter matters twice — collect_list silently skips
    NULLs (so size() must count the same set the list holds), and an
    all-NULL bucket would otherwise hit element_at(_, 0), an ANSI
    error (caught by tools/fuzz_oracle.py).
    """
    from tsclust_spark.operators.rollup import TIER_TRUNC

    trunc = TIER_TRUNC[tier]
    return (
        points_df.filter(F.col(value_col).isNotNull())
        .groupBy(
            F.col(key_col),
            F.date_trunc(trunc, F.col(ts_col)).alias("bucket_ts"),
        )
        .agg(
            F.sort_array(F.collect_list(value_col)).alias("_sorted"),
        )
        .select(
            key_col,
            "bucket_ts",
            F.element_at(
                "_sorted",
                ((F.size("_sorted") + 1) / 2).cast("int"),
            ).alias("rep_value"),
        )
    )


# ---------------------------------------------------------------------------
# DBA (numpy core)
# ---------------------------------------------------------------------------

def _dtw_dp(s1: np.ndarray, s2: np.ndarray, pattern, band: int | None):
    """Cumulative-cost matrix of the sqeuclidean DTW, plus the local
    cost (out-of-band cells at 1e300) and steps that backtracking needs."""
    cost = pairwise_cost(s1, s2, "sqeuclidean")
    mask = (
        build_mask(cost.shape[0], cost.shape[1], "sakoe_chiba", band, None)
        if band is not None
        else None
    )
    steps = pattern.to_numpy()
    D = _accumulate(cost, steps, mask)
    local = np.where(mask, cost, 1e300) if mask is not None else cost
    return D, local, steps


def _dtw_path(s1: np.ndarray, s2: np.ndarray, pattern, band: int | None):
    return _backtrack(*_dtw_dp(s1, s2, pattern, band))


def medoid_index(series: list[np.ndarray], pattern_name: str = "symmetric1",
                 band: int | None = None) -> int:
    """Index of the series minimizing total DTW cost to all others."""
    pattern = PATTERNS[pattern_name]
    n = len(series)
    totals = np.zeros(n)
    for i in range(n):
        for j in range(i + 1, n):
            d = float(_dtw_dp(series[i], series[j], pattern, band)[0][-1, -1])
            totals[i] += d
            totals[j] += d
    return int(np.argmin(totals))


def dba(
    series: list[np.ndarray],
    n_iter: int = 5,
    pattern_name: str = "symmetric1",
    band: int | None = None,
) -> np.ndarray:
    """DTW Barycenter Averaging (Petitjean 2011), 1-D series.

    Init = medoid; each iteration aligns every series to the center and
    replaces each center point with the mean of all values warped onto
    it. Deterministic (no randomness, fixed iteration count).
    """
    series = [np.asarray(s, dtype=np.float64).ravel() for s in series if len(s)]
    if not series:
        return np.empty(0)
    if len(series) == 1:
        return series[0].copy()
    pattern = PATTERNS[pattern_name]
    center = series[medoid_index(series, pattern_name, band)].copy()
    for _ in range(n_iter):
        sums = np.zeros_like(center)
        counts = np.zeros_like(center)
        for s in series:
            path = _dtw_path(center, s, pattern, band)
            for i, j in path:
                sums[i] += s[j]
                counts[i] += 1
        new_center = sums / np.maximum(counts, 1)
        if np.allclose(new_center, center, rtol=1e-12, atol=1e-12):
            center = new_center
            break
        center = new_center
    return center


DBA_SCHEMA = "group_id string, center array<double>, n_series int"


def dba_per_group(
    df: DataFrame,
    group_col: str = "cluster_id",
    tokens_col: str = "tokens",
    n_iter: int = 5,
    pattern_name: str = "symmetric1",
    band: int | None = None,
    max_series_per_group: int = 256,
) -> DataFrame:
    """Per-group DBA centroid via ``applyInPandas``.

    One shuffle on the group key; each group's averaging runs in a
    Python worker on Arrow batches. ``max_series_per_group`` caps the
    O(n^2) medoid init — groups larger than the cap use the first N
    series by doc_id order (deterministic).
    """

    def compute(pdf):
        import pandas as pd

        pdf = pdf.sort_values("doc_id").head(max_series_per_group)
        series = [np.asarray(t, dtype=np.float64) for t in pdf[tokens_col]]
        center = dba(series, n_iter, pattern_name, band)
        return pd.DataFrame(
            {
                "group_id": [str(pdf[group_col].iloc[0])],
                "center": [center.tolist()],
                "n_series": [len(series)],
            }
        )

    return df.groupBy(group_col).applyInPandas(compute, schema=DBA_SCHEMA)
