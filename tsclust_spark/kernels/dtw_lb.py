"""LB_Keogh lower-bound pruning for pairwise DTW (UCR-suite style).

At 100 TB the cost of C13's self-join DTW is dominated by the O(n·band)
DP per candidate pair.  The classic fix (Keogh & Ratanamahatana 2005;
Rakthanmanon et al., "Searching and Mining Trillions of Time Series
Subsequences under Dynamic Time Warping", KDD 2012) is a cheap O(n)
lower bound per pair: build the band envelope of one series and sum the
out-of-envelope excursions of the other.  Because every admissible
warping path matches each ``a[i]`` to some ``b[j]`` inside the band with
step weight >= 1 (symmetric1/symmetric2), the unnormalized DTW cost is
>= LB_Keogh, so ``LB/normalizer > eps`` proves ``dtw > eps`` and the DP
can be skipped.  On clustered data the prune rate is typically 50-95%,
which is the difference between a feasible and an infeasible pairwise
stage at scale.

Spark shape: the bound is computed inside the SAME ``mapInPandas`` batch
as the DP (``dtw_pairs_pruned``) — map-only, no extra shuffle, no
envelope materialization pass.  Pair construction stays the caller's
plan exactly as in ``kernels.dtw.dtw_pairs``.

Reference parity note: the reference (tsclust) computes full pairwise
DTW with no pruning (tsclust/example.py:29-41 delegates to sklearn
pairwise_distances); this module is an engine-mandate scale extension,
not a ported behavior.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np

from tsclust_spark.compat.stepattern import PATTERNS, StepPattern
from tsclust_spark.kernels.dtw_banded import _band_bounds, check_radius


def keogh_envelope(b: np.ndarray, n: int, radius: int):
    """Lower/upper envelope of ``b`` over the band's admissible column
    range for each of the ``n`` rows of the other series.

    Vectorized via a fixed-width sliding window over a +/-inf padded
    copy: inside the band the admissible width is constant
    (|n-m| + 2*radius + 1) and the edge clipping is exactly what the
    padding absorbs.  O(n * width) with numpy throughput.
    """
    b = np.asarray(b, dtype=np.float64).ravel()
    m = b.size
    # per-row [lo_i, hi_i] of admissible b-columns: the band's
    # per-column row bounds with the series swapped
    lo, hi = _band_bounds(m, n, radius)
    width = int(np.max(hi - lo)) + 1 if n > 0 else 1
    # A fixed-width window covering [lo_i, hi_i] has width-(hi-lo+1)
    # extra cells; rows are only narrower than the interior width where
    # the band is CLIPPED, so anchoring left-clipped rows at
    # hi_i-width+1 (extras fall in the front padding) and everything
    # else at lo_i (extras fall past m-1, in the back padding) keeps
    # every extra cell on +/-inf padding — the window min/max is the
    # exact band envelope (asserted vs brute force in tests).
    start = np.where(lo == 0, hi - width + 1, lo)
    pad_front = int(max(0, -start.min())) if n > 0 else 0
    pad_back = width
    b_lo = np.concatenate(
        [np.full(pad_front, np.inf), b, np.full(pad_back, np.inf)]
    )
    b_hi = np.concatenate(
        [np.full(pad_front, -np.inf), b, np.full(pad_back, -np.inf)]
    )
    win_lo = np.lib.stride_tricks.sliding_window_view(b_lo, width)
    win_hi = np.lib.stride_tricks.sliding_window_view(b_hi, width)
    idx = start + pad_front
    L = win_lo[idx].min(axis=1)
    U = win_hi[idx].max(axis=1)
    return L, U


def lb_keogh(
    a: np.ndarray, L: np.ndarray, U: np.ndarray, metric: str = "euclidean"
) -> float:
    """Sum of out-of-envelope excursions of ``a`` — a lower bound on the
    unnormalized banded DTW cost for abs-diff ("euclidean"/cityblock 1-D
    local cost, matching ``dtw_banded._local_1d``) or squared-diff
    ("sqeuclidean") metrics."""
    a = np.asarray(a, dtype=np.float64).ravel()
    over = np.maximum(a - U, 0.0)
    under = np.maximum(L - a, 0.0)
    exc = over + under  # at most one of the two is nonzero per element
    if metric == "sqeuclidean":
        return float(np.sum(exc * exc))
    if metric in ("euclidean", "cityblock", "manhattan"):
        return float(np.sum(exc))
    raise ValueError(f"lb_keogh does not support metric {metric!r}")


def lb_keogh_pairs(
    a_arrs, b_arrs, radius: int, metric: str, pattern: StepPattern
) -> np.ndarray:
    """The normalized LB_Keogh bound of each pair ``(a, b)``: the
    envelope of ``b`` over ``a``'s rows, ``lb_keogh``, then the pattern's
    normalizer. 0.0 where either series is empty."""
    out = np.zeros(len(a_arrs))
    for r, (s1, s2) in enumerate(zip(a_arrs, b_arrs)):
        if s1.size == 0 or s2.size == 0:
            continue
        L, U = keogh_envelope(s2, s1.size, radius)
        out[r] = pattern.normalize(lb_keogh(s1, L, U, metric), s1.size, s2.size)
    return out


def dtw_pairs_pruned(
    pairs_df,
    eps: float,
    pattern_name: str = "symmetric2",
    metric: str = "euclidean",
    sakoe_chiba_radius: int = 1,
    keep_pruned: bool = False,
):
    """LB_Keogh-pruned banded DTW over candidate pairs.

    Input: ``(id_a string, id_b string, tokens_a array, tokens_b array)``.
    Output: ``(id_a, id_b, lb double, dist double, pruned boolean)`` —
    rows with ``pruned = true`` carry ``dist = NULL`` (the DP was never
    run; the bound proves ``dist > eps``).  With ``keep_pruned=False``
    pruned rows are dropped entirely, matching a ``dtw <= eps``
    candidate filter.

    The normalized bound is ``pattern.normalize(lb, n, m)`` — valid
    because every admissible path assigns weight >= 1 to a match of each
    ``a[i]`` (symmetric1/symmetric2), so unnormalized DTW >= LB and the
    shared normalizer preserves the inequality.
    """
    pattern = PATTERNS[pattern_name]
    if pattern_name not in ("symmetric1", "symmetric2"):
        raise ValueError(
            "LB_Keogh pruning requires a step pattern whose match weights "
            "are >= 1 (symmetric1/symmetric2)"
        )
    sakoe_chiba_radius = check_radius(sakoe_chiba_radius)

    def compute(batches: Iterator) -> Iterator:
        import pandas as pd

        from tsclust_spark.kernels.dtw_banded import dtw_banded_batch

        for pdf in batches:
            a_arrs = [np.asarray(t, dtype=np.float64).ravel() for t in pdf["tokens_a"]]
            b_arrs = [np.asarray(t, dtype=np.float64).ravel() for t in pdf["tokens_b"]]
            lbs = lb_keogh_pairs(a_arrs, b_arrs, sakoe_chiba_radius, metric, pattern)
            # an empty pair's bound is 0.0, but it is never pruned
            pruned = np.array(
                [a.size > 0 and b.size > 0 for a, b in zip(a_arrs, b_arrs)], dtype=bool
            ) & (lbs > eps)
            dists = np.full(len(pdf), np.nan)
            survivors = np.flatnonzero(~pruned)
            if survivors.size:
                # surviving DPs (and empty pairs, which take the empty
                # convention) run lockstep in one batched call
                dists[survivors] = dtw_banded_batch(
                    [a_arrs[r] for r in survivors],
                    [b_arrs[r] for r in survivors],
                    radius=sakoe_chiba_radius,
                    metric=metric,
                    step_pattern=pattern,
                )
            out = pd.DataFrame(
                {
                    "id_a": pdf["id_a"],
                    "id_b": pdf["id_b"],
                    "lb": lbs,
                    "dist": dists,
                    "pruned": pruned,
                }
            )
            if not keep_pruned:
                out = out[~out["pruned"]]
            yield out

    return pairs_df.mapInPandas(
        compute,
        schema="id_a string, id_b string, lb double, dist double, pruned boolean",
    )


def dtw_pruned_consistency(
    df,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    eps: float = 0.5,
    pattern_name: str = "symmetric2",
    sakoe_chiba_radius: int = 2,
    atol: float = 1e-9,
):
    """Driver hash-gate (dtw_selfcheck pattern): per pair of a bounded
    block, assert the two pruning invariants as booleans —

    - ``lb_valid``: LB_Keogh <= banded DTW + atol (the lower-bound
      property that makes pruning sound), and
    - ``prune_safe``: LB > eps really implies DTW > eps.

    Output ``(id_a, id_b, ok boolean)`` — all-true, so the DuckDB oracle
    is the constant-true pair table and any violated bound
    hash-mismatches.  Bound/distance VALUES are pytest-oracled against
    brute-force envelopes and the full DP (tests/test_dtw_lb.py).
    """
    from pyspark.sql import functions as F

    left = df.select(
        F.col(id_col).cast("string").alias("id_a"),
        F.col(tokens_col).alias("tokens_a"),
    )
    right = df.select(
        F.col(id_col).cast("string").alias("id_b"),
        F.col(tokens_col).alias("tokens_b"),
    )
    pairs = left.join(right, F.col("id_a") < F.col("id_b"))
    pattern = PATTERNS[pattern_name]
    sakoe_chiba_radius = check_radius(sakoe_chiba_radius)

    def compute(batches: Iterator) -> Iterator:
        import pandas as pd

        from tsclust_spark.kernels.dtw_banded import dtw_banded_batch

        for pdf in batches:
            k = len(pdf)
            oks = np.empty(k, dtype=bool)
            a_col = pdf["tokens_a"].to_numpy()
            b_col = pdf["tokens_b"].to_numpy()
            a_arrs = [np.asarray(a_col[r], dtype=np.float64).ravel() for r in range(k)]
            b_arrs = [np.asarray(b_col[r], dtype=np.float64).ravel() for r in range(k)]
            dist_all = dtw_banded_batch(
                a_arrs, b_arrs, sakoe_chiba_radius, "euclidean", pattern
            )
            lb_all = lb_keogh_pairs(
                a_arrs, b_arrs, sakoe_chiba_radius, "euclidean", pattern
            )
            for r in range(k):
                if a_arrs[r].size == 0 or b_arrs[r].size == 0:
                    oks[r] = True
                    continue
                lb, dist = lb_all[r], dist_all[r]
                lb_valid = lb <= dist + atol
                prune_safe = (lb <= eps) or (dist > eps)
                oks[r] = bool(lb_valid and prune_safe)
            yield pd.DataFrame(
                {"id_a": pdf["id_a"], "id_b": pdf["id_b"], "ok": oks}
            )

    return pairs.mapInPandas(
        compute, schema="id_a string, id_b string, ok boolean"
    )
