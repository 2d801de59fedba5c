"""Banded DTW with step patterns — the reference's declared core numerics.

Semantics follow the reference's documented API (reference
tsclust/example.py:5-129: two possibly-multidimensional series, pluggable
metric, Sakoe-Chiba / Itakura global constraints with the documented
defaults and conflict rule, returns ``(path, similarity)``) and its
step-pattern DP encoding (reference tsclust/stepattern.py:124-125:
patterns enter the kernel as an ``(n_steps, 3)`` float array).

The DP core is vectorized numpy — one O(n) sweep per column with a
prefix-min scan resolving within-column (vertical-step) dependencies, so
a 4096x4096 alignment costs a few thousand small numpy ops rather than
16M Python iterations. No fastmath-style reassociation anywhere: results
are deterministic and bit-stable (the reference's never-used numba config
asked for ``fastmath`` — reference stepattern.py:24-31 — which we must
NOT do where bit-exact parity is asserted).

The Spark entry points (:func:`dtw_pairs`, :func:`dtw_distance_matrix`)
run this core inside ``mapInPandas`` — Arrow-batched, scale-out across
executors, no shuffle beyond the pair-building join.
"""

from __future__ import annotations

import warnings
from typing import Callable, Iterator

import numpy as np

from tsclust_spark.compat.stepattern import PATTERNS, StepPattern, symmetric1
from tsclust_spark.kernels.dtw_banded import check_radius

BIG = 1e300  # finite "unreachable" sentinel: avoids inf-inf -> nan in scans


# ---------------------------------------------------------------------------
# metrics (numpy cdist equivalents; scipy/sklearn not assumed present)
# ---------------------------------------------------------------------------

def _as_2d(s: np.ndarray) -> np.ndarray:
    s = np.asarray(s, dtype=np.float64)
    if s.ndim == 1:
        s = s[:, None]
    return s


def pairwise_cost(s1: np.ndarray, s2: np.ndarray, metric="euclidean", **kwds) -> np.ndarray:
    """Dense (sz1, sz2) local-cost matrix.

    Metric strings mirror the reference's documented set (reference
    example.py:15-19,29-41: sklearn ``pairwise_distances`` names);
    callables are applied pairwise; ``"precomputed"`` is handled by the
    caller (s1 *is* the matrix, reference example.py:23,33).
    """
    if callable(metric):
        a, b = _as_2d(s1), _as_2d(s2)
        out = np.empty((a.shape[0], b.shape[0]), dtype=np.float64)
        for i in range(a.shape[0]):
            for j in range(b.shape[0]):
                out[i, j] = metric(a[i], b[j])
        return out

    a, b = _as_2d(s1), _as_2d(s2)
    if a.shape[1] != b.shape[1]:
        raise ValueError(
            f"series dimensions differ: {a.shape[1]} vs {b.shape[1]}"
        )
    if metric in ("sqeuclidean", "euclidean"):
        # ||x-y||^2 via explicit differences (not the a2+b2-2ab identity,
        # which loses precision) — bit-stable for parity tests.
        diff = a[:, None, :] - b[None, :, :]
        sq = np.einsum("ijk,ijk->ij", diff, diff)
        return sq if metric == "sqeuclidean" else np.sqrt(sq)
    if metric in ("cityblock", "manhattan", "l1"):
        return np.abs(a[:, None, :] - b[None, :, :]).sum(axis=2)
    if metric == "l2":
        diff = a[:, None, :] - b[None, :, :]
        return np.sqrt(np.einsum("ijk,ijk->ij", diff, diff))
    if metric == "chebyshev":
        return np.abs(a[:, None, :] - b[None, :, :]).max(axis=2)
    if metric in ("hamming", "matching"):
        return (a[:, None, :] != b[None, :, :]).mean(axis=2)
    if metric == "cosine":
        na = np.linalg.norm(a, axis=1)
        nb = np.linalg.norm(b, axis=1)
        dot = a @ b.T
        denom = np.outer(na, nb)
        with np.errstate(invalid="ignore", divide="ignore"):
            sim = np.where(denom > 0, dot / denom, 0.0)
        return 1.0 - sim
    if metric == "minkowski":
        p = float(kwds.get("p", 2.0))
        diff = np.abs(a[:, None, :] - b[None, :, :])
        return np.power(np.power(diff, p).sum(axis=2), 1.0 / p)
    if metric == "canberra":
        diff = np.abs(a[:, None, :] - b[None, :, :])
        denom = np.abs(a)[:, None, :] + np.abs(b)[None, :, :]
        with np.errstate(invalid="ignore", divide="ignore"):
            terms = np.where(denom > 0, diff / denom, 0.0)
        return terms.sum(axis=2)
    if metric == "braycurtis":
        num = np.abs(a[:, None, :] - b[None, :, :]).sum(axis=2)
        den = np.abs(a[:, None, :] + b[None, :, :]).sum(axis=2)
        with np.errstate(invalid="ignore", divide="ignore"):
            # den == 0 only when both rows are all-zero, i.e. identical:
            # define distance 0 there (scipy yields nan, which would
            # poison the DTW DP)
            return np.where(den > 0, num / den, 0.0)
    if metric == "correlation":
        # 1 - Pearson r between centered rows. Degenerate (zero-variance)
        # rows are defined rather than nan (scipy's answer), which would
        # poison the DTW DP: two constant rows correlate perfectly ->
        # distance 0; constant vs non-constant is undefined -> distance 1.
        ac = a - a.mean(axis=1, keepdims=True)
        bc = b - b.mean(axis=1, keepdims=True)
        na = np.linalg.norm(ac, axis=1)
        nb = np.linalg.norm(bc, axis=1)
        denom = np.outer(na, nb)
        with np.errstate(invalid="ignore", divide="ignore"):
            sim = np.where(denom > 0, (ac @ bc.T) / denom, 0.0)
        dist = 1.0 - sim
        both_const = (na == 0)[:, None] & (nb == 0)[None, :]
        return np.where(both_const, 0.0, dist)
    if metric == "seuclidean":
        # standardized euclidean; V = per-dimension variances (sklearn
        # computes it from the stacked data when omitted — here it is
        # an explicit kwarg so the cost matrix is a pure function of
        # its inputs)
        V = np.asarray(kwds["V"], dtype=np.float64)
        diff = a[:, None, :] - b[None, :, :]
        return np.sqrt((diff * diff / V[None, None, :]).sum(axis=2))
    if metric == "mahalanobis":
        VI = np.asarray(kwds["VI"], dtype=np.float64)
        diff = a[:, None, :] - b[None, :, :]
        return np.sqrt(np.einsum("ijk,kl,ijl->ij", diff, VI, diff))
    if metric == "nan_euclidean":
        # sklearn semantics: squared distance over mutually present
        # dims, scaled by n_total / n_present; all-missing pairs -> nan
        pa = ~np.isnan(a)
        pb = ~np.isnan(b)
        a0 = np.where(pa, a, 0.0)
        b0 = np.where(pb, b, 0.0)
        present = pa[:, None, :] & pb[None, :, :]
        diff = np.where(present, a0[:, None, :] - b0[None, :, :], 0.0)
        sq = np.einsum("ijk,ijk->ij", diff, diff)
        n_present = present.sum(axis=2)
        n_total = a.shape[1]
        with np.errstate(invalid="ignore", divide="ignore"):
            return np.sqrt(
                np.where(n_present > 0, sq * n_total / n_present, np.nan)
            )
    if metric in (
        "jaccard",
        "dice",
        "rogerstanimoto",
        "russellrao",
        "sokalmichener",
        "sokalsneath",
        "yule",
        "kulsinski",
    ):
        # boolean-set metrics over the truth-table counts
        # (scipy.spatial.distance formulas; degenerate 0/0 cases are
        # defined as 0 rather than nan so they cannot poison a DP)
        at = (a != 0).astype(np.float64)
        bt = (b != 0).astype(np.float64)
        n = float(a.shape[1])
        ntt = at @ bt.T
        ntf = at @ (1.0 - bt).T
        nft = (1.0 - at) @ bt.T
        nff = n - ntt - ntf - nft
        R = ntf + nft
        with np.errstate(invalid="ignore", divide="ignore"):
            if metric == "jaccard":
                den = ntt + R
                return np.where(den > 0, R / den, 0.0)
            if metric == "dice":
                den = 2.0 * ntt + R
                return np.where(den > 0, R / den, 0.0)
            if metric == "rogerstanimoto":
                return 2.0 * R / (ntt + nff + 2.0 * R)
            if metric == "russellrao":
                return (n - ntt) / n
            if metric == "sokalmichener":
                return 2.0 * R / (ntt + nff + 2.0 * R)
            if metric == "sokalsneath":
                den = ntt + 2.0 * R
                return np.where(den > 0, 2.0 * R / den, 0.0)
            if metric == "yule":
                den = ntt * nff + ntf * nft
                half = ntf * nft
                return np.where(half > 0, 2.0 * half / den, 0.0)
            if metric == "kulsinski":
                return (R - ntt + n) / (R + n)
    raise ValueError(f"unsupported metric: {metric!r}")


# ---------------------------------------------------------------------------
# global-constraint masks
# ---------------------------------------------------------------------------

def sakoe_chiba_mask(sz1: int, sz2: int, radius: int = 1) -> np.ndarray:
    """Boolean admissibility mask for the Sakoe-Chiba band.

    Standard definition (Sakoe & Chiba 1978, cited by the reference at
    example.py:119-121): a band of half-width ``radius`` around the
    resampled diagonal, widened along the longer axis so the corner
    cells stay reachable.
    """
    i = np.arange(sz1)[:, None]
    j = np.arange(sz2)[None, :]
    if sz1 >= sz2:
        width = (sz1 - sz2) + radius
        # admissible iff j - radius <= i <= j + width
        return (i >= j - radius) & (i <= j + width)
    width = (sz2 - sz1) + radius
    return (j >= i - radius) & (j <= i + width)


def itakura_mask(sz1: int, sz2: int, max_slope: float = 2.0) -> np.ndarray:
    """Boolean admissibility mask for the Itakura parallelogram.

    Slope bounds ``[1/max_slope, max_slope]`` from both endpoints,
    rescaled by the aspect ratio (reference example.py:56-59: default
    max slope 2.0).
    """
    if max_slope < 1:
        raise ValueError("itakura max_slope must be >= 1")
    n, m = sz1, sz2
    if n == 1 or m == 1:
        return np.ones((n, m), dtype=bool)
    i = np.arange(n)[:, None].astype(np.float64)
    j = np.arange(m)[None, :].astype(np.float64)
    scale = (m - 1) / (n - 1)
    hi = max_slope * scale
    lo = scale / max_slope
    eps = 1e-9
    lower = np.maximum(lo * i, (m - 1) + hi * (i - (n - 1)))
    upper = np.minimum(hi * i, (m - 1) + lo * (i - (n - 1)))
    return (j >= lower - eps) & (j <= upper + eps)


def resolve_constraint(
    global_constraint: str | None,
    sakoe_chiba_radius: int | None,
    itakura_max_slope: float | None,
) -> tuple[str | None, int, float]:
    """The reference's documented conflict rule (example.py:43-64).

    - explicit ``global_constraint`` wins; missing parameter takes its
      documented default (radius 1 / max slope 2.0);
    - exactly one parameter set and no explicit constraint -> inferred;
    - both parameters set and no explicit constraint -> RuntimeWarning
      and NO constraint.

    When the Sakoe-Chiba band is in use, a radius that is not a
    non-negative integer raises ValueError.
    """
    if global_constraint is not None and global_constraint not in (
        "sakoe_chiba",
        "itakura",
    ):
        raise ValueError(f"unknown global_constraint: {global_constraint!r}")
    if global_constraint is None:
        if sakoe_chiba_radius is not None and itakura_max_slope is not None:
            warnings.warn(
                "both sakoe_chiba_radius and itakura_max_slope are set with "
                "no global_constraint; no global constraint will be used",
                RuntimeWarning,
            )
        elif sakoe_chiba_radius is not None:
            global_constraint = "sakoe_chiba"
        elif itakura_max_slope is not None:
            global_constraint = "itakura"
    radius = 1
    if global_constraint == "sakoe_chiba" and sakoe_chiba_radius is not None:
        radius = check_radius(sakoe_chiba_radius)
    slope = 2.0 if itakura_max_slope is None else float(itakura_max_slope)
    return global_constraint, radius, slope


def build_mask(
    sz1: int,
    sz2: int,
    global_constraint: str | None = None,
    sakoe_chiba_radius: int | None = None,
    itakura_max_slope: float | None = None,
) -> np.ndarray | None:
    gc, radius, slope = resolve_constraint(
        global_constraint, sakoe_chiba_radius, itakura_max_slope
    )
    if gc == "sakoe_chiba":
        return sakoe_chiba_mask(sz1, sz2, radius)
    if gc == "itakura":
        return itakura_mask(sz1, sz2, slope)
    return None


# ---------------------------------------------------------------------------
# DP core
# ---------------------------------------------------------------------------

def _accumulate(
    cost: np.ndarray, steps: np.ndarray, mask: np.ndarray | None
) -> np.ndarray:
    """Cumulative-cost matrix D for arbitrary step patterns.

    ``D[i, j] = min over steps (dx, dy, w) of D[i-dy, j-dx] + cost[i, j]*w``
    with ``D[0, 0] = cost[0, 0]`` (standard DTW seeding). Columns are
    processed left-to-right; candidates from earlier columns are plain
    shifted-array minima, and the single within-column (dx == 0) step is
    resolved with a prefix-min scan:

        D[i] = min(b[i], D[i-1] + w*c[i])
             = min_{k<=i}(b[k] - C[k]) + C[i],   C = cumsum(w*c)

    so the whole column is one ``np.minimum.accumulate``.
    """
    n, m = cost.shape
    local = cost.astype(np.float64, copy=True)
    if mask is not None:
        local = np.where(mask, local, BIG)

    steps = np.asarray(steps, dtype=np.float64)
    horiz = [(int(dx), int(dy), float(w)) for dx, dy, w in steps if dx > 0]
    vert = [(int(dx), int(dy), float(w)) for dx, dy, w in steps if dx == 0]
    if len(vert) > 1 or any(dy != 1 for _, dy, _ in vert):
        raise NotImplementedError(
            "only one vertical step of dy=1 supported by the scan kernel"
        )

    D = np.full((n, m), BIG, dtype=np.float64)
    for j in range(m):
        col = local[:, j]
        b = np.full(n, BIG, dtype=np.float64)
        if j == 0:
            b[0] = col[0]
        for dx, dy, w in horiz:
            if j - dx < 0:
                continue
            cand = np.full(n, BIG, dtype=np.float64)
            if dy:
                cand[dy:] = D[: n - dy, j - dx] + col[dy:] * w
            else:
                cand = D[:, j - dx] + col * w
            np.minimum(b, cand, out=b)
        if vert:
            (_, _, w) = vert[0]
            ok = col < BIG / 2
            if ok.all():
                C = np.cumsum(col * w)
                scan = np.minimum.accumulate(b - C) + C
                np.minimum(b, scan, out=b)
            elif ok.any():
                # masked cells break the vertical chain (their D is BIG,
                # so no carry crosses them) — scan each admissible run
                # separately to avoid catastrophic cancellation with BIG.
                idx = np.flatnonzero(np.diff(ok.astype(np.int8)))
                bounds = np.concatenate(([0], idx + 1, [n]))
                for a, bnd in zip(bounds[:-1], bounds[1:]):
                    if not ok[a]:
                        continue
                    C = np.cumsum(col[a:bnd] * w)
                    scan = np.minimum.accumulate(b[a:bnd] - C) + C
                    b[a:bnd] = np.minimum(b[a:bnd], scan)
        D[:, j] = np.minimum(b, BIG)
    return D


def _backtrack(
    D: np.ndarray, local: np.ndarray, steps: np.ndarray
) -> list[tuple[int, int]]:
    """Greedy optimal backtracking from the terminal cell.

    At each cell pick the step whose predecessor candidate is minimal
    (first-listed step wins ties) — the standard DTW path
    reconstruction; yields the path as (i into s1, j into s2) pairs,
    reference example.py:70-74 orientation.
    """
    n, m = D.shape
    i, j = n - 1, m - 1
    path = [(i, j)]
    step_list = [(int(dx), int(dy), float(w)) for dx, dy, w in steps]
    while (i, j) != (0, 0):
        best = None
        best_val = np.inf
        for dx, dy, w in step_list:
            pi, pj = i - dy, j - dx
            if pi < 0 or pj < 0:
                continue
            val = D[pi, pj] + local[i, j] * w
            if val < best_val:
                best_val = val
                best = (pi, pj)
        if best is None:  # pinned at a border with no admissible move
            raise RuntimeError("no admissible DTW path (over-tight constraint?)")
        i, j = best
        path.append((i, j))
    path.reverse()
    return path


def dtw_path_from_metric(
    s1: np.ndarray,
    s2: np.ndarray | None = None,
    metric="euclidean",
    global_constraint: str | None = None,
    sakoe_chiba_radius: int | None = None,
    itakura_max_slope: float | None = None,
    step_pattern: StepPattern | str = symmetric1,
    **kwds,
) -> tuple[list[tuple[int, int]], float]:
    """DTW path + similarity — the reference's declared entry point.

    Signature, defaults and return contract per reference
    tsclust/example.py:21-77 (path as (i, j) pairs into s1/s2;
    similarity = cumulative metric along the alignment). The step
    pattern extends the documented API with the reference's own
    step-pattern algebra (stepattern.py:130-144); the default
    ``symmetric1`` reproduces the documented doctest golden values
    (example.py:84-105).
    """
    if isinstance(step_pattern, str):
        step_pattern = PATTERNS[step_pattern]
    if metric == "precomputed":
        cost = np.asarray(s1, dtype=np.float64)
    else:
        if s2 is None:
            raise ValueError("s2 is required unless metric='precomputed'")
        cost = pairwise_cost(s1, s2, metric, **kwds)
    n, m = cost.shape
    if n == 0 or m == 0:
        return [], 0.0
    mask = build_mask(
        n, m, global_constraint, sakoe_chiba_radius, itakura_max_slope
    )
    steps = step_pattern.to_numpy()
    D = _accumulate(cost, steps, mask)
    local = np.where(mask, cost, BIG) if mask is not None else cost
    if D[n - 1, m - 1] >= BIG / 2:
        raise RuntimeError("terminal cell unreachable under constraint")
    path = _backtrack(D, local, steps)
    score = step_pattern.normalize(float(D[n - 1, m - 1]), n, m)
    return path, score


def dtw_distance(
    s1: np.ndarray,
    s2: np.ndarray,
    metric="euclidean",
    step_pattern: StepPattern | str = symmetric1,
    **constraints,
) -> float:
    """Distance-only variant (skips backtracking)."""
    if isinstance(step_pattern, str):
        step_pattern = PATTERNS[step_pattern]
    cost = pairwise_cost(s1, s2, metric)
    n, m = cost.shape
    if n == 0 or m == 0:
        return 0.0
    mask = build_mask(n, m, **constraints)
    D = _accumulate(cost, step_pattern.to_numpy(), mask)
    if D[n - 1, m - 1] >= BIG / 2:
        return float("inf")
    return step_pattern.normalize(float(D[n - 1, m - 1]), n, m)


# ---------------------------------------------------------------------------
# Spark surface
# ---------------------------------------------------------------------------

DTW_PAIR_SCHEMA = (
    "id_a string, id_b string, dist double, path array<struct<i:int,j:int>>"
)
DTW_DIST_SCHEMA = "id_a string, id_b string, dist double"


class BroadcastIdMissing(LookupError):
    """A pair names an id the broadcast token block does not hold."""


def _broadcast_tokens(toks: dict, ids) -> list:
    try:
        return [toks[i] for i in ids]
    except KeyError as e:
        raise BroadcastIdMissing(
            f"pair id {e.args[0]!r} is not in the broadcast token block "
            f"({len(toks)} ids); the block input was likely evaluated "
            "differently for the token snapshot and for the pair ids "
            "(a nondeterministic upstream, such as an unordered limit())"
        ) from None


def dtw_pairs(
    pairs_df,
    pattern_name: str = "symmetric2",
    metric: str = "euclidean",
    global_constraint: str | None = "sakoe_chiba",
    sakoe_chiba_radius: int | None = 1,
    itakura_max_slope: float | None = None,
    with_path: bool = False,
    tokens_bcast=None,
):
    """Banded DTW over a DataFrame of candidate pairs.

    Input: ``(id_a string, id_b string, tokens_a array, tokens_b array)``
    — or, with ``tokens_bcast`` (a ``sc.broadcast`` of an
    ``{id: np.ndarray}`` dict for a BOUNDED block), just
    ``(id_a, id_b)``: the token payloads then never enter the pair
    plan at all — no join hydration, no Arrow transfer of duplicated
    arrays — and each Python worker reads them once from the broadcast
    (the §8 move-heavy-bytes-once pattern taken to its endpoint).
    Output: ``(id_a, id_b, dist [, path])``.

    Runs the numpy DP inside ``mapInPandas`` — embarrassingly parallel,
    no shuffle introduced here; pair construction (self-join inside
    candidate blocks, SURVEY.md C13) is the caller's plan and is where
    partitioning is controlled at scale.
    """
    pattern = PATTERNS[pattern_name]
    steps = pattern.to_numpy()
    schema = DTW_PAIR_SCHEMA if with_path else DTW_DIST_SCHEMA
    # resolved on the driver, so a bad band radius fails before any job
    radius = resolve_constraint(
        global_constraint, sakoe_chiba_radius, itakura_max_slope
    )[1]
    # O(n*band) fast path: distance-only 1-D alignments under a
    # Sakoe-Chiba band skip the full (n, m) matrices entirely
    use_banded = (
        not with_path
        and global_constraint == "sakoe_chiba"
        and metric in ("euclidean", "sqeuclidean", "cityblock", "manhattan")
    )

    def compute(batches: Iterator) -> Iterator:
        import pandas as pd

        from tsclust_spark.kernels.dtw_banded import dtw_banded_batch

        for pdf in batches:
            dists = np.empty(len(pdf), dtype=np.float64)
            paths: list = []
            if tokens_bcast is not None:
                toks = tokens_bcast.value
                a_col = _broadcast_tokens(toks, pdf["id_a"])
                b_col = _broadcast_tokens(toks, pdf["id_b"])
            else:
                a_col = pdf["tokens_a"].to_numpy()
                b_col = pdf["tokens_b"].to_numpy()
            # the banded-eligible 1-D rows run through dtw_banded_batch,
            # bit-identical to the scalar kernel; non-1-D /
            # path-extracting rows fall through to the full DP below.
            banded_rows: list[int] = []
            if use_banded:
                banded_a: list[np.ndarray] = []
                banded_b: list[np.ndarray] = []
                for r in range(len(pdf)):
                    s1 = np.asarray(a_col[r], dtype=np.float64)
                    s2 = np.asarray(b_col[r], dtype=np.float64)
                    if s1.ndim == 1 and s2.ndim == 1:
                        banded_rows.append(r)
                        banded_a.append(s1)
                        banded_b.append(s2)
                if banded_rows:
                    dists[banded_rows] = dtw_banded_batch(
                        banded_a,
                        banded_b,
                        radius=radius,
                        metric=metric,
                        step_pattern=pattern,
                    )
            banded_set = set(banded_rows)
            for r in range(len(pdf)):
                if r in banded_set:
                    continue
                s1 = np.asarray(a_col[r], dtype=np.float64)
                s2 = np.asarray(b_col[r], dtype=np.float64)
                if s1.size == 0 or s2.size == 0:
                    dists[r] = 0.0 if (s1.size == 0 and s2.size == 0) else np.inf
                    if with_path:
                        paths.append([])
                    continue
                cost = pairwise_cost(s1, s2, metric)
                mask = build_mask(
                    cost.shape[0],
                    cost.shape[1],
                    global_constraint,
                    sakoe_chiba_radius,
                    itakura_max_slope,
                )
                D = _accumulate(cost, steps, mask)
                terminal = D[-1, -1]
                if terminal >= BIG / 2:
                    dists[r] = np.inf
                    if with_path:
                        paths.append([])
                    continue
                dists[r] = pattern.normalize(
                    float(terminal), cost.shape[0], cost.shape[1]
                )
                if with_path:
                    local = np.where(mask, cost, BIG) if mask is not None else cost
                    paths.append(
                        [
                            {"i": int(i), "j": int(j)}
                            for i, j in _backtrack(D, local, steps)
                        ]
                    )
            out = {"id_a": pdf["id_a"], "id_b": pdf["id_b"], "dist": dists}
            if with_path:
                out["path"] = pd.Series(paths, index=pdf.index)
            yield pd.DataFrame(out)

    return pairs_df.mapInPandas(compute, schema=schema)


def dtw_distance_matrix(
    df,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    block_col: str | None = None,
    repartition: int | None = None,
    **dtw_kwargs,
):
    """All-pairs DTW distances (upper triangle) within optional blocks.

    Self-theta-join ``id_a < id_b`` (SURVEY.md C13) restricted to
    ``block_col`` groups when given — at scale, ALWAYS block (LSH bucket,
    cluster candidate, source) so the join is linear in block sizes
    rather than quadratic in the table.
    """
    from pyspark.sql import functions as F

    left = df.select(
        F.col(id_col).cast("string").alias("id_a"),
        F.col(tokens_col).alias("tokens_a"),
        *([F.col(block_col).alias("_blk")] if block_col else []),
    )
    right = df.select(
        F.col(id_col).cast("string").alias("id_b"),
        F.col(tokens_col).alias("tokens_b"),
        *([F.col(block_col).alias("_blk_r")] if block_col else []),
    )
    cond = F.col("id_a") < F.col("id_b")
    if block_col:
        cond = cond & (F.col("_blk") == F.col("_blk_r"))
    if repartition and not block_col:
        # small/limited inputs often collapse to one partition after the
        # join; spread the CPU-bound kernel work. Shuffle ONLY the id
        # pairs; the token payloads never enter the pair plan at all —
        # the (bounded) doc block rides one Python broadcast instead of
        # being duplicated into every pair, joined, shuffled and
        # Arrow-shipped per pair (the §8 move-heavy-bytes-once pattern:
        # the old plan moved ~pairs x 2 x len(tokens) bytes through the
        # exchange and the Python boundary for a decision that needs
        # two ids). Valid exactly in this repartition mode, which
        # callers use for bounded blocks; at open cardinality use
        # block_col, whose per-block join path below is unchanged.
        # The pair ids come from the collected ids, so the input is
        # evaluated once: the same multiset the self-join gives (null
        # ids dropped, duplicates kept, id_a < id_b in Spark's string
        # order, which is Python's code-point order). A pandas frame
        # goes to the JVM through Arrow, with no Python worker.
        import pandas as pd

        # dtw_pairs' driver-side check, before this scan runs a job
        resolve_constraint(
            dtw_kwargs.get("global_constraint", "sakoe_chiba"),
            dtw_kwargs.get("sakoe_chiba_radius", 1),
            dtw_kwargs.get("itakura_max_slope"),
        )
        tok_pdf = left.toPandas()  # one scan of the (bounded) block
        toks = {
            i: np.asarray(t, dtype=np.float64)
            for i, t in zip(tok_pdf["id_a"], tok_pdf["tokens_a"])
        }
        bcast = df.sparkSession.sparkContext.broadcast(toks)
        ids = np.array(sorted(tok_pdf["id_a"].dropna()), dtype=object)
        ia, ib = np.triu_indices(len(ids), 1)
        lt = ids[ia] < ids[ib]
        pair_ids = df.sparkSession.createDataFrame(
            pd.DataFrame({"id_a": ids[ia][lt], "id_b": ids[ib][lt]}),
            "id_a string, id_b string",
        ).repartition(repartition)
        return dtw_pairs(pair_ids, tokens_bcast=bcast, **dtw_kwargs)
    pairs = left.join(right, cond).select(
        "id_a", "id_b", "tokens_a", "tokens_b"
    )
    if repartition:
        pairs = pairs.repartition(repartition)
    return dtw_pairs(pairs, **dtw_kwargs)


def dtw_selfcheck(
    df,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    pattern_name: str = "symmetric2",
    sakoe_chiba_radius: int = 2,
    atol: float = 1e-9,
    eps: float = 0.4,
):
    """C26/C13 hash-gate: per pair, the O(n·band) banded kernel must agree
    with the masked full-DP recurrence (<= ``atol``; they sum the same
    costs in a different order, so agreement is 1e-9-tight, not bitwise)
    — AND the LB_Keogh pruning invariants must hold on the same pair
    (``ok_pruned``): the bound lower-bounds the banded distance, and
    pruning at ``eps`` never discards a pair with dist <= eps.  One gate
    covers both kernels (dtw_banded.py lockstep DP + dtw_lb.py bound).

    Output ``(id_a, id_b, ok, ok_pruned)`` — an all-true table, which a
    SQL oracle can assert as a constant (the codec_roundtrip trick),
    turning the non-SQL-expressible DTW kernels into one hash-green
    driver gate.
    """
    from pyspark.sql import functions as F

    pattern = PATTERNS[pattern_name]
    steps = pattern.to_numpy()
    sakoe_chiba_radius = check_radius(sakoe_chiba_radius)

    left = df.select(
        F.col(id_col).cast("string").alias("id_a"),
        F.col(tokens_col).alias("tokens_a"),
    )
    right = df.select(
        F.col(id_col).cast("string").alias("id_b"),
        F.col(tokens_col).alias("tokens_b"),
    )
    pairs = left.join(right, F.col("id_a") < F.col("id_b"))

    def compute(batches: Iterator) -> Iterator:
        import pandas as pd

        from tsclust_spark.kernels.dtw_banded import dtw_banded_batch
        from tsclust_spark.kernels.dtw_lb import lb_keogh_pairs

        for pdf in batches:
            oks = np.empty(len(pdf), dtype=bool)
            oks_pruned = np.empty(len(pdf), dtype=bool)
            a_col = pdf["tokens_a"].to_numpy()
            b_col = pdf["tokens_b"].to_numpy()
            a_arrs = [np.asarray(a_col[r], dtype=np.float64) for r in range(len(pdf))]
            b_arrs = [np.asarray(b_col[r], dtype=np.float64) for r in range(len(pdf))]
            fast_all = dtw_banded_batch(
                a_arrs, b_arrs, sakoe_chiba_radius, "euclidean", pattern
            )
            lb_all = lb_keogh_pairs(
                a_arrs, b_arrs, sakoe_chiba_radius, "euclidean", pattern
            )
            for r in range(len(pdf)):
                s1, s2 = a_arrs[r], b_arrs[r]
                if s1.size == 0 or s2.size == 0:
                    oks[r] = True
                    oks_pruned[r] = True
                    continue
                fast = fast_all[r]
                cost = pairwise_cost(s1, s2, "euclidean")
                mask = build_mask(
                    cost.shape[0], cost.shape[1], "sakoe_chiba",
                    sakoe_chiba_radius, None,
                )
                D = _accumulate(cost, steps, mask)
                term = D[-1, -1]
                full = (
                    float("inf")
                    if term >= BIG / 2
                    else pattern.normalize(float(term), cost.shape[0], cost.shape[1])
                )
                if np.isinf(fast) or np.isinf(full):
                    oks[r] = np.isinf(fast) == np.isinf(full)
                else:
                    oks[r] = abs(fast - full) <= atol
                lb = lb_all[r]
                lb_valid = lb <= fast + atol
                prune_safe = (lb <= eps) or (fast > eps)
                oks_pruned[r] = bool(lb_valid and prune_safe)
            yield pd.DataFrame(
                {
                    "id_a": pdf["id_a"],
                    "id_b": pdf["id_b"],
                    "ok": oks,
                    "ok_pruned": oks_pruned,
                }
            )

    return pairs.mapInPandas(
        compute, schema="id_a string, id_b string, ok boolean, ok_pruned boolean"
    )
