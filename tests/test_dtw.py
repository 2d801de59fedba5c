"""DTW kernel tests: golden doctest parity + properties (SURVEY.md B1-B8)."""

import warnings

import numpy as np
import pytest

from tsclust_spark.kernels.dtw import (
    build_mask,
    dtw_distance,
    dtw_path_from_metric,
    itakura_mask,
    pairwise_cost,
    resolve_constraint,
    sakoe_chiba_mask,
)

GOLDEN_PATH = [(0, 0), (0, 1), (1, 2), (2, 3), (3, 4), (4, 5)]


def _golden_series():
    # reference tsclust/example.py:83-85
    rng = np.random.RandomState(0)
    return rng.rand(5, 2), rng.rand(6, 2)


def test_golden_doctest_sqeuclidean():
    # promoted from the reference's commented-out doctest (example.py:90-91)
    s1, s2 = _golden_series()
    path, score = dtw_path_from_metric(s1, s2, metric="sqeuclidean")
    assert path == GOLDEN_PATH
    # doctest ELLIPSIS "1.117...": decimal expansion starts with 1.117
    assert repr(score).startswith("1.117")


def test_golden_doctest_callable():
    # example.py:95-97: custom callable gives same result
    s1, s2 = _golden_series()
    sqeuclidean = lambda x, y: np.sum((x - y) ** 2)  # noqa: E731
    path, score = dtw_path_from_metric(s1, s2, metric=sqeuclidean)
    assert path == GOLDEN_PATH
    assert abs(score - dtw_path_from_metric(s1, s2, metric="sqeuclidean")[1]) < 1e-12


def test_golden_doctest_precomputed():
    # example.py:101-104: precomputed distance matrix input
    s1, s2 = _golden_series()
    dist = pairwise_cost(s1, s2, "sqeuclidean")
    path, score = dtw_path_from_metric(dist, metric="precomputed")
    assert path == GOLDEN_PATH


def test_euclidean_same_path_different_score():
    # example.py:107-111 note: same path, score = sum of euclidean not squared
    s1, s2 = _golden_series()
    p1, score_sq = dtw_path_from_metric(s1, s2, metric="sqeuclidean")
    p2, score_eu = dtw_path_from_metric(s1, s2, metric="euclidean")
    assert p1 == GOLDEN_PATH and p2 == GOLDEN_PATH
    assert score_eu != score_sq
    # score equals sum of local metric along the path (example.py:8-10)
    d = pairwise_cost(s1, s2, "euclidean")
    assert abs(score_eu - sum(d[i, j] for i, j in p2)) < 1e-9


def test_identity_distance_zero():
    s = np.random.RandomState(1).rand(20, 3)
    path, score = dtw_path_from_metric(s, s, metric="euclidean")
    assert score < 1e-12
    assert path == [(i, i) for i in range(20)]


def test_path_monotone_and_bounded():
    rng = np.random.RandomState(2)
    for _ in range(5):
        s1 = rng.rand(rng.randint(2, 30), 2)
        s2 = rng.rand(rng.randint(2, 30), 2)
        path, _ = dtw_path_from_metric(s1, s2)
        assert path[0] == (0, 0)
        assert path[-1] == (len(s1) - 1, len(s2) - 1)
        for (i0, j0), (i1, j1) in zip(path, path[1:]):
            assert 0 <= i1 - i0 <= 1 and 0 <= j1 - j0 <= 1
            assert (i1 - i0) + (j1 - j0) >= 1


def test_constraint_conflict_rule():
    # example.py:50-54,60-64: both set + no constraint -> warning + none
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        gc, r, s = resolve_constraint(None, 2, 3.0)
        assert gc is None
        assert any(issubclass(w.category, RuntimeWarning) for w in caught)
    # inference when exactly one is set
    assert resolve_constraint(None, 2, None)[0] == "sakoe_chiba"
    assert resolve_constraint(None, None, 3.0)[0] == "itakura"
    # documented defaults (example.py:46-49,56-59)
    assert resolve_constraint("sakoe_chiba", None, None)[1] == 1
    assert resolve_constraint("itakura", None, None)[2] == 2.0


def test_sakoe_chiba_mask_basic():
    m = sakoe_chiba_mask(5, 5, radius=1)
    assert m[0, 0] and m[4, 4]
    assert m[0, 1] and not m[0, 2]
    assert m[1, 0] and not m[2, 0]
    # corners always reachable even with unequal lengths
    m2 = sakoe_chiba_mask(5, 50, radius=1)
    assert m2[0, 0] and m2[4, 49]


def test_itakura_mask_basic():
    m = itakura_mask(10, 10, max_slope=2.0)
    assert m[0, 0] and m[9, 9]
    assert not m[0, 9] and not m[9, 0]


def test_banded_dtw_matches_unconstrained_when_band_wide():
    rng = np.random.RandomState(3)
    s1, s2 = rng.rand(15, 2), rng.rand(15, 2)
    d0 = dtw_distance(s1, s2)
    d1 = dtw_distance(s1, s2, global_constraint="sakoe_chiba", sakoe_chiba_radius=20)
    assert abs(d0 - d1) < 1e-12


def test_band_never_below_unconstrained():
    rng = np.random.RandomState(4)
    for _ in range(5):
        s1, s2 = rng.rand(12, 1), rng.rand(14, 1)
        d0 = dtw_distance(s1, s2)
        d1 = dtw_distance(
            s1, s2, global_constraint="sakoe_chiba", sakoe_chiba_radius=1
        )
        assert d1 >= d0 - 1e-12


def test_step_pattern_normalization():
    rng = np.random.RandomState(5)
    s1, s2 = rng.rand(8, 1), rng.rand(10, 1)
    _, raw = dtw_path_from_metric(s1, s2, step_pattern="symmetric1")
    _, nm = dtw_path_from_metric(s1, s2, step_pattern="symmetric2")
    # symmetric2 divides by N+M (stepattern.py:133-134): normalized score
    # must be far smaller than the raw cumulative cost for these sizes
    assert nm < raw


def test_rigid_pattern_requires_equal_lengths():
    rng = np.random.RandomState(6)
    s = rng.rand(7, 1)
    d = dtw_distance(s, s, step_pattern="rigid")
    assert d < 1e-12
    with pytest.raises(RuntimeError):
        dtw_path_from_metric(rng.rand(5, 1), rng.rand(9, 1), step_pattern="rigid")


def test_asymmetric_pattern_runs():
    rng = np.random.RandomState(7)
    d = dtw_distance(rng.rand(10, 1), rng.rand(12, 1), step_pattern="asymmetric")
    assert np.isfinite(d) and d >= 0


def test_multidimensional_dim_mismatch():
    with pytest.raises(ValueError):
        pairwise_cost(np.zeros((3, 2)), np.zeros((3, 4)))


def test_mask_none_when_unconstrained():
    assert build_mask(5, 5) is None


def _dp_slow(cost, steps, mask=None):
    """Triple-loop reference DP — the oracle twin of the vectorized kernel."""
    n, m = cost.shape
    local = np.where(mask, cost, np.inf) if mask is not None else cost
    D = np.full((n, m), np.inf)
    D[0, 0] = local[0, 0]
    for j in range(m):
        for i in range(n):
            if i == 0 and j == 0:
                continue
            best = np.inf
            for dx, dy, w in steps:
                pi, pj = i - int(dy), j - int(dx)
                if pi < 0 or pj < 0:
                    continue
                best = min(best, D[pi, pj] + local[i, j] * w)
            D[i, j] = best
    return D


def test_vectorized_dp_matches_slow_oracle():
    from tsclust_spark.compat.stepattern import PATTERNS
    from tsclust_spark.kernels.dtw import BIG, _accumulate, sakoe_chiba_mask

    rng = np.random.RandomState(11)
    for pname in ["symmetric1", "symmetric2", "asymmetric", "rigid"]:
        steps = PATTERNS[pname].to_numpy()
        for trial in range(4):
            n, m = rng.randint(2, 18), rng.randint(2, 18)
            cost = rng.rand(n, m)
            for mask in [None, sakoe_chiba_mask(n, m, radius=2)]:
                fast = _accumulate(cost, steps, mask)
                slow = _dp_slow(cost, steps, mask)
                reach = slow < np.inf
                assert np.allclose(fast[reach], slow[reach], rtol=1e-10), (
                    pname,
                    trial,
                )
                assert (fast[~reach] >= BIG / 2).all()


def test_banded_kernel_matches_generic():
    from tsclust_spark.kernels.dtw_banded import dtw_banded_distance

    rng = np.random.RandomState(21)
    for pname in ["symmetric1", "symmetric2", "asymmetric", "rigid"]:
        for _ in range(6):
            n, m = rng.randint(2, 40), rng.randint(2, 40)
            a, b = rng.rand(n), rng.rand(m)
            for radius in (1, 3, 8):
                want = dtw_distance(
                    a, b, step_pattern=pname,
                    global_constraint="sakoe_chiba", sakoe_chiba_radius=radius,
                )
                got = dtw_banded_distance(a, b, radius, "euclidean", pname)
                if np.isinf(want) or np.isinf(got):
                    assert np.isinf(want) == np.isinf(got), (pname, n, m, radius)
                else:
                    assert abs(want - got) < 1e-9, (pname, n, m, radius)


def test_banded_kernel_speed_sanity():
    import time

    from tsclust_spark.kernels.dtw_banded import dtw_banded_distance

    rng = np.random.RandomState(22)
    a, b = rng.rand(2000), rng.rand(2000)
    t0 = time.time()
    d1 = dtw_banded_distance(a, b, radius=8, step_pattern="symmetric2")
    banded_t = time.time() - t0
    t0 = time.time()
    d2 = dtw_distance(
        a, b, step_pattern="symmetric2",
        global_constraint="sakoe_chiba", sakoe_chiba_radius=8,
    )
    full_t = time.time() - t0
    assert abs(d1 - d2) < 1e-9
    # O(n*w) vs O(n*m): must be dramatically faster
    assert banded_t < full_t / 5, (banded_t, full_t)


def test_extended_metric_strings():
    """Reference example.py:29-41 says metric strings mirror sklearn
    pairwise_distances; the long-tail names beyond the core six."""
    rng = np.random.RandomState(7)
    a, b = rng.rand(5, 3), rng.rand(6, 3)
    mink3 = np.array(
        [[(np.abs(x - y) ** 3).sum() ** (1 / 3) for y in b] for x in a]
    )
    np.testing.assert_allclose(
        pairwise_cost(a, b, "minkowski", p=3), mink3, rtol=1e-12
    )
    np.testing.assert_allclose(
        pairwise_cost(a, b, "minkowski"),
        pairwise_cost(a, b, "euclidean"),
        rtol=1e-12,
    )
    can = np.array(
        [[(np.abs(x - y) / (np.abs(x) + np.abs(y))).sum() for y in b] for x in a]
    )
    np.testing.assert_allclose(pairwise_cost(a, b, "canberra"), can, rtol=1e-12)
    bc = np.array(
        [[np.abs(x - y).sum() / np.abs(x + y).sum() for y in b] for x in a]
    )
    np.testing.assert_allclose(pairwise_cost(a, b, "braycurtis"), bc, rtol=1e-12)
    corr = np.array([[1 - np.corrcoef(x, y)[0, 1] for y in b] for x in a])
    np.testing.assert_allclose(
        pairwise_cost(a, b, "correlation"), corr, rtol=1e-10
    )


def test_sklearn_alias_metric_strings():
    """sklearn's l1/l2/manhattan/matching aliases resolve to their
    canonical metrics."""
    rng = np.random.RandomState(3)
    a, b = rng.rand(4, 3), rng.rand(5, 3)
    np.testing.assert_array_equal(
        pairwise_cost(a, b, "l1"), pairwise_cost(a, b, "cityblock")
    )
    np.testing.assert_array_equal(
        pairwise_cost(a, b, "l2"), pairwise_cost(a, b, "euclidean")
    )
    np.testing.assert_array_equal(
        pairwise_cost(a, b, "matching"), pairwise_cost(a, b, "hamming")
    )


def test_weighted_metric_strings():
    """seuclidean / mahalanobis / nan_euclidean against per-pair
    reference formulas."""
    rng = np.random.RandomState(9)
    a, b = rng.rand(4, 3), rng.rand(5, 3)
    V = rng.rand(3) + 0.5
    se = np.array(
        [[np.sqrt(((x - y) ** 2 / V).sum()) for y in b] for x in a]
    )
    np.testing.assert_allclose(
        pairwise_cost(a, b, "seuclidean", V=V), se, rtol=1e-12
    )
    M = rng.rand(3, 3)
    VI = M @ M.T + np.eye(3)  # SPD
    mah = np.array(
        [[np.sqrt((x - y) @ VI @ (x - y)) for y in b] for x in a]
    )
    np.testing.assert_allclose(
        pairwise_cost(a, b, "mahalanobis", VI=VI), mah, rtol=1e-12
    )
    an = a.copy()
    an[0, 1] = np.nan
    an[2, :] = np.nan
    got = pairwise_cost(an, b, "nan_euclidean")
    # row 0: dims 0 and 2 present -> scaled by 3/2
    x, y = an[0], b[1]
    exp = np.sqrt(((x[0] - y[0]) ** 2 + (x[2] - y[2]) ** 2) * 3 / 2)
    assert got[0, 1] == pytest.approx(exp, rel=1e-12)
    assert np.isnan(got[2]).all()  # all-missing row
    # no missing dims == plain euclidean
    np.testing.assert_allclose(
        pairwise_cost(a, b, "nan_euclidean"),
        pairwise_cost(a, b, "euclidean"),
        rtol=1e-12,
    )


def test_boolean_set_metric_strings():
    """jaccard/dice/rogerstanimoto/russellrao/sokalmichener/
    sokalsneath/yule/kulsinski vs truth-table reference formulas
    (scipy.spatial.distance definitions)."""
    rng = np.random.RandomState(17)
    a = (rng.rand(6, 8) > 0.5).astype(float)
    b = (rng.rand(7, 8) > 0.5).astype(float)

    def counts(x, y):
        xt, yt = x != 0, y != 0
        ntt = float(np.sum(xt & yt))
        ntf = float(np.sum(xt & ~yt))
        nft = float(np.sum(~xt & yt))
        nff = float(np.sum(~xt & ~yt))
        return ntt, ntf, nft, nff

    def ref(metric, x, y):
        ntt, ntf, nft, nff = counts(x, y)
        n = x.size
        R = ntf + nft
        if metric == "jaccard":
            return R / (ntt + R) if ntt + R else 0.0
        if metric == "dice":
            return R / (2 * ntt + R) if 2 * ntt + R else 0.0
        if metric == "rogerstanimoto":
            return 2 * R / (ntt + nff + 2 * R)
        if metric == "russellrao":
            return (n - ntt) / n
        if metric == "sokalmichener":
            return 2 * R / (ntt + nff + 2 * R)
        if metric == "sokalsneath":
            return 2 * R / (ntt + 2 * R) if ntt + 2 * R else 0.0
        if metric == "yule":
            return (
                2 * ntf * nft / (ntt * nff + ntf * nft)
                if ntf * nft
                else 0.0
            )
        if metric == "kulsinski":
            return (R - ntt + n) / (R + n)

    for metric in (
        "jaccard",
        "dice",
        "rogerstanimoto",
        "russellrao",
        "sokalmichener",
        "sokalsneath",
        "yule",
        "kulsinski",
    ):
        want = np.array([[ref(metric, x, y) for y in b] for x in a])
        np.testing.assert_allclose(
            pairwise_cost(a, b, metric), want, rtol=1e-12, err_msg=metric
        )
    # degenerate all-zero pair: defined as 0, never nan
    z = np.zeros((1, 4))
    for metric in ("jaccard", "dice", "sokalsneath", "yule"):
        assert pairwise_cost(z, z, metric)[0, 0] == 0.0


def test_step_pattern_str_tabulate_github_format():
    """Reference stepattern.py:114-122 renders tabulate github format;
    the hand-rolled twin must match it (incl. dynamic column widths)."""
    from tsclust_spark.compat.stepattern import Step, StepPattern, symmetric2

    assert str(symmetric2) == (
        "StepPattern: symmetric2\n"
        "Normalization: N+M\n"
        "|   Step |   dX |   dY |   Cost |\n"
        "|--------|------|------|--------|\n"
        "|      0 |    1 |    1 |      2 |\n"
        "|      1 |    0 |    1 |      1 |\n"
        "|      2 |    1 |    0 |      1 |"
    )
    wide = StepPattern("wide", [Step(1, 12, 100)], "N")
    assert "|      0 |    1 |   12 |    100 |" in str(wide)


def test_metric_degenerate_rows_defined_not_nan():
    """Zero-variance / all-zero rows: defined distances (nan would poison
    the DTW DP): constant-vs-constant correlates perfectly, all-zero
    braycurtis rows are identical."""
    const_a = np.full((2, 8), 5.0)
    const_b = np.full((3, 8), -2.0)
    d = pairwise_cost(const_a, const_b, "correlation")
    assert np.all(d == 0.0)
    varied = np.arange(8.0)[None, :]
    d = pairwise_cost(const_a, varied, "correlation")
    assert np.all(d == 1.0)
    assert not np.isnan(d).any()
    z = np.zeros((2, 4))
    assert np.all(pairwise_cost(z, z, "braycurtis") == 0.0)


def test_lockstep_bit_identical_to_scalar_kernel():
    """dtw_banded_batch is the scalar column DP run in lockstep over a
    batch axis — every numpy op in the same order per cell, so the
    results must be BIT-identical (not just close) across patterns,
    metrics, shapes (n<m, n>m, n=m, tiny), and radii."""
    from tsclust_spark.kernels.dtw_banded import (
        dtw_banded_batch,
        dtw_banded_distance,
    )

    rng = np.random.default_rng(42)
    for pat in ("symmetric1", "symmetric2", "asymmetric"):
        for metric in ("euclidean", "sqeuclidean"):
            for n, m in [(256, 256), (100, 256), (256, 100), (7, 5), (1, 1)]:
                for radius in (1, 8):
                    A = rng.normal(size=(8, n))
                    B = rng.normal(size=(8, m))
                    try:
                        got = dtw_banded_batch(list(A), list(B), radius, metric, pat)
                    except NotImplementedError:
                        continue
                    ref = np.array(
                        [
                            dtw_banded_distance(A[i], B[i], radius, metric, pat)
                            for i in range(8)
                        ]
                    )
                    assert np.array_equal(got, ref, equal_nan=True), (
                        pat, metric, n, m, radius,
                    )


def test_lockstep_batch_ragged_and_empty():
    """dtw_banded_batch groups ragged pairs by shape and scatters back in
    input order; empty series keep the scalar kernel's convention."""
    from tsclust_spark.kernels.dtw_banded import (
        dtw_banded_batch,
        dtw_banded_distance,
    )

    rng = np.random.default_rng(7)
    a_list = [rng.normal(size=int(rng.integers(5, 120))) for _ in range(60)]
    b_list = [rng.normal(size=int(rng.integers(5, 120))) for _ in range(60)]
    a_list[3] = np.array([])          # empty vs non-empty -> inf
    b_list[9] = np.array([])
    a_list[11] = np.array([])         # empty vs empty -> 0.0
    b_list[11] = np.array([])
    got = dtw_banded_batch(a_list, b_list, 4, "euclidean", "symmetric2")
    for i in range(60):
        sa, sb = a_list[i], b_list[i]
        if sa.size == 0 or sb.size == 0:
            exp = 0.0 if sa.size == sb.size else np.inf
        else:
            exp = dtw_banded_distance(sa, sb, 4, "euclidean", "symmetric2")
        assert got[i] == exp or (np.isinf(got[i]) and np.isinf(exp)), i


def test_ragged_lockstep_group_bit_identical():
    """dtw_banded_batch on pairs of mixed lengths (per-pair band
    geometry, constant-shift lanes) must be BIT-identical to the scalar
    kernel across patterns, metrics, radii, and extreme length skew —
    every float op per cell runs in the same order, so equality is
    exact, not approximate."""
    from tsclust_spark.kernels.dtw_banded import (
        dtw_banded_batch,
        dtw_banded_distance,
    )
    from tsclust_spark.compat.stepattern import PATTERNS

    rng = np.random.default_rng(11)
    for pat in ("symmetric1", "symmetric2", "asymmetric", "rigid"):
        for metric in ("euclidean", "sqeuclidean"):
            for radius in (1, 8):
                n_arr = rng.integers(1, 300, size=48).astype(np.int64)
                m_arr = rng.integers(1, 300, size=48).astype(np.int64)
                n_arr[0], m_arr[0] = 1, 299      # extreme skew
                n_arr[1], m_arr[1] = 299, 1
                n_arr[2], m_arr[2] = 1, 1
                arrs = []
                for i in range(48):
                    a = rng.normal(size=int(n_arr[i]))
                    b = rng.normal(size=int(m_arr[i]))
                    arrs.append((a, b))
                got = dtw_banded_batch(
                    [a for a, _ in arrs], [b for _, b in arrs],
                    radius, metric, PATTERNS[pat],
                )
                ref = np.array(
                    [
                        dtw_banded_distance(a, b, radius, metric, pat)
                        for a, b in arrs
                    ]
                )
                same = (got == ref) | (np.isinf(got) & np.isinf(ref))
                assert same.all(), (pat, metric, radius, np.where(~same))


def test_batch_routes_fragmented_shapes_through_ragged_kernel():
    """A batch whose shapes all differ (the real-corpus case) must pool
    into shared buckets — and still match the scalar kernel exactly."""
    from tsclust_spark.kernels.dtw_banded import (
        dtw_banded_batch,
        dtw_banded_distance,
    )

    rng = np.random.default_rng(13)
    # 80 pairs, every (len_a, len_b) distinct: no two pairs share a
    # shape, so every bucket mixes lengths
    lens = rng.permutation(np.arange(40, 200))[:160]
    a_list = [rng.normal(size=int(l)) for l in lens[:80]]
    b_list = [rng.normal(size=int(l)) for l in lens[80:]]
    got = dtw_banded_batch(a_list, b_list, 8, "euclidean", "symmetric2")
    ref = np.array(
        [
            dtw_banded_distance(a, b, 8, "euclidean", "symmetric2")
            for a, b in zip(a_list, b_list)
        ]
    )
    assert np.array_equal(got, ref), np.where(got != ref)


def test_ragged_lockstep_radius_zero_and_degenerate_series():
    """radius=0 (pure diagonal band) and degenerate inputs — constant
    series, a single point, identical ramps (zero local cost along the
    whole path) — must stay bit-identical between the lockstep batch
    kernel and the scalar DP. Deterministic fixture, seeded."""
    from tsclust_spark.kernels.dtw_banded import (
        dtw_banded_batch,
        dtw_banded_distance,
    )
    from tsclust_spark.compat.stepattern import PATTERNS

    rng = np.random.default_rng(7)
    cases = []
    for _ in range(6):
        n = int(rng.integers(1, 50))
        cases.append((rng.normal(size=n), rng.normal(size=n)))
    cases.append((np.ones(20), np.ones(20)))          # constant equal
    cases.append((np.zeros(1), np.zeros(1)))          # single point
    cases.append((np.arange(30.0), np.arange(30.0)))  # identical ramps
    for radius in (0, 2):
        for pat in ("symmetric2", "asymmetric"):
            got = dtw_banded_batch(
                [a for a, _ in cases], [b for _, b in cases],
                radius, "euclidean", PATTERNS[pat],
            )
            ref = np.array(
                [
                    dtw_banded_distance(a, b, radius, "euclidean", pat)
                    for a, b in cases
                ]
            )
            same = (got == ref) | (np.isinf(got) & np.isinf(ref))
            assert same.all(), (radius, pat, np.where(~same))
            # identical series cost exactly 0 under any band
            assert got[-1] == 0.0 and got[-2] == 0.0 and got[-3] == 0.0


def test_batch_memory_bounded_by_input():
    """One long pair in a batch of short ones: the kernel's transient
    memory follows the input, not (pairs x longest series). 2,048 pairs
    of two 40-200-point series of one length (so every band has the
    long pair's width) plus one 20,000-point pair stay under 64 MB."""
    import tracemalloc

    from tsclust_spark.kernels.dtw_banded import (
        dtw_banded_batch,
        dtw_banded_distance,
    )

    rng = np.random.default_rng(3)
    a_list = [rng.normal(size=int(rng.integers(40, 201))) for _ in range(2048)]
    b_list = [rng.normal(size=a.size) for a in a_list]
    a_list.append(rng.normal(size=20000))
    b_list.append(rng.normal(size=20000))
    tracemalloc.start()
    try:
        got = dtw_banded_batch(a_list, b_list, 8, "euclidean", "symmetric2")
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert peak < 64 * 2**20, peak
    for r in (2048, 0, 1, 1000, 2047):
        want = dtw_banded_distance(a_list[r], b_list[r], 8, "euclidean", "symmetric2")
        assert got[r] == want, r


def test_batch_result_independent_of_batch_company():
    """A pair's distance does not depend on what else is in its batch:
    a fixed set of pairs (skewed lengths, NaN tokens) gives the same
    bits alone, inside a uniform batch, beside a long outlier and beside
    NaN-token pairs, at radius 8 and 0, for every step pattern — and
    equals the scalar kernel."""
    from tsclust_spark.kernels.dtw_banded import (
        dtw_banded_batch,
        dtw_banded_distance,
    )

    rng = np.random.default_rng(17)
    lens = [(30, 30), (12, 45), (45, 12), (1, 20), (20, 1), (1, 1), (60, 58), (40, 44)]
    fixed = [(rng.normal(size=n), rng.normal(size=m)) for n, m in lens]
    # NaN tokens: at a[0] of a pair with n < m (the first cell of the
    # terminal diagonal, which no step reaches under rigid), at the last
    # point of b, and inside a
    for i, side, pos in ((7, 0, 0), (1, 0, 0), (4, 1, -1), (6, 0, 29)):
        fixed.append((fixed[i][0].copy(), fixed[i][1].copy()))
        fixed[-1][side][pos] = np.nan
    uniform = [(rng.normal(size=40), rng.normal(size=40)) for _ in range(300)]
    outlier = [(rng.normal(size=3000), rng.normal(size=2900))]
    nan_pairs = [(rng.normal(size=25), rng.normal(size=35)) for _ in range(20)]
    for a, b in nan_pairs:
        a[rng.integers(0, a.size)] = np.nan
        b[0] = np.nan
    k = len(fixed)
    for pat in ("symmetric1", "symmetric2", "asymmetric", "rigid"):
        for radius in (8, 0):
            def run(pairs):
                return dtw_banded_batch(
                    [a for a, _ in pairs], [b for _, b in pairs],
                    radius, "euclidean", pat,
                )

            alone = run(fixed)
            ref = np.array(
                [dtw_banded_distance(a, b, radius, "euclidean", pat) for a, b in fixed]
            )
            assert np.array_equal(alone, ref, equal_nan=True), (pat, radius)
            mixed = uniform[:150] + fixed + uniform[150:]
            company = {
                "uniform": run(mixed)[150 : 150 + k],
                "outlier": run(outlier + fixed)[1:],
                "nan": run(fixed + nan_pairs)[:k],
            }
            for name, got in company.items():
                assert np.array_equal(got, alone, equal_nan=True), (pat, radius, name)


@pytest.mark.parametrize("radius", [-1, 2.5])
def test_bad_radius_rejected_by_every_kernel(radius):
    """A Sakoe-Chiba radius that is not a non-negative integer is a
    ValueError naming it, from the generic and the banded kernels alike
    (-1 used to give inf or a raw IndexError; 2.5 ran as radius 2 in
    one kernel and as radius 3 in the other)."""
    import re

    from tsclust_spark.kernels.dtw_banded import (
        dtw_banded_batch,
        dtw_banded_distance,
    )

    a, b = np.arange(6.0), np.arange(7.0)
    calls = (
        lambda: resolve_constraint("sakoe_chiba", radius, None),
        lambda: dtw_distance(a, b, sakoe_chiba_radius=radius),
        lambda: dtw_path_from_metric(a, b, sakoe_chiba_radius=radius),
        lambda: dtw_banded_distance(a, b, radius),
        lambda: dtw_banded_batch([a], [b], radius),
    )
    for call in calls:
        with pytest.raises(ValueError, match=re.escape(repr(radius))):
            call()


def test_integral_float_radius_runs_as_int_and_unused_radius_is_free():
    """2.0 is radius 2 in every kernel; a radius that no band uses
    (Itakura, or both constraints set) is not checked."""
    from tsclust_spark.kernels.dtw_banded import (
        dtw_banded_batch,
        dtw_banded_distance,
    )

    rng = np.random.default_rng(3)
    a, b = rng.normal(size=9), rng.normal(size=12)
    for r in (2.0, np.float64(2.0)):
        assert resolve_constraint("sakoe_chiba", r, None)[1] == 2
        assert dtw_distance(a, b, sakoe_chiba_radius=r) == dtw_distance(
            a, b, sakoe_chiba_radius=2
        )
        assert dtw_banded_distance(a, b, r) == dtw_banded_distance(a, b, 2)
        assert dtw_banded_batch([a], [b], r)[0] == dtw_banded_distance(a, b, 2)
    assert resolve_constraint("itakura", -1, None)[0] == "itakura"
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", RuntimeWarning)
        assert resolve_constraint(None, 2.5, 3.0)[0] is None


@pytest.mark.spark
@pytest.mark.parametrize("radius", [-1, 2.5])
def test_bad_radius_rejected_on_driver(spark, radius):
    """dtw_pairs (with and without paths), dtw_pairs_pruned and
    dtw_distance_matrix (both plans) reject a bad radius on the driver,
    before any Spark job runs."""
    import re

    from tsclust_spark.kernels.dtw import dtw_distance_matrix, dtw_pairs
    from tsclust_spark.kernels.dtw_lb import dtw_pairs_pruned

    docs = spark.createDataFrame(
        [("a", [1.0, 2.0]), ("b", [2.0, 3.0, 1.0])], "doc_id string, tokens array<double>"
    )
    pairs = spark.createDataFrame(
        [("a", "b", [1.0, 2.0], [2.0, 3.0, 1.0])],
        "id_a string, id_b string, tokens_a array<double>, tokens_b array<double>",
    )
    calls = (
        lambda: dtw_pairs(pairs, sakoe_chiba_radius=radius),
        lambda: dtw_pairs(pairs, sakoe_chiba_radius=radius, with_path=True),
        lambda: dtw_pairs_pruned(pairs, eps=1.0, sakoe_chiba_radius=radius),
        lambda: dtw_distance_matrix(docs, sakoe_chiba_radius=radius),
        lambda: dtw_distance_matrix(docs, repartition=2, sakoe_chiba_radius=radius),
    )
    sc = spark.sparkContext
    group = f"bad-radius-{radius}"
    sc.setJobGroup(group, group)
    try:
        for call in calls:
            with pytest.raises(ValueError, match=re.escape(repr(radius))):
                call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
