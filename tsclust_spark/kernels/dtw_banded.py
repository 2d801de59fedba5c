"""Band-limited DTW: O(n * band) time and memory.

The generic kernel (kernels/dtw.py) materializes the full (n, m) cost
and DP matrices and masks out-of-band cells — fine for small alignments
but O(n*m) regardless of the band. These kernels compute local costs and
DP values ONLY inside the Sakoe-Chiba band: for radius 8 on 4096x4096
that is ~25/4096 of the work and ~1/670 of the memory.

Semantics are identical to the generic kernel with
``global_constraint='sakoe_chiba'``. 1-D series only (the engine's token
sequences); the generic kernel remains the fallback for
multidimensional input, Itakura, or path extraction.

:func:`dtw_banded_distance` is the scalar column DP, one pair at a time.
It is the test oracle. :func:`dtw_banded_batch` is the production
kernel: it runs many pairs in lockstep, one numpy op per column step for
all of them, so the Python column loop is paid once per bucket instead of
once per pair. Every float op a band cell sees is the scalar kernel's, in
the same order, so results are bit-identical to it.

Lanes. Buffers are ``(lanes, pairs)``. With ``k_lo = -r - max(0, m-n)``
the band holds the diagonals ``i - j`` in ``[k_lo, k_lo + W)``,
``W = |n-m| + 2r + 1``. When ``W <= n`` a pair's lane is its diagonal,
``lane = i - j - k_lo``; otherwise (a band wider than the series) it is
the row, ``lane = i``, over ``W = n`` lanes. Either way a step
``(dx, dy)`` reads the previous column at one lane offset for the whole
bucket (``dx - dy`` on diagonals, ``-dy`` on rows), so a step is one
slice, and the vertical step is a scan along the lane axis. Lanes outside
a pair's band hold ``BIG``, the scalar kernel's "no candidate". Pairs are
sorted by length of ``b``, so the pairs still running at column ``j`` are
a prefix and finished pairs cost nothing.

Buckets. The pairs of one lane layout are sorted by ``W`` and cut into
contiguous runs by a DP over the kernel's own cost, ``_COLUMN_S`` per
column step plus ``_CELL_S`` per lane cell (a run pays its widest pair's
``W`` on every cell). A run whose buffers would pass ``_BUCKET_CELLS``
float64 cells is split, longest pairs first, so a bucket's buffers hold
at most ``max(_BUCKET_CELLS, one pair's cells)``: the transient memory is
O(sum(n + m) + P*W), never O(P * n_max), however long the batch's
longest series.
"""

from __future__ import annotations

import operator

import numpy as np

from tsclust_spark.compat.stepattern import PATTERNS, StepPattern

BIG = 1e300

# Cost model of the lockstep kernel, measured once (4 vCPU, numpy 1.26,
# one thread; 15-17 us per column step and 9-19 ns per cell over
# buckets of 8-1,500 pairs and 17-417 lanes): the fixed cost of one
# column step of a bucket, and the cost of one lane cell in it.
_COLUMN_S = 16e-6
_CELL_S = 18e-9
# float64 cells one bucket's buffers may hold (16 MB); a pair that needs
# more runs in a bucket of its own
_BUCKET_CELLS = 1 << 21


def check_radius(radius) -> int:
    """The Sakoe-Chiba radius as an int. An integer or an integral float
    (2.0) passes; a ValueError names any other value (-1, 2.5)."""
    if isinstance(radius, (float, np.floating)) and float(radius).is_integer():
        radius = int(radius)
    try:
        r = operator.index(radius)
    except TypeError:
        r = -1
    if r < 0:
        raise ValueError(
            f"sakoe_chiba_radius must be a non-negative integer, got {radius!r}"
        )
    return r


def _band_bounds(n: int, m: int, radius: int):
    """Per-column [lo_j, hi_j] of admissible rows — identical band shape
    to kernels.dtw.sakoe_chiba_mask."""
    j = np.arange(m)
    if n >= m:
        lo = np.maximum(0, j - radius)
        hi = np.minimum(n - 1, j + (n - m) + radius)
    else:
        lo = np.maximum(0, j - ((m - n) + radius))
        hi = np.minimum(n - 1, j + radius)
    return lo, hi


def _local_1d(a_slice: np.ndarray, bj: float, metric: str) -> np.ndarray:
    d = a_slice - bj
    if metric == "sqeuclidean":
        return d * d
    if metric in ("euclidean", "cityblock", "manhattan", "chebyshev"):
        return np.abs(d)
    raise ValueError(f"banded 1-D kernel does not support metric {metric!r}")


def _split_steps(step_pattern: StepPattern):
    """Horizontal ``(dx, dy, w)`` steps and the (at most one) vertical."""
    steps = step_pattern.to_numpy()
    horiz = [(int(dx), int(dy), float(w)) for dx, dy, w in steps if dx > 0]
    vert = [(int(dx), int(dy), float(w)) for dx, dy, w in steps if dx == 0]
    if len(vert) > 1 or any(dy != 1 for _, dy, _ in vert):
        raise NotImplementedError("one vertical dy=1 step max")
    return horiz, vert


def dtw_banded_distance(
    a: np.ndarray,
    b: np.ndarray,
    radius: int = 1,
    metric: str = "euclidean",
    step_pattern: StepPattern | str = "symmetric1",
) -> float:
    """Banded DTW distance between two 1-D series."""
    radius = check_radius(radius)
    if isinstance(step_pattern, str):
        step_pattern = PATTERNS[step_pattern]
    a = np.asarray(a, dtype=np.float64).ravel()
    b = np.asarray(b, dtype=np.float64).ravel()
    n, m = a.size, b.size
    if n == 0 or m == 0:
        return 0.0 if n == m else float("inf")

    horiz, vert = _split_steps(step_pattern)
    max_dx = max(dx for dx, _, _ in horiz)

    lo, hi = _band_bounds(n, m, radius)
    cols: list[np.ndarray] = []  # ring buffer of the last max_dx columns
    for j in range(m):
        l, h = int(lo[j]), int(hi[j])
        width = h - l + 1
        local = _local_1d(a[l : h + 1], b[j], metric)
        bvec = np.full(width, BIG)
        if j == 0 and l == 0:
            bvec[0] = local[0]
        for dx, dy, wgt in horiz:
            if j - dx < 0:
                continue
            parr = cols[-dx]
            pl, ph = int(lo[j - dx]), int(hi[j - dx])
            # cand[i] = D[i - dy, j - dx] + local[i] * wgt
            # overlap of [l, h] (minus dy) with [pl, ph]:
            i0 = max(l, pl + dy)
            i1 = min(h, ph + dy)
            if i0 > i1:
                continue
            cand = parr[i0 - dy - pl : i1 - dy - pl + 1] + local[i0 - l : i1 - l + 1] * wgt
            seg = bvec[i0 - l : i1 - l + 1]
            np.minimum(seg, cand, out=seg)
        if vert:
            (_, _, wgt) = vert[0]
            C = np.cumsum(local * wgt)
            scan = np.minimum.accumulate(bvec - C) + C
            np.minimum(bvec, scan, out=bvec)
        np.minimum(bvec, BIG, out=bvec)
        cols.append(bvec)
        if len(cols) > max_dx:
            cols.pop(0)

    terminal = cols[-1][-1] if int(hi[m - 1]) == n - 1 else BIG
    if terminal >= BIG / 2:
        return float("inf")
    return step_pattern.normalize(float(terminal), n, m)


def _lockstep(a_arrs, b_arrs, n, m, k_lo, k_hi, diag, horiz, vert, sq):
    """Unnormalized terminal cost of one bucket of pairs.

    ``n``, ``m``, ``k_lo`` and ``k_hi`` are int64 arrays over the
    bucket's pairs, sorted by ``m`` descending; ``diag`` picks the lane
    layout for all of them (module docstring).
    """
    P = n.size
    W = k_hi - k_lo + 1 if diag else n
    Wm = int(W.max())
    m_max = int(m[0])
    off = k_lo if diag else np.zeros_like(k_lo)
    # A[t, p] = a_p[t + off_p]: column j's lanes are rows t = j + lane
    # (diagonals) or t = lane (rows), so a local cost is one slice
    A = np.zeros((m_max + Wm - 1 if diag else Wm, P))
    B = np.zeros((m_max, P))
    for p in range(P):
        A[-off[p] : n[p] - off[p], p] = a_arrs[p]
        B[: m[p], p] = b_arrs[p]

    # lane offset of each step's source column
    g = 1 if diag else 0
    steps = [(dx, w, g * dx - dy) for dx, dy, w in horiz]
    ring = np.empty((max(dx for dx, _, _ in steps) + 1, Wm, P))
    bufs = np.empty((4 if vert else 2, Wm, P))  # local, cand, cumsum, scan
    lane = np.arange(Wm)[:, None]
    pairs = np.arange(P)
    top = lane >= W if int(W.min()) < Wm else None
    # active pairs at column j are the prefix [:c_at[j]]
    c_at = np.searchsorted(-m, -np.arange(m_max + 1), side="left")
    # columns where all of a pair's W lanes are in its band; outside
    # them ("edge" columns) some lanes fall before row 0 or past row n-1
    if diag:
        in_lo = np.maximum.accumulate(-k_lo)
        in_hi = np.minimum.accumulate(n - k_lo - W)
    else:
        in_lo = np.maximum.accumulate(n - 1 - k_hi)
        in_hi = np.minimum.accumulate(-k_lo)
    cols = np.arange(m_max)
    edge = (cols < in_lo[c_at[:-1] - 1]) | (cols > in_hi[c_at[:-1] - 1])

    def bounds(j, c):
        """Each active pair's band lanes [va, vb) at column j."""
        if not edge[j]:
            return None, W[:c]
        lo = np.maximum(j + k_lo[:c], 0)
        hi = np.minimum(j + k_hi[:c], n[:c] - 1) + 1
        if diag:
            base = j + k_lo[:c]
            return lo - base, hi - base
        return lo, hi

    row0 = -k_lo if diag else np.zeros_like(k_lo)
    term = n - m - k_lo if diag else n - 1
    terminal = np.full(P, BIG)
    c = -1
    for j in range(m_max):
        if c_at[j] != c:
            # views over the running prefix, rebuilt when pairs finish
            c = int(c_at[j])
            A_c, B_c = A[:, :c], B[:, :c]
            top_c = None if top is None else top[:, :c]
            col_c = ring[:, :, :c]
            local, cand_c, *scan_c = bufs[:, :, :c]
        np.subtract(A_c[j * g : j * g + Wm], B_c[j], out=local)
        if sq:
            np.multiply(local, local, out=local)
        else:
            np.abs(local, out=local)
        bvec = col_c[j % len(ring)]
        filled = False
        for dx, w, o in steps:
            if j < dx:
                continue
            prev = col_c[(j - dx) % len(ring)]
            l0, l1 = max(0, -o), min(Wm, Wm - o)
            if l0 >= l1:
                continue
            if not filled and l0 == 0 and l1 == Wm:
                # min(BIG, cand) written straight into the column
                if w == 1.0:
                    # x * 1.0 is bitwise x for every float
                    np.add(prev, local, out=bvec)
                else:
                    np.multiply(local, w, out=bvec)
                    bvec += prev
                np.minimum(bvec, BIG, out=bvec)
                filled = True
                continue
            if not filled:
                bvec.fill(BIG)
                filled = True
            cand = cand_c[l0:l1]
            if w == 1.0:
                np.add(prev[l0 + o : l1 + o], local[l0:l1], out=cand)
            else:
                np.multiply(local[l0:l1], w, out=cand)
                cand += prev[l0 + o : l1 + o]
            seg = bvec[l0:l1]
            np.minimum(seg, cand, out=seg)
        if not filled:
            bvec.fill(BIG)
        if j == 0:
            bvec[row0[:c], pairs[:c]] = local[row0[:c], pairs[:c]]
        va, vb = bounds(j, c)
        if vert:
            if va is not None:
                # lanes before row lo_j: the scan must start at lo_j
                # with C == 0 and bvec == BIG, exactly as the scalar does
                lead = lane < va
                np.copyto(local, 0.0, where=lead)
                np.copyto(bvec, BIG, where=lead)
            wgt = vert[0][2]
            C, scan = scan_c
            np.add.accumulate(local if wgt == 1.0 else local * wgt, axis=0, out=C)
            np.subtract(bvec, C, out=scan)
            np.minimum.accumulate(scan, axis=0, out=scan)
            scan += C
            np.minimum(bvec, scan, out=bvec)
        elif j > 0 and (
            top is not None or any(edge[j - dx] for dx, _, _ in steps if j >= dx)
        ):
            # no vertical step: a cell none of whose sources is in the
            # band keeps BIG in the scalar kernel, whatever its local
            # cost (an out-of-band source lane holds BIG, and BIG + NaN
            # would be NaN)
            nosrc = np.ones(bvec.shape, dtype=bool)
            for dx, _, o in steps:
                if j >= dx:
                    sa, sb = bounds(j - dx, c)
                    ok = lane < sb - o
                    ok &= lane >= (0 if sa is None else sa) - o
                    nosrc &= ~ok
            np.copyto(bvec, BIG, where=nosrc)
        # lanes outside the band hold BIG for the next columns' reads
        if va is not None:
            np.copyto(bvec, BIG, where=(lane < va) | (lane >= vb))
        elif top_c is not None:
            np.copyto(bvec, BIG, where=top_c)
        c_next = int(c_at[j + 1])
        if c_next < c:
            fin = pairs[c_next:c]
            terminal[fin] = bvec[term[fin], fin]
    return terminal


def _buckets(W: np.ndarray, m: np.ndarray, ring: int) -> list[np.ndarray]:
    """Cut pairs into buckets: contiguous runs of ``W`` order picked by a
    DP over the kernel's cost, each split to fit ``_BUCKET_CELLS``.

    Returns index arrays, each sorted by ``m`` descending."""
    order = np.argsort(W, kind="stable")
    Ws, ms = W[order], m[order]
    # groups of equal W; group g is order[edges[g] : edges[g + 1]]
    starts = np.flatnonzero(np.r_[True, Ws[1:] != Ws[:-1]])
    edges = np.r_[starts, Ws.size]
    g_w = Ws[starts]
    g_max = np.maximum.reduceat(ms, starts)
    sum_m = np.r_[0, np.cumsum(np.add.reduceat(ms, starts))]

    def cells(m_max, w):
        # A, B, the column ring, local/cand/cumsum/scan
        return 2 * m_max + (ring + 5) * w

    G = starts.size
    best = np.zeros(G + 1)
    cut = np.zeros(G + 1, dtype=np.int64)
    for e in range(1, G + 1):
        run_max = np.maximum.accumulate(g_max[e - 1 :: -1])[::-1]
        run_cells = (edges[e] - edges[:e]) * cells(run_max, g_w[e - 1])
        n_split = np.ceil(run_cells / _BUCKET_CELLS)
        cost = (
            best[:e]
            + _COLUMN_S * n_split * run_max
            + _CELL_S * g_w[e - 1] * (sum_m[e] - sum_m[:e])
        )
        cut[e] = int(np.argmin(cost))
        best[e] = cost[cut[e]]
    out = []
    e = G
    while e > 0:
        s = cut[e]
        run = order[edges[s] : edges[e]]
        run = run[np.argsort(-m[run], kind="stable")]
        w = int(g_w[e - 1])
        i = 0
        while i < run.size:
            take = max(1, _BUCKET_CELLS // cells(int(m[run[i]]), w))
            out.append(run[i : i + take])
            i += take
        e = s
    return out


def dtw_banded_batch(
    a_list,
    b_list,
    radius: int = 1,
    metric: str = "euclidean",
    step_pattern: StepPattern | str = "symmetric1",
) -> np.ndarray:
    """Banded DTW over ragged pair lists, lockstep-batched.

    ``a_list``/``b_list`` are sequences of 1-D arrays (any lengths).
    Returns the distances in input order, bit-identical to
    :func:`dtw_banded_distance` per pair. Empty series follow its
    convention (0.0 if both empty else inf).
    """
    radius = check_radius(radius)
    if isinstance(step_pattern, str):
        step_pattern = PATTERNS[step_pattern]
    if metric == "sqeuclidean":
        sq = True
    elif metric in ("euclidean", "cityblock", "manhattan", "chebyshev"):
        sq = False
    else:
        raise ValueError(f"banded 1-D kernel does not support metric {metric!r}")
    horiz, vert = _split_steps(step_pattern)
    ring = max(dx for dx, _, _ in horiz) + 1

    a_arrs = [np.asarray(s, dtype=np.float64).ravel() for s in a_list]
    b_arrs = [np.asarray(s, dtype=np.float64).ravel() for s in b_list]
    n = np.array([s.size for s in a_arrs], dtype=np.int64)
    m = np.array([s.size for s in b_arrs], dtype=np.int64)
    out = np.where(n == m, 0.0, np.inf)  # empty-series convention
    k_lo = -radius - np.maximum(m - n, 0)
    k_hi = radius + np.maximum(n - m, 0)
    diag = k_hi - k_lo + 1 <= n
    for layout in (True, False):
        idx = np.flatnonzero((n > 0) & (m > 0) & (diag == layout))
        if idx.size == 0:
            continue
        W = k_hi[idx] - k_lo[idx] + 1 if layout else n[idx]
        for bucket in _buckets(W, m[idx], ring):
            sel = idx[bucket]
            terminal = _lockstep(
                [a_arrs[r] for r in sel],
                [b_arrs[r] for r in sel],
                n[sel], m[sel], k_lo[sel], k_hi[sel],
                layout, horiz, vert, sq,
            )
            out[sel] = np.where(
                terminal >= BIG / 2,
                np.inf,
                step_pattern.normalize(terminal, n[sel], m[sel]),
            )
    return out
