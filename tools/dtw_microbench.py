"""Pure-numpy microbenchmark for the banded-DTW batch kernel.

Times ``dtw_banded_batch`` (radius 8, symmetric2, euclidean) on three
batch shapes, without Spark:

- ``serve``: the serve workload's DTW block, 63 walks of U[64,256]
  points plus one of U[512,640], all 2,016 pairs in 8 batches;
- ``block512``: the bench ``dtw_block_512`` mix, 512 walks of
  min(U[64,512), 256) points, 2,048 random pairs per batch, 4 batches;
- ``uniform``: 2,048 pairs of 256-point walks in one batch.

For each shape it asserts that every distance is bit-identical to the
scalar ``dtw_banded_distance``, prints the best wall of ``REPS`` runs
and the ``tracemalloc`` peak of one more run. Run from the repo root:

    python tools/dtw_microbench.py
"""
from __future__ import annotations

import os
import sys
import time
import tracemalloc

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tsclust_spark.kernels.dtw_banded import (  # noqa: E402
    dtw_banded_batch,
    dtw_banded_distance,
)

ARGS = (8, "euclidean", "symmetric2")
REPS = 5


def walk(rng, n: int) -> np.ndarray:
    steps = rng.integers(-3, 4, size=int(n))
    return np.clip(np.cumsum(steps) + 1000, 0, 50257).astype(np.float64)


def serve_batches():
    rng = np.random.default_rng(101)
    docs = [walk(rng, rng.integers(64, 257)) for _ in range(63)]
    docs.append(walk(rng, rng.integers(512, 641)))
    ia, ib = np.triu_indices(len(docs), 1)
    perm = rng.permutation(ia.size)
    return [
        ([docs[i] for i in ia[part]], [docs[j] for j in ib[part]])
        for part in np.array_split(perm, 8)
    ]


def block512_batches():
    rng = np.random.default_rng(42)
    docs = [walk(rng, n) for n in np.minimum(rng.integers(64, 512, size=512), 256)]
    out = []
    for _ in range(4):
        ia = rng.integers(0, len(docs), size=2048)
        ib = rng.integers(0, len(docs), size=2048)
        out.append(([docs[i] for i in ia], [docs[j] for j in ib]))
    return out


def uniform_batches():
    rng = np.random.default_rng(7)
    return [
        ([walk(rng, 256) for _ in range(2048)], [walk(rng, 256) for _ in range(2048)])
    ]


SHAPES = {
    "serve": serve_batches,
    "block512": block512_batches,
    "uniform": uniform_batches,
}


def run(batches) -> list[np.ndarray]:
    return [dtw_banded_batch(a, b, *ARGS) for a, b in batches]


def main():
    for name, make in SHAPES.items():
        batches = make()
        pairs = sum(len(a) for a, _ in batches)
        got = np.concatenate(run(batches))
        want = np.array(
            [dtw_banded_distance(x, y, *ARGS) for a, b in batches for x, y in zip(a, b)]
        )
        assert np.array_equal(got, want), (name, np.flatnonzero(got != want)[:10])
        walls = []
        for _ in range(REPS):
            t0 = time.perf_counter()
            run(batches)
            walls.append(time.perf_counter() - t0)
        tracemalloc.start()
        run(batches)
        peak = tracemalloc.get_traced_memory()[1]
        tracemalloc.stop()
        best = min(walls)
        print(
            f"{name}: {pairs} pairs in {len(batches)} batches, bit-identical; "
            f"best {best:.3f}s ({pairs / best:,.0f} pairs/s), "
            f"walls {[round(w, 3) for w in walls]}, "
            f"tracemalloc peak {peak / 2**20:.1f} MB",
            flush=True,
        )


if __name__ == "__main__":
    main()
