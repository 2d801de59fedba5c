"""Seeded input generator for the benchmark.

Everything the workloads feed the engine comes from here, and every
oracle is computed from the same numpy arrays, never from what the
engine wrote. The same seed always gives byte-identical inputs.

Series are clipped int32 random walks in the token-id range the
engine's sequence table uses (``doc_id, tokens, n_tok, source``).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VALUE_MAX = 50257


@dataclass
class Sequences:
    doc_ids: list[str]
    lengths: np.ndarray  # int64, one per doc
    offsets: np.ndarray  # int64, len(doc_ids) + 1
    values: np.ndarray  # int32, flat

    @property
    def points(self) -> int:
        return int(self.lengths.sum())

    def tokens(self, i: int) -> np.ndarray:
        return self.values[self.offsets[i] : self.offsets[i + 1]]

    def head(self, k: int) -> "Sequences":
        return Sequences(self.doc_ids[:k], self.lengths[:k],
                         self.offsets[: k + 1], self.values[: self.offsets[k]])

    def to_arrow(self) -> pa.Table:
        n = len(self.doc_ids)
        return pa.table(
            {
                "doc_id": pa.array(self.doc_ids, pa.string()),
                "tokens": pa.ListArray.from_arrays(
                    pa.array(self.offsets, pa.int32()),
                    pa.array(self.values, pa.int32()),
                ),
                "n_tok": pa.array(self.lengths.astype(np.int32), pa.int32()),
                "source": pa.array(["web"] * n, pa.string()),
            }
        )

    def write_parquet(self, path: str, n_files: int = 4) -> None:
        """One directory of ``n_files`` parquet files, so the scan is
        split across tasks the way a real multi-file table is."""
        import os

        os.makedirs(path, exist_ok=True)
        table = self.to_arrow()
        n = table.num_rows
        for f in range(n_files):
            lo, hi = f * n // n_files, (f + 1) * n // n_files
            pq.write_table(
                table.slice(lo, hi - lo),
                os.path.join(path, f"part-{f:03d}.parquet"),
                row_group_size=1024,
            )


def random_walks(rng: np.random.Generator, lengths: np.ndarray) -> np.ndarray:
    """Flat int32 values: one independent clipped walk per length."""
    lengths = np.asarray(lengths, dtype=np.int64)
    total = int(lengths.sum())
    steps = rng.integers(-3, 4, size=total, dtype=np.int64)
    offsets = np.concatenate(([0], np.cumsum(lengths)))
    walk = np.cumsum(steps)
    starts = offsets[:-1]
    base = np.where(starts > 0, walk[np.maximum(starts - 1, 0)], 0)
    origin = rng.integers(500, 2000, size=lengths.size)
    values = walk - np.repeat(base, lengths) + np.repeat(origin, lengths)
    return np.clip(values, 0, VALUE_MAX).astype(np.int32)


def make_sequences(
    rng: np.random.Generator,
    n: int,
    len_lo: int,
    len_hi: int,
    prefix: str = "doc",
    doc_ids: list[str] | None = None,
) -> Sequences:
    """``n`` series whose lengths spread evenly over [len_lo, len_hi]
    in a seeded order: every seed has the same length mix and total,
    so runs with different seeds do the same amount of work."""
    lengths = rng.permutation(np.linspace(len_lo, len_hi, n).round().astype(np.int64))
    values = random_walks(rng, lengths)
    ids = doc_ids if doc_ids is not None else [f"{prefix}-{i:06d}" for i in range(n)]
    offsets = np.concatenate(([0], np.cumsum(lengths))).astype(np.int64)
    return Sequences(ids, lengths, offsets, values)


def make_dtw_pool(
    rng: np.random.Generator,
    block: int,
    outliers: int,
    body: tuple[int, int] = (64, 256),
    tail: tuple[int, int] = (768, 1024),
) -> tuple[Sequences, np.ndarray]:
    """A candidate pool of ``2 * block`` series plus a ``sel_key`` per
    series.

    Sorting by ``sel_key`` and taking the first ``block`` rows selects
    exactly ``block - outliers`` body-length series and ``outliers``
    long ones, so every seed's block has the same length mix (a heavy
    tail of a fixed size) and pair throughput compares across seeds.
    """
    n = 2 * block
    lengths = rng.integers(body[0], body[1] + 1, size=n).astype(np.int64)
    sel_key = np.empty(n, dtype=np.int64)
    in_block = rng.permutation(block)
    out_block = block + rng.permutation(block)
    # rows [0, block) become the selected block; the first `outliers`
    # of them, and as many of the rest, get long lengths
    sel_key[:block] = in_block
    sel_key[block:] = out_block
    long_rows = np.concatenate((np.arange(outliers), block + np.arange(outliers)))
    lengths[long_rows] = rng.integers(tail[0], tail[1] + 1, size=long_rows.size)
    values = random_walks(rng, lengths)
    order = rng.permutation(n)  # doc ids carry no hint of selection
    ids = [f"dtw-{int(order[i]):05d}" for i in range(n)]
    offsets = np.concatenate(([0], np.cumsum(lengths))).astype(np.int64)
    return Sequences(ids, lengths, offsets, values), sel_key
