"""Arrow/numpy 1m-rollup kernel — the Python-worker twin of the JVM
array fast path (operators/rollup.py::rollup_sequences_1m_fast).

Motivation (measured in this sandbox): Arrow-batched Python workers
scale across cores at ~1.0 efficiency while the JVM array-expression
path saturates earlier; this kernel exists so the engine can pick the
better physical strategy per deployment (the semantics are identical
and bit-exact — asserted in tests/test_fastpath.py).

Fully vectorized per Arrow batch, no per-point Python:
- all rows' tokens concatenated once;
- per-bucket boundaries computed arithmetically;
- sum via ``np.add.reduceat`` (on an int64 view, overflow-safe for any
  int32 input), min/max via ``minimum/maximum.reduceat`` on the native
  int32 (half the memory traffic — the kernel is bandwidth-bound, so
  bytes moved is what limits multi-core scaling);
- lower-medoid rep: full 60-point buckets are gathered into an (m, 60)
  int32 matrix, one vectorized ``np.partition`` selects the median;
  partial tail buckets (at most one per row) are grouped BY LENGTH and
  each length class is selected vectorized — ≤59 numpy calls per batch
  instead of a per-row Python loop (which measured ~85% of kernel time).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

T0_EPOCH_DEFAULT = 1704067200  # 2024-01-01 00:00:00 UTC


def rollup_1m_flat(
    values: np.ndarray, lengths: np.ndarray, per_bucket: int = 60
) -> dict[str, np.ndarray]:
    """Core kernel over the FLAT representation: ``values`` is every
    kept row's tokens concatenated (exactly an Arrow list array's values
    buffer), ``lengths`` the per-row counts (zero-length rows allowed —
    they produce no buckets). This is the zero-copy ``mapInArrow``
    entry: no per-row Python objects anywhere."""
    keep = lengths > 0
    if not keep.any():
        return {k: np.empty(0, dtype=np.int64) for k in
                ("row_idx", "bucket_idx", "min", "max", "sum", "count", "rep")}
    values = np.ascontiguousarray(values)
    lengths = lengths[keep]
    row_map = np.flatnonzero(keep)
    n_rows = lengths.size
    row_starts = np.concatenate(([0], np.cumsum(lengths)[:-1]))
    nb = -(-lengths // per_bucket)  # buckets per row
    total_b = int(nb.sum())

    bucket_row = np.repeat(np.arange(n_rows), nb)
    # within-row bucket index 0..nb-1
    b0 = np.concatenate(([0], np.cumsum(nb)[:-1]))
    k = np.arange(total_b) - np.repeat(b0, nb)
    boundaries = row_starts[bucket_row] + k * per_bucket

    # sums accumulate directly in int64 via the ufunc dtype (exact for
    # any int32 input) WITHOUT materializing an int64 copy of the whole
    # buffer; min/max on the native int32 — the kernel is
    # memory-bandwidth-bound, so every avoided pass/copy counts
    sums = np.add.reduceat(values, boundaries, dtype=np.int64)
    mins = np.minimum.reduceat(values, boundaries)
    maxs = np.maximum.reduceat(values, boundaries)
    counts = np.diff(np.append(boundaries, values.size))

    reps = np.empty(total_b, dtype=values.dtype)
    full = counts == per_bucket
    # int32 gather indices when the flat buffer allows it: the index
    # matrix is the kernel's single biggest allocation (buckets x 60),
    # and int64 indices would move 2x the bytes of the data they gather
    idx_t = np.int32 if values.size < 2**31 else np.int64
    if full.any():
        med = (per_bucket + 1) // 2 - 1
        gather = (
            boundaries[full].astype(idx_t)[:, None]
            + np.arange(per_bucket, dtype=idx_t)[None, :]
        )
        reps[full] = np.partition(values[gather], med, axis=1)[:, med]
    part = np.flatnonzero(~full)
    if part.size:
        # vectorize the ragged tails by length class: one selection per
        # distinct tail length (<= per_bucket-1 classes) instead of a
        # per-row Python loop
        tail_counts = counts[part]
        for ln in np.unique(tail_counts):
            sel = part[tail_counts == ln]
            med = (int(ln) + 1) // 2 - 1
            gather = (
                boundaries[sel].astype(idx_t)[:, None]
                + np.arange(int(ln), dtype=idx_t)[None, :]
            )
            reps[sel] = np.partition(values[gather], med, axis=1)[:, med]

    return {
        "row_idx": row_map[bucket_row],
        "bucket_idx": k,
        "min": mins,
        "max": maxs,
        "sum": sums,
        "count": counts,
        "rep": reps,
    }


ROLLUP_1M_SCHEMA = (
    "doc_id string, bucket_ts timestamp, min_value int, max_value int, "
    "sum_value bigint, count_value bigint, rep_value int, mean_value double"
)


def rollup_sequences_1m_arrow(
    seq_df: DataFrame,
    t0_epoch: int = T0_EPOCH_DEFAULT,
    step_seconds: int = 1,
) -> DataFrame:
    """``mapInArrow`` surface; output schema/order matches the JVM fast
    path. The Arrow list column's flat values buffer + value lengths go
    STRAIGHT into the numpy kernel — no pandas materialization, no
    per-row Python objects (a measured ~2.5x on the Spark-side wall vs
    the earlier mapInPandas wrapper; the numpy kernel itself was never
    the bottleneck)."""
    if 60 % step_seconds != 0:
        raise ValueError("fast path needs step_seconds dividing 60")
    per_bucket = 60 // step_seconds

    def compute(batches: Iterator) -> Iterator:
        import pyarrow as pa

        out_fields = pa.schema(
            [
                ("doc_id", pa.string()),
                ("bucket_ts", pa.timestamp("us")),
                ("min_value", pa.int32()),
                ("max_value", pa.int32()),
                ("sum_value", pa.int64()),
                ("count_value", pa.int64()),
                ("rep_value", pa.int32()),
                ("mean_value", pa.float64()),
            ]
        )
        for batch in batches:
            tok = batch.column(batch.schema.get_field_index("tokens"))
            doc = batch.column(batch.schema.get_field_index("doc_id"))
            # flatten() honors the array's slice offset; value_lengths
            # gives per-row counts (mandated schema: tokens non-null)
            values = tok.flatten().to_numpy(zero_copy_only=False)
            lengths = tok.value_lengths().to_numpy(zero_copy_only=False)
            lengths = np.asarray(lengths, dtype=np.int64)
            cols = rollup_1m_flat(values, lengths, per_bucket)
            n = len(cols["row_idx"])
            if n == 0:
                continue
            ts_us = (t0_epoch + cols["bucket_idx"] * 60) * 1_000_000
            yield pa.RecordBatch.from_arrays(
                [
                    doc.take(pa.array(cols["row_idx"], pa.int64())),
                    pa.array(ts_us, pa.timestamp("us")),
                    pa.array(cols["min"].astype(np.int32), pa.int32()),
                    pa.array(cols["max"].astype(np.int32), pa.int32()),
                    pa.array(cols["sum"], pa.int64()),
                    pa.array(cols["count"], pa.int64()),
                    pa.array(cols["rep"].astype(np.int32), pa.int32()),
                    pa.array(cols["sum"] / cols["count"], pa.float64()),
                ],
                schema=out_fields,
            )

    return seq_df.select("doc_id", "tokens").mapInArrow(
        compute, schema=ROLLUP_1M_SCHEMA
    )
