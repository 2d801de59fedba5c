"""Arrow/numpy tier kernel: each sequence's 1m, 1h and 1d rows in one
map-only ``mapInArrow`` pass -- the Python-worker twin of the JVM array
fast path (operators/rollup.py::rollup_sequences_1m_fast) followed by
the JVM cascade (plans/rollup_job.py::_cascade_with_rep).

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
  instead of a per-row Python loop (which measured ~85% of kernel time);
- 1h from 1m and 1d from 1h: ``reduceat`` over runs of equal (row,
  bucket start) and one ``lexsort`` per step for the medoid-of-medoids.
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
TIERS_SCHEMA = "tier string, " + ROLLUP_1M_SCHEMA

# the tiers cascaded from 1m inside the worker, with their bucket width
CASCADE = (("1h", 3600 * 1_000_000), ("1d", 86400 * 1_000_000))


def cascade_flat(
    cols: dict[str, np.ndarray], starts: np.ndarray
) -> dict[str, np.ndarray]:
    """One cascade step over a tier's rows (ordered by row, then
    bucket): the groups are runs of equal (``row_idx``, ``starts``), so
    min/max/sum/count are exact ``reduceat``s, and ``rep`` is the lower
    median of the members' reps -- the medoid-of-medoids the JVM
    cascade takes with ``element_at(sort_array(collect_list(rep)),
    (size + 1) / 2)``. Returns the next tier's columns, ``ts`` holding
    the group starts."""
    row = cols["row_idx"]
    new = np.ones(row.size, dtype=bool)
    new[1:] = (row[1:] != row[:-1]) | (starts[1:] != starts[:-1])
    bounds = np.flatnonzero(new)
    members = np.diff(np.append(bounds, row.size))
    # sorting by (group, rep) keeps every group at its own positions
    group = np.repeat(np.arange(bounds.size), members)
    reps = cols["rep"][np.lexsort((cols["rep"], group))]
    return {
        "row_idx": row[bounds],
        "ts": starts[bounds],
        "min": np.minimum.reduceat(cols["min"], bounds),
        "max": np.maximum.reduceat(cols["max"], bounds),
        "sum": np.add.reduceat(cols["sum"], bounds),
        "count": np.add.reduceat(cols["count"], bounds),
        "rep": reps[bounds + (members + 1) // 2 - 1],
    }


def session_zone(spark) -> tuple[int, str | None]:
    """The session time zone, resolved the way Spark resolves it:
    ``(offset_us, None)`` for a fixed offset (UTC included), else
    ``(0, region id)``."""
    from tsclust_spark.hadoopfs import jvm_class

    utils = jvm_class(spark, "org.apache.spark.sql.catalyst.util.DateTimeUtils")
    zone = utils.getZoneId(spark.conf.get("spark.sql.session.timeZone"))
    zone = zone.normalized()  # a ZoneOffset when the offset is fixed
    if zone.getRules().isFixedOffset():
        return zone.getTotalSeconds() * 1_000_000, None
    return 0, zone.getId()


def _offsets_us(ts_us: np.ndarray, region: str) -> np.ndarray:
    """UTC offset of ``region`` at each instant, in microseconds."""
    import pyarrow as pa
    import pyarrow.compute as pc

    local = pc.local_timestamp(pa.array(ts_us, pa.timestamp("us", region)))
    return local.cast(pa.int64()).to_numpy() - ts_us


def floor_local(
    ts_us: np.ndarray, unit_us: int, zone: tuple[int, str | None]
) -> np.ndarray:
    """Floor epoch-microsecond instants to an hour or day of local time
    in ``zone`` (see :func:`session_zone`), as ``date_trunc`` does:
    the local wall time is truncated and keeps the instant's own offset
    when that offset is valid there; across a DST transition the valid
    offset is taken, and a truncated time inside a gap maps to the
    instant it would have had before the gap."""
    offset_us, region = zone
    if region is None:
        return (ts_us + offset_us) // unit_us * unit_us - offset_us
    own = _offsets_us(ts_us, region)
    local = (ts_us + own) // unit_us * unit_us
    out = local - own
    moved = np.flatnonzero(_offsets_us(out, region) != own)
    if moved.size:
        local, first = local[moved], out[moved]
        other = _offsets_us(first, region)
        alt = local - other
        # the other offset is valid at the truncated time, or it falls
        # in a gap: then the later instant is the pre-gap offset's
        out[moved] = np.where(
            _offsets_us(alt, region) == other, alt, np.maximum(first, alt)
        )
    return out


def rollup_sequences_tiers_arrow(
    seq_df: DataFrame,
    t0_epoch: int = T0_EPOCH_DEFAULT,
    step_seconds: int = 1,
) -> DataFrame:
    """``mapInArrow`` surface: every sequence's 1m, 1h and 1d rows in
    ONE map-only pass, tagged by a ``tier`` column (``TIERS_SCHEMA``).

    Each row holds a whole sequence, so every bucket of every tier lies
    inside one input row: the 1m rows come from :func:`rollup_1m_flat`,
    the 1h rows cascade from them and the 1d rows from the 1h rows
    (:func:`cascade_flat`), with hour and day starts floored in the
    session time zone (:func:`floor_local`). No shuffle, and the result
    equals the JVM cascade over the 1m tier row for row
    (tests/test_fastpath.py). The Arrow list column's flat values
    buffer and value lengths go straight into numpy -- no pandas, no
    per-row Python objects."""
    if 60 % step_seconds != 0:
        raise ValueError("fast path needs step_seconds dividing 60")
    per_bucket = 60 // step_seconds
    zone = session_zone(seq_df.sparkSession)

    def compute(batches: Iterator) -> Iterator:
        import pyarrow as pa

        out_fields = pa.schema(
            [
                ("tier", pa.string()),
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

        def tier_batch(tier: str, doc, cols: dict) -> pa.RecordBatch:
            return pa.RecordBatch.from_arrays(
                [
                    pa.repeat(tier, cols["row_idx"].size),
                    doc.take(pa.array(cols["row_idx"], pa.int64())),
                    pa.array(cols["ts"], pa.timestamp("us")),
                    pa.array(cols["min"].astype(np.int32), pa.int32()),
                    pa.array(cols["max"].astype(np.int32), pa.int32()),
                    pa.array(cols["sum"], pa.int64()),
                    pa.array(cols["count"], pa.int64()),
                    pa.array(cols["rep"].astype(np.int32), pa.int32()),
                    pa.array(cols["sum"] / cols["count"], pa.float64()),
                ],
                schema=out_fields,
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
            if len(cols["row_idx"]) == 0:
                continue
            cols["ts"] = (t0_epoch + cols["bucket_idx"] * 60) * 1_000_000
            yield tier_batch("1m", doc, cols)
            for tier, unit_us in CASCADE:
                cols = cascade_flat(cols, floor_local(cols["ts"], unit_us, zone))
                yield tier_batch(tier, doc, cols)

    return seq_df.select("doc_id", "tokens").mapInArrow(
        compute, schema=TIERS_SCHEMA
    )


def tier_slice(tiers: DataFrame, tier: str) -> DataFrame:
    """One tier's rows of :func:`rollup_sequences_tiers_arrow`, in
    ``ROLLUP_1M_SCHEMA``."""
    return tiers.filter(F.col("tier") == tier).drop("tier")


def rollup_sequences_1m_arrow(
    seq_df: DataFrame,
    t0_epoch: int = T0_EPOCH_DEFAULT,
    step_seconds: int = 1,
) -> DataFrame:
    """The 1m slice of :func:`rollup_sequences_tiers_arrow`; output
    schema and values match the JVM fast path
    (operators/rollup.py::rollup_sequences_1m_fast)."""
    return tier_slice(
        rollup_sequences_tiers_arrow(seq_df, t0_epoch, step_seconds), "1m"
    )
