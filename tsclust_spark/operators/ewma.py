"""Exponentially weighted moving average per series.

EWMA is a sequential recurrence (y_i = (1-a)*y_{i-1} + a*x_i, seeded
y_0 = x_0), so unlike the RANGE-frame rolling stats it cannot be a SQL
window aggregate.  :class:`EwmaSpec` states the step; the shared
recurrence engine (:mod:`tsclust_spark.kernels.recurrence`) runs it,
bit-identical to the scalar oracle :func:`_ewma_scalar` (asserted in
tests/test_ewma_tfidf.py).

Determinism: the recurrence order is the sort order.  ``tiebreak_col``
(ADVICE r3) totalizes the order for duplicate (key, ts) rows so the
result cannot depend on shuffle arrival; callers gated against an
ORDER BY (ts, id) oracle must pass the same id column.

Scale note: a single series' timeline is still processed sequentially
within its task (inherent to the recurrence).  For one pathologically
hot key, chunk the timeline into time buckets, compute per-chunk
partials, and stitch with the carry ``y_end(c) = (1-a)^len(c) *
y_end(c-1) + local(c)`` — one summary row per chunk, metadata-scale.
The unsplit operator here is correct for keys whose history fits a
task; the cross-batch carry below already streams a long key through
successive Arrow batches with O(1) state.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tsclust_spark.kernels import recurrence


def _ewma_scalar(x: np.ndarray, alpha: float) -> np.ndarray:
    """Reference kernel: the literal per-point recurrence.

    Kept as the bit-exactness oracle for :class:`EwmaSpec` (and for
    the recursive-CTE SQL twin, which steps the same IEEE ops:
    y = beta*y_prev + alpha*x, seeded y_0 = x_0).  Not the hot path.
    """
    beta = 1.0 - alpha
    y = np.empty_like(x, dtype=np.float64)
    if x.size:
        acc = x[0]
        y[0] = acc
        for i in range(1, x.size):
            acc = beta * acc + alpha * x[i]
            y[i] = acc
    return y


class EwmaSpec:
    """The EWMA step for :mod:`tsclust_spark.kernels.recurrence`: state
    and output ``y``, seeded ``y_0 = x_0``."""

    n_state, lag = 1, 0

    def __init__(self, alpha: float):
        if not 0.0 < alpha <= 1.0:
            raise ValueError("alpha must be in (0, 1]")
        self.alpha, self.beta = alpha, 1.0 - alpha

    def seed(self, x0):
        return [x0], (x0,)

    def step(self, st, x):
        st[0] *= self.beta
        st[0] += self.alpha * x
        return (st[0],)


class _ChunkLocal(EwmaSpec):
    """:func:`ewma_chunked`'s local pass: the EWMA step from state 0
    (``l_0 = alpha*x_0``) plus each row's position in its chunk."""

    n_state = 2

    def seed(self, x0):
        st = [self.alpha * x0, np.zeros(x0.size, dtype=np.int64)]
        return st, tuple(st)

    def step(self, st, x):
        st[1] += 1
        return EwmaSpec.step(self, st, x) + (st[1],)


def ewma(
    df: DataFrame,
    alpha: float,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    out_col: str = "ewma_value",
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Append the EWMA of ``value_col`` per key, ordered by
    (ts_col, tiebreak_col).

    Pass ``tiebreak_col`` (a unique-per-(key, ts) column) whenever
    duplicate timestamps are possible — without it the recurrence order
    over ties is shuffle-arrival-dependent.
    """
    spec, names = EwmaSpec(alpha), (out_col,)

    def run(batches: Iterator) -> Iterator:
        return recurrence.run_batches(spec, batches, [key_col], value_col, names)

    return recurrence.plan(df, spec, run, names, [key_col], [ts_col, tiebreak_col])


def ewma_chunked(
    df: DataFrame,
    alpha: float,
    chunk: str = "1d",
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    out_col: str = "ewma_value",
    tiebreak_col: str | None = None,
) -> DataFrame:
    """EWMA for PATHOLOGICALLY HOT keys: parallelize one key's timeline.

    :func:`ewma` processes each key's whole history inside one task —
    correct until a single key's timeline outgrows a task (the classic
    hot-key wall: the job's wall clock tracks the hottest key no matter
    how many executors exist).  This variant is the parallel-scan
    (Blelloch) restructuring over time chunks:

    1. **local** — rows are grouped by ``(key, floor(ts, chunk))`` and
       each chunk computes a ZERO-SEEDED local recurrence
       ``l_i = beta*l_{i-1} + alpha*x_i`` (``l_{-1} = 0``) on the same
       recurrence engine as :func:`ewma` — chunks of one hot key now run
       in parallel across tasks;
    2. **carry** — one summary row per chunk ``(l_last, beta^len,
       x_first)`` is folded sequentially per key:
       ``carry(c) = l_last(c-1) + decay(c-1) * carry(c-1)``, seeded
       ``carry(0) = x_first(0)`` (which reproduces the ``y_0 = x_0``
       seed, since ``alpha*x_0 + beta*x_0 == x_0`` up to one rounding).
       This is metadata-scale: #chunks rows per key;
    3. **stitch** — a broadcast-scale join puts each chunk's carry back
       on its rows and the final value is pure JVM codegen:
       ``y = local + pow(beta, pos+1) * carry``.

    Linearity of the recurrence makes the stitch exact in real
    arithmetic; in floats the reassociation drifts by a few ULPs from
    the sequential order (bounded, tolerance-tested in
    tests/test_ewma_chunked.py).  Use :func:`ewma` when bit-equality
    with a sequential reference is required; use this when one key's
    history must not serialize the job.

    ``chunk`` accepts the tier spellings ``1m``/``1h``/``1d``.
    """
    if not 0.0 < alpha < 1.0:
        raise ValueError("alpha must be in (0, 1) for the chunked variant")
    from pyspark.sql.types import DoubleType, StructType

    trunc = {"1m": "minute", "1h": "hour", "1d": "day"}[chunk]
    beta = 1.0 - alpha
    chunk_col, local_col, pos_col = "_ew_chunk", "_ew_local", "_ew_pos"
    carry_col = "_ew_carry"
    cols = [f.name for f in df.schema.fields if f.name != out_col]

    base = df.withColumn(chunk_col, F.date_trunc(trunc, F.col(ts_col)))
    spec, names = _ChunkLocal(alpha), (local_col, pos_col)

    def run_local(batches: Iterator) -> Iterator:
        return recurrence.run_batches(
            spec, batches, [key_col, chunk_col], value_col, names
        )

    local = recurrence.plan(
        base, spec, run_local, names, [key_col, chunk_col], [ts_col, tiebreak_col]
    )

    # one summary row per (key, chunk): l_last at the max pos, x_first
    # at pos 0, len.  Partial (map-side) aggregation collapses each
    # chunk to one row before the shuffle, so the Exchange here carries
    # summary-scale data (#chunks rows), not points
    summaries = local.groupBy(key_col, chunk_col).agg(
        F.max(
            F.struct(F.col(pos_col).alias("p"), F.col(local_col).alias("v"))
        )["v"].alias("_l_last"),
        F.min(
            F.struct(F.col(pos_col).alias("p"), F.col(value_col).alias("v"))
        )["v"].alias("_x_first"),
        (F.max(pos_col) + 1).alias("_len"),
    )

    s_schema = StructType(
        [
            base.schema[key_col],
            base.schema[chunk_col],
        ]
    ).add(carry_col, DoubleType())

    def run_carry(batches: Iterator) -> Iterator:
        import pandas as pd

        prev = None  # (key, carry_out) across batches
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ks = pdf[key_col].to_numpy()
            cs = pdf[chunk_col].to_numpy()
            l_last = pdf["_l_last"].to_numpy(dtype=np.float64)
            x_first = pdf["_x_first"].to_numpy(dtype=np.float64)
            lens = pdf["_len"].to_numpy(dtype=np.float64)
            carr = np.empty(len(pdf), dtype=np.float64)
            for i in range(len(pdf)):
                if prev is not None and prev[0] == ks[i]:
                    carry_in = prev[1]
                else:
                    carry_in = x_first[i]
                carr[i] = carry_in
                prev = (ks[i], l_last[i] + beta ** lens[i] * carry_in)
            yield pd.DataFrame(
                {key_col: ks, chunk_col: cs, carry_col: carr}
            )

    carries = (
        summaries.repartition(key_col)
        .sortWithinPartitions(key_col, chunk_col)
        .mapInPandas(run_carry, schema=s_schema)
    )

    # stitch: pure JVM codegen, no Python in the per-row path
    out = (
        local.join(carries, on=[key_col, chunk_col])
        .withColumn(
            out_col,
            F.col(local_col)
            + F.pow(F.lit(beta), F.col(pos_col) + 1) * F.col(carry_col),
        )
        .drop(chunk_col, local_col, pos_col, carry_col)
    )
    return out.select(*cols, out_col)
