"""One engine for the per-series recurrences (EWMA, EW-variance, Holt,
Holt-Winters, CUSUM).

Each output row of these operators depends on its series' state after
the previous row, so none is a SQL window aggregate.  Every operator
describes its recurrence as a *spec*, and this module runs it:

* ``spec.seed(x0)`` takes a numpy vector of first values, one per
  series, and returns ``(state, outputs)``: the state list after the
  first row and that row's outputs, all as arrays the caller may own.
* ``spec.step(st, x[, lagged])`` advances one row.  It updates the state
  list ``st`` and returns the row's outputs.  The same code runs on numpy
  vectors (one element per active series) and on Python floats, so both
  paths execute the same IEEE operations per element and agree bit for
  bit.  Augmented assignments update numpy state in place.
* The state is the first ``spec.n_state`` outputs, so a series' carry is
  its last output row.
* ``spec.lag`` is 0, or Holt-Winters' season ``m``.  With a lag, step
  also receives output ``n_state`` from ``lag`` rows back, or
  ``spec.neutral`` while the series is shorter than that.  Lockstep
  reads it from the output matrix; the point-by-point path and the carry
  keep the last ``lag`` values as a ring.

Batch operators (:func:`plan`, :func:`run_batches`) use one hash
Exchange on the key, ``sortWithinPartitions(key, ts[, tiebreak])`` and
one ``mapInPandas`` pass.  Rows of a series spanning Arrow batches
continue from an O(1) carry.  Each batch runs (:func:`run`) either in
lockstep across series (:func:`lockstep`: the time loop advances every
active series one step per iteration, so the interpreter cost is paid
per time step, not per point) or point by point (:func:`scalar`), which
wins for a few long series.  A series continuing a carry always runs
point by point.  The streaming twins (:func:`stream`) run the
point-by-point path per key and micro-batch, continuing from the stored
state, so stream equals batch by construction.

NaN propagates: a NaN value makes every later output of its series NaN
on every path.
"""

from __future__ import annotations

from itertools import chain
from typing import Iterator

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupStateTimeout

# Lockstep costs a fixed numpy overhead per time step, the scalar loop a
# fixed interpreter cost per point: lockstep wins once about this many
# points share a step of the longest series.  Both paths give the same
# bits, so the choice never shows in the output.
POINTS_PER_STEP = 14

_SPARK_TYPES = {"f": T.DoubleType(), "b": T.BooleanType(), "i": T.LongType()}


def max0(v):
    """``max(v, 0)`` that keeps NaN, in place on an array."""
    if isinstance(v, np.ndarray):
        return np.maximum(v, 0.0, out=v)
    return max(v, 0.0)


def lockstep(spec, x: np.ndarray, starts: np.ndarray) -> list[np.ndarray]:
    """Every series from its seed, all advancing one row per iteration.

    Series are packed longest first into a ``(series, time)`` matrix, so
    the active series are always a prefix that shrinks as short series
    finish: no masks in the loop.
    """
    n = x.size
    lens = np.diff(np.append(starts, n))
    order = np.argsort(-lens, kind="stable")
    lens_s, starts_s = lens[order], starts[order]
    g, max_len = lens.size, int(lens_s[0])
    idx = starts_s[:, None] + np.arange(max_len)[None, :]
    np.clip(idx, 0, n - 1, out=idx)
    X = np.asfortranarray(x[idx])  # Fortran order: columns are contiguous
    st, first = spec.seed(x[starts_s])
    out = [np.empty((g, max_len), o.dtype, order="F") for o in first]
    for o, v in zip(out, first):
        o[:, 0] = v
    k, lag = spec.n_state, spec.lag
    active = np.searchsorted(-lens_s, -np.arange(max_len), side="left").tolist()
    for t in range(1, max_len):
        c = active[t]  # the series longer than t
        views = [s[:c] for s in st]
        cur = list(views)
        lagged = (out[k][:c, t - lag] if t >= lag else spec.neutral,) if lag else ()
        row = spec.step(cur, X[:c, t], *lagged)
        for s, v, w in zip(st, views, cur):
            if w is not v:  # the step rebound this state instead of updating it
                s[:c] = w
        for o, v in zip(out, row):
            o[:c, t] = v
    inv = np.empty(g, dtype=np.int64)
    inv[order] = np.arange(g)
    series = inv[np.repeat(np.arange(g), lens)]
    pos = np.arange(n) - np.repeat(starts, lens)
    return [o[series, pos] for o in out]


def scalar(spec, x: np.ndarray, starts: np.ndarray, carry=None) -> list[np.ndarray]:
    """Each series point by point on Python floats; with ``carry`` the
    first series continues from it instead of seeding."""
    st0, first = spec.seed(x[starts])
    dtypes = [o.dtype for o in first]
    st0 = [s.tolist() for s in st0]
    first = list(zip(*(o.tolist() for o in first)))
    bounds = np.append(starts, x.size).tolist()
    xs = x.tolist()
    k, lag, step = spec.n_state, spec.lag, spec.step
    rows = []
    for i in range(len(bounds) - 1):
        lo, hi = bounds[i], bounds[i + 1]
        if i == 0 and carry is not None:
            st, ring = list(carry[:k]), list(carry[k]) if lag else None
        else:
            st, ring = [s[i] for s in st0], [first[i][k]] if lag else None
            rows.append(first[i])
            lo += 1
        if not lag:
            rows += [step(st, v) for v in xs[lo:hi]]
            continue
        for v in xs[lo:hi]:
            row = step(st, v, ring[-lag] if len(ring) >= lag else spec.neutral)
            ring.append(row[k])
            rows.append(row)
    flat = np.fromiter(chain.from_iterable(rows), np.float64, len(rows) * len(dtypes))
    return [c.astype(d) for c, d in zip(flat.reshape(len(rows), -1).T, dtypes)]


def run(spec, x: np.ndarray, starts: np.ndarray, carry=None) -> list[np.ndarray]:
    """Outputs for the series stored back to back in ``x`` (``starts``:
    ascending offsets, ``starts[0] == 0``).  ``carry`` (the state, plus
    the ring when the spec has a lag) continues the first series."""
    x = np.ascontiguousarray(x, dtype=np.float64)
    n = x.size
    if n == 0:
        return list(spec.seed(x)[1])
    # a carried first series runs point by point, the other series in
    # lockstep once enough points share each time step
    head = 0 if carry is None else (int(starts[1]) if starts.size > 1 else n)
    rest = starts[starts >= head] - head
    lens = np.diff(np.append(rest, n - head))
    if lens.size and n - head >= POINTS_PER_STEP * int(lens.max()):
        tail = lockstep(spec, x[head:], rest)
        if not head:
            return tail
        return [np.concatenate(p) for p in zip(scalar(spec, x[:head], starts[:1], carry), tail)]
    return scalar(spec, x, starts, carry)


def final_carry(spec, outs: list[np.ndarray], start: int, carry=None) -> tuple:
    """The carry after the last series, which starts at row ``start``;
    pass the ``carry`` it continued, if any."""
    state = tuple(float(o[-1]) for o in outs[: spec.n_state])
    if not spec.lag:
        return state
    tail = outs[spec.n_state][max(start, outs[0].size - spec.lag):].tolist()
    return state + (((list(carry[-1]) if carry else []) + tail)[-spec.lag:],)


def run_batches(spec, batches: Iterator, keys: list[str], value_col: str,
                names: tuple) -> Iterator:
    """The ``mapInPandas`` body: rows arrive sorted by ``keys`` and time,
    so a series split across Arrow batches continues from one carry.
    Output ``i`` becomes column ``names[i]``; a ``None`` name drops it."""
    new = [c for c in names if c]
    prev = carry = None
    for pdf in batches:
        x = pdf[value_col].to_numpy(dtype=np.float64)
        kv = [pdf[c].to_numpy() for c in keys]
        brk = np.zeros(x.size, dtype=bool)
        brk[:1] = True
        for v in kv:
            brk[1:] |= v[1:] != v[:-1]
        starts = np.flatnonzero(brk)
        c = carry if x.size and tuple(v[0] for v in kv) == prev else None
        outs = run(spec, x, starts, c)
        if x.size:
            prev = tuple(v[-1] for v in kv)
            carry = final_carry(spec, outs, int(starts[-1]), c if starts.size == 1 else None)
        pdf = pdf.copy(deep=False)
        for name, o in zip(names, outs):
            if name:
                pdf[name] = o
        yield pdf[[col for col in pdf.columns if col not in new] + new]


def plan(df: DataFrame, spec, run_fn, names: tuple, keys: list[str],
         order: list) -> DataFrame:
    """Hash-partition on ``keys``, sort by ``keys + order`` (``None``
    entries skipped) and append the spec's named outputs with
    ``run_fn``, the operator's delegate to :func:`run_batches`."""
    first = spec.seed(np.empty(0))[1]
    fields = {c: _SPARK_TYPES[o.dtype.kind] for c, o in zip(names, first) if c}
    schema = T.StructType([f for f in df.schema.fields if f.name not in fields])
    for c, typ in fields.items():
        schema = schema.add(c, typ)
    return (
        df.repartition(*keys)
        .sortWithinPartitions(*keys, *[c for c in order if c])
        .mapInPandas(run_fn, schema=schema)
    )


def stream(points: DataFrame, spec, names: tuple, state_schema, out_schema,
           timeout: str, tiebreak_col: str | None, extra=None) -> DataFrame:
    """The ``applyInPandasWithState`` twin over ``(user_id, ts, value)``.

    State per key is the carry plus ``last_ts``.  Each micro-batch is
    sorted by ``(ts[, tiebreak])`` and runs point by point from the
    stored state.  A row older than ``last_ts`` cannot be folded into
    outputs already emitted: it is flagged ``late`` and folded as if
    current, and ``last_ts`` never moves back.  ``extra(outs, carry)``
    may add columns computed from a chunk's outputs and the carry it
    started from.
    """

    def fn(key, pdfs, state):
        carry, last_ts = None, float("-inf")
        if state.exists:
            *carry, last_ts = state.get
            carry = tuple(carry)
        for pdf in pdfs:
            if pdf.empty:
                continue
            sort_cols = ["ts"] + ([tiebreak_col] if tiebreak_col and tiebreak_col in pdf else [])
            pdf = pdf.sort_values(sort_cols, kind="mergesort")
            ts = pdf["ts"].astype("int64").to_numpy() / 1e9
            x = pdf["value"].to_numpy(dtype=np.float64)
            outs = scalar(spec, x, np.zeros(1, dtype=np.int64), carry)
            cols = dict(zip(names, outs), **(extra(outs, carry) if extra else {}))
            late = ts < last_ts
            last_ts = max(last_ts, float(ts[-1]))
            carry = final_carry(spec, outs, 0, carry)
            yield pdf.assign(user_id=key[0], late=late, **cols)[out_schema.names]
        if carry is not None:
            state.update(carry + (last_ts,))

    return points.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=getattr(GroupStateTimeout, timeout),
    )
