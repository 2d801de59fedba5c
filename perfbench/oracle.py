"""Numpy oracles for the benchmark's output checks.

Each oracle recomputes an answer from the generator's arrays alone, so
a check passes only when the engine's answer matches data it never
touched.
"""

from __future__ import annotations

import numpy as np

RES_SECONDS = {"1m": 60, "1h": 3600, "1d": 86400}


def bucket_stats(ts: np.ndarray, values: np.ndarray, res_s: int) -> dict:
    """``{bucket_start_epoch: (min, max, sum, count)}`` of points
    ``(ts, values)`` at bucket length ``res_s`` (UTC epoch floors)."""
    if ts.size == 0:
        return {}
    b = ts - ts % res_s
    order = np.argsort(b, kind="stable")
    b, v = b[order], values[order].astype(np.int64)
    starts = np.flatnonzero(np.concatenate(([True], b[1:] != b[:-1])))
    mins = np.minimum.reduceat(v, starts)
    maxs = np.maximum.reduceat(v, starts)
    sums = np.add.reduceat(v, starts)
    counts = np.diff(np.append(starts, v.size))
    return {
        int(b[s]): (int(mins[i]), int(maxs[i]), int(sums[i]), int(counts[i]))
        for i, s in enumerate(starts)
    }


def range_points(
    ts: np.ndarray, values: np.ndarray, lo: int, hi: int
) -> tuple[np.ndarray, np.ndarray]:
    """Points with ``lo <= ts < hi``."""
    m = (ts >= lo) & (ts < hi)
    return ts[m], values[m]


def ewma(x: np.ndarray, alpha: float) -> np.ndarray:
    beta = 1.0 - alpha
    y = np.empty(x.size)
    acc = 0.0
    for i, v in enumerate(x):
        acc = v if i == 0 else beta * acc + alpha * v
        y[i] = acc
    return y


def holt(x: np.ndarray, alpha: float, beta: float) -> tuple[np.ndarray, np.ndarray]:
    phi, gd = 1.0 - alpha, 1.0 - beta
    s_out, b_out = np.empty(x.size), np.empty(x.size)
    s, b = 0.0, 0.0
    for i, v in enumerate(x):
        if i == 0:
            s, b = v, 0.0
        else:
            s_new = alpha * v + phi * (s + b)
            b = beta * (s_new - s) + gd * b
            s = s_new
        s_out[i], b_out[i] = s, b
    return s_out, b_out


def cusum(x: np.ndarray, mu: float, k: float) -> tuple[np.ndarray, np.ndarray]:
    hi, lo = np.empty(x.size), np.empty(x.size)
    h_acc = l_acc = 0.0
    for i, v in enumerate(x):
        h_acc = max(0.0, h_acc + (v - (mu + k)))
        l_acc = max(0.0, l_acc + ((mu - k) - v))
        hi[i], lo[i] = h_acc, l_acc
    return hi, lo


def minute_means(v: np.ndarray) -> np.ndarray:
    """1m means of a series sampled once a second from a minute-aligned
    start: what the 1m tier's ``mean_value`` holds, computed the same
    way (exact integer sum, then one float division)."""
    starts = np.arange(0, v.size, 60)
    sums = np.add.reduceat(v.astype(np.int64), starts)
    counts = np.diff(np.append(starts, v.size))
    return sums.astype(np.float64) / counts


RECURRENCES = {
    # the serve workload's operator parameters, output column -> series
    "ewma": lambda x: {"ewma_fast": ewma(x, 0.3)},
    "holt": lambda x: dict(zip(("level_value", "trend_value"), holt(x, 0.5, 0.3))),
    "cusum": lambda x: dict(zip(("cusum_hi", "cusum_lo"), cusum(x, 1000.0, 0.5))),
}


def close(a: float, b: float, rel: float = 1e-9) -> bool:
    return abs(a - b) <= rel * max(1.0, abs(a), abs(b))
