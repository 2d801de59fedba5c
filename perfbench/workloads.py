"""The benchmark's workloads: ingest and serve.

Each workload generates its inputs in ``generate`` (repeated for the
set-up median), builds its Spark fixtures in ``materialize``, warms the
session in ``warm`` and then runs one operation per ``run_op`` call.
Operations come in passes of ``pass_len``; a run ends at the first pass
boundary after ``--seconds``. Every operation's output is checked
against the numpy oracles after the window (``Ctx.run_checks``); a
failed check marks the operation failed.

Sizes are chosen for a 4-core ``local[N]`` session.
"""

from __future__ import annotations

import datetime as dt
import importlib
import os
import statistics
import time
import traceback
from contextlib import nullcontext
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from perfbench import gen, oracle

DAY0 = 1709251200  # 2024-03-01 00:00:00 UTC
ROLLUP_T0 = 1704067200  # run_rollup's timestamp origin


def utc(epoch: int) -> dt.datetime:
    """Naive UTC datetime, the form the engine's routers take."""
    return dt.datetime.fromtimestamp(epoch, dt.timezone.utc).replace(tzinfo=None)


def tail_percentile(n: int) -> float | None:
    """Highest of the usual percentiles with at least ten samples
    beyond it, or None when fewer than 20 samples exist."""
    for p in (0.999, 0.99, 0.95, 0.9, 0.75, 0.5):
        if round(n * (1.0 - p), 9) >= 10:
            return p
    return None


def latency_summary(samples: list[float]) -> dict:
    p = tail_percentile(len(samples))
    return {
        "n": len(samples),
        "p50": statistics.median(samples) if samples else None,
        "tail_pct": None if p is None else round(100 * p, 1),
        "tail": None if p is None else float(np.quantile(samples, p)),
    }


@dataclass
class Op:
    kind: str
    seconds: float
    items: float = 0.0
    ok: bool = True
    traced: bool = False
    why: str = ""


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    cores: int
    tracer: object | None = None
    traced_pass: bool = False
    ops: list[Op] = field(default_factory=list)
    checks: list = field(default_factory=list)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def rng(self, stream: int) -> np.random.Generator:
        return np.random.default_rng([self.seed, stream])

    def timed(self, kind: str, fn, items: float = 0.0):
        """Run one operation; returns ``(Op, result)``, result None when
        it raised (the op then counts as failed)."""
        traced = self.tracer is not None and self.traced_pass
        scope = self.tracer.op_span(kind, len(self.ops)) if traced else nullcontext()
        t = time.perf_counter()
        try:
            with scope as span:
                res = fn()
                if span is not None and isinstance(res, list):
                    span["result_rows"] = len(res)
            rec = Op(kind, time.perf_counter() - t, items, traced=traced)
        except Exception as exc:  # an op failure is a result, not a crash
            traceback.print_exc()
            res = None
            rec = Op(kind, time.perf_counter() - t, items, ok=False,
                     traced=traced, why=f"{kind} raised {type(exc).__name__}")
        self.ops.append(rec)
        return rec, res

    def defer(self, rec: Op, check) -> None:
        """Queue ``check()`` (an error string or None) for ``rec``."""
        if rec.ok:
            self.checks.append((rec, check))

    def run_checks(self) -> None:
        for rec, check in self.checks:
            try:
                why = check()
            except Exception as exc:
                traceback.print_exc()
                why = f"check raised {type(exc).__name__}"
            if why:
                rec.ok, rec.why = False, why
        self.checks.clear()

    def times(self, kind: str) -> list[float]:
        return [o.seconds for o in self.ops if o.kind == kind and o.ok]


def _sample(rng: np.random.Generator, n: int, k: int) -> list[int]:
    return sorted(rng.choice(n, size=min(k, n), replace=False).tolist())


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files
                     if not f.endswith(".crc") and not f.startswith("_"))
    return total


def _union(dfs):
    out = dfs[0]
    for df in dfs[1:]:
        out = out.unionByName(df)
    return out


class Workload:
    name = ""
    pass_len = 1

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.spark = ctx.spark

    def generate(self, rep: int) -> None:
        """Numpy inputs and their parquet files (repeatable)."""
        raise NotImplementedError

    def materialize(self) -> None:
        """Spark-built fixtures over the last generated inputs."""

    def warm(self) -> None:
        pass

    def run_op(self, i: int) -> None:
        raise NotImplementedError

    def finish(self) -> None:
        pass

    def report(self) -> tuple[dict, dict]:
        """``(throughput, named)``: work done per second in the
        workload's own items, and its named end-to-end metrics as
        ``name: (value, unit[, latency summary])``."""
        raise NotImplementedError


# ---------------------------------------------------------------------------
# ingest: one resumable rollup job per operation
# ---------------------------------------------------------------------------


class Ingest(Workload):
    """``run_rollup`` (staging, Gorilla raw tier, 1m/1h/1d tiers,
    parquet upserts, manifest) into a fresh directory per operation."""

    name = "ingest"
    pass_len = 2
    N_DOCS = 600
    N_UNITS = 2

    def generate(self, rep: int) -> None:
        self.seqs = gen.make_sequences(self.ctx.rng(1), self.N_DOCS, 64, 4096)
        self.input = self.ctx.path(f"ingest_in_{rep}")
        self.seqs.write_parquet(self.input)
        self.outs: list[tuple[Op, str]] = []

    def _rollup(self, out: str):
        from tsclust_spark.plans.rollup_job import run_rollup

        seq = self.spark.read.parquet(self.input)
        return run_rollup(self.spark, seq, out, n_units=self.N_UNITS, resume=False)

    def warm(self) -> None:
        self._rollup(self.ctx.path("ingest_warm"))

    def run_op(self, i: int) -> None:
        out = self.ctx.path(f"ingest_out_{i}")
        rec, res = self.ctx.timed("ingest.rollup", lambda: self._rollup(out),
                                  items=self.seqs.points)
        if res is not None:
            self.ctx.defer(rec, lambda: self._check_summary(res))
            self.outs.append((rec, out))

    def _check_summary(self, res: dict) -> str | None:
        if res["points"] != self.seqs.points or res["rows"] != self.N_DOCS:
            return f"job reported {res['rows']} rows / {res['points']} points"
        if res["units_processed"] != self.N_UNITS:
            return f"job processed {res['units_processed']} units"
        return None

    def finish(self) -> None:
        # every operation rolled up the same input, so the last output
        # is read back in full for all of them
        self.raw_bytes = 0
        if self.outs:
            rec, out = self.outs[-1]
            self.raw_bytes = _dir_bytes(os.path.join(out, "raw"))
            self.ctx.defer(rec, lambda: self._check_output(out))

    def _check_output(self, out: str) -> str | None:
        from tsclust_spark.kernels.codec import decompress_blocks

        spark, seqs = self.spark, self.seqs
        sample = _sample(self.ctx.rng(11), self.N_DOCS, 8)
        ids = [seqs.doc_ids[i] for i in sample]
        for tier, res_s in oracle.RES_SECONDS.items():
            df = spark.read.parquet(os.path.join(out, f"agg_{tier}"))
            total = df.agg(F.sum("count_value")).collect()[0][0]
            if total != seqs.points:
                return f"{tier}: sum(count_value) {total} != {seqs.points} points"
            got = {
                (r[0], r[1]): tuple(r[2:])
                for r in df.filter(F.col("doc_id").isin(ids))
                .select("doc_id", F.col("bucket_ts").cast("long"), "min_value",
                        "max_value", "sum_value", "count_value")
                .collect()
            }
            want = {}
            for i in sample:
                v = seqs.tokens(i)
                ts = ROLLUP_T0 + np.arange(v.size, dtype=np.int64)
                for b, stats in oracle.bucket_stats(ts, v, res_s).items():
                    want[(seqs.doc_ids[i], b)] = stats
            if got != want:
                return f"{tier}: sampled tier rows differ from the oracle"
        raw = spark.read.parquet(os.path.join(out, "raw"))
        if raw.count() != self.N_DOCS:
            return "raw tier block count differs from the input rows"
        dec = decompress_blocks(raw.filter(F.col("doc_id").isin(ids))).collect()
        by_id = {r.doc_id: np.asarray(r.tokens) for r in dec}
        for i in sample:
            if not np.array_equal(by_id.get(seqs.doc_ids[i]), seqs.tokens(i)):
                return "raw tier does not decode back to the input"
        return None

    def report(self) -> tuple[dict, dict]:
        ops = [o for o in self.ctx.ops if o.ok]
        rate = statistics.median(o.items / o.seconds for o in ops)
        named = {
            "ingest_points_per_s": (rate, "points/s"),
            "raw_bytes_per_point": (self.raw_bytes / self.seqs.points, "B/point"),
        }
        return rate, named


# ---------------------------------------------------------------------------
# serve: one closed-loop client over materialized tiers
# ---------------------------------------------------------------------------

# The analytics request chains the five recurrence operators into one
# plan, forced by one checksum aggregate: (module, function, kwargs,
# output columns the check sums), applied in this order.
ANALYTICS_CHAIN = (
    ("ewvar", "ewvar", {"alpha": 0.3, "k": 3.0}, ("ewma_value", "ewvar_value")),
    ("ewma", "ewma", {"alpha": 0.3, "out_col": "ewma_fast"}, ("ewma_fast",)),
    ("holt", "holt", {"alpha": 0.5, "beta": 0.3}, ("level_value", "trend_value")),
    ("holtwinters", "holt_winters",
     {"alpha": 0.5, "beta": 0.1, "gamma": 0.1, "period": 15, "level_col": "hw_level",
      "trend_col": "hw_trend", "seasonal_col": "hw_seasonal"},
     ("hw_level", "hw_trend", "hw_seasonal")),
    ("cusum", "cusum", {"mu": 1000.0, "k": 0.5, "h": 25.0}, ("cusum_hi", "cusum_lo")),
)
ANALYTICS_COLS = tuple(c for *_, cols in ANALYTICS_CHAIN for c in cols)

# One pass of the client: the request shapes are fixed, their content
# (doc sets, offsets, thresholds) comes from the seed, so every seed
# sends the same mix.
SERVE_CYCLE = (
    ("tier_read", "1h"), ("analytics", None), ("raw_range", None), ("dtw_matrix", None),
    ("refresh", None), ("tier_read", "1m"), ("raw_value", None), ("dtw_pruned", None),
    ("tier_read", "1d"),
)


class Serve(Workload):
    """Routed tier reads, raw-tier scans, recurrence analytics over the
    1m tier, DTW similarity requests and 1m refreshes, over three day
    cohorts of which the last arrives live."""

    name = "serve"
    pass_len = len(SERVE_CYCLE)
    COHORTS = 3
    N_DOCS = 200
    READ_DOCS = 16
    REFRESH_STEP = 180  # seconds of new data merged per refresh

    def generate(self, rep: int) -> None:
        rng = self.ctx.rng(2)
        self.base = self.ctx.path(f"serve_{rep}")
        self.ids = [f"sensor-{i:04d}" for i in range(self.N_DOCS)]
        self.days = [DAY0 + c * 86400 for c in range(self.COHORTS)]
        self.cohorts = [gen.make_sequences(rng, self.N_DOCS, 64, 4096, doc_ids=self.ids)
                        for _ in range(self.COHORTS)]
        for c, seqs in enumerate(self.cohorts):
            seqs.write_parquet(os.path.join(self.base, f"in_{c}"), n_files=2)
        # the live day's points land as a plain table; refreshes merge
        # slices of it into the 1m tier
        live = self.cohorts[-1]
        ts = np.concatenate([self.days[-1] + np.arange(n) for n in live.lengths])
        self.landing = os.path.join(self.base, "landing")
        os.makedirs(self.landing)
        pq.write_table(pa.table({
            "doc_id": pa.array(np.repeat(np.array(self.ids), live.lengths)),
            "ts": pa.array(ts * 1_000_000, pa.timestamp("us", tz="UTC")),
            "value": pa.array(live.values, pa.int32()),
        }), os.path.join(self.landing, "part-000.parquet"))
        self.dtw = DtwBlock(self.ctx, self.base)

    def materialize(self) -> None:
        from tsclust_spark.kernels.codec import compress_sequences
        from tsclust_spark.plans.refresh import write_watermark

        spark, days = self.spark, self.days
        # the history days' tiers are written straight from the oracle,
        # so every routed read is checked against stored rows known to
        # be exact (the engine's own tier build is the ingest workload)
        self.tier_paths = {}
        for t, res_s in oracle.RES_SECONDS.items():
            rows = []
            for c, seqs in enumerate(self.cohorts[:-1]):
                for d, doc in enumerate(self.ids):
                    v = seqs.tokens(d)
                    ts = days[c] + np.arange(v.size, dtype=np.int64)
                    rows += [(doc, b, *st) for b, st in oracle.bucket_stats(ts, v, res_s).items()]
            cols = list(zip(*rows))
            bucket_date = [str(utc(b).date()) for b in cols[1]]
            table = pa.table({
                "doc_id": pa.array(cols[0], pa.string()),
                "bucket_ts": pa.array(np.asarray(cols[1]) * 1_000_000,
                                      pa.timestamp("us", tz="UTC")),
                "min_value": pa.array(cols[2], pa.int32()),
                "max_value": pa.array(cols[3], pa.int32()),
                "sum_value": pa.array(cols[4], pa.int64()),
                "count_value": pa.array(cols[5], pa.int64()),
                "mean_value": pa.array(np.asarray(cols[4], np.float64)
                                       / np.asarray(cols[5], np.float64)),
                "bucket_date": pa.array(bucket_date),
            })
            self.tier_paths[t] = os.path.join(self.base, f"agg_{t}")
            pq.write_to_dataset(table, self.tier_paths[t], partition_cols=["bucket_date"])
        blocks = [
            compress_sequences(spark.read.parquet(os.path.join(self.base, f"in_{c}")),
                               t0_epoch=days[c], with_stats=True)
            for c in range(self.COHORTS)
        ]
        raw_path = os.path.join(self.base, "raw")
        _union(blocks).write.parquet(raw_path)
        self.dtw.materialize()
        self.wm_path = os.path.join(self.base, "wm_1m")
        write_watermark(spark, self.wm_path, utc(days[-1]))
        self.wm = days[-1]
        self.live_end = days[-1] + int(self.cohorts[-1].lengths.max())

        self.blocks = spark.read.parquet(raw_path)
        self.coarse = {t: spark.read.parquet(self.tier_paths[t]) for t in ("1h", "1d")}
        # refreshes only ever write the live day's partition, so this
        # listing of the history days stays valid for the whole run
        self.history_1m = spark.read.parquet(self.tier_paths["1m"]).select(
            "doc_id", "bucket_ts", "mean_value")

        # oracle arrays: every doc's points across all cohorts, and
        # each doc's history 1m means in time order
        hist = self.cohorts[:-1]
        self.series, self.means = {}, {}
        for d, doc in enumerate(self.ids):
            self.series[doc] = (
                np.concatenate([days[c] + np.arange(s.lengths[d])
                                for c, s in enumerate(self.cohorts)]),
                np.concatenate([s.tokens(d) for s in self.cohorts]),
            )
            self.means[doc] = np.concatenate([oracle.minute_means(s.tokens(d)) for s in hist])
        self.n_rows = sum(m.size for m in self.means.values())
        self.all_values = np.concatenate([s.values for s in self.cohorts])
        self.op_rng = self.ctx.rng(3)
        self.an_sample = [self.ids[i] for i in _sample(self.ctx.rng(13), self.N_DOCS, 4)]
        self._totals: dict = {}

    def warm(self) -> None:
        saved, self.op_rng = self.op_rng, self.ctx.rng(4)
        # one of each request; the refresh also creates the live day's
        # partition, so every measured refresh merges with read-back
        for kind, arg in SERVE_CYCLE:
            if not kind.startswith("dtw"):
                self._issue(kind, arg, record=False)
        self.dtw.warm()
        self.op_rng = saved

    def run_op(self, i: int) -> None:
        kind, arg = SERVE_CYCLE[i % len(SERVE_CYCLE)]
        if kind == "refresh" and self.wm + self.REFRESH_STEP > self.live_end:
            kind, arg = "tier_read", "1m"  # the live day is fully materialized
        if kind.startswith("dtw"):
            self.dtw.run(kind)
        else:
            self._issue(kind, arg)

    def _issue(self, kind: str, arg, record: bool = True) -> None:
        ctx, rng = self.ctx, self.op_rng
        timed = ctx.timed if record else (lambda k, fn, items=0: (None, fn()))
        if kind == "tier_read":
            q = self._tier_query(rng, arg)
            rec, rows = timed("serve.tier_read", lambda: self._tier_read(*q))
            check = lambda: self._check_tier(q, rows)  # noqa: E731
        elif kind == "raw_range":
            from tsclust_spark.operators.rawquery import raw_range_stats

            docs = self._docs(rng, 2 * self.READ_DOCS)
            lo = self.days[int(rng.integers(self.COHORTS))] + int(rng.integers(0, 1800))
            hi = lo + 1800
            blocks = self.blocks.filter(F.col("doc_id").isin(docs))
            rec, rows = timed("serve.raw_range",
                              lambda: raw_range_stats(blocks, lo, hi).collect())
            check = lambda: self._check_range(docs, lo, hi, rows)  # noqa: E731
        elif kind == "raw_value":
            from tsclust_spark.operators.rawquery import raw_value_scan

            thr = int(np.quantile(self.all_values, 0.999)) - int(rng.integers(0, 8))
            rec, rows = timed("serve.raw_value",
                              lambda: raw_value_scan(self.blocks, thr).collect())
            check = lambda: self._check_value(thr, rows)  # noqa: E731
        elif kind == "analytics":
            df = self.history_1m
            if not record:
                df = df.filter(F.col("doc_id").isin(self.an_sample))
            rec, rows = timed("serve.analytics", lambda: self._analytics(df),
                              items=self.n_rows)
            check = lambda: self._check_analytics(rows)  # noqa: E731
        else:
            from tsclust_spark.plans.refresh import refresh_tier

            lo, hi = self.wm, self.wm + self.REFRESH_STEP
            points = self.spark.read.parquet(self.landing)
            rec, rows = timed("serve.refresh", lambda: refresh_tier(
                self.spark, points, self.tier_paths["1m"], self.wm_path, utc(hi), tier="1m"))
            if rows is not None:
                self.wm = hi
            check = lambda: self._check_refresh(lo, hi, rows)  # noqa: E731
        if record and rows is not None:
            ctx.defer(rec, check)

    def _docs(self, rng, k: int) -> list[str]:
        return [self.ids[i] for i in _sample(rng, self.N_DOCS, k)]

    def _tier_query(self, rng, res: str) -> tuple:
        """The three read shapes. Each crosses the tier watermarks, so
        its plan has a tier leg, a finer-tier leg and a raw tail."""
        docs = self._docs(rng, self.READ_DOCS)
        live = self.days[-1]
        t0, t1 = {"1d": (self.days[0], live + 86400),
                  "1h": (self.days[0], live + 7200),
                  "1m": (live, live + 3600)}[res]
        wms = {"1d": utc(self.days[1]), "1h": utc(self.days[1] + 3600), "1m": utc(self.wm)}
        return res, docs, t0, t1, wms

    def _tier_read(self, res, docs, t0, t1, wms):
        from tsclust_spark.operators.rawquery import raw_points_for_router
        from tsclust_spark.plans.tierquery import routed_tier_read

        keep = F.col("doc_id").isin(docs)
        # the 1m tier changes under refresh, so it is listed afresh
        tables = {"1m": self.spark.read.parquet(self.tier_paths["1m"]).filter(keep),
                  **{t: df.filter(keep) for t, df in self.coarse.items()}}
        raw = raw_points_for_router(self.blocks.filter(keep), utc(t0), utc(t1))
        df = routed_tier_read(res, utc(t0), utc(t1), tables, wms, raw_points=raw)
        return df.select("doc_id", F.col("bucket_ts").cast("long"), "min_value",
                         "max_value", "sum_value", "count_value").collect()

    def _analytics(self, df):
        for mod, fn, kwargs, _ in ANALYTICS_CHAIN:
            func = getattr(importlib.import_module(f"tsclust_spark.operators.{mod}"), fn)
            df = func(df, key_col="doc_id", ts_col="bucket_ts", value_col="mean_value",
                      **kwargs)
        row = F.struct("doc_id", F.col("bucket_ts").cast("long").alias("t"), *ANALYTICS_COLS)
        return df.agg(
            F.count(F.lit(1)).alias("n"),
            *[F.sum(c).alias(c) for c in ANALYTICS_COLS],
            F.collect_list(F.when(F.col("doc_id").isin(self.an_sample), row)).alias("rows"),
        ).collect()[0]

    def _check_tier(self, q, rows) -> str | None:
        res, docs, t0, t1, _ = q
        want = {}
        for doc in docs:
            ts, v = oracle.range_points(*self.series[doc], t0, t1)
            for b, stats in oracle.bucket_stats(ts, v, oracle.RES_SECONDS[res]).items():
                want[(doc, b)] = stats
        got = {(r[0], r[1]): tuple(r[2:]) for r in rows}
        if len(got) != len(rows) or got != want:
            return f"routed {res} read differs from the direct-from-raw oracle"
        return None

    def _check_range(self, docs, lo, hi, rows) -> str | None:
        want = {}
        for doc in docs:
            _, v = oracle.range_points(*self.series[doc], lo, hi + 1)
            if v.size:
                want[doc] = (v.size, int(v.astype(np.int64).sum()), int(v.min()), int(v.max()))
        got = {r.doc_id: (r.n_pts, r.sum_val, r.min_val, r.max_val) for r in rows}
        return None if got == want else "raw range stats differ from the oracle"

    def _check_value(self, thr, rows) -> str | None:
        want = {}
        for doc, (_, v) in self.series.items():
            hit = v[v >= thr]
            if hit.size:
                want[doc] = (hit.size, int(hit.max()))
        got = {r.doc_id: (r.n_hits, r.max_val) for r in rows}
        return None if got == want else "raw value scan differs from the oracle"

    def _check_refresh(self, lo, hi, res) -> str | None:
        want = 0
        for ts, v in self.series.values():
            want += len(oracle.bucket_stats(*oracle.range_points(ts, v, lo, hi), 60))
        if res["rows"] != want:
            return f"refresh materialized {res['rows']} buckets, oracle {want}"
        return None

    def _check_analytics(self, res) -> str | None:
        """Row count and finite checksums for every operator; for EWMA,
        Holt and CUSUM also the checksum over all keys and every
        sampled key's rows against the scalar recurrences. Holt-Winters
        and EW-variance have no oracle here."""
        if res["n"] != self.n_rows:
            return f"analytics returned {res['n']} rows, expected {self.n_rows}"
        if not all(np.isfinite(res[c]) for c in ANALYTICS_COLS):
            return "an analytics checksum is not finite"
        if not self._totals:
            for x in self.means.values():
                for op in oracle.RECURRENCES.values():
                    for c, y in op(x).items():
                        self._totals[c] = self._totals.get(c, 0.0) + float(y.sum())
        for c, total in self._totals.items():
            if not oracle.close(res[c], total, rel=1e-7):
                return f"checksum of {c} differs from the scalar recurrence"
        got: dict = {}
        for r in res["rows"]:
            got.setdefault(r["doc_id"], []).append(r)
        for doc in self.an_sample:
            rows = sorted(got.get(doc, []), key=lambda r: r["t"])
            for op in oracle.RECURRENCES.values():
                for c, y in op(self.means[doc]).items():
                    if len(rows) != y.size or not all(
                            oracle.close(r[c], float(w)) for r, w in zip(rows, y)):
                        return f"{c} for {doc} differs from the scalar recurrence"
        return None

    def finish(self) -> None:
        # the refreshed 1m tier holds exactly the live day's points
        # below the final watermark
        rec = next((o for o in reversed(self.ctx.ops)
                    if o.kind == "serve.refresh" and o.ok), None)
        if rec is not None:
            self.ctx.defer(rec, self._check_live_tier)

    def _check_live_tier(self) -> str | None:
        lo, hi = self.days[-1], self.wm
        got = (self.spark.read.parquet(self.tier_paths["1m"])
               .filter((F.col("bucket_ts") >= F.lit(utc(lo)))
                       & (F.col("bucket_ts") < F.lit(utc(hi))))
               .agg(F.sum("count_value")).collect()[0][0]) or 0
        want = sum(int(((ts >= lo) & (ts < hi)).sum()) for ts, _ in self.series.values())
        return None if got == want else f"live 1m tier holds {got} points, oracle {want}"

    def report(self) -> tuple[dict, dict]:
        ctx = self.ctx
        ok = [o for o in ctx.ops if o.ok]
        tier = latency_summary(ctx.times("serve.tier_read"))
        raw = latency_summary(ctx.times("serve.raw_range") + ctx.times("serve.raw_value"))
        refresh = latency_summary(ctx.times("serve.refresh"))
        named = {
            "tier_read_p50_s": (tier["p50"], "s"),
            "tier_read_tail_s": (tier["tail"], "s", tier),
            "raw_read_p50_s": (raw["p50"], "s"),
            "raw_read_tail_s": (raw["tail"], "s", raw),
            "refresh_p50_s": (refresh["p50"], "s"),
            "analytics_rows_per_s": (
                self.n_rows / statistics.median(ctx.times("serve.analytics")), "rows/s"),
            **self.dtw.report(),
        }
        return len(ok) / sum(o.seconds for o in ok), named


# ---------------------------------------------------------------------------
# similarity requests: one materialized block, full matrix or LB-pruned
# ---------------------------------------------------------------------------


class DtwBlock:
    """The serve client's similarity requests: banded DTW (symmetric2,
    Sakoe-Chiba radius 8, broadcast pair plan) over a materialized
    block, and LB_Keogh-pruned pairs over the same block at a fixed
    eps. Most series are 64-256 points; the block also holds one long
    outlier."""

    BLOCK = 64
    OUTLIERS = 1
    TAIL = (512, 640)
    RADIUS = 8
    EPS = 400.0  # prunes a share of the pairs of these walks

    def __init__(self, ctx: Ctx, base: str):
        self.ctx, self.spark = ctx, ctx.spark
        pool, sel_key = gen.make_dtw_pool(ctx.rng(5), self.BLOCK, self.OUTLIERS,
                                          tail=self.TAIL)
        table = pool.to_arrow().append_column("sel_key", pa.array(sel_key))
        self.pool_path = os.path.join(base, "dtw_pool")
        os.makedirs(self.pool_path)
        pq.write_table(table, os.path.join(self.pool_path, "part-000.parquet"),
                       row_group_size=32)
        chosen = np.flatnonzero(sel_key < self.BLOCK)
        self.series = {pool.doc_ids[i]: pool.tokens(i).astype(np.float64) for i in chosen}
        self.block_path = os.path.join(base, "dtw_block")
        self.n_pairs = self.BLOCK * (self.BLOCK - 1) // 2
        self.dists: dict | None = None
        self.prune_rates: list[float] = []

    def materialize(self) -> None:
        # deterministic selection (a total order, then a limit), written
        # out once, so every read of the block sees one fixed table
        (self.spark.read.parquet(self.pool_path).orderBy("sel_key").limit(self.BLOCK)
         .select("doc_id", "tokens").write.parquet(self.block_path))
        self.block = self.spark.read.parquet(self.block_path)

    def matrix(self, block):
        from tsclust_spark.kernels.dtw import dtw_distance_matrix

        return dtw_distance_matrix(
            block, pattern_name="symmetric2", global_constraint="sakoe_chiba",
            sakoe_chiba_radius=self.RADIUS, repartition=2 * self.ctx.cores).collect()

    def pruned(self, block):
        from tsclust_spark.kernels.dtw_lb import dtw_pairs_pruned

        left = block.select(F.col("doc_id").alias("id_a"), F.col("tokens").alias("tokens_a"))
        right = block.select(F.col("doc_id").alias("id_b"), F.col("tokens").alias("tokens_b"))
        pairs = left.join(right, F.col("id_a") < F.col("id_b")).repartition(2 * self.ctx.cores)
        return dtw_pairs_pruned(pairs, eps=self.EPS, sakoe_chiba_radius=self.RADIUS,
                                keep_pruned=True).collect()

    def warm(self) -> None:
        small = self.block.orderBy("doc_id").limit(16)
        self.matrix(small)
        self.pruned(small)

    def run(self, kind: str) -> None:
        ctx = self.ctx
        if kind == "dtw_matrix":
            rec, rows = ctx.timed("serve.dtw_matrix", lambda: self.matrix(self.block),
                                  items=self.n_pairs)
            if rows is not None:
                self.dists = {(r.id_a, r.id_b): r.dist for r in rows}
                picks = _sample(ctx.rng(100 + len(ctx.ops)), len(rows), 12)
                ctx.defer(rec, lambda: self._check_matrix(rows, picks))
        else:
            rec, rows = ctx.timed("serve.dtw_pruned", lambda: self.pruned(self.block),
                                  items=self.n_pairs)
            if rows is not None:
                self.prune_rates.append(sum(r.pruned for r in rows) / max(1, len(rows)))
                dists = self.dists
                ctx.defer(rec, lambda: self._check_pruned(rows, dists))

    def _check_matrix(self, rows, picks) -> str | None:
        from tsclust_spark.kernels.dtw_banded import dtw_banded_distance

        if len(rows) != self.n_pairs:
            return f"matrix has {len(rows)} pairs, expected {self.n_pairs}"
        for k in picks:
            r = rows[k]
            want = dtw_banded_distance(self.series[r.id_a], self.series[r.id_b],
                                       radius=self.RADIUS, metric="euclidean",
                                       step_pattern="symmetric2")
            if not oracle.close(r.dist, want):
                return "matrix distance differs from the scalar oracle"
        return None

    def _check_pruned(self, rows, dists) -> str | None:
        if len(rows) != self.n_pairs:
            return f"pruned op returned {len(rows)} pairs, expected {self.n_pairs}"
        if dists is None:
            return "no checked matrix to compare the pruned pairs with"
        for r in rows:
            true = dists[(r.id_a, r.id_b)]
            if r.pruned and true <= self.EPS:
                return "a pruned pair has a true distance within eps"
            if not r.pruned and not oracle.close(r.dist, true):
                return "a surviving pair's distance differs from the matrix"
        return None

    def report(self) -> dict:
        full = statistics.median(self.ctx.times("serve.dtw_matrix"))
        pruned = statistics.median(self.ctx.times("serve.dtw_pruned"))
        return {
            "dtw_pairs_per_s": (self.n_pairs / full, "pairs/s"),
            "dtw_pruned_pairs_per_s": (self.n_pairs / pruned, "pairs/s"),
            "dtw_prune_rate": (statistics.median(self.prune_rates), "ratio"),
        }


WORKLOADS = {w.name: w for w in (Ingest, Serve)}
