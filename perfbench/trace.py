"""Traced mode: spans around the engine's layers, attributed Spark metrics.

Only ``--trace 1`` loads this module. :meth:`Tracer.install` wraps the
engine's public layer functions from outside (the package itself is
never edited) so that every call records a span (name, start, end,
parent, operation id). While a span is open, its Spark actions run
under the span's job group. After the window the tracer reads the
Spark driver's status stores through py4j (no network) and attributes to
each span:

- the stage metrics of its jobs (tasks, failures, shuffle fetch wait,
  shuffle write, run time);
- the SQL node metrics of its executions (scan time and bytes, data
  sent to Python workers and their run time, shuffle bytes and write
  time, aggregate build time, bytes written).

Python map nodes are told apart by name: while tracing, the function a
kernel hands to ``mapInArrow``/``mapInPandas`` is wrapped in one named
after its defining module (``pbk__kernels_codec__encode``), which is
what the plan shows. Spans stay in memory until the run ends.
"""

from __future__ import annotations

import functools
import importlib
import json
import os
import re
import statistics
import time
from contextlib import contextmanager

TAG = "pbk__"

# (module, attribute, span name): the layers' public entry points and
# the names run_rollup and the routers call them by
WRAPPED = (
    ("tsclust_spark.plans.rollup_job", "run_rollup", "plans.rollup_job.run_rollup"),
    ("tsclust_spark.plans.rollup_job", "run_unit", "plans.rollup_job.run_unit"),
    ("tsclust_spark.plans.rollup_job", "build_tiers_from_sequences",
     "plans.rollup_job.build_tiers_from_sequences"),
    ("tsclust_spark.plans.rollup_job", "compress_sequences", "kernels.codec.compress_sequences"),
    ("tsclust_spark.plans.rollup_job", "upsert_partitioned", "plans.merge.upsert_partitioned"),
    ("tsclust_spark.plans.merge", "upsert_partitioned", "plans.merge.upsert_partitioned"),
    ("tsclust_spark.plans.manifest", "Manifest.record", "plans.manifest.record"),
    ("tsclust_spark.plans.refresh", "refresh_tier", "plans.refresh.refresh_tier"),
    ("tsclust_spark.plans.refresh", "rollup_tier", "operators.rollup.rollup_tier"),
    ("tsclust_spark.plans.tierquery", "routed_tier_read", "plans.tierquery.routed_tier_read"),
    ("tsclust_spark.plans.tierquery", "route_plan", "plans.tierquery.route_plan"),
    ("tsclust_spark.kernels.codec", "compress_sequences", "kernels.codec.compress_sequences"),
    ("tsclust_spark.kernels.codec", "decompress_blocks", "kernels.codec.decompress_blocks"),
    ("tsclust_spark.operators.rawquery", "decompress_blocks", "kernels.codec.decompress_blocks"),
    ("tsclust_spark.operators.rawquery", "raw_range_stats", "operators.rawquery.raw_range_stats"),
    ("tsclust_spark.operators.rawquery", "raw_value_scan", "operators.rawquery.raw_value_scan"),
    ("tsclust_spark.operators.rawquery", "raw_points_for_router",
     "operators.rawquery.raw_points_for_router"),
    ("tsclust_spark.kernels.dtw", "dtw_distance_matrix", "kernels.dtw.dtw_distance_matrix"),
    ("tsclust_spark.kernels.dtw_lb", "dtw_pairs_pruned", "kernels.dtw_lb.dtw_pairs_pruned"),
    ("tsclust_spark.operators.ewma", "ewma", "operators.ewma.ewma"),
    ("tsclust_spark.operators.holt", "holt", "operators.holt.holt"),
    ("tsclust_spark.operators.holtwinters", "holt_winters", "operators.holtwinters.holt_winters"),
    ("tsclust_spark.operators.cusum", "cusum", "operators.cusum.cusum"),
    ("tsclust_spark.operators.ewvar", "ewvar", "operators.ewvar.ewvar"),
)

OPERATORS = ("ewma", "holt", "holtwinters", "cusum", "ewvar")

# every per-layer metric a traced run reports, with its unit
LAYER_METRICS = {
    "sources.scan_s": "s",
    "sources.scan_bytes": "B",
    "kernels.rollup_arrow.python_s": "s",
    "kernels.rollup_arrow.bytes_to_python": "B",
    "kernels.codec.encode_python_s": "s",
    "kernels.codec.encode_bytes_to_python": "B",
    "kernels.codec.decode_python_s": "s",
    "kernels.codec.decoded_points": "count",
    "operators.rawquery.blocks_decoded": "count",
    "operators.rawquery.useful_point_ratio": "ratio",
    "plans.rollup_job.cascade_shuffle_bytes": "B",
    "plans.rollup_job.cascade_shuffle_write_s": "s",
    "plans.rollup_job.agg_build_s": "s",
    "plans.rollup_job.unit_wall_s": "s",
    "plans.rollup_job.spark_jobs_per_unit": "count",
    "plans.rollup_job.self_s": "s",
    "plans.merge.upsert_s": "s",
    "plans.merge.bytes_written": "B",
    "plans.merge.write_amplification": "ratio",
    "plans.merge.readback_bytes": "B",
    "plans.merge.self_s": "s",
    "plans.manifest.record_s": "s",
    "plans.refresh.rows_materialized": "count",
    "plans.refresh.agg_s": "s",
    "plans.refresh.shuffle_bytes": "B",
    "plans.refresh.self_s": "s",
    "plans.tierquery.legs_tier": "count",
    "plans.tierquery.legs_raw": "count",
    "plans.tierquery.rows_scanned_per_row_returned": "ratio",
    "kernels.dtw.pairs": "count",
    "kernels.dtw.python_s": "s",
    "kernels.dtw.pair_shuffle_bytes": "B",
    "kernels.dtw.broadcast_bytes": "B",
    "kernels.dtw.self_s": "s",
    "kernels.dtw_lb.prune_rate": "ratio",
    "kernels.dtw_lb.python_s": "s",
    **{f"operators.{op}.{m}": u for op in OPERATORS
       for m, u in (("python_s", "s"), ("shuffle_bytes", "B"))},
    "operators.analytics_wall_s": "s",
    "spark.python_worker_init_s": "s",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.shuffle_fetch_wait_s": "s",
    "spark.task_failures": "count",
    "trace.overhead_frac": "ratio",
    "trace.span_coverage": "ratio",
    "trace.spans": "count",
}

_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_TIME = {"ns": 1e-9, "us": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def parse_metric(text: str | None) -> float:
    """A SQL UI metric string as a number in base units (bytes,
    seconds, count). Aggregated forms ("total (min, med, max ...)\\n
    1.2 s (...)") read their total."""
    if not text:
        return 0.0
    line = text.split("\n")[-1].strip()
    m = re.match(r"([-\d.,]+)\s*([A-Za-z]+)?", line)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _SIZE:
        return value * _SIZE[unit]
    if unit in _TIME:
        return value * _TIME[unit]
    return value


def _tag(func) -> str | None:
    mod = getattr(func, "__module__", "") or ""
    if not mod.startswith("tsclust_spark."):
        return None
    return TAG + mod[len("tsclust_spark."):].replace(".", "_") + "__" + func.__name__


def _tagged(func, tag: str):
    """A renamed pass-through, so the plan node names the kernel."""

    def fn(batches):
        return func(batches)

    fn.__name__ = fn.__qualname__ = tag
    return fn


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.op_id: int | None = None
        self._saved: list[tuple] = []

    # -- spans -------------------------------------------------------------

    @contextmanager
    def span(self, name: str, **attrs):
        if self.op_id is None:  # untraced pass: wrappers pass through
            yield None
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self.stack[-1] if self.stack else None,
               "op": self.op_id, "start": time.perf_counter(), "end": None,
               "group": f"perfbench-span-{sid}", **attrs}
        self.spans.append(rec)
        self.stack.append(sid)
        self.sc.setJobGroup(rec["group"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self.stack.pop()
            if self.stack:
                parent = self.spans[self.stack[-1]]
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    @contextmanager
    def op_span(self, kind: str, op_index: int):
        """The top-level span of one traced operation."""
        self.op_id = op_index
        try:
            with self.span(kind, top=True) as rec:
                yield rec
        finally:
            self.op_id = None

    # -- wrapping ----------------------------------------------------------

    def _wrap(self, func, name: str):
        tracer = self

        @functools.wraps(func)
        def wrapper(*args, **kwargs):
            attrs = {}
            if name == "plans.merge.upsert_partitioned":
                attrs["target"] = args[1] if len(args) > 1 else kwargs.get("target_path")
            with tracer.span(name, **attrs) as rec:
                out = func(*args, **kwargs)
                if rec is not None:
                    tracer._record_result(rec, out)
                return out

        return wrapper

    def _record_result(self, rec: dict, out) -> None:
        name = rec["name"]
        if name == "plans.tierquery.route_plan":
            rec["legs"] = [src for src, _, _ in out]
        elif name == "plans.refresh.refresh_tier":
            rec["rows"] = int(out["rows"])

    def install(self) -> None:
        for mod_name, attr, name in WRAPPED:
            mod = importlib.import_module(mod_name)
            owner, leaf = mod, attr
            if "." in attr:
                cls, leaf = attr.split(".")
                owner = getattr(mod, cls)
            orig = getattr(owner, leaf)
            self._saved.append((owner, leaf, orig))
            setattr(owner, leaf, self._wrap(orig, name))
        tracer = self
        frame = type(self.spark.range(0))  # the concrete DataFrame class
        for meth in ("mapInArrow", "mapInPandas"):
            orig = getattr(frame, meth)
            self._saved.append((frame, meth, orig))

            def tagged_map(df, func, *args, _orig=orig, **kwargs):
                tag = _tag(func) if tracer.op_id is not None else None
                return _orig(df, _tagged(func, tag) if tag else func, *args, **kwargs)

            setattr(frame, meth, tagged_map)
        orig_bc = type(self.sc).broadcast
        self._saved.append((type(self.sc), "broadcast", orig_bc))

        def broadcast(sc, value, _orig=orig_bc):
            b = _orig(sc, value)
            path = getattr(b, "_path", None)
            if tracer.stack and path and os.path.exists(path):
                tracer.spans[tracer.stack[-1]]["broadcast_bytes"] = (
                    tracer.spans[tracer.stack[-1]].get("broadcast_bytes", 0)
                    + os.path.getsize(path))
            return b

        type(self.sc).broadcast = broadcast

    def uninstall(self) -> None:
        for owner, leaf, orig in reversed(self._saved):
            setattr(owner, leaf, orig)
        self._saved.clear()

    # -- metrics -----------------------------------------------------------

    def _drain(self) -> None:
        """Wait until the listener bus has delivered every job."""
        tracker = self.sc.statusTracker()
        for _ in range(100):
            if not tracker.getActiveJobsIds() and not tracker.getActiveStageIds():
                break
            time.sleep(0.05)
        time.sleep(0.5)

    def _collect(self) -> None:
        """Attach jobs, stages and SQL executions to their spans."""
        self._drain()
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        job_span: dict[int, int] = {}
        for rec in self.spans:
            rec["jobs"] = sorted(tracker.getJobIdsForGroup(rec["group"]))
            for j in rec["jobs"]:
                job_span[j] = rec["id"]
        self.stages: dict[int, dict] = {}
        for rec in self.spans:
            stage_ids = set()
            for j in rec["jobs"]:
                data = store.job(j)
                ids = data.stageIds()
                stage_ids.update(int(ids.apply(k)) for k in range(ids.size()))
            rec["stages"] = sorted(stage_ids)
            for sid in stage_ids:
                if sid not in self.stages:
                    st = store.lastStageAttempt(sid)
                    self.stages[sid] = {
                        "tasks": int(st.numCompleteTasks()),
                        "failed": int(st.numFailedTasks()),
                        "fetch_wait_s": st.shuffleFetchWaitTime() / 1e3,
                    }
        sql = self.spark._jsparkSession.sharedState().statusStore()
        execs = sql.executionsList()
        self.execs: list[dict] = []
        for k in range(execs.size()):
            e = execs.apply(k)
            keys = e.jobs().keySet().toSeq()
            jobs = [int(keys.apply(i)) for i in range(keys.size())]
            owner = next((job_span[j] for j in jobs if j in job_span), None)
            if owner is None:
                continue
            eid = e.executionId()
            graph, values = sql.planGraph(eid), sql.executionMetrics(eid)
            nodes, all_nodes = {}, graph.allNodes()
            for i in range(all_nodes.size()):
                n = all_nodes.apply(i)
                ms, metrics = n.metrics(), {}
                for j in range(ms.size()):
                    m = ms.apply(j)
                    v = values.get(m.accumulatorId())
                    metrics[m.name()] = v.get() if v.isDefined() else None
                nodes[int(n.id())] = {"name": n.name(), "desc": n.desc(), "metrics": metrics}
            parent_of, children = {}, {}
            edges = graph.edges()
            for i in range(edges.size()):
                ed = edges.apply(i)
                parent_of[int(ed.fromId())] = int(ed.toId())
                children.setdefault(int(ed.toId()), []).append(int(ed.fromId()))
            self.execs.append({"span": owner, "nodes": nodes, "parent_of": parent_of,
                               "children": children})

    def _under(self, span_id: int, name: str) -> bool:
        """Whether the span, or an ancestor, is called ``name``."""
        while span_id is not None:
            if self.spans[span_id]["name"] == name:
                return True
            span_id = self.spans[span_id]["parent"]
        return False

    def _nodes(self, pred_exec=None):
        for ex in self.execs:
            if pred_exec is None or pred_exec(ex):
                for nid, node in ex["nodes"].items():
                    yield ex, nid, node

    def _sum(self, metric: str, node_pred, exec_pred=None) -> float:
        return sum(parse_metric(n["metrics"].get(metric))
                   for _, _, n in self._nodes(exec_pred) if node_pred(n))

    @staticmethod
    def _py(tag: str):
        """Predicate: the node runs the kernel function tagged ``tag``."""
        return lambda n: (TAG + tag + "(") in n["desc"]

    def _exchange_below(self, ex: dict, nid: int) -> list[dict]:
        """The first Exchange nodes under ``nid``."""
        out, stack = [], list(ex["children"].get(nid, []))
        while stack:
            c = stack.pop()
            node = ex["nodes"][c]
            if "Exchange" in node["name"] and "Broadcast" not in node["name"]:
                out.append(node)
            else:
                stack.extend(ex["children"].get(c, []))
        return out

    def _self_s(self, prefix: str) -> float:
        total = 0.0
        for rec in self.spans:
            if not rec["name"].startswith(prefix):
                continue
            kids = sum(c["end"] - c["start"] for c in self.spans if c["parent"] == rec["id"])
            total += (rec["end"] - rec["start"]) - kids
        return total

    def layer_metrics(self, ctx, workload, window_s: float) -> dict:
        self._collect()
        spans = self.spans
        by_name = lambda n: [s for s in spans if s["name"] == n]  # noqa: E731
        dur = lambda ss: sum(s["end"] - s["start"] for s in ss)  # noqa: E731
        has = lambda tag: (lambda ex: any(self._py(tag)(n) for n in ex["nodes"].values()))  # noqa: E731
        scan = lambda n: n["name"].startswith("Scan")  # noqa: E731
        exch = lambda n: "Exchange" in n["name"] and "Broadcast" not in n["name"]  # noqa: E731
        agg = lambda n: "Aggregate" in n["name"]  # noqa: E731
        under = lambda name: (lambda ex: self._under(ex["span"], name))  # noqa: E731
        out: dict[str, float] = {}

        out["sources.scan_s"] = self._sum("scan time", scan)
        out["sources.scan_bytes"] = self._sum("size of files read", scan)
        for tag, key in (("kernels_rollup_arrow__compute", "kernels.rollup_arrow"),):
            out[f"{key}.python_s"] = self._sum("time to run Python workers", self._py(tag))
            out[f"{key}.bytes_to_python"] = self._sum("data sent to Python workers", self._py(tag))
        enc, dec = self._py("kernels_codec__encode"), self._py("kernels_codec__decode")
        out["kernels.codec.encode_python_s"] = self._sum("time to run Python workers", enc)
        out["kernels.codec.encode_bytes_to_python"] = self._sum("data sent to Python workers", enc)
        out["kernels.codec.decode_python_s"] = self._sum("time to run Python workers", dec)
        decoded = useful = 0.0
        for ex, nid, node in self._nodes(has("kernels_codec__decode")):
            if node["name"] != "Generate":
                continue
            decoded += parse_metric(node["metrics"].get("number of output rows"))
            up = ex["parent_of"].get(nid)
            while up is not None and ex["nodes"][up]["name"] not in ("Filter",):
                up = ex["parent_of"].get(up)
            if up is not None:
                useful += parse_metric(ex["nodes"][up]["metrics"].get("number of output rows"))
        out["kernels.codec.decoded_points"] = decoded
        out["operators.rawquery.blocks_decoded"] = self._sum("number of output rows", dec)
        out["operators.rawquery.useful_point_ratio"] = useful / decoded if decoded else 0.0

        in_unit = under("plans.rollup_job.run_unit")
        # the cascade's groupBy exchanges; the sinks' exchanges (the
        # partition-value distinct and the write repartition) key on
        # bucket_date
        cascade = lambda n: (exch(n) and "bucket_date" not in n["desc"]  # noqa: E731
                             and "REPARTITION" not in n["desc"])
        out["plans.rollup_job.cascade_shuffle_bytes"] = self._sum(
            "shuffle bytes written", cascade, in_unit)
        out["plans.rollup_job.cascade_shuffle_write_s"] = self._sum(
            "shuffle write time", cascade, in_unit)
        out["plans.rollup_job.agg_build_s"] = self._sum(
            "time in aggregation build", agg, under("plans.rollup_job.run_rollup"))
        units = by_name("plans.rollup_job.run_unit")
        out["plans.rollup_job.unit_wall_s"] = dur(units) / len(units) if units else 0.0
        unit_jobs = sum(len(s["jobs"]) for s in spans if self._under(s["id"], "plans.rollup_job.run_unit"))
        out["plans.rollup_job.spark_jobs_per_unit"] = unit_jobs / len(units) if units else 0.0
        out["plans.rollup_job.self_s"] = self._self_s("plans.rollup_job.run_")

        upserts = by_name("plans.merge.upsert_partitioned")
        in_upsert = under("plans.merge.upsert_partitioned")
        write = lambda n: "InsertIntoHadoopFsRelation" in n["name"]  # noqa: E731
        out["plans.merge.upsert_s"] = dur(upserts)
        out["plans.merge.bytes_written"] = self._sum("written output", write, in_upsert)
        rows_written = self._sum("number of output rows", write, in_upsert)
        kept = self._sum("number of output rows", lambda n: "LeftAnti" in n["desc"], in_upsert)
        out["plans.merge.write_amplification"] = (
            rows_written / (rows_written - kept) if rows_written > kept else 0.0)
        readback = 0.0
        for ex, _, node in self._nodes(in_upsert):
            target = self._target(ex["span"])
            if scan(node) and target and target in node["desc"]:
                readback += parse_metric(node["metrics"].get("size of files read"))
        out["plans.merge.readback_bytes"] = readback
        out["plans.merge.self_s"] = self._self_s("plans.merge.")
        out["plans.manifest.record_s"] = dur(by_name("plans.manifest.record"))

        in_refresh = under("plans.refresh.refresh_tier")
        out["plans.refresh.rows_materialized"] = float(
            sum(s.get("rows", 0) for s in by_name("plans.refresh.refresh_tier")))
        out["plans.refresh.agg_s"] = self._sum("time in aggregation build", agg, in_refresh)
        out["plans.refresh.shuffle_bytes"] = self._sum("shuffle bytes written", exch, in_refresh)
        out["plans.refresh.self_s"] = self._self_s("plans.refresh.")

        legs = [src for s in by_name("plans.tierquery.route_plan") for src in s.get("legs", [])]
        out["plans.tierquery.legs_tier"] = float(sum(src != "raw" for src in legs))
        out["plans.tierquery.legs_raw"] = float(sum(src == "raw" for src in legs))
        reads = [s for s in spans if s.get("top") and s["name"] == "serve.tier_read"]
        read_ids = {s["id"] for s in reads}
        returned = sum(s.get("result_rows", 0) for s in reads)
        scanned = self._sum("number of output rows", scan, lambda ex: ex["span"] in read_ids
                            or self._op_of(ex["span"]) in read_ids)
        out["plans.tierquery.rows_scanned_per_row_returned"] = (
            scanned / returned if returned else 0.0)

        dtw, lb = self._py("kernels_dtw__compute"), self._py("kernels_dtw_lb__compute")
        out["kernels.dtw.pairs"] = self._sum("number of output rows", dtw)
        out["kernels.dtw.python_s"] = self._sum("time to run Python workers", dtw)
        out["kernels.dtw.pair_shuffle_bytes"] = self._sum(
            "shuffle bytes written", exch, has("kernels_dtw__compute"))
        out["kernels.dtw.broadcast_bytes"] = float(
            sum(s.get("broadcast_bytes", 0) for s in spans)
            + self._sum("data size", lambda n: "BroadcastExchange" in n["name"],
                        has("kernels_dtw__compute")))
        out["kernels.dtw.self_s"] = self._self_s("kernels.dtw.")
        rates = getattr(getattr(workload, "dtw", None), "prune_rates", None)
        out["kernels.dtw_lb.prune_rate"] = statistics.median(rates) if rates else 0.0
        out["kernels.dtw_lb.python_s"] = self._sum("time to run Python workers", lb)

        for op in OPERATORS:
            tag = self._py(f"operators_{op}__run")
            out[f"operators.{op}.python_s"] = self._sum("time to run Python workers", tag)
            out[f"operators.{op}.shuffle_bytes"] = sum(
                parse_metric(x["metrics"].get("shuffle bytes written"))
                for ex, nid, node in self._nodes() if tag(node)
                for x in self._exchange_below(ex, nid))
        # the five operators run as one chained request; its wall is
        # shared, their Python time and shuffles are their own
        out["operators.analytics_wall_s"] = dur(
            [s for s in spans if s.get("top") and s["name"] == "serve.analytics"])

        out["spark.python_worker_init_s"] = sum(
            self._sum(m, lambda n: True)
            for m in ("time to start Python workers", "time to initialize Python workers"))
        out["spark.jobs"] = float(sum(len(s["jobs"]) for s in spans))
        out["spark.tasks"] = float(sum(st["tasks"] for st in self.stages.values()))
        out["spark.shuffle_fetch_wait_s"] = sum(st["fetch_wait_s"] for st in self.stages.values())
        out["spark.task_failures"] = float(sum(st["failed"] for st in self.stages.values()))

        traced = [o for o in ctx.ops if o.traced and o.ok]
        untraced = [o for o in ctx.ops if not o.traced and o.ok]
        kinds = {o.kind for o in traced} & {o.kind for o in untraced}
        t_sum = sum(statistics.median(o.seconds for o in traced if o.kind == k) for k in kinds)
        u_sum = sum(statistics.median(o.seconds for o in untraced if o.kind == k) for k in kinds)
        out["trace.overhead_frac"] = t_sum / u_sum - 1.0 if u_sum else 0.0
        top = dur([s for s in spans if s.get("top")])
        traced_wall = window_s - sum(o.seconds for o in ctx.ops if not o.traced)
        out["trace.span_coverage"] = top / traced_wall if traced_wall > 0 else 0.0
        out["trace.spans"] = float(len(spans))
        return {k: (float(out[k]), unit) for k, unit in LAYER_METRICS.items()}

    def _op_of(self, span_id: int) -> int | None:
        while self.spans[span_id]["parent"] is not None:
            span_id = self.spans[span_id]["parent"]
        return span_id

    def _target(self, span_id: int) -> str | None:
        while span_id is not None:
            rec = self.spans[span_id]
            if rec.get("target"):
                return rec["target"]
            span_id = rec["parent"]
        return None

    def write_spans(self, out_dir: str, workload: str, seed: int) -> str:
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"spans_{workload}_s{seed}.json")
        keep = ("id", "name", "parent", "op", "start", "end", "group", "jobs", "legs",
                "rows", "target", "broadcast_bytes", "result_rows")
        with open(path, "w") as f:
            json.dump([{k: s[k] for k in keep if k in s} for s in self.spans], f)
        return path
