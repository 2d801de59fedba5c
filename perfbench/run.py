"""tsclust_spark benchmark: one command, two workloads.

    python3 perfbench/run.py --workload ingest|serve|all \\
        --seed N --seconds S --trace 0|1

Each run starts one ``local[N]`` session (N = min(4, cpus)), builds its
inputs from ``--seed``, measures for ``--seconds`` and checks every
operation's output against numpy oracles. Human-readable lines go to
stdout first; the last stdout line is one JSON object::

    {"correct": bool, "attempted": int, "failed": int, "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones (``throughput``,
``peak_rss_mb``, ``setup_s``); with ``--trace 1`` they
are the per-layer ones read from a traced run (perfbench/trace.py).
All files the run writes live under ``.perfbench_work/`` at the
checkout root and are removed when it ends; a traced run also keeps its
spans in ``.perfbench_out/``.

The command itself only supervises: it runs the benchmark in a child
process that leads a session of its own, and when that child ends (or
overruns ``CHILD_TIMEOUT_S``) it stops every process left in the session
-- the Spark JVM and the Python daemon it forks, which moves to its own
process group -- and reaps each one before it exits.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SETUP_REPS = 3
MAX_OPS = 2000
CHILD_ENV = "PERFBENCH_CHILD"
CHILD_TIMEOUT_S = 170.0
TERM_GRACE_S = 5.0
PR_SET_CHILD_SUBREAPER = 36
ITEMS = {
    "ingest": "input points",
    "serve": "requests",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["ingest", "serve", "all"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def start_session(work: str, cores: int):
    from tsclust_spark.session import get_spark

    many = "100000"
    return get_spark(
        "perfbench",
        cores=cores,
        extra_confs={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "1g",
            # the heap is committed up front, so peak RSS follows what
            # the run allocates rather than when the collector grows it
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={work}/tmp -Xms1g -XX:+AlwaysPreTouch"),
            "spark.local.dir": f"{work}/spark-local",
            "spark.sql.warehouse.dir": f"{work}/warehouse",
            # the traced run reads job, stage and SQL metrics back from
            # the status store after the window; keep all of them
            "spark.ui.retainedJobs": many,
            "spark.ui.retainedStages": many,
            "spark.sql.ui.retainedExecutions": many,
        },
    )


def run_workload(spark, name: str, args, work: str, cores: int, session_s: float) -> dict:
    from perfbench.host import RssSampler
    from perfbench.workloads import WORKLOADS, Ctx

    ctx = Ctx(spark, os.path.join(work, name), args.seed, cores)
    os.makedirs(ctx.work)
    w = WORKLOADS[name](ctx)
    builds = []
    for rep in range(SETUP_REPS):
        t = time.perf_counter()
        w.generate(rep)
        builds.append(time.perf_counter() - t)
    t = time.perf_counter()
    w.materialize()
    materialize_s = time.perf_counter() - t
    t = time.perf_counter()
    w.warm()
    warm_s = time.perf_counter() - t
    setup_s = session_s + statistics.median(builds) + materialize_s + warm_s

    tracer = None
    if args.trace:
        from perfbench.trace import Tracer

        tracer = ctx.tracer = Tracer(spark)
        tracer.install()
    rss = RssSampler()
    rss.start()
    t_win = time.perf_counter()
    i = passes = 0
    try:
        # whole passes only; a traced run alternates untraced and
        # traced passes, at least one of each, so the difference
        # between them is the tracing overhead
        while i < MAX_OPS:
            ctx.traced_pass = passes % 2 == 1
            w.run_op(i)
            i += 1
            if i % w.pass_len:
                continue
            passes += 1
            if time.perf_counter() - t_win >= args.seconds and (tracer is None or passes >= 2):
                break
    finally:
        window_s = time.perf_counter() - t_win
        peak = rss.stop()
        if tracer is not None:
            tracer.uninstall()
    w.finish()
    ctx.run_checks()

    failed = sum(not o.ok for o in ctx.ops)
    try:
        throughput, named = w.report()
    except (ValueError, ZeroDivisionError, statistics.StatisticsError):
        throughput, named = 0.0, {}
        failed = max(failed, 1)
    out = {
        "name": name,
        "attempted": len(ctx.ops),
        "failed": failed,
        "setup_s": setup_s,
        "setup": {"session_s": session_s, "generate_s": builds,
                  "materialize_s": materialize_s, "warm_s": warm_s},
        "window_s": window_s,
        "peak_rss_mb": peak,
        "throughput": throughput,
        "named": named,
        "why_failed": sorted({o.why for o in ctx.ops if not o.ok}),
    }
    if tracer is not None:
        out["layers"] = tracer.layer_metrics(ctx, w, window_s)
        tracer.write_spans(os.path.join(ROOT, ".perfbench_out"), name, args.seed)
    return out


def print_summary(res: dict) -> None:
    name = res["name"]
    frac = res["failed"] / max(1, res["attempted"])
    print(f"== {name}: {res['attempted']} ops in {res['window_s']:.2f} s, "
          f"failed {res['failed']}")
    rows = [("setup_s", res["setup_s"], "s"),
            ("peak_rss_mb", res["peak_rss_mb"], "MB"),
            ("failed_ops_frac", frac, "failed/attempted"),
            (f"throughput ({ITEMS[name]})", res["throughput"], "items/s")]
    for key, val in res["named"].items():
        extra = ""
        if len(val) > 2:
            lat = val[2]
            extra = (f"  (p{lat['tail_pct']:g} of n={lat['n']})" if lat["tail_pct"]
                     else f"  (n={lat['n']}: fewer than 20 samples, no tail)")
        rows.append((key, val[0], val[1] + extra))
    st = res["setup"]
    print(f"   setup: session {st['session_s']:.2f} s, generate "
          + ", ".join(f"{b:.2f}" for b in st["generate_s"])
          + f" s, materialize {st['materialize_s']:.2f} s, warm {st['warm_s']:.2f} s")
    for key, val, unit in rows:
        shown = "n/a" if val is None else f"{val:.6g}"
        print(f"   {key:<34} {shown:>14} {unit}")
    for why in res["why_failed"]:
        print(f"   failed: {why}")


def metric(value, unit):
    return {"value": value, "unit": unit}


def bench(args) -> tuple[list[dict], dict]:
    """Run the selected workloads in one session; returns the
    per-workload results and the host context."""
    sys.path.insert(0, ROOT)
    os.environ["TZ"] = "UTC"
    time.tzset()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])

    from perfbench.host import HostContext

    host = HostContext()
    cores = min(4, len(os.sched_getaffinity(0)))
    names = ["ingest", "serve"] if args.workload == "all" else [args.workload]
    results = []
    try:
        t = time.perf_counter()
        spark = start_session(work, cores)
        session_s = time.perf_counter() - t
        try:
            for name in names:
                results.append(run_workload(spark, name, args, work, cores, session_s))
        finally:
            spark.stop()
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    return results, host.finish(cores)


def result_line(args, results: list[dict]) -> dict:
    """The final JSON object: end-to-end metrics (one workload), the
    named metrics of every workload (``all``) or, traced, the per-layer
    metrics."""
    attempted = sum(r["attempted"] for r in results)
    failed = sum(r["failed"] for r in results)
    if args.trace:
        metrics = {
            (k if len(results) == 1 else f"{r['name']}.{k}"): metric(v, unit)
            for r in results for k, (v, unit) in r["layers"].items()
        }
    elif len(results) == 1:
        r = results[0]
        metrics = {
            "throughput": metric(r["throughput"], "items/s"),
            "peak_rss_mb": metric(r["peak_rss_mb"], "MB"),
            "setup_s": metric(r["setup_s"], "s"),
        }
    else:
        metrics = {"setup_s": metric(max(r["setup_s"] for r in results), "s"),
                   "peak_rss_mb": metric(max(r["peak_rss_mb"] for r in results), "MB"),
                   "failed_ops_frac": metric(failed / max(1, attempted), "failed/attempted")}
        for r in results:
            for k, v in r["named"].items():
                metrics[k] = metric(v[0], v[1])
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def _become_subreaper() -> None:
    """Have orphaned descendants re-parented to this process, so that
    it can reap them once their own parent has gone."""
    import ctypes

    try:
        libc = ctypes.CDLL(None)
        libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def _session(sid: int) -> list[tuple[int, str, int]]:
    """``(pid, state, ppid)`` of every process whose session id is
    ``sid``, zombies included."""
    procs = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # fields after the command name: state ppid pgrp session ...
        fields = stat.rsplit(")", 1)[1].split()
        if int(fields[3]) == sid:
            procs.append((int(name), fields[0], int(fields[1])))
    return procs


def stop_session(sid: int) -> None:
    """SIGTERM every process left in session ``sid``, SIGKILL what is
    still there after ``TERM_GRACE_S``, and return once none is running
    and each one that is a child here is reaped. A JVM whose main
    thread has ended shows as a zombie while its other threads still
    run, so a zombie child is waited for until it can be reaped."""
    sig = signal.SIGTERM
    deadline = time.monotonic() + TERM_GRACE_S
    me = os.getpid()
    while True:
        procs = _session(sid)
        mine = [pid for pid, _, ppid in procs if ppid == me]
        for pid in mine:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
        live = [pid for pid, state, _ in procs if state != "Z"]
        if not live and not mine:
            return
        if time.monotonic() >= deadline:
            sig = signal.SIGKILL
        for pid in live:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.05)


def supervise(argv: list[str], args) -> int:
    """Run the benchmark in a child that leads its own session; stop
    and reap everything in that session before returning its code."""
    _become_subreaper()
    child = subprocess.Popen(
        [sys.executable, os.path.abspath(__file__), *argv],
        env=dict(os.environ, **{CHILD_ENV: "1"}),
        start_new_session=True,
    )
    try:
        code = child.wait(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {CHILD_TIMEOUT_S:.0f} s, stopped",
              file=sys.stderr)
        code = 3
    finally:
        stop_session(child.pid)
        shutil.rmtree(os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{child.pid}"),
                      ignore_errors=True)
        try:
            os.rmdir(os.path.join(ROOT, ".perfbench_work"))
        except OSError:
            pass
    return code if code >= 0 else 128 - code


def main(argv=None) -> int:
    argv = sys.argv[1:] if argv is None else list(argv)
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "tsclust_spark", "__init__.py")):
        print("perfbench: no tsclust_spark package beside perfbench/", file=sys.stderr)
        return 2
    if os.environ.get(CHILD_ENV) != "1":
        return supervise(argv, args)
    results, context = bench(args)
    print("context " + json.dumps(context))
    for res in results:
        print_summary(res)
    print(json.dumps(result_line(args, results)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
