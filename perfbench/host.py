"""Peak-RSS sampling and host context, read from ``/proc`` only."""

from __future__ import annotations

import os
import threading
import time


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; ppid follows its ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_rss_mb(root: int | None = None) -> float:
    """RSS summed over ``root`` and all its descendants: this process,
    the Spark JVM it launched, and the JVM's Python daemon and
    workers."""
    root = os.getpid() if root is None else root
    kids = _children()
    total, stack = 0, [root]
    while stack:
        pid = stack.pop()
        total += _rss_kb(pid)
        stack.extend(kids.get(pid, ()))
    return total / 1024.0


class RssSampler:
    """Background thread sampling the process tree's RSS; ``peak_mb``
    is the highest sum seen between ``start()`` and ``stop()``."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            self._stop.wait(self.interval_s)

    def start(self) -> None:
        self.peak_mb = tree_rss_mb()
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def stop(self) -> float:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
        self.peak_mb = max(self.peak_mb, tree_rss_mb())
        return self.peak_mb


def _cpu_steal() -> tuple[int, int]:
    """(steal ticks, total ticks) from the aggregate /proc/stat line."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    steal = fields[7] if len(fields) > 7 else 0
    return steal, sum(fields)


def _psi_some_us(kind: str) -> int | None:
    try:
        with open(f"/proc/pressure/{kind}") as f:
            for line in f:
                if line.startswith("some"):
                    return int(line.rsplit("total=", 1)[1])
    except OSError:
        pass
    return None


class HostContext:
    """Host facts recorded beside every run (context, not metrics):
    cpu count, ``SPARK_GRAFT_CPUS``, load average, and the steal and
    pressure-stall deltas across the run."""

    def __init__(self):
        self.t0 = time.time()
        self.steal0 = _cpu_steal()
        self.psi0 = {k: _psi_some_us(k) for k in ("cpu", "memory", "io")}
        self.load0 = os.getloadavg()

    def finish(self, cores: int) -> dict:
        steal1 = _cpu_steal()
        wall = time.time() - self.t0
        d_steal = steal1[0] - self.steal0[0]
        d_total = max(1, steal1[1] - self.steal0[1])
        psi = {}
        for kind, before in self.psi0.items():
            after = _psi_some_us(kind)
            if before is not None and after is not None:
                psi[f"psi_{kind}_some_frac"] = round((after - before) / 1e6 / wall, 4)
        return {
            "nproc": len(os.sched_getaffinity(0)),
            "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
            "local_cores": cores,
            "loadavg_start": self.load0,
            "loadavg_end": os.getloadavg(),
            "steal_frac": round(d_steal / d_total, 4),
            **psi,
            "run_wall_s": round(wall, 2),
        }
