"""Session lifecycle, process-tree measurement and span tracing shared by
the three perfbench workloads.

Everything here observes the engine from outside: the SparkSession comes
from the engine's own factory (``session.get_spark``), CPU and JVM churn
come from the legacy catalog bench's probes (``bench._tree_cpu_sec``,
``bench._jvm_churn_ms``), and per-span executor numbers come from the
Spark status store, which is populated even with the UI disabled.
"""

from __future__ import annotations

import json
import os
import signal
import statistics
import time
from pathlib import Path

_HZ = os.sysconf("SC_CLK_TCK")


def process_age_s() -> float:
    """Seconds since this process was started by the kernel, so setup
    time includes interpreter start-up and imports."""
    with open("/proc/self/stat") as f:
        raw = f.read()
    start_ticks = int(raw[raw.rindex(")") + 2 :].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / _HZ


def _tree_pids() -> list[int]:
    """This process and every live descendant (the JVM and the Python
    workers the JVM forks)."""
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        parent[int(entry)] = int(raw[raw.rindex(")") + 2 :].split()[1])
    kids: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        kids.setdefault(ppid, []).append(pid)
    out, stack = [], [os.getpid()]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(kids.get(pid, []))
    return out


def tree_peak_rss_mb() -> float:
    """Sum of each live tree process's peak resident set (VmHWM)."""
    total_kb = 0
    for pid in _tree_pids():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, q in [0, 100]."""
    xs = sorted(values)
    if len(xs) == 1:
        return xs[0]
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


# --- session ----------------------------------------------------------------


def stop_session(spark) -> None:
    """Stop Spark, end the JVM and wait until every process this run
    started has exited."""
    from pyspark import SparkContext

    pids = [p for p in _tree_pids() if p != os.getpid()]
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        # the gateway JVM exits when its stdin reaches EOF
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + 15
    while time.monotonic() < deadline:
        alive = [p for p in pids if os.path.exists(f"/proc/{p}")
                 and _state(p) not in ("Z", "X")]
        if not alive:
            return
        time.sleep(0.1)
    for p in pids:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _state(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
        return raw[raw.rindex(")") + 2]
    except OSError:
        return "X"


# --- status store -------------------------------------------------------------


class StageCounters:
    """Executor CPU, shuffle-write, spill and scan bytes of the stages
    that ran since the last mark, read from the status store.

    ``stageList`` returns stages newest first, so a delta walks only the
    stages whose id is above the previous high-water mark."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._store = sc._jsc.sc().statusStore()
        self._empty = sc._gateway.new_array(sc._gateway.jvm.double, 0)
        self._hwm = self._head_id()

    def _stages(self):
        return self._store.stageList(None, False, False, self._empty, None)

    def _head_id(self) -> int:
        seq = self._stages()
        return seq.head().stageId() if seq.size() else -1

    def mark(self) -> None:
        self._hwm = self._head_id()

    def delta(self) -> dict[str, float]:
        """Totals over stages newer than the mark; advances the mark."""
        out = {"exec_cpu_ms": 0.0, "shuffle_bytes": 0, "spill_bytes": 0,
               "scan_bytes": 0, "stages": 0}
        it = self._stages().iterator()
        head = self._hwm
        while it.hasNext():
            s = it.next()
            sid = s.stageId()
            if sid <= self._hwm:
                break
            head = max(head, sid)
            out["stages"] += 1
            out["exec_cpu_ms"] += s.executorCpuTime() / 1e6
            out["shuffle_bytes"] += s.shuffleWriteBytes()
            out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            out["scan_bytes"] += s.inputBytes()
        self._hwm = head
        return out


# --- spans --------------------------------------------------------------------


class Tracer:
    """In-memory spans (name, start, end, parent, request id, counters),
    written out as JSON lines when the run ends.

    A span's ``cpu_ms`` is the CPU of the whole local-mode process tree
    (this process, JVM executor threads and Python workers) over its interval;
    spans are entered one at a time on the benchmark thread, so the
    interval's CPU belongs to that span. ``exec_cpu_ms`` and the byte
    counters are the status-store totals of the stages the span ran."""

    def __init__(self, spark, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.bookkeeping_s = 0.0
        if enabled:
            import bench

            self._cpu = bench._tree_cpu_sec
            self._sc = spark.sparkContext
            self._stages = StageCounters(spark)

    def span(self, name: str, request: str, **attrs):
        return _Span(self, name, request, attrs)

    def _claim(self, rec: dict) -> None:
        """Add the stages run since the last claim to ``rec``."""
        for key, val in self._stages.delta().items():
            rec[key] = rec.get(key, 0) + val

    def _open(self, name, request, attrs) -> dict:
        t0 = time.perf_counter()
        if self._stack:
            self._claim(self.spans[self._stack[-1]])
        else:
            self._stages.mark()
        group = f"span-{len(self.spans)}"
        self._sc.setJobGroup(group, name)
        rec = {
            "id": len(self.spans), "name": name, "request": request,
            "parent": self._stack[-1] if self._stack else None,
            "_cpu0": self._cpu(), **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        rec["start"] = time.perf_counter()
        self.bookkeeping_s += rec["start"] - t0
        return rec

    def _close(self, rec: dict) -> None:
        end = time.perf_counter()
        rec["end"] = end
        rec["cpu_ms"] = (self._cpu() - rec.pop("_cpu0")) * 1e3
        self._claim(rec)
        rec["jobs"] = len(
            self._sc.statusTracker().getJobIdsForGroup(f"span-{rec['id']}")
        )
        self._stack.pop()
        # jobs after this point belong to the enclosing span, if any
        self._sc.setLocalProperty(
            "spark.jobGroup.id", f"span-{self._stack[-1]}" if self._stack else None
        )
        self.bookkeeping_s += time.perf_counter() - end

    def finish(self) -> None:
        """Self time and self CPU: a span's own figure minus what its
        direct children cover. (Stage counters and job counts are
        already exclusive: a child claims the stages it ran.)"""
        child_ms: dict[int, float] = {}
        child_cpu: dict[int, float] = {}
        for rec in self.spans:
            rec["wall_ms"] = (rec["end"] - rec["start"]) * 1e3
            if rec["parent"] is not None:
                child_ms[rec["parent"]] = child_ms.get(rec["parent"], 0.0) + rec["wall_ms"]
                child_cpu[rec["parent"]] = child_cpu.get(rec["parent"], 0.0) + rec["cpu_ms"]
        for rec in self.spans:
            rec["self_ms"] = rec["wall_ms"] - child_ms.get(rec["id"], 0.0)
            rec["self_cpu_ms"] = rec["cpu_ms"] - child_cpu.get(rec["id"], 0.0)

    def values(self, name: str, field: str) -> list[float]:
        return [rec[field] for rec in self.spans if rec["name"] == name and field in rec]

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")


class _Span:
    def __init__(self, tracer: Tracer, name: str, request: str, attrs: dict) -> None:
        self._tracer, self._name, self._request, self._attrs = tracer, name, request, attrs
        self.rec: dict = {}

    def __enter__(self) -> dict:
        if self._tracer.enabled:
            self.rec = self._tracer._open(self._name, self._request, self._attrs)
        return self.rec

    def __exit__(self, *exc) -> None:
        if self._tracer.enabled:
            self._tracer._close(self.rec)


class SessionProbe:
    """JVM GC/JIT time, process-tree CPU-over-wall across the timed phase
    and the tree's peak RSS at its end (the ``session`` layer)."""

    def __init__(self, spark) -> None:
        import bench

        self._spark = spark
        self._cpu = bench._tree_cpu_sec
        self._churn = bench._jvm_churn_ms
        self._c0 = self._cpu()
        self._g0 = self._churn(spark)
        self._t0 = time.perf_counter()

    def finish(self) -> dict[str, float]:
        wall = time.perf_counter() - self._t0
        c1, g1 = self._cpu(), self._churn(self._spark)
        return {
            "session.jvm_gc_ms": float(g1[0] - self._g0[0]),
            "session.jit_ms": float(g1[1] - self._g0[1]),
            "session.cpu_over_wall": (c1 - self._c0) / wall,
            "session.peak_rss_mb": tree_peak_rss_mb(),
        }


class Outcome:
    """What one workload run reports back to ``run.py``.

    ``metrics`` holds the BENCHMARK.json end-to-end metrics, ``extra`` the
    workload-specific figures printed in the summary line, ``layers``
    the per-layer metrics of a traced run."""

    def __init__(self) -> None:
        self.metrics: dict[str, float] = {}
        self.extra: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.attempted = 0
        self.failed = 0
        self.checked = 0
        self.errors: list[str] = []

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(what)
