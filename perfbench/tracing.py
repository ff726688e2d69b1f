"""Measurement plumbing that sits outside the package under test: layer
spans around calls into public functions, Spark job groups, the JSON event
log fold, CPU time and peak resident memory of the process tree, and
shutdown of every process the run started."""

from __future__ import annotations

import json
import os
import signal
import subprocess
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

GROUP_PREFIX = "levbench:"

# Layers whose Spark work is folded from the event log, by job group.
SPARK_LAYERS = (
    "sources", "canonicalize", "candidates", "scoring", "clustering",
    "transduce", "streaming",
)
SPARK_TOTALS = (
    "executor_run_s", "executor_cpu_s", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "tasks",
)
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"


class Tracer:
    """Spans at layer boundaries. Disabled, ``span`` only runs the body, so
    untraced runs pay nothing; enabled, each span sets the Spark job group
    ``levbench:<name>`` so the event log and statusTracker can attribute
    jobs to the layer."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {"name": name, "start": time.time()}
        self.spans.append(rec)
        self.sc.setJobGroup(GROUP_PREFIX + name, name)
        try:
            yield
        finally:
            rec["end"] = time.time()
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def seconds(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def jobs(self, *names: str) -> int:
        tracker = self.sc.statusTracker()
        return sum(len(tracker.getJobIdsForGroup(GROUP_PREFIX + n)) for n in names)


def layer_of_group(group: str | None, stream_groups: set[str]) -> str | None:
    if group is None:
        return None
    if group in stream_groups:
        return "streaming"
    if group.startswith(GROUP_PREFIX):
        return group[len(GROUP_PREFIX):].split(".", 1)[0]
    return None


def fold_event_log(path: str, stream_groups: set[str]) -> dict:
    """Per-layer Spark totals from a JSON event log. A stage is attributed
    to the job group of the first job that lists it (the job that ran it;
    later jobs that reuse its shuffle output skip it). Spans whose name has
    a dot (``scoring.kernel``) roll up into the part before the dot; the
    full span name is kept as well so the kernel stage can be isolated."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group is None:
                    continue
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev.get("Stage ID"))
                layer = layer_of_group(group, stream_groups)
                if layer is None:
                    continue
                m = ev.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                acc = {a.get("Name"): a.get("Update") for a in
                       (ev.get("Task Info") or {}).get("Accumulables", [])}
                row = {
                    "executor_run_s": m.get("Executor Run Time", 0) / 1e3,
                    "executor_cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                    "shuffle_read_bytes": sr.get("Remote Bytes Read", 0)
                    + sr.get("Local Bytes Read", 0),
                    "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
                    "spill_bytes": m.get("Memory Bytes Spilled", 0)
                    + m.get("Disk Bytes Spilled", 0),
                    "tasks": 1,
                    "py_sent": float(acc.get(PY_SENT) or 0),
                    "py_returned": float(acc.get(PY_RETURNED) or 0),
                }
                keys = {layer}
                if group.startswith(GROUP_PREFIX):
                    keys.add(group[len(GROUP_PREFIX):])
                for k in keys:
                    for name, v in row.items():
                        out[k][name] += v
    return {k: dict(v) for k, v in out.items()}


def layer_totals(evlog: dict, layers: dict) -> dict:
    """Per-layer metrics from the folded event log: the Spark totals of
    every SPARK_LAYERS layer, the MapInArrow bytes crossing to and from
    Python in the scoring layer, and kernel.spark_gap, the bare per-core
    kernel rate over the in-Spark one (feasible pairs per executor-second
    of the scoring.kernel span's stages)."""
    out = {}
    for layer in SPARK_LAYERS:
        row = evlog.get(layer, {})
        for name in SPARK_TOTALS:
            out[f"{layer}.{name}"] = row.get(name, 0.0)
    scoring = evlog.get("scoring", {})
    out["scoring.python_bytes_sent"] = scoring.get("py_sent", 0.0)
    out["scoring.python_bytes_returned"] = scoring.get("py_returned", 0.0)
    kernel_run = evlog.get("scoring.kernel", {}).get("executor_run_s", 0.0)
    bare = layers.get("kernel.pairs_per_s_core", 0.0)
    feasible = layers.get("scoring.pairs_feasible", 0.0)
    if bare and kernel_run and feasible:
        out["kernel.spark_gap"] = bare / (feasible / kernel_run)
    return out


def event_log_file(log_dir: str) -> str:
    files = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    return os.path.join(log_dir, files[0])


# --------------------------------------------------------------------------
# process tree: peak RSS and shutdown
# --------------------------------------------------------------------------

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # comm may hold spaces/parens: ppid is the 2nd field after the last ')'
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids[ppid].append(int(name))
    return kids


def descendants(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        for c in kids.get(p, ()):
            out.append(c)
            todo.append(c)
    return out


def _cpu_ticks(path: str) -> int:
    """utime + stime + cutime + cstime from a /proc stat file, in clock
    ticks (a thread's own stat carries zeros in the last two)."""
    try:
        with open(path) as f:
            stat = f.read()
    except OSError:
        return 0
    return sum(int(x) for x in stat[stat.rindex(")") + 2:].split()[11:15])


# HotSpot's JIT compiler threads, whose share is reported on its own.
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


class CpuMeter:
    """CPU seconds (user + system) spent so far by this process and all its
    descendants: bench process, driver JVM, Python daemon and workers.
    Descendants that already exited and were reaped inside the tree count
    through the parent's cutime/cstime. The kernel charges time stolen by
    the hypervisor to no process, so unlike wall time this does not grow
    when the host takes the CPU away. ``jit_s`` is the part spent so far in
    the JVM's JIT compiler threads."""

    def __init__(self):
        # last reading of every JIT thread seen, so that the time of a
        # compiler thread the JVM retires still counts
        self._jit: dict[tuple[int, str], int] = {}
        self.jit_s = 0.0

    def read(self) -> float:
        me = os.getpid()
        total = 0
        for pid in [me] + descendants(me):
            total += _cpu_ticks(f"/proc/{pid}/stat")
            try:
                tids = os.listdir(f"/proc/{pid}/task")
            except OSError:
                continue
            for tid in tids:
                try:
                    with open(f"/proc/{pid}/task/{tid}/comm") as f:
                        comm = f.read()
                except OSError:
                    continue
                if comm.startswith(JIT_THREADS):
                    self._jit[(pid, tid)] = _cpu_ticks(f"/proc/{pid}/task/{tid}/stat")
        hz = os.sysconf("SC_CLK_TCK")
        self.jit_s = sum(self._jit.values()) / hz
        return total / hz


CPU = CpuMeter()


class Stopwatch:
    """Wall seconds (``s``) and process-tree CPU seconds (``cpu_s``, as
    ``CpuMeter`` counts them) of a block; ``jit_s`` is the JIT compiler
    share of ``cpu_s``."""

    def __enter__(self) -> "Stopwatch":
        self._cpu0 = CPU.read()
        self._jit0 = CPU.jit_s
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.s = time.perf_counter() - self._t0
        self.cpu_s = CPU.read() - self._cpu0
        self.jit_s = CPU.jit_s - self._jit0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "?"


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Samples the summed VmRSS of this process and all its descendants
    (driver JVM, Python daemon and workers) and keeps the peak."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_kb = 0
        self.peak_parts: dict[str, int] = {}
        self.seen: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        me = os.getpid()
        pids = [me] + descendants(me)
        self.seen.update(pids[1:])
        rss = {p: _rss_kb(p) for p in pids}
        if sum(rss.values()) > self.peak_kb:
            self.peak_kb = sum(rss.values())
            self.peak_parts = {f"{p}:{_comm(p)}": kb // 1024 for p, kb in rss.items() if kb}

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def start(self) -> "RssSampler":
        self._sample()
        self._thread.start()
        return self

    def stop(self) -> float:
        self._sample()
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak_kb / 1024.0


def stop_spark(spark, started: set[int], timeout_s: float = 30.0) -> None:
    """Stop the session, shut down the py4j gateway and wait for the driver
    JVM to exit; then end every process this run started that is still
    alive (``started``: pids the sampler saw in the tree, which catches
    workers orphaned by the JVM's exit)."""
    from pyspark import SparkContext

    started = started | set(descendants(os.getpid()))
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=timeout_s)
    reap(set(descendants(os.getpid())) | started, timeout_s)


def reap(pids: set[int], timeout_s: float) -> None:
    left = [p for p in pids if _alive(p)]
    deadline = time.time() + timeout_s
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        while left and time.time() < deadline:
            for pid in list(left):
                try:
                    os.waitpid(pid, os.WNOHANG)
                except ChildProcessError:
                    pass
            left = [p for p in left if _alive(p)]
            if left:
                time.sleep(0.05)
        if not left:
            return
        deadline = time.time() + timeout_s


def _alive(pid: int) -> bool:
    """Running and not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"
