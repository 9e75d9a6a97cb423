"""Measurement helpers: process-tree CPU, host steal, and Spark job-group
spans read back from the in-JVM status store.

The status store is the one the Spark UI renders from; it is filled by
the listener bus whether or not the UI runs (the engine's session sets
``spark.ui.enabled=false``), so a span costs a job-group switch plus a
few py4j reads after the pass.
"""

from __future__ import annotations

import os
import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_TICK = os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------------------
# process tree and host
# ---------------------------------------------------------------------------
def _stat(pid: int) -> tuple[int, float] | None:
    """(parent pid, CPU seconds incl. reaped children) of one process."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    fields = raw[raw.rindex(")") + 2 :].split()
    # fields[0] is field 3 (state): utime=14, stime=15, cutime=16, cstime=17
    cpu = sum(int(x) for x in fields[11:15]) / _TICK
    return int(fields[1]), cpu


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


@dataclass
class TreeCpu:
    """CPU seconds of this process and every descendant, split into the
    driver interpreter, the JVM, and the PySpark daemon with its workers."""

    driver: float
    jvm: float
    python_workers: float

    @property
    def total(self) -> float:
        return self.driver + self.jvm + self.python_workers

    def __sub__(self, other: TreeCpu) -> TreeCpu:
        return TreeCpu(self.driver - other.driver, self.jvm - other.jvm,
                       self.python_workers - other.python_workers)


def _processes() -> dict[int, tuple[int, float]]:
    """pid -> (parent pid, CPU seconds) of every visible process."""
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                out[int(name)] = st
    return out


def descendants(procs: dict[int, tuple[int, float]], root: int) -> list[int]:
    out = []
    for pid, (p, _) in procs.items():
        depth = 0
        while p not in (0, 1, root) and depth < 64:
            p, depth = procs.get(p, (0, 0.0))[0], depth + 1
        if p == root and pid != root:
            out.append(pid)
    return out


def _is_java(pid: int) -> bool:
    return "java" in _cmdline(pid).split(" ", 1)[0]


def tree_cpu(root: int | None = None) -> TreeCpu:
    root = root or os.getpid()
    procs = _processes()
    out = TreeCpu(0.0, 0.0, 0.0)
    # self: own utime+stime only (its reaped children are the JVM launcher
    # shells, negligible); descendants counted with their reaped children
    with open(f"/proc/{root}/stat") as fh:
        raw = fh.read()
    f = raw[raw.rindex(")") + 2 :].split()
    out.driver = (int(f[11]) + int(f[12])) / _TICK
    for pid in descendants(procs, root):
        if "pyspark" in _cmdline(pid) and not _is_java(pid):
            # the daemon reaps its forked workers, so daemon cutime holds
            # finished workers and live workers add their own
            out.python_workers += procs[pid][1]
        else:
            out.jvm += procs[pid][1]
    return out


def jvm_pid(root: int | None = None) -> int | None:
    root = root or os.getpid()
    return next((pid for pid, (p, _) in _processes().items()
                 if p == root and _is_java(pid)), None)


def rss_peak_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def host_cpu() -> tuple[int, int]:
    """(steal ticks, all ticks) summed over every CPU since boot."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    return vals[7], sum(vals[:8])


def process_age_s() -> float:
    """Seconds since this process was started by the kernel."""
    with open("/proc/self/stat") as fh:
        raw = fh.read()
    start_ticks = int(raw[raw.rindex(")") + 2 :].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / _TICK


# ---------------------------------------------------------------------------
# Spark spans
# ---------------------------------------------------------------------------
_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_TOTAL_RE = re.compile(r"^(?:total[^\n]*\n)?\s*([0-9.,]+)\s*([A-Za-z]*)")


def metric_value(text: str) -> float:
    """Total of one SQL metric as the status store formats it:
    '12.3 KiB', '1.9 s', '6,000' or 'total (min, med, max ...)\\n<total> (...)'."""
    m = _TOTAL_RE.match(text.strip())
    if not m:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    return num * _SIZE.get(unit, _TIME.get(unit, 1.0))


def _is_python(operator: str) -> bool:
    return "Python" in operator or "Pandas" in operator or "Arrow" in operator


def _cluster_names(cluster) -> list[str]:
    out = [cluster.name()]
    it = cluster.childClusters().iterator()
    while it.hasNext():
        out.extend(_cluster_names(it.next()))
    return out


@dataclass
class Span:
    """One call into a layer, tagged with its own Spark job group."""

    layer: str
    op: str
    phase: str  # 'op' (whole call) or 'construct' (plan builder inside it)
    group: str
    parent: Span | None = None
    wall_s: float = 0.0
    cpu: TreeCpu | None = None
    stats: dict = field(default_factory=dict)

    @property
    def root(self) -> Span:
        return self if self.parent is None else self.parent.root


class Tracer:
    """Job-group spans around calls into the engine.  ``enabled=False``
    keeps only wall times, so untraced runs do no Spark bookkeeping."""

    STAGE_FIELDS = {
        "cpu_ns": "executorCpuTime",
        "output_bytes": "outputBytes",
        "output_rows": "outputRecords",
        "shuffle_write_bytes": "shuffleWriteBytes",
        "spill_bytes": "diskBytesSpilled",
    }

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[Span] = []
        self.overhead_s = 0.0
        self._n = 0
        self._stack: list[Span] = []
        self._last_exec = -1

    @contextmanager
    def span(self, layer: str, op: str, phase: str = "op"):
        if not self.enabled:
            yield None
            return
        t = time.perf_counter()
        self._n += 1
        s = Span(layer, op, phase, f"pipebench-{self._n}",
                 self._stack[-1] if self._stack else None)
        self.sc.setJobGroup(s.group, f"{layer}:{op}:{phase}", False)
        cpu0 = tree_cpu()
        self._stack.append(s)
        self.overhead_s += time.perf_counter() - t
        t0 = time.perf_counter()
        try:
            yield s
        finally:
            s.wall_s = time.perf_counter() - t0
            t = time.perf_counter()
            s.cpu = tree_cpu() - cpu0
            self._stack.pop()
            if self._stack:
                outer = self._stack[-1]
                self.sc.setJobGroup(outer.group, f"{outer.layer}:{outer.op}:{outer.phase}", False)
            else:
                self.sc._jsc.clearJobGroup()
            self.spans.append(s)
            self.overhead_s += time.perf_counter() - t

    def wrap(self, module, attr: str, layer: str) -> None:
        """Run every call of ``module.attr`` (a lazy plan builder) inside a
        construct span of ``layer``; callers that import the name at call
        time pick the wrapper up."""
        fn = getattr(module, attr)

        def traced(*args, **kwargs):
            with self.span(layer, attr, "construct"):
                return fn(*args, **kwargs)

        setattr(module, attr, traced)

    def collect(self, spans: list[Span]) -> None:
        """Read jobs, stages and SQL plan metrics of finished spans."""
        t = time.perf_counter()
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(30_000)
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        sql = self.spark._jsparkSession.sharedState().statusStore()
        execs = self._new_executions(sql)
        for s in spans:
            jobs = sorted(tracker.getJobIdsForGroup(s.group))
            st = {k: 0 for k in self.STAGE_FIELDS}
            st.update(jobs=len(jobs), stages=[], python_bytes_in=0.0,
                      python_bytes_out=0.0, python_rows=0.0,
                      python_stage_ids=[], csv_scans=0)
            jobset = set(jobs)
            for e in execs:
                if not (e["jobs"] & jobset):
                    continue
                for name, metrics in e["nodes"]:
                    st["csv_scans"] += name.startswith("Scan csv")
                    if _is_python(name):
                        st["python_bytes_in"] += metrics.get("data sent to Python workers", 0.0)
                        st["python_bytes_out"] += metrics.get("data returned from Python workers", 0.0)
                        st["python_rows"] += metrics.get("number of output rows", 0.0)
            for j in jobs:
                info = tracker.getJobInfo(j)
                for sid in info.stageIds if info else ():
                    sd = store.lastStageAttempt(sid)
                    sub, done = sd.submissionTime(), sd.completionTime()
                    if not sub.isDefined():
                        continue  # skipped: its output was already computed
                    for k, attr in self.STAGE_FIELDS.items():
                        st[k] += getattr(sd, attr)()
                    wall = ((done.get().getTime() - sub.get().getTime()) / 1e3
                            if done.isDefined() else 0.0)
                    st["stages"].append({
                        "id": sid, "tasks": sd.numTasks(), "wall_s": wall,
                        "run_s": sd.executorRunTime() / 1e3,
                        "input_bytes": sd.inputBytes()})
                    # the stage's RDD operation graph names the SQL operators
                    # it ran; a Python operator marks a kernel stage
                    if st["python_bytes_in"] and any(
                            _is_python(n) for n in _cluster_names(
                                store.operationGraphForStage(sid).rootCluster())):
                        st["python_stage_ids"].append(sid)
            s.stats = st
        self.overhead_s += time.perf_counter() - t

    def _new_executions(self, sql) -> list[dict]:
        """SQL executions started since the previous call, with their
        job ids and (node name, {metric: total})."""
        out = []
        eid, misses = self._last_exec + 1, 0
        while misses < 16:  # ids are dense; tolerate a few not yet posted
            opt = sql.execution(eid)
            if not opt.isDefined():
                eid, misses = eid + 1, misses + 1
                continue
            misses = 0
            e = opt.get()
            jobs = set()
            it = e.jobs().keys().iterator()
            while it.hasNext():
                jobs.add(int(it.next()))
            values = sql.executionMetrics(eid)
            nodes = []
            nit = sql.planGraph(eid).allNodes().iterator()
            while nit.hasNext():
                n = nit.next()
                ms = {}
                mit = n.metrics().iterator()
                while mit.hasNext():
                    pm = mit.next()
                    v = values.get(pm.accumulatorId())
                    ms[pm.name()] = metric_value(v.get()) if v.isDefined() else 0.0
                nodes.append((n.name(), ms))
            out.append({"id": eid, "jobs": jobs, "nodes": nodes})
            self._last_exec = eid
            eid += 1
        return out

    def jvm_gc_s(self) -> float:
        """Total GC time of the driver JVM (local mode: also every task)."""
        mf = self.sc._jvm.java.lang.management.ManagementFactory
        it = mf.getGarbageCollectorMXBeans().iterator()
        total = 0
        while it.hasNext():
            total += max(0, it.next().getCollectionTime())
        return total / 1e3
