"""Measurement helpers: the percentile rule, the host sampler and the
per-operation Spark trace.

Nothing here changes what the engine does. The Spark trace reads the
application's status store (jobs, stages, task metrics), the Catalyst phase
tracker of each Dataset and the file scans of its executed plan, all through
py4j, after the operation has returned.
"""

from __future__ import annotations

import os
import statistics
import threading
import time

PAGE_KIB = 1024


# ------------------------------------------------------------ statistics
def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def tail(values, beyond: int = 10) -> tuple[float, float, int]:
    """The highest percentile with at least ``beyond`` samples above it.

    Returns ``(value, percentile, samples_beyond)``. With ``n`` sorted
    samples the answer is the ``(n - beyond)``-th smallest, i.e. the
    ``100 * (n - beyond) / n`` percentile, with exactly ``beyond``
    samples above it. With ``beyond`` samples or fewer there is no such
    percentile and the maximum is returned at percentile 100 with the
    count of samples above it (0).
    """
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return 0.0, 0.0, 0
    if n <= beyond:
        return float(xs[-1]), 100.0, 0
    k = n - beyond  # 1-based rank of the answer
    return float(xs[k - 1]), 100.0 * k / n, n - k


# ------------------------------------------------------------ host
def _read(path: str) -> str:
    with open(path) as f:
        return f.read()


def _steal_s() -> float:
    fields = _read("/proc/stat").split("\n", 1)[0].split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def _cpu_pressure_s() -> float:
    try:
        line = _read("/proc/pressure/cpu").split("\n", 1)[0]
    except OSError:
        return 0.0
    total = [p for p in line.split() if p.startswith("total=")]
    return int(total[0][6:]) / 1e6 if total else 0.0


def contention() -> tuple[float, float]:
    """Host CPU steal and CPU-pressure stall totals, in seconds; the
    difference of two readings is the contention in between."""
    return _steal_s(), _cpu_pressure_s()


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            stat = _read(f"/proc/{name}/stat")
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(root: int) -> list[int]:
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        for c in kids.get(pid, ()):
            out.append(c)
            todo.append(c)
    return out


def _pss_kib(pid: int) -> int:
    """Proportional set size: pages shared between forked processes
    count once across the tree."""
    try:
        for line in _read(f"/proc/{pid}/smaps_rollup").splitlines():
            if line.startswith("Pss:"):
                return int(line.split()[1])
    except OSError:
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        return _read(f"/proc/{pid}/comm").strip()
    except OSError:
        return ""


class HostSampler:
    """Samples the PSS of this process tree (this process, JVM, Python workers)
    on a background thread, and the host's CPU steal and CPU pressure
    between ``start`` and ``stop``."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_mib = self.peak_jvm_mib = self.peak_python_mib = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._t0 = (0.0, 0.0)
        self.steal_s = self.cpu_pressure_s = 0.0

    def start(self) -> "HostSampler":
        self._t0 = contention()
        self._thread.start()
        return self

    def sample(self) -> None:
        me = os.getpid()
        jvm = py = 0
        for pid in [me] + descendants(me):
            kib = _pss_kib(pid)
            if _comm(pid) == "java":
                jvm += kib
            else:
                py += kib
        self.peak_mib = max(self.peak_mib, (jvm + py) / PAGE_KIB)
        self.peak_jvm_mib = max(self.peak_jvm_mib, jvm / PAGE_KIB)
        self.peak_python_mib = max(self.peak_python_mib, py / PAGE_KIB)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def stop(self) -> None:
        """Ends sampling; later calls keep the first reading."""
        if self._stop.is_set():
            return
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()
        now = contention()
        self.steal_s = now[0] - self._t0[0]
        self.cpu_pressure_s = now[1] - self._t0[1]


# ------------------------------------------------------------ Spark trace
STAGE_FIELDS = ("jobs", "stages", "tasks", "failed_tasks", "executor_run_s",
                "executor_cpu_s", "jvm_gc_s", "input_bytes", "scan_rows",
                "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
                "job_wall_ms")


class SparkTrace:
    """Per-operation readings from Spark's status store.

    ``begin`` puts the operation's jobs in their own job group; ``end``
    waits for the listener bus, then sums the group's jobs and stages.
    Catalyst phase times are read from a Dataset's tracker the first
    time the Dataset object is seen (a reused prepared plan is not
    analyzed, optimized or planned again, so it costs 0 there).
    """

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
        self._n = 0
        self._group = None
        # id(df) -> (df, files its scans read); holding the DataFrame
        # keeps its id from being reused
        self._seen: dict[int, tuple] = {}
        self.self_s = 0.0  # time spent reading traces

    def begin(self, name: str) -> None:
        self._n += 1
        self._group = f"perfbench-{self._n}"
        self.sc.setJobGroup(self._group, name, False)

    def end(self, dfs=()) -> dict:
        t0 = time.perf_counter()
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        out = dict.fromkeys(STAGE_FIELDS, 0.0)
        for jid in self.sc.statusTracker().getJobIdsForGroup(self._group):
            job = store.job(jid)
            out["jobs"] += 1
            sub, comp = job.submissionTime(), job.completionTime()
            if sub.isDefined() and comp.isDefined():
                out["job_wall_ms"] += comp.get().getTime() - sub.get().getTime()
            ids = job.stageIds()
            for i in range(ids.size()):
                try:
                    st = store.lastStageAttempt(ids.apply(i))
                except Exception:  # py4j: stage evicted from the store
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numTasks()
                out["failed_tasks"] += st.numFailedTasks()
                out["executor_run_s"] += st.executorRunTime() / 1e3
                out["executor_cpu_s"] += st.executorCpuTime() / 1e9
                out["jvm_gc_s"] += st.jvmGcTime() / 1e3
                out["input_bytes"] += st.inputBytes()
                out["scan_rows"] += st.inputRecords()
                out["shuffle_read_bytes"] += st.shuffleReadBytes()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        out["analysis_ms"] = out["optimization_ms"] = out["planning_ms"] = 0.0
        files = sum(self._plan_readings(df, out) for df in dfs)
        # a re-executed plan whose scan stages are skipped reads no file
        out["scan_files"] = float(files) if out["input_bytes"] else 0.0
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.self_s += time.perf_counter() - t0
        return out

    def _plan_readings(self, df, out: dict) -> int:
        """Adds the Catalyst phase times of a Dataset seen for the first
        time to ``out``; returns the files its plan's scans list."""
        key = id(df)
        if key in self._seen:
            return self._seen[key][1]
        qe = df._jdf.queryExecution()
        phases = self._conv.asJava(qe.tracker().phases())
        for name in phases.keySet():
            if name in ("analysis", "optimization", "planning"):
                out[f"{name}_ms"] += phases[name].durationMs()
        files = 0
        todo = [qe.executedPlan()]
        while todo:
            node = todo.pop()
            cls = node.getClass().getSimpleName()
            if cls == "AdaptiveSparkPlanExec":
                todo.append(node.executedPlan())
                continue
            if cls.endswith("QueryStageExec"):
                todo.append(node.plan())
            if cls == "FileSourceScanExec":
                m = node.metrics().get("numFiles")
                if m.isDefined():
                    files += m.get().value()
            kids = node.children()
            todo.extend(kids.apply(i) for i in range(kids.size()))
        self._seen[key] = (df, files)
        return files
