"""Outside-in instruments: spans, Spark's own counters, JVM and host.

Nothing here changes the engine. Spark's counters are read through py4j
with the UI off: the status tracker (jobs, stages, tasks of one job group),
the QueryPlanningTracker of the DataFrame a request returns, and the SQL
metrics of every SQL execution the request ran (the SQL status store keeps
them with the UI off; eager builder actions such as ``localCheckpoint``
count too).
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager

# (node test, SQL metric display name) -> per-layer counter. Summed over
# every node of every SQL execution a request ran, eager ones included.
_PY = ("Python", "Pandas", "Arrow")
PLAN_METRICS = [
    (lambda n: n.startswith("Scan"), "number of output rows", "spark.scan_rows"),
    (lambda n: True, "size of files read", "spark.scan_bytes"),
    (lambda n: True, "shuffle bytes written", "spark.shuffle_bytes"),
    (lambda n: True, "shuffle records written", "spark.shuffle_records"),
    (lambda n: True, "spill size", "spark.spill_bytes"),
    (lambda n: n == "BroadcastExchange", "data size", "spark.broadcast_bytes"),
    (lambda n: n == "BroadcastExchange", "number of output rows",
     "spark.broadcast_builds"),
    (lambda n: any(p in n for p in _PY), "number of output rows",
     "spark.python_rows"),
    (lambda n: True, "data sent to Python workers", "spark.python_bytes"),
    (lambda n: True, "data returned from Python workers", "spark.python_bytes"),
]
_SCALE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
          "ms": 1e-3, "s": 1, "m": 60, "h": 3600}
PLANNING_PHASES = {"analysis": "spark.analysis_s",
                   "optimization": "spark.optimization_s",
                   "planning": "spark.planning_s"}


def metric_value(text: str) -> float:
    """A SQL metric as the status store renders it: "1,000", "2.0 s", or
    "total (min, med, max ...)\n94.3 KiB (...)"; returns the total."""
    parts = text.split("\n")[-1].split(" (")[0].split()
    v = float(parts[0].replace(",", ""))
    return v * _SCALE.get(parts[1], 1) if len(parts) > 1 else v


class Trace:
    """Spans kept in memory and written out when the run ends. A span has
    a name, start, end (seconds since the trace began), its parent span
    and its request: the id of the outermost span it sits in. Disabled, it
    records nothing. ``read_s`` adds up the time spent reading Spark's
    counters and running the floor probe; it is not the whole cost of
    tracing (README, "Tracing")."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.read_s = 0.0

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name,
               "request": self._stack[0] if self._stack else sid,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter() - self.t0}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self.t0

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans,
                       "read_s": self.read_s}, f)


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


class SparkCounters:
    """Per-request Spark counters, summed over the timed loop."""

    def __init__(self, spark, trace: Trace) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.trace = trace
        self.totals: dict[str, float] = {}
        self._n = 0
        self._seen = spark._jsparkSession.sharedState().statusStore(
            ).executionsCount()

    def add(self, key: str, v: float) -> None:
        self.totals[key] = self.totals.get(key, 0.0) + v

    def group(self) -> str:
        self._n += 1
        g = f"bench-{self._n}"
        self.sc.setJobGroup(g, g)
        return g

    def jobs(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def request_done(self, group: str, df=None, rows: int = 0) -> None:
        """Count the group's jobs, stages and tasks, the planning phases
        of ``df``, and the SQL metrics of every execution the group ran."""
        t = time.perf_counter()
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        st = self.sc.statusTracker()
        jobs = set(self.jobs(group))
        self.add("spark.jobs", len(jobs))
        for j in jobs:
            info = st.getJobInfo(j)
            for s in (info.stageIds if info else []):
                self.add("spark.stages", 1)
                sinfo = st.getStageInfo(s)
                self.add("spark.tasks", sinfo.numTasks if sinfo else 0)
        self.add("spark.result_rows", rows)
        if df is not None:
            it = df._jdf.queryExecution().tracker().phases().iterator()
            while it.hasNext():
                kv = it.next()
                key = PLANNING_PHASES.get(kv._1())
                if key:
                    self.add(key, kv._2().durationMs() / 1000)
        self._executions(jobs)
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.trace.read_s += time.perf_counter() - t

    def _executions(self, jobs: set) -> None:
        store = self.spark._jsparkSession.sharedState().statusStore()
        n = store.executionsCount()
        new = store.executionsList(self._seen, n - self._seen)
        self._seen = n
        for i in range(new.size()):
            ex = new.apply(i)
            keys = ex.jobs().keys().toSeq()
            if not any(keys.apply(k) in jobs for k in range(keys.size())):
                continue
            eid = ex.executionId()
            names = {}
            nodes = store.planGraph(eid).allNodes()
            for k in range(nodes.size()):
                node = nodes.apply(k)
                ms = node.metrics()
                for m in range(ms.size()):
                    names[ms.apply(m).accumulatorId()] = (node.name(),
                                                          ms.apply(m).name())
            it = store.executionMetrics(eid).iterator()
            while it.hasNext():
                kv = it.next()
                node, metric = names.get(kv._1(), ("", ""))
                for test, name, key in PLAN_METRICS:
                    if metric == name and test(node):
                        self.add(key, 1 if key == "spark.broadcast_builds"
                                 else metric_value(kv._2()))


def floor_s(spark) -> float:
    """One trivial job: the per-job scheduling floor."""
    t = time.perf_counter()
    spark.range(1).collect()
    return time.perf_counter() - t


def gc_s(spark) -> float:
    mx = spark._jvm.java.lang.management.ManagementFactory
    beans = mx.getGarbageCollectorMXBeans()
    return sum(max(0, beans.get(i).getCollectionTime())
               for i in range(beans.size())) / 1000


def cpu_probe_s() -> float:
    """A fixed single-thread Python loop: how fast the host is right now."""
    t = time.perf_counter()
    acc = 0
    for i in range(1_500_000):
        acc += i * i % 7
    return time.perf_counter() - t


def steal_s() -> float:
    """Host-wide CPU steal time so far, from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def rss_peak_mb(pids) -> float:
    """Sum of the peak resident set (VmHWM) of the given processes."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total / 1024


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total
