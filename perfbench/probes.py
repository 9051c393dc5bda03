"""Host, process-tree and Spark probes for the run stamp and the trace.

Everything here reads state; nothing changes how the engine runs.
"""
from __future__ import annotations

import os
import threading
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024


# ------------------------------------------------------------ process tree

def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
        except OSError:
            pass
    return out


def tree_pids(root: int | None = None) -> list[int]:
    """`root` (default: this process) and all its descendants."""
    seen, todo = [], [root or os.getpid()]
    while todo:
        pid = todo.pop()
        seen.append(pid)
        todo.extend(_children(pid))
    return seen


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            data = f.read()
    except OSError:
        return None
    return data[data.rindex(")") + 2:].split()


def tree_rss_mb() -> dict[str, float]:
    """Resident set size over the process tree, in MB, by command name
    (java, python3, ...)."""
    out: dict[str, float] = {}
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/statm") as f:
                pages = int(f.read().split()[1])
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
        except (OSError, IndexError):
            continue
        out[comm] = out.get(comm, 0.0) + pages * PAGE_KB / 1024.0
    return out


def tree_cpu_s() -> float:
    """User + system CPU of the live tree plus reaped children, in s."""
    ticks = 0
    for pid in tree_pids():
        f = _stat_fields(pid)
        if f:  # utime stime cutime cstime are fields 14..17 (1-based)
            ticks += sum(int(x) for x in f[11:15])
    return ticks / CLK_TCK


def process_age_s() -> float:
    """Seconds since this process started (from /proc, so it includes
    interpreter start-up and imports)."""
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    start = int(_stat_fields(os.getpid())[19]) / CLK_TCK
    return uptime - start


def host_steal_s() -> float:
    """Cumulative steal time of all host CPUs, in s."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / CLK_TCK if len(fields) > 8 else 0.0


def calibration_s(loops: int = 2_000_000) -> float:
    """Median of three timings of a fixed pure-Python busy loop: a
    host-speed yardstick printed with every record."""
    times = []
    for _ in range(3):
        t = time.perf_counter()
        acc = 0
        for i in range(loops):
            acc += i & 7
        times.append(time.perf_counter() - t)
    return sorted(times)[1]


class RssSampler:
    """Background thread that records the peak process-tree RSS and its
    split by command name at that moment."""

    def __init__(self, interval_s: float = 0.05):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self.peak_split: dict[str, float] = {}
        self._window_mb = 0.0
        self._lock = threading.Lock()  # window() resets what _sample raises
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self):
        split = tree_rss_mb()
        total = sum(split.values())
        with self._lock:
            self._window_mb = max(self._window_mb, total)
            if total > self.peak_mb:
                self.peak_mb, self.peak_split = total, split

    def window(self) -> float:
        """Peak RSS since the previous call, in MB."""
        self._sample()
        with self._lock:
            peak, self._window_mb = self._window_mb, 0.0
        return peak

    def _loop(self):
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()


# ------------------------------------------------------------------ Spark

def jvm_gc_ms(spark) -> int:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans)


def persistent_rdds(spark) -> set[int]:
    """Ids of the RDDs currently persisted in the session."""
    return {int(i) for i in spark.sparkContext._jsc.getPersistentRDDs().keySet()}


def spark_stamp(spark) -> dict:
    jvm = spark._jvm
    return {
        "spark": spark.version,
        "java": jvm.System.getProperty("java.version"),
        "master": spark.sparkContext.master,
        "driver_heap_mb": round(jvm.java.lang.Runtime.getRuntime().maxMemory() / 2**20),
        "driver_memory_conf": spark.conf.get("spark.driver.memory", None),
    }


def _scala_iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


_STAGE_WRAPPERS = ("ShuffleQueryStageExec", "BroadcastQueryStageExec",
                   "TableCacheQueryStageExec", "ResultQueryStageExec")


def plan_nodes(df):
    """(node class, {metric: value}, under_broadcast) for every node of
    the executed plan of `df`'s last action, descending through AQE
    query stages; under_broadcast marks nodes that build a broadcast."""
    out = []
    todo = [(df._jdf.queryExecution().executedPlan(), False)]
    while todo:
        p, under = todo.pop()
        cls = p.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append((p.executedPlan(), under))
            continue
        if cls in _STAGE_WRAPPERS:
            todo.append((p.plan(), under))
            continue
        metrics = {kv._1(): kv._2().value() for kv in _scala_iter(p.metrics())}
        out.append((cls, metrics, under))
        under = under or cls == "BroadcastExchangeExec"
        todo.extend((c, under) for c in _scala_iter(p.children()))
    return out


def plan_sum(nodes, cls_part: str, metric: str, probe_side_only: bool = False) -> int:
    """Sum of `metric` over nodes whose class name contains `cls_part`,
    optionally skipping nodes that build a broadcast."""
    return sum(int(m.get(metric, 0)) for c, m, under in nodes
               if cls_part in c and not (probe_side_only and under))


class JobGroup:
    """Run the enclosed actions in a Spark job group; on exit, `jobs`
    lists the ids of the jobs they ran."""

    _n = 0

    def __init__(self, spark, label: str):
        JobGroup._n += 1
        self.sc = spark.sparkContext
        self.group = f"perfbench-{JobGroup._n}-{label}"
        self.jobs: list[int] = []

    def __enter__(self):
        self.sc.setJobGroup(self.group, self.group)
        return self

    def __exit__(self, *exc):
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()  # job events are async
        self.jobs = sorted(self.sc.statusTracker().getJobIdsForGroup(self.group))
