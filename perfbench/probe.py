"""Layer counters read from outside the program.

``SparkProbe`` reads the driver's status stores around one call. Jobs are
counted by job-ID delta, never by the length of the retained-job list, which
``spark.ui.retainedJobs`` caps. Stage metrics are read per call, right after
it, so the store has not evicted them yet. ``plan_counts`` parses the
declared physical plan of a returned frame. ``RssSampler`` polls ``/proc``
for the resident memory of the driver JVM and its Python workers;
``tree_cpu_s`` reads the CPU time they used.
"""

from __future__ import annotations

import os
import re
import threading
from collections import Counter

_STAGE_FIELDS = {
    "spark.executor_run_s": ("executorRunTime", 1e-3),
    "spark.executor_cpu_s": ("executorCpuTime", 1e-9),
    "spark.input_bytes": ("inputBytes", 1),
    "spark.output_bytes": ("outputBytes", 1),
    "spark.shuffle_read_bytes": ("shuffleReadBytes", 1),
    "spark.shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "spark.spill_bytes": ("diskBytesSpilled", 1),
}
_PY_METRICS = {
    "data sent to Python workers": "python.bytes_to_worker",
    "data returned from Python workers": "python.bytes_from_worker",
}
_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_SIZE = r"(?:total \(min, med, max \(stageId: taskId\)\)\n)?([\d.]+) (B|KiB|MiB|GiB|TiB)"


class SparkProbe:
    """Counters for the work a block of driver code caused in Spark."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._sc = sc
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._gc_beans = list(sc._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans())
        self._no_tasks = sc._jvm.java.util.ArrayList()
        self._no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)

    def _max_job(self) -> int:
        ids = self._sc.statusTracker().getJobIdsForGroup(None)
        return max(ids) if ids else -1

    def _max_execution(self) -> int:
        n = self._sql.executionsCount()
        if n == 0:
            return -1
        return self._sql.executionsList(int(n) - 1, 1).apply(0).executionId()

    def _gc_ms(self) -> int:
        """Collection time of the whole JVM: in local mode the driver and
        the executor share it."""
        return sum(b.getCollectionTime() for b in self._gc_beans)

    def start(self) -> tuple[int, int, int]:
        self._jsc.listenerBus().waitUntilEmpty()
        return self._max_job(), self._max_execution(), self._gc_ms()

    def stop(self, mark: tuple[int, int, int], wall_s: float) -> Counter:
        """Counters for every job and SQL execution started since ``mark``."""
        self._jsc.listenerBus().waitUntilEmpty()
        job0, exec0, gc0 = mark
        job1 = self._max_job()
        c: Counter = Counter()
        c["spark.jobs"] = job1 - job0
        c["spark.gc_s"] = (self._gc_ms() - gc0) / 1000.0
        intervals = []
        stage_ids: set[int] = set()
        for jid in range(job0 + 1, job1 + 1):
            try:
                jd = self._store.job(jid)
            except Exception:  # evicted; its ID still counted above
                continue
            sub, end = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and end.isDefined():
                intervals.append((sub.get().getTime(), end.get().getTime()))
            seq = jd.stageIds()
            stage_ids.update(seq.apply(i) for i in range(seq.size()))
        for sid in sorted(stage_ids):
            attempts = self._store.stageData(sid, False, self._no_tasks, False, self._no_quantiles)
            for i in range(attempts.size()):
                st = attempts.apply(i)
                if st.status().toString() == "SKIPPED":
                    continue
                c["spark.stages"] += 1
                c["spark.tasks"] += st.numCompleteTasks()
                for key, (getter, scale) in _STAGE_FIELDS.items():
                    c[key] += getattr(st, getter)() * scale
        busy = _union_ms(intervals) / 1000.0
        c["spark.busy_s"] = busy
        c["driver.self_s"] = max(wall_s - busy, 0.0)
        for eid in range(exec0 + 1, self._max_execution() + 1):
            c.update(self._python_bytes(eid))
        return c

    def _python_bytes(self, eid: int) -> Counter:
        c: Counter = Counter()
        ex = self._sql.execution(eid)
        if not ex.isDefined():
            return c
        listing = ex.get().metrics().toString()
        wanted = {
            int(acc): key
            for name, key in _PY_METRICS.items()
            for acc in re.findall(re.escape(name) + r",(\d+),", listing)
        }
        if not wanted:
            return c
        values = self._sql.executionMetrics(eid).toString()
        for acc, key in wanted.items():
            m = re.search(rf"\b{acc} -> {_SIZE}", values)
            if m:
                c[key] += float(m.group(1)) * _UNITS[m.group(2)]
        return c


def _union_ms(intervals: list[tuple[int, int]]) -> int:
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


_PY_NODE = re.compile(r"(EvalPython|InPandas|InArrow|ArrowPython|PythonUDTF)")
_SCAN = re.compile(r"Location: [^\[]*\[([^\]]*)\].*?ReadSchema: (\S+)")


def plan_counts(df) -> Counter:
    """Declared-plan counts of a frame: file scans, scans that repeat an
    earlier scan of the same files with the same read schema, shuffle
    exchanges, Python nodes and broadcast nested-loop joins."""
    text = df._jdf.queryExecution().executedPlan().toString()
    c: Counter = Counter()
    seen: Counter = Counter()
    for line in text.splitlines():
        node = line.lstrip(" :+-*()0123456789")
        name = node.split(" ", 1)[0]
        if name in ("Exchange",):
            c["plan.exchanges"] += 1
        elif name == "BroadcastNestedLoopJoin":
            c["plan.bnlj"] += 1
        elif _PY_NODE.search(name):
            c["plan.python_nodes"] += 1
        if name in ("FileScan", "BatchScan"):
            c["plan.scans"] += 1
            m = _SCAN.search(node)
            seen[m.groups() if m else node] += 1
    c["plan.dup_wide_scans"] = sum(n - 1 for n in seen.values())
    return c


class RssSampler:
    """Peak summed RSS of a process tree (the driver JVM and the Python
    workers it forks), polled from /proc on a daemon thread."""

    def __init__(self, root_pid: int, interval_s: float = 0.25, enabled: bool = True) -> None:
        self.root = root_pid
        self.enabled = enabled
        self.interval = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> RssSampler:
        if self.enabled:
            self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        if self.enabled:
            self._stop.set()
            self._thread.join(timeout=5)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, tree_rss(self.root))
            self._stop.wait(self.interval)


def _proc_tree(root: int) -> list[list[str]]:
    """``/proc/<pid>/stat`` fields, after the command name, of ``root`` and
    every process below it."""
    children: dict[int, list[int]] = {}
    stats: dict[int, list[str]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat.rsplit(")", 1)[1].split()
        pid, ppid = int(entry), int(fields[1])
        children.setdefault(ppid, []).append(pid)
        stats[pid] = fields
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out.append(stats[pid])
        todo.extend(children.get(pid, ()))
    return out


def tree_rss(root: int) -> int:
    return sum(int(f[21]) for f in _proc_tree(root)) * os.sysconf("SC_PAGE_SIZE")


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by ``root``, the processes below it and the
    ones they have reaped (user + system)."""
    ticks = sum(int(f[11]) + int(f[12]) + int(f[13]) + int(f[14]) for f in _proc_tree(root))
    return ticks / os.sysconf("SC_CLK_TCK")
