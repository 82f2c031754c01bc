"""Tracing for the benchmark: spans, Spark job-group metrics, SQL plan
metrics and process memory.

Spans are recorded from the benchmark's own code around each call into a
layer; nothing inside the library is instrumented.  While tracing, each span
sets a Spark job group, so every Spark job a layer call starts can be
attributed to the span from Spark's own status store afterwards.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager
from pathlib import Path

__all__ = [
    "Tracer",
    "force",
    "plan_nodes",
    "job_group_metrics",
    "RssSampler",
    "tree_cpu_s",
    "host_steal_ticks",
    "LOG_ACCUMULATOR_ERROR",
]

LOG_ACCUMULATOR_ERROR = "Failed to update accumulator"


class Tracer:
    """In-memory spans ``(id, name, start, end, parent)``; ``enabled=False``
    records nothing and sets no job group."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": f"s{len(self.spans)}",
            "name": name,
            "parent": parent["id"] if parent else None,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["id"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent["id"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def duration(self, rec: dict) -> float:
        return rec["end"] - rec["start"]

    def self_time(self, rec: dict) -> float:
        """Span duration minus the durations of its direct children."""
        kids = [s for s in self.spans if s["parent"] == rec["id"]]
        return self.duration(rec) - sum(self.duration(k) for k in kids)

    def descendants(self, rec: dict) -> list[dict]:
        out, frontier = [], [rec["id"]]
        while frontier:
            kids = [s for s in self.spans if s["parent"] in frontier]
            out.extend(kids)
            frontier = [k["id"] for k in kids]
        return out


def force(df) -> int:
    """No-op sink: produce every row of ``df``'s physical plan and drop it.

    Runs the DataFrame's own ``QueryExecution`` (unlike ``df.count()``,
    which re-plans and prunes unused columns), so the SQL metrics of that
    plan can be read back with :func:`plan_nodes`.  Returns the row count."""
    return int(df._jdf.queryExecution().toRdd().count())


def _scala_map(spark, m) -> dict:
    return dict(spark._jvm.scala.jdk.javaapi.CollectionConverters.asJava(m))


def plan_nodes(spark, df) -> list[dict]:
    """Executed physical plan of ``df`` (after an action ran it) as a flat
    list of ``{name, desc, metrics}``; descends into AQE query stages and
    cached relations."""
    out: list[dict] = []

    def walk(node):
        cls = node.getClass().getName()
        if cls.endswith("AdaptiveSparkPlanExec"):
            walk(node.executedPlan())
            return
        metrics = {k: int(v.value()) for k, v in _scala_map(spark, node.metrics()).items()}
        out.append({"name": node.nodeName(), "desc": node.simpleString(25), "metrics": metrics})
        if cls.endswith("QueryStageExec"):
            walk(node.plan())
        if cls.endswith("InMemoryTableScanExec"):
            walk(node.relation().cachedPlan())
        kids = node.children()
        for i in range(kids.size()):
            walk(kids.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return out


def _jobs_by_group(spark) -> dict[str, list]:
    store = spark.sparkContext._jsc.sc().statusStore()
    jobs = store.jobsList(None)
    groups: dict[str, list] = {}
    for i in range(jobs.size()):
        job = jobs.apply(i)
        group = job.jobGroup()
        if group.isDefined():
            groups.setdefault(group.get(), []).append(job)
    return groups


def wait_for_listeners(spark) -> None:
    """Block until Spark's listener bus has delivered every event, so the
    status store holds the metrics of all finished jobs."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def job_group_metrics(spark, group_ids: list[str]) -> dict:
    """Per job group: Spark's own stage metrics summed over the group's jobs,
    plus each job's submission and completion time (epoch seconds).

    ``{group: {jobs, tasks, tasks_failed, executor_run_s, gc_s,
    shuffle_write_bytes, spill_bytes, job_times: [(submit, complete)]}}``"""
    wait_for_listeners(spark)
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    by_group = _jobs_by_group(spark)
    no_quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 0)
    stages = store.stageList(None, False, False, no_quantiles, None)
    stage_rows: dict[int, list] = {}
    for i in range(stages.size()):
        st = stages.apply(i)
        stage_rows.setdefault(int(st.stageId()), []).append(st)
    out = {}
    for gid in group_ids:
        acc = {
            "jobs": 0, "tasks": 0, "tasks_failed": 0, "executor_run_s": 0.0, "gc_s": 0.0,
            "shuffle_write_bytes": 0, "spill_bytes": 0, "job_times": [],
        }
        for job in by_group.get(gid, []):
            acc["jobs"] += 1
            sub, done = job.submissionTime(), job.completionTime()
            acc["job_times"].append((
                sub.get().getTime() / 1000.0 if sub.isDefined() else None,
                done.get().getTime() / 1000.0 if done.isDefined() else None,
            ))
            ids = job.stageIds()
            for k in range(ids.size()):
                for st in stage_rows.get(int(ids.apply(k)), []):
                    if str(st.status().toString()) == "SKIPPED":
                        continue
                    acc["tasks"] += int(st.numCompleteTasks())
                    acc["tasks_failed"] += int(st.numFailedTasks())
                    acc["executor_run_s"] += st.executorRunTime() / 1000.0
                    acc["gc_s"] += st.jvmGcTime() / 1000.0
                    acc["shuffle_write_bytes"] += int(st.shuffleWriteBytes())
                    acc["spill_bytes"] += int(st.memoryBytesSpilled()) + int(st.diskBytesSpilled())
        acc["job_times"].sort(key=lambda t: t[0] or 0.0)
        out[gid] = acc
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError):
        pass
    return 0


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            stat = Path(f"/proc/{entry}/stat").read_text()
        except OSError:
            continue
        # the ppid is the second field after the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, frontier = [], [root]
    while frontier:
        nxt = [c for p in frontier for c in children.get(p, [])]
        out.extend(nxt)
        frontier = nxt
    return out


def tree_cpu_s() -> float:
    """User plus system CPU seconds of this process and every process under
    it (the Spark JVM it launched and the JVM's Python workers), counting
    children that already exited and were waited for."""
    total = 0
    for pid in [os.getpid(), *_descendants(os.getpid())]:
        try:
            fields = Path(f"/proc/{pid}/stat").read_text().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # utime, stime, cutime, cstime are fields 14-17 of the stat line
        total += sum(int(f) for f in fields[11:15])
    return total / os.sysconf("SC_CLK_TCK")


def host_steal_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as fh:
        values = [int(v) for v in fh.readline().split()[1:]]
    return values[7], sum(values)


class RssSampler:
    """Background sampler of the resident memory of one process tree (the
    Spark JVM and the Python workers it forks); keeps the peak total."""

    def __init__(self, root_pid: int, interval_s: float = 0.2):
        self.root_pid = root_pid
        self.interval_s = interval_s
        self.peak_kb = self.peak_jvm_kb = self.peak_workers_kb = self.max_processes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def sample(self) -> int:
        kids = _descendants(self.root_pid)
        jvm = _rss_kb(self.root_pid)
        workers = sum(_rss_kb(p) for p in kids)
        self.peak_kb = max(self.peak_kb, jvm + workers)
        self.peak_jvm_kb = max(self.peak_jvm_kb, jvm)
        self.peak_workers_kb = max(self.peak_workers_kb, workers)
        self.max_processes = max(self.max_processes, 1 + len(kids))
        return jvm + workers

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def __enter__(self) -> "RssSampler":
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()
