"""Readers for what Spark and the OS already count: job and task counts per
traced span (job groups + `SparkContext.statusTracker()`), the SQL metrics
of an executed or cached plan, per-task durations of a stage, and the
resident memory of the driver JVM plus its Python workers."""

from __future__ import annotations

import os
import statistics
import threading

RSS_INTERVAL_S = 0.25


def _scala_iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


class JobGroups:
    """Span hook: every span opened while a SparkContext is active gets
    its own job group; at exit the span's attrs get `jobs` (jobs run in
    the group) and `tasks` (tasks completed by their stages), plus the
    ids of those stages. The parent's group is restored on exit."""

    def enter(self, rec: dict) -> None:
        sc = _active_context()
        if sc is not None:
            sc.setJobGroup(f"span-{rec['run_id']}-{rec['id']}", rec["name"])

    def exit(self, rec: dict, parent: dict | None) -> None:
        sc = _active_context()
        if sc is None:
            return
        tracker = sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(f"span-{rec['run_id']}-{rec['id']}")
        stages, tasks = [], 0
        for j in jobs:
            info = tracker.getJobInfo(j)
            for sid in (info.stageIds if info else []):
                st = tracker.getStageInfo(sid)
                if st is not None and st.numCompletedTasks:
                    stages.append(sid)
                    tasks += st.numCompletedTasks
        rec["attrs"].update(jobs=len(jobs), tasks=tasks, stages=stages)
        if parent is not None:
            sc.setJobGroup(f"span-{parent['run_id']}-{parent['id']}",
                           parent["name"])
        else:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)


def _active_context():
    from pyspark import SparkContext
    return SparkContext._active_spark_context


def task_durations_ms(sc, stage_id: int) -> list[int]:
    """Run times of the completed tasks of one stage (status store)."""
    info = sc.statusTracker().getStageInfo(stage_id)
    if info is None:
        return []
    store = sc._jsc.sc().statusStore()
    out = []
    for t in _scala_iter(store.taskList(stage_id, info.currentAttemptId,
                                        100_000)):
        d = t.duration()
        if d.isDefined():
            out.append(int(d.get()))
    return out


def skew(sc, stage_ids: list[int]) -> float:
    """max/median task time of the busiest stage among `stage_ids`."""
    best: list[int] = []
    for sid in stage_ids:
        d = task_durations_ms(sc, sid)
        if sum(d) > sum(best):
            best = d
    med = statistics.median(best) if best else 0
    return max(best) / med if med else 1.0


def _plan_nodes(node):
    yield node
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        kids = [node.executedPlan()]
    elif cls.endswith("QueryStageExec"):
        kids = [node.plan()]
    else:
        kids = list(_scala_iter(node.children()))
    for k in kids:
        yield from _plan_nodes(k)


def cached_plan_metrics(spark, df, node_name: str) -> dict[str, int]:
    """SQL metrics of the first `node_name` node in the cached plan of a
    persisted and materialized DataFrame."""
    cd = spark._jsparkSession.sharedState().cacheManager() \
        .lookupCachedData(df._jdf)
    if not cd.isDefined():
        raise RuntimeError("DataFrame is not cached")
    plan = cd.get().cachedRepresentation().cacheBuilder().cachedPlan()
    for node in _plan_nodes(plan):
        if node.nodeName() == node_name:
            ms = node.metrics()
            return {k: int(ms.apply(k).value()) for k in _scala_iter(ms.keys())}
    raise RuntimeError(f"no {node_name} node in the cached plan")


def _descendants(root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_rss_bytes() -> int:
    """Resident bytes of every process below this one: the driver JVM and
    the Python workers it forks."""
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in _descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except OSError:
            pass
    return total


class PeakRss:
    """Samples `tree_rss_bytes` every RSS_INTERVAL_S on a thread while the
    `with` block runs."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, tree_rss_bytes())
            if self._stop.wait(RSS_INTERVAL_S):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_bytes())


def jvm_gc_jit_seconds(spark) -> tuple[float, float]:
    """Cumulative driver-JVM garbage-collection and JIT-compilation time."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    gc = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
    return gc / 1e3, mf.getCompilationMXBean().getTotalCompilationTime() / 1e3
