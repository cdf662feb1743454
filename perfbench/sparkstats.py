"""Counters read from Spark's in-process status stores.

:class:`StatusReader` diffs the application status store
(``SparkContext.statusStore``) around an action: every job and stage
the action ran is summed into one :class:`ActionStats`.
The SQL status store supplies the physical plan each SQL execution
finally ran, from which :func:`count_plan_nodes` counts exchanges.

Each action runs under a named job group; the group's new job ids lead
to the jobs' stages. The listener bus is drained before each read, so
the stores hold the action's completed stages. Nothing here changes
how a query runs.
"""

from __future__ import annotations

import re
import time
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

PLAN_NODES = ("Exchange", "RoundRobinExchange", "BroadcastExchange", "ArrowEvalPython")


@dataclass
class ActionStats:
    wall_s: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    input_bytes: int = 0
    input_records: int = 0
    output_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    job_busy_s: float = 0.0  # union of the action's job intervals
    final_task_max_s: float = 0.0
    final_task_median_s: float = 0.0
    plan_nodes: dict[str, int] = field(default_factory=lambda: dict.fromkeys(PLAN_NODES, 0))

    @property
    def driver_s(self) -> float:
        """Wall time in which no Spark job of the action was running."""
        return max(0.0, self.wall_s - self.job_busy_s)

    @property
    def task_skew(self) -> float:
        """Max over median task time of the action's last stage."""
        if self.final_task_median_s <= 0:
            return 1.0
        return self.final_task_max_s / self.final_task_median_s


def _union_seconds(intervals: list[tuple[int, int]]) -> float:
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total / 1000.0


class StatusReader:
    """Reads the counters of the jobs an action ran under a job group."""

    def __init__(self, spark: SparkSession):
        sc = spark.sparkContext
        self._sc = sc
        self._jsc = sc._jsc.sc()
        self._conv = sc._jvm.scala.jdk.javaapi.CollectionConverters
        self._quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 2)
        self._quantiles[0] = 0.5
        self._quantiles[1] = 1.0
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def _list(self, seq) -> list:
        return list(self._conv.asJava(seq))

    def _last_execution_id(self) -> int:
        n = self._sql.executionsCount()
        last = self._list(self._sql.executionsList(max(0, n - 1), 1))
        return last[-1].executionId() if last else -1

    def measure(self, group: str, action, with_plans: bool = False) -> tuple[object, ActionStats]:
        """Run ``action()`` under job group ``group``; return its result
        and the counters of every job and stage it ran, and with
        ``with_plans`` the plan nodes of its SQL executions."""
        sc = self._sc
        jobs0 = set(sc.statusTracker().getJobIdsForGroup(group))
        sql0 = self._last_execution_id() if with_plans else None
        sc.setJobGroup(group, group)
        t0 = time.perf_counter()
        try:
            result = action()
        finally:
            wall = time.perf_counter() - t0
            sc.setJobGroup(None, None)
        self._jsc.listenerBus().waitUntilEmpty()
        jobs = sorted(set(sc.statusTracker().getJobIdsForGroup(group)) - jobs0)
        return result, self._collect(jobs, sql0, wall)

    def _collect(self, job_ids: list[int], sql0, wall_s: float) -> ActionStats:
        store = self._jsc.statusStore()
        out = ActionStats(wall_s=wall_s, jobs=len(job_ids))
        intervals, stage_ids = [], set()
        for jid in job_ids:
            j = store.job(jid)
            stage_ids.update(self._list(j.stageIds()))
            if j.submissionTime().isDefined() and j.completionTime().isDefined():
                intervals.append(
                    (j.submissionTime().get().getTime(), j.completionTime().get().getTime())
                )
        out.job_busy_s = _union_seconds(intervals)
        ran = []
        for sid in sorted(stage_ids):
            s = store.lastStageAttempt(sid)
            if s.numCompleteTasks() == 0:  # skipped: its output was reused
                continue
            ran.append(s)
            out.stages += 1
            out.tasks += s.numCompleteTasks()
            out.cpu_s += s.executorCpuTime() / 1e9
            out.gc_s += s.jvmGcTime() / 1e3
            out.input_bytes += s.inputBytes()
            out.input_records += s.inputRecords()
            out.output_bytes += s.outputBytes()
            out.shuffle_read_bytes += s.shuffleReadBytes()
            out.shuffle_write_bytes += s.shuffleWriteBytes()
            out.spill_bytes += s.memoryBytesSpilled() + s.diskBytesSpilled()
        if ran:
            last = ran[-1]
            summary = store.taskSummary(last.stageId(), last.attemptId(), self._quantiles)
            if summary.isDefined():
                med, top = self._list(summary.get().executorRunTime())
                out.final_task_median_s = med / 1e3
                out.final_task_max_s = top / 1e3
        if sql0 is not None:
            n = self._sql.executionsCount()
            for x in self._list(self._sql.executionsList(max(0, n - 64), 64)):
                if x.executionId() > sql0:
                    for k, v in count_plan_nodes(x.physicalPlanDescription()).items():
                        out.plan_nodes[k] += v
        return out


_NODE = re.compile(r"^(?P<indent>[\s:+\-|]*)(?:\*\s+)?(?P<name>[A-Za-z][\w ]*?)\s*\((?P<id>\d+)\)")
_DETAIL = re.compile(r"^\((\d+)\) (.*?)(?=^\(\d+\) |\Z)", re.S | re.M)


def count_plan_nodes(description: str) -> dict[str, int]:
    """Count exchange and Python nodes in the plan an execution ran.

    ``description`` is a formatted physical plan from the SQL status
    store. Under AQE the tree holds both the final and the initial
    plan; only the final plan is counted. A tree with an adaptive node
    but no ``== Final Plan ==`` section raises, because counting the
    initial plan instead would silently report a plan that never ran.
    """
    head, _, details = description.partition("\n\n\n")
    lines = head.splitlines()
    if not lines or lines[0].strip() != "== Physical Plan ==":
        raise ValueError("plan description lacks the '== Physical Plan ==' header")
    adaptive = sum(1 for ln in lines if _node_name(ln) == "AdaptiveSparkPlan")
    finals = sum(1 for ln in lines if "== Final Plan ==" in ln)
    if adaptive != finals:
        raise ValueError(
            f"{adaptive} AdaptiveSparkPlan node(s) but {finals} '== Final Plan ==' "
            "marker(s): refusing to count a plan that is not final"
        )
    info = {m.group(1): m.group(2) for m in _DETAIL.finditer(details)}
    counts = dict.fromkeys(PLAN_NODES, 0)
    skip_indent = None
    for ln in lines[1:]:
        indent = len(ln) - len(ln.lstrip(" :+-|"))
        if skip_indent is not None:
            if indent >= skip_indent:  # the initial plan's subtree
                continue
            skip_indent = None
        if "== Initial Plan ==" in ln:
            skip_indent = indent
            continue
        m = _NODE.match(ln)
        if not m:
            continue
        name = m.group("name").strip()
        if name == "Exchange":
            counts["Exchange"] += 1
            if "RoundRobinPartitioning" in info.get(m.group("id"), ""):
                counts["RoundRobinExchange"] += 1
        elif name in counts:
            counts[name] += 1
    return counts


def _node_name(line: str) -> str | None:
    m = _NODE.match(line)
    return m.group("name").strip() if m else None
