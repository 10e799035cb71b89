"""Spark-side counters read from outside the engine.

Jobs are attributed by job group: the collector asks the status tracker for
a group's job ids, then reads each new job and its stages from the JVM
status store (``sc._jsc.sc().statusStore()``), which is populated whether
or not the Spark UI is enabled.  Every stage is counted once per collector,
so a shuffle stage that a later job skips is not counted twice.

Python-worker traffic comes from the metrics of the Python-evaluation nodes
of an executed plan (``ArrowEvalPython``, ``FlatMapGroupsInPandas`` ...),
walked through adaptive query stages and cached relations.  (The status
store's per-stage accumulator lists leave SQL metrics out.)
"""

from __future__ import annotations

import math
import time
from dataclasses import dataclass, field


@dataclass
class JobStats:
    jobs: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    executor_run_ms: float = 0.0
    input_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    # wall from the first job's submission to the last job's completion
    first_submit_ms: float = 0.0
    last_complete_ms: float = 0.0
    # (submitted, completed) epoch ms of each job
    intervals: list = field(default_factory=list)

    @property
    def exec_ms(self) -> float:
        return max(self.last_complete_ms - self.first_submit_ms, 0.0)

    @property
    def job_ms(self) -> float:
        """Summed job durations (jobs of one thread run one at a time)."""
        return sum(b - a for a, b in self.intervals)

    def merge(self, other: "JobStats") -> None:
        for k in ("jobs", "tasks", "failed_tasks",
                  "executor_run_ms", "input_bytes", "shuffle_write_bytes",
                  "spill_bytes"):
            setattr(self, k, getattr(self, k) + getattr(other, k))
        self.intervals += other.intervals
        if other.jobs:
            self.first_submit_ms = min(self.first_submit_ms or math.inf,
                                       other.first_submit_ms)
            self.last_complete_ms = max(self.last_complete_ms,
                                        other.last_complete_ms)


def _opt_ms(opt) -> float:
    return float(opt.get().getTime()) if opt.isDefined() else 0.0


class SparkCollector:
    """Per-job-group job/stage counters from the JVM status store."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.tracker = self.sc.statusTracker()
        self._seen_jobs: set = set()
        self._seen_stages: set = set()

    def collect(self, group: str, settle_s: float = 5.0) -> JobStats:
        """Counters of the group's jobs not collected before.  Waits up to
        ``settle_s`` for the asynchronous listener to record completion."""
        out = JobStats()
        new = [j for j in self.tracker.getJobIdsForGroup(group)
               if j not in self._seen_jobs]
        deadline = time.time() + settle_s
        for jid in sorted(new):
            job = self.store.job(jid)
            while (str(job.status()) == "RUNNING"
                   and time.time() < deadline):
                time.sleep(0.01)
                job = self.store.job(jid)
            self._seen_jobs.add(jid)
            out.jobs += 1
            sub, done = _opt_ms(job.submissionTime()), _opt_ms(
                job.completionTime())
            if sub:
                out.first_submit_ms = (sub if not out.first_submit_ms
                                       else min(out.first_submit_ms, sub))
            out.last_complete_ms = max(out.last_complete_ms, done)
            if sub and done:
                out.intervals.append((sub, done))
            ids = job.stageIds()
            for i in range(ids.size()):
                sid = ids.apply(i)
                if sid in self._seen_stages:
                    continue
                st = self.store.lastStageAttempt(sid)
                if str(st.status()) == "SKIPPED":
                    continue
                self._seen_stages.add(sid)
                out.tasks += st.numCompleteTasks() + st.numFailedTasks()
                out.failed_tasks += st.numFailedTasks()
                out.executor_run_ms += st.executorRunTime()
                out.input_bytes += st.inputBytes()
                out.shuffle_write_bytes += st.shuffleWriteBytes()
                out.spill_bytes += (st.memoryBytesSpilled()
                                    + st.diskBytesSpilled())
        return out


_PY_EVAL = ("ArrowEvalPython", "BatchEvalPython", "FlatMapGroupsIn",
            "FlatMapCoGroupsIn", "MapInPandas", "MapInArrow",
            "AggregateInPandas", "WindowInPandas", "PythonMapInArrow")


def python_eval_metrics(spark, df) -> dict:
    """Summed ``pythonDataSent`` / ``pythonNumRowsReceived`` over the
    Python-evaluation nodes of ``df``'s executed plan (call after an
    action).  Each plan node object is visited once."""
    totals = {"bytes_sent": 0, "rows_received": 0}
    ident = spark._jvm.java.lang.System.identityHashCode
    seen: set = set()

    def metric(node, name):
        m = node.metrics().get(name)
        return int(m.get().value()) if m.isDefined() else 0

    def walk(node):
        key = ident(node)
        if key in seen:
            return
        seen.add(key)
        name = node.nodeName()
        if name.startswith(_PY_EVAL):
            totals["bytes_sent"] += metric(node, "pythonDataSent")
            totals["rows_received"] += metric(node, "pythonNumRowsReceived")
        if name.startswith("AdaptiveSparkPlan"):
            walk(node.executedPlan())
        elif name.endswith("QueryStage"):
            walk(node.plan())
        elif name.startswith("InMemoryTableScan"):
            walk(node.relation().cachedPlan())
        kids = node.children()
        for i in range(kids.size()):
            walk(kids.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return totals
