"""Spans around the benchmark's calls into the engine, and the Spark
execution counters attributed to them.

A span has a name, start, end, parent and run id. While a span is open
the Spark job group of the calling thread is the span id, so every job
that the call starts can be found again in Spark's status store and
charged to the span. Streaming queries run their jobs under their own
run id as job group; the span that started the query records that id.

Spans stay in memory; ``dump`` writes them out when the run ends. With
tracing off ``span`` is a no-op, so the untraced run pays nothing.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from py4j.protocol import Py4JJavaError


@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    start: float
    end: float = 0.0
    run_id: str = ""
    attrs: dict = field(default_factory=dict)


class Tracer:
    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._sc = None
        self._n = 0

    def attach(self, spark) -> None:
        if self.enabled:
            self._sc = spark.sparkContext

    def _new(self, name: str, parent: str | None, start: float,
             attrs: dict) -> Span:
        self._n += 1
        return Span(f"{self.run_id}-{self._n}", name, parent, start,
                    run_id=self.run_id, attrs=attrs)

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = self._new(name, parent.id if parent else None, time.time(), attrs)
        self._stack.append(s)
        self._group(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self.spans.append(s)
            self._group(parent)

    def add(self, name: str, start: float, end: float, parent: Span | None,
            **attrs) -> None:
        """Record a span observed after the fact (a streaming progress
        event, whose start and duration Spark reports)."""
        if self.enabled:
            s = self._new(name, parent.id if parent else None, start, attrs)
            s.end = end
            self.spans.append(s)

    def _group(self, span: Span | None) -> None:
        if self._sc is None:
            return
        if span is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(span.id, span.name)

    def self_times(self) -> dict[str, float]:
        """Seconds per span name of duration not covered by child spans."""
        kids: dict[str, list[Span]] = {}
        for s in self.spans:
            if s.parent:
                kids.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered = _union([(max(c.start, s.start), min(c.end, s.end))
                              for c in kids.get(s.id, [])])
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - covered
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def _union(intervals) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


# --- Spark's status store -------------------------------------------------------

EXEC_KEYS = ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
             "jvm_gc_s", "shuffle_read_bytes", "shuffle_write_bytes",
             "spill_bytes", "input_bytes")


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def exec_counters(spark, groups) -> dict[str, float]:
    """Sum the stage metrics of every job whose group is in ``groups``,
    plus the task-time skew (max over median task time) of those stages,
    summarised as the median over stages with at least two tasks."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    wanted = set(groups)
    stage_ids: set[int] = set()
    n_jobs = 0
    for j in _seq(store.jobsList(None)):
        g = j.jobGroup()
        if g.isDefined() and g.get() in wanted:
            n_jobs += 1
            stage_ids.update(_seq(j.stageIds()))
    tot = dict.fromkeys(EXEC_KEYS, 0.0)
    tot["jobs"] = float(n_jobs)
    gw = sc._gateway
    qs = gw.new_array(gw.jvm.double, 2)
    qs[0], qs[1] = 0.5, 1.0
    skews = []
    for sid in sorted(stage_ids):
        try:
            st = store.lastStageAttempt(sid)
        except Py4JJavaError:
            continue  # skipped stage (its output was reused): never ran
        if st.status().toString() != "COMPLETE":
            continue
        tot["stages"] += 1
        tot["tasks"] += st.numTasks()
        tot["executor_run_s"] += st.executorRunTime() / 1e3
        tot["executor_cpu_s"] += st.executorCpuTime() / 1e9
        tot["jvm_gc_s"] += st.jvmGcTime() / 1e3
        tot["shuffle_read_bytes"] += st.shuffleReadBytes()
        tot["shuffle_write_bytes"] += st.shuffleWriteBytes()
        tot["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        tot["input_bytes"] += st.inputBytes()
        if st.numTasks() >= 2:
            summary = store.taskSummary(st.stageId(), st.attemptId(), qs)
            if summary.isDefined():
                run = summary.get().executorRunTime()
                med, mx = run.apply(0), run.apply(1)
                if med > 0:
                    skews.append(mx / med)
    tot["task_skew"] = statistics.median(skews) if skews else 1.0
    return tot
