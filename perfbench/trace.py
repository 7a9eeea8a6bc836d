"""Spans around the benchmark's calls into haplorec_spark.

A span records name, start, end, parent span and job id, and — when a
SparkContext is attached — the Spark work launched inside it: every
span runs its call under its own Spark job group, and when the
outermost span ends the status tracker is asked which jobs, stages and
tasks each group ran. Work launched by a child span is counted on the
child only. Counting after the outermost span keeps the status
queries out of every timed interval and also catches jobs that Spark
registers after the call that launched them has returned.

Spans stay in memory; :meth:`Tracer.write` dumps them as JSON lines
when the run ends.
"""

from __future__ import annotations

import json
import time
from collections.abc import Iterator, Sequence
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    job: int
    parent: int | None
    start: float
    end: float = 0.0
    spark_jobs: int = 0
    spark_stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    rows_out: int | None = None

    @property
    def wall_s(self) -> float:
        return self.end - self.start


def self_time(parent: Span, children: Sequence[Span]) -> float:
    """The parent's duration minus the part of it that its children
    cover (overlapping children are counted once, parts outside the
    parent not at all)."""
    intervals = sorted(
        (max(c.start, parent.start), min(c.end, parent.end))
        for c in children
    )
    covered = 0.0
    cur_start = cur_end = None
    for s, e in intervals:
        if e <= s:
            continue
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                covered += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        covered += cur_end - cur_start
    return parent.wall_s - covered


class Tracer:
    """Collects spans; with ``sc`` set, also per-span Spark counts.

    ``bookkeeping_s`` accumulates the time the tracer spends inside
    spans (setting job groups), the part of its cost that timed
    intervals include.
    """

    def __init__(self, sc=None) -> None:
        self.sc = sc
        self.spans: list[Span] = []
        self.bookkeeping_s = 0.0
        self._stack: list[Span] = []

    @staticmethod
    def _group(span: Span | None) -> str:
        return f"perfbench-{span.id}" if span else "perfbench-none"

    def _set_group(self, span: Span | None) -> None:
        self.sc.setJobGroup(self._group(span), span.name if span else "")

    def _count(self, span: Span) -> None:
        tracker = self.sc.statusTracker()
        stages: set[int] = set()
        for jid in tracker.getJobIdsForGroup(self._group(span)):
            info = tracker.getJobInfo(jid)
            if info is not None:
                span.spark_jobs += 1
                stages.update(info.stageIds)
        for sid in stages:
            st = tracker.getStageInfo(sid)
            # Stages whose output a previous job already produced are
            # listed by the job but skipped: no task ran.
            if st is None or st.numCompletedTasks + st.numFailedTasks == 0:
                continue
            span.spark_stages += 1
            span.tasks += st.numCompletedTasks + st.numFailedTasks
            span.failed_tasks += st.numFailedTasks

    @contextmanager
    def span(self, name: str, job: int) -> Iterator[Span]:
        parent = self._stack[-1] if self._stack else None
        span = Span(len(self.spans), name, job,
                    parent.id if parent else None, 0.0)
        self.spans.append(span)
        if self.sc is not None:
            t = time.perf_counter()
            self._set_group(span)
            self.bookkeeping_s += time.perf_counter() - t
        self._stack.append(span)
        span.start = time.perf_counter()
        try:
            yield span
        finally:
            span.end = time.perf_counter()
            self._stack.pop()
            if self.sc is not None:
                t = time.perf_counter()
                self._set_group(parent)
                if parent is not None:
                    self.bookkeeping_s += time.perf_counter() - t
                else:
                    self._count_tree(span)

    def _count_tree(self, root: Span) -> None:
        # The status store is fed asynchronously by the listener bus;
        # drain it so the counts for every group are complete.
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        todo = [root]
        while todo:
            span = todo.pop()
            self._count(span)
            todo.extend(self.children(span))

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**asdict(s), "wall_s": s.wall_s}) + "\n")


class NoTracer:
    """Stand-in with the Tracer interface that records nothing."""

    @contextmanager
    def span(self, name: str, job: int) -> Iterator[None]:
        yield None
