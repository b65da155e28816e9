"""In-memory span recorder for the traced benchmark run.

A span is ``(name, start, end, parent, op)``: ``parent`` is the index of
the enclosing span and ``op`` the id of the benchmark op that caused it.
Spans are kept in memory and written out once, when the run ends.  With
tracing off every method is a no-op, so the untraced run pays nothing
but a flag test per call.

Spark work is attributed to an op by a job group set before the op's
first call into the program, so actions a query builder runs eagerly
are counted with the op.
"""

from __future__ import annotations

import contextlib
import json
import time
from collections import defaultdict

_PHASES = ("analysis", "optimization", "planning")


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[list] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []
        self.op: int | None = None

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append([name, time.perf_counter(), None, parent, self.op])
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx][2] = time.perf_counter()

    def add(self, name: str, value: float) -> None:
        if self.enabled:
            self.counts[name] += value

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a version that records a span —
        for program calls made inside another program function."""
        if not self.enabled:
            return
        inner = getattr(owner, attr)

        def traced(*args, **kwargs):
            with self.span(name):
                return inner(*args, **kwargs)

        setattr(owner, attr, traced)

    # ------------------------------------------------------------ spark

    @contextlib.contextmanager
    def spark_op(self, spark, op: int):
        """Tag every Spark job started inside the block with op ``op``."""
        self.op = op
        if not self.enabled:
            yield
            return
        sc = spark.sparkContext
        group = f"perfbench-op-{op}"
        sc.setJobGroup(group, group)
        try:
            yield
        finally:
            t = time.perf_counter()
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            self._count_jobs(sc, group)
            self.counts["trace.bookkeeping_s"] += time.perf_counter() - t

    def _count_jobs(self, sc, group: str) -> None:
        st = sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        self.counts["spark.jobs"] += len(jobs)
        for j in jobs:
            info = st.getJobInfo(j)
            if info is None:
                continue
            self.counts["spark.stages"] += len(info.stageIds)
            for s in info.stageIds:
                si = st.getStageInfo(s)
                if si is not None:
                    self.counts["spark.tasks"] += si.numCompletedTasks
                    self.counts["spark.failed_tasks"] += si.numFailedTasks

    def catalyst(self, df) -> None:
        """Add the Catalyst phase times of the plan that ran for ``df``."""
        if not self.enabled:
            return
        t = time.perf_counter()
        phases = df._jdf.queryExecution().tracker().phases()
        for p in _PHASES:
            if phases.contains(p):
                s = phases.apply(p)
                self.counts[f"spark.{p}_s"] += (s.endTimeMs() - s.startTimeMs()) / 1000.0
        self.counts["trace.bookkeeping_s"] += time.perf_counter() - t

    # -------------------------------------------------------- summaries

    def total(self, name: str) -> float:
        return sum(s[2] - s[1] for s in self.spans if s[0] == name)

    def self_time(self, name: str) -> float:
        """Duration of every ``name`` span minus the time its direct
        children cover (children run one after another on one thread)."""
        child = defaultdict(float)
        for s in self.spans:
            if s[3] is not None:
                child[s[3]] += s[2] - s[1]
        return sum(
            s[2] - s[1] - child[i] for i, s in enumerate(self.spans) if s[0] == name
        )

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                {
                    "fields": ["name", "start", "end", "parent", "op"],
                    "spans": self.spans,
                    "counts": dict(self.counts),
                },
                f,
            )
