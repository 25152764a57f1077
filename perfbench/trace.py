"""Spans recorded around calls into the program, and the Spark stage
metrics of the jobs each call launched.

Spans live in memory (``Tracer.spans``) and are written out once, when
the benchmark ends.  Attribution of Spark work uses job groups: each
traced call runs under its own group id, and after the call the jobs of
that group are read back from Spark's status store, which is kept even
with the UI disabled.  Nothing here runs when tracing is off.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from pathlib import Path

_GROUP_KEY = "spark.jobGroup.id"


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: str


class Tracer:
    """Nested spans: ``parent`` is the index of the enclosing span."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: str):
        idx = len(self.spans)
        self.spans.append(
            Span(name, time.perf_counter(), 0.0, self._stack[-1] if self._stack else None, op)
        )
        self._stack.append(idx)
        try:
            yield idx
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def duration(self, idx: int) -> float:
        s = self.spans[idx]
        return s.end - s.start

    def self_time(self, idx: int) -> float:
        """Span duration minus the time its direct children cover."""
        kids = sum(self.duration(i) for i, s in enumerate(self.spans) if s.parent == idx)
        return self.duration(idx) - kids

    def children(self, idx: int, name: str) -> list[int]:
        return [i for i, s in enumerate(self.spans) if s.parent == idx and s.name == name]

    def write(self, path: Path) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")


@dataclass
class StageTotals:
    jobs: int = 0
    exec_cpu_s: float = 0.0
    shuffle_bytes: int = 0

    def add(self, other: "StageTotals") -> None:
        self.jobs += other.jobs
        self.exec_cpu_s += other.exec_cpu_s
        self.shuffle_bytes += other.shuffle_bytes


_JDBC_SCAN = re.compile(r"^Scan JDBCRelation\(.*\) \[numPartitions=(\d+)\]")


class SparkStats:
    """Job-group scoping and status-store reads for one SparkSession."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    @contextmanager
    def group(self, gid: str):
        """Run the body under job group ``gid``, then restore the
        enclosing group."""
        prev = self.sc.getLocalProperty(_GROUP_KEY)
        self.sc.setLocalProperty(_GROUP_KEY, gid)
        try:
            yield gid
        finally:
            self.sc.setLocalProperty(_GROUP_KEY, prev)

    def settle(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status store holds the jobs that just ended."""
        self._jsc.listenerBus().waitUntilEmpty()

    def totals(self, gid: str) -> StageTotals:
        out = StageTotals()
        store = self._jsc.statusStore()
        for job_id in self.sc.statusTracker().getJobIdsForGroup(gid):
            out.jobs += 1
            stage_ids = store.job(job_id).stageIds()
            for k in range(stage_ids.size()):
                st = store.lastStageAttempt(stage_ids.apply(k))
                out.exec_cpu_s += st.executorCpuTime() / 1e9
                out.shuffle_bytes += st.shuffleWriteBytes()
        return out

    def sql_mark(self) -> int:
        return self._sql.executionsCount()

    def jdbc_scans(self, since: int) -> tuple[int, int]:
        """(partitions, rows) summed over the JDBC scan nodes of every SQL
        execution after mark ``since``."""
        n = self._sql.executionsCount() - since
        if n <= 0:
            return 0, 0
        execs = self._sql.executionsList(since, n)
        parts = rows = 0
        for i in range(execs.size()):
            eid = execs.apply(i).executionId()
            values = self._sql.executionMetrics(eid)
            nodes = self._sql.planGraph(eid).allNodes()
            for j in range(nodes.size()):
                node = nodes.apply(j)
                m = _JDBC_SCAN.match(node.name())
                if not m:
                    continue
                parts += int(m.group(1))
                metrics = node.metrics()
                for k in range(metrics.size()):
                    metric = metrics.apply(k)
                    if metric.name() == "number of output rows":
                        value = values.get(metric.accumulatorId())
                        if value.isDefined():
                            rows += int(re.sub(r"[^0-9]", "", value.get()) or 0)
        return parts, rows
