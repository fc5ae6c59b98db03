"""Measurement helpers shared by the workloads.

- :class:`Tracer` records spans (name, start, end, parent, run id) in
  memory and derives each span's self time; a disabled tracer records
  nothing and costs one attribute check per boundary.
- :class:`SparkProbe` reads Spark's own status tracker and status store
  (both work with the UI disabled): jobs of a job group and their
  stages' task counts, executor run time, shuffle bytes and spill.
- :class:`ProgressLog` is a benchmark-side StreamingQueryListener that
  keeps each trigger's phase durations and `stateOperators`.
- :func:`tree_cpu_s` reads the CPU time of the benchmark's process tree
  (its own Python process, the engine's JVM and any Python workers).
- Small statistics: median, tail percentile, geometric mean.
"""

from __future__ import annotations

import math
import os
import statistics
import threading
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener


_TICKS = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds (user + system) spent so far by this process and every
    process below it, from /proc. The kernel charges time a hypervisor
    steals from the virtual CPUs as steal, not to the process."""
    me, parent, ticks = os.getpid(), {}, {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended while we listed /proc
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        pid = int(entry)
        parent[pid] = int(fields[1])
        ticks[pid] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    total = 0
    for pid, t in ticks.items():
        p = pid
        while p and p != me:
            p = parent.get(p, 0)
        if p == me:
            total += t
    return total / _TICKS


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def geomean(values) -> float:
    values = [v for v in values if v > 0]
    return math.exp(sum(math.log(v) for v in values) / len(values)) if values else 0.0


def tail(values, beyond: int = 10) -> tuple[float, float]:
    """(percentile, value): the highest nearest-rank percentile that still
    has at least `beyond` samples above it; (100, max) when there are too
    few samples for any."""
    s = sorted(values)
    if not s:
        return 0.0, 0.0
    idx = len(s) - 1 - beyond
    if idx < 0:
        return 100.0, float(s[-1])
    return 100.0 * (idx + 1) / len(s), float(s[idx])


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str


@dataclass
class Tracer:
    """Spans of one run, recorded from the benchmark's main thread."""

    enabled: bool
    run_id: str
    spans: list[Span] = field(default_factory=list)
    _open: list[int] = field(default_factory=list)  # stack of open spans

    def span(self, name: str):
        """Context manager timing one boundary crossing; its parent is the
        innermost open span."""
        return _SpanCtx(self, name)

    def add(self, name: str, start: float, end: float, parent: int | None) -> int | None:
        if not self.enabled:
            return None
        self.spans.append(Span(name, start, end, parent, self.run_id))
        return len(self.spans) - 1

    def duration(self, i: int) -> float:
        return self.spans[i].end - self.spans[i].start

    def self_times(self, root: int) -> dict[int, float]:
        """Self time of every span in the subtree under `root`, by span
        index: its duration minus the durations of its direct children."""
        children: dict[int, list[int]] = {}
        for i, s in enumerate(self.spans):
            if s.parent is not None:
                children.setdefault(s.parent, []).append(i)
        out: dict[int, float] = {}
        todo = [root]
        while todo:
            i = todo.pop()
            kids = children.get(i, [])
            out[i] = max(self.duration(i) - sum(self.duration(k) for k in kids), 0.0)
            todo.extend(kids)
        return out

    def dump(self) -> list[dict]:
        return [
            {"name": s.name, "start": s.start, "end": s.end, "parent": s.parent, "run_id": s.run_id}
            for s in self.spans
        ]


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name
        self.index: int | None = None

    def __enter__(self):
        t = self.tracer
        if t.enabled:
            now = time.perf_counter()
            # reserve the slot now so children can name it as their parent
            self.index = t.add(self.name, now, now, t._open[-1] if t._open else None)
            t._open.append(self.index)
        return self

    def __exit__(self, *exc):
        if self.index is not None:
            self.tracer.spans[self.index].end = time.perf_counter()
            self.tracer._open.pop()
        return False


class SparkProbe:
    """Job/stage counters read from Spark's status tracker and store."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.store = spark._jsc.sc().statusStore()

    def jobs(self, group: str) -> list[int]:
        return sorted(self.tracker.getJobIdsForGroup(group))

    def job_stats(self, job_ids) -> dict[str, float]:
        out = dict.fromkeys(
            ("jobs", "stages", "tasks", "executor_run_s", "shuffle_read_bytes",
             "shuffle_write_bytes", "spill_bytes"),
            0.0,
        )
        out["jobs"] = float(len(job_ids))
        stage_ids = set()
        for jid in job_ids:
            info = self.tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        for sid in stage_ids:
            try:
                sd = self.store.lastStageAttempt(sid)
            except Py4JJavaError:  # skipped stages never ran an attempt
                continue
            out["stages"] += 1
            out["tasks"] += sd.numTasks()
            out["executor_run_s"] += sd.executorRunTime() / 1000.0
            out["shuffle_read_bytes"] += sd.shuffleReadBytes()
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        return out


class ProgressLog(StreamingQueryListener):
    """Keeps, for every trigger of every query on the session, its
    `durationMs` phases and `stateOperators` (which the repository's
    `ProgressMonitor` drops) and whether it consumed input."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.events: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        rec = {
            "run_id": str(p.runId),
            "batch_id": p.batchId,
            "duration_ms": dict(p.durationMs or {}),
            "state": [
                {
                    "rows_total": s.numRowsTotal,
                    "memory_bytes": s.memoryUsedBytes,
                    "commit_ms": s.commitTimeMs,
                    "dropped_by_watermark": s.numRowsDroppedByWatermark,
                }
                for s in (p.stateOperators or [])
            ],
            # a trigger consumed input iff some source's offset moved
            "consumed": any(str(s.startOffset) != str(s.endOffset) for s in (p.sources or [])),
        }
        with self._lock:
            self.events.append(rec)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def for_run(self, run_id: str) -> list[dict]:
        with self._lock:
            return sorted(
                (e for e in self.events if e["run_id"] == run_id), key=lambda e: e["batch_id"]
            )
