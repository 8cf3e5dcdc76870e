"""Spans recorded from outside the program, each with its own Spark job
group, plus the Spark work each span caused.

A span is a named interval on the driver thread. Opening one sets a job
group unique to it; closing one restores the enclosing span's group, so
every job is attributed to the innermost open span. When a top-level
span closes, the tracer reads the job, stage, task, shuffle, spill and
executor-run-time figures of it and of its descendants from the status
tracker and the JVM status store. It reads them straight away because
the store keeps only the last 1,000 jobs and stages; it reads them after
the top-level span has closed so the reading is not charged to any span.

Jobs that run with no job group (threads that do not inherit the
caller's local properties) are counted as ``ungrouped`` and charged to
the top-level span that was open while they appeared.

Spans stay in memory; ``dump`` writes them out when the run ends.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

BASE_GROUP = "perfbench-untraced"  # the job group outside every span
COUNTERS = (
    "jobs", "ungrouped_jobs", "stages", "tasks", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "executor_run_ms", "input_bytes",
    "input_records",
)


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)
    counts: dict = field(default_factory=lambda: dict.fromkeys(COUNTERS, 0))

    @property
    def group(self) -> str:
        return f"perfbench-{self.sid}"

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans on one driver thread of one SparkContext."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._status = self.sc.statusTracker()
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._stages_seen: set[int] = set()
        self._ungrouped_seen: set[int] = set(self._status.getJobIdsForGroup(None))

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.sid if parent else None, 0.0, attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s.group, name)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self.sc.setJobGroup(parent.group if parent else BASE_GROUP, parent.name if parent else "")
            if parent is None:
                self._collect(s)

    def children(self, s: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == s.sid]

    def descendants(self, s: Span) -> list[Span]:
        out, todo = [], [s]
        while todo:
            cur = todo.pop()
            kids = self.children(cur)
            out += kids
            todo += kids
        return out

    def self_seconds(self, s: Span) -> float:
        """Duration minus the part its direct children cover (children
        run one after another on the same thread, so they do not
        overlap)."""
        return s.seconds - sum(c.seconds for c in self.children(s))

    def total(self, s: Span, key: str) -> float:
        """A counter summed over ``s`` and its descendants, leaving out
        spans marked ``overhead`` (work the tracing itself added)."""
        return s.counts[key] + sum(
            d.counts[key] for d in self.descendants(s) if not d.attrs.get("overhead")
        )

    def _collect(self, top: Span) -> None:
        # status events reach the store through the asynchronous listener
        # bus: drain it so the store holds every finished task's metrics
        self._jsc.listenerBus().waitUntilEmpty()
        for s in [top] + self.descendants(top):
            self._charge(s, self._status.getJobIdsForGroup(s.group))
        ungrouped = [j for j in self._status.getJobIdsForGroup(None) if j not in self._ungrouped_seen]
        self._ungrouped_seen.update(ungrouped)
        top.counts["ungrouped_jobs"] += len(ungrouped)
        self._charge(top, ungrouped)

    def _charge(self, s: Span, job_ids) -> None:
        c = s.counts
        for jid in job_ids:
            info = self._status.getJobInfo(jid)
            if info is None:
                continue
            c["jobs"] += 1
            for stage_id in info.stageIds:
                if stage_id in self._stages_seen:
                    continue
                try:
                    sd = self._store.lastStageAttempt(stage_id)
                except Exception:  # noqa: BLE001 — evicted from the store
                    continue
                if sd.status().toString() not in ("COMPLETE", "FAILED"):
                    continue  # skipped: its output was reused from an earlier stage
                self._stages_seen.add(stage_id)
                c["stages"] += 1
                c["tasks"] += sd.numTasks()
                c["shuffle_read_bytes"] += sd.shuffleReadBytes()
                c["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                c["spill_bytes"] += sd.memoryBytesSpilled()
                c["executor_run_ms"] += sd.executorRunTime()
                c["input_bytes"] += sd.inputBytes()
                c["input_records"] += sd.inputRecords()

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)
