"""Spans, Spark job groups and stage metrics for the traced run.

Spans live in memory (name, start, end, parent, operation id) and are
written out with the run's detail file. With tracing off the tracer
keeps no spans and sets no job group, so the untraced run times the
bare calls. Stage metrics are read from Spark's status store after the
timer stops, one job group per operation.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

# StageData accessor -> exec.* counter; times are reported in seconds
_STAGE_FIELDS = {
    "executor_run_s": ("executorRunTime", 1e-3),
    "executor_cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "input_bytes": ("inputBytes", 1),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
}
EXEC_COUNTERS = ("jobs", "stages", "tasks", *_STAGE_FIELDS, "spill_bytes")


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None


class Tracer:
    """Records spans and tags Spark jobs with one group per operation."""

    def __init__(self, spark, enabled: bool) -> None:
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.op_groups: dict[str, list[str]] = {}  # op id -> job groups it ran under

    @contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent].op
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, op))
        idx = len(self.spans) - 1
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    @contextmanager
    def operation(self, name: str, op: str):
        """A top-level span whose Spark jobs run under job group ``op``."""
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        sc.setJobGroup(op, name)
        self.op_groups.setdefault(op, []).append(op)
        try:
            with self.span(name, op):
                yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    def add_group(self, op: str, group: str) -> None:
        """Attribute a job group Spark chose itself (a streaming run id) to ``op``."""
        if self.enabled:
            self.op_groups.setdefault(op, []).append(group)

    def durations(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.spans if s.name == name]

    def stages(self, op: str) -> list[dict]:
        """Per-stage metrics of every job the operation ran."""
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        out = []
        for group in self.op_groups.get(op, []):
            for job_id in sorted(tracker.getJobIdsForGroup(group)):
                info = tracker.getJobInfo(job_id)
                if info is None:
                    continue
                for sid in info.stageIds:
                    try:
                        s = store.lastStageAttempt(sid)
                    except Exception:  # noqa: BLE001 — a stage evicted from the store has no metrics
                        continue
                    row = {"job": job_id, "stage": sid, "tasks": s.numCompleteTasks()}
                    for key, (attr, scale) in _STAGE_FIELDS.items():
                        row[key] = getattr(s, attr)() * scale
                    row["spill_bytes"] = s.memoryBytesSpilled() + s.diskBytesSpilled()
                    row["output_records"] = s.outputRecords()
                    out.append(row)
        return out

    def dump(self) -> list[dict]:
        return [asdict(s) for s in self.spans]


def exec_counters(stages: list[dict]) -> dict[str, float]:
    """Sum one operation's stages into the exec.* counters. Skipped
    stages (no task ran) are not counted."""
    ran = [s for s in stages if s["tasks"] > 0]
    out = {"jobs": len({s["job"] for s in stages}), "stages": len(ran)}
    for key in ("tasks", *_STAGE_FIELDS, "spill_bytes"):
        out[key] = sum(s[key] for s in ran)
    return out
