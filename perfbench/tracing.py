"""Spans around the benchmark's calls into each layer, and per-span Spark counts.

A traced run wraps each call the benchmark makes into the package in a
span (name, start, end, parent span, run id). A span opened with
``group=True`` also tags the Spark jobs its call starts with a job group
(``SparkContext.setJobGroup``), so Spark's own event log can be summed per
call afterwards without touching package code. Spans stay in memory and
are written out once, when the run ends.
"""

from __future__ import annotations

import contextlib
import dataclasses
import json
import time
from collections import defaultdict
from collections.abc import Iterator
from pathlib import Path

# Spark task-metric accumulables summed per job group, by the name they are reported under
ACCUMULABLES = {
    "internal.metrics.executorRunTime": "executor_run_ms",
    "internal.metrics.jvmGCTime": "gc_ms",
    "internal.metrics.input.bytesRead": "input_bytes",
    "internal.metrics.input.recordsRead": "input_records",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_bytes",
    "internal.metrics.memoryBytesSpilled": "memory_spill_bytes",
    "internal.metrics.diskBytesSpilled": "disk_spill_bytes",
    "internal.metrics.output.bytesWritten": "output_bytes",
}
COUNTS = ("jobs", "tasks", *ACCUMULABLES.values())


@dataclasses.dataclass
class Span:
    span_id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    group: str | None


class Tracer:
    """Records spans; a disabled tracer records nothing and tags no jobs."""

    def __init__(self, run_id: str, enabled: bool):
        self.sc = None  # the SparkContext that job groups are set on
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str, group: bool = False) -> Iterator[Span | None]:
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1].span_id if self._stack else None
        s = Span(len(self.spans), name, time.perf_counter(), 0.0, parent, self.run_id, None)
        self.spans.append(s)
        self._stack.append(s)
        if group:
            s.group = f"{self.run_id}.{s.span_id}"
            self.sc.setJobGroup(s.group, name)
        try:
            yield s
        finally:
            if group:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            s.end = time.perf_counter()
            self._stack.pop()

    def children(self, span_id: int) -> list[Span]:
        return [s for s in self.spans if s.parent == span_id]

    def descendants(self, span_id: int) -> Iterator[Span]:
        for s in self.children(span_id):
            yield s
            yield from self.descendants(s.span_id)

    def write(self, path: Path) -> None:
        path.write_text(json.dumps([dataclasses.asdict(s) for s in self.spans]))


def event_log_files(log_dir: Path) -> list[Path]:
    """Event-log files under ``log_dir`` in write order.

    Spark 4 writes a rolling ``eventlog_v2_<app>/events_<n>_<app>``
    directory (plus an empty ``appstatus_*`` marker); older layouts write
    one file per application. Both are read.
    """
    files = [p for p in log_dir.rglob("*") if p.is_file() and not p.name.startswith(("appstatus", "."))]

    def order(p: Path) -> tuple[str, int]:
        parts = p.name.split("_")
        index = int(parts[1]) if p.name.startswith("events_") and parts[1].isdigit() else 0
        return (str(p.parent), index)

    return sorted(files, key=order)


def aggregate_event_log(files: list[Path]) -> dict[str, dict[str, int]]:
    """Sum Spark's per-stage task metrics by the job group that ran the stage.

    ``SparkListenerJobStart`` carries the group in its properties and the
    IDs of the stages it may run; a stage shared by later jobs (reused
    shuffle output) belongs to the first job that lists it. Each
    ``SparkListenerStageCompleted`` contributes its task count and the
    ``internal.metrics.*`` accumulables in ``ACCUMULABLES``; stages that
    were skipped never complete and so add nothing.
    """
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, int]] = defaultdict(lambda: dict.fromkeys(COUNTS, 0))
    completed = []
    for path in files:
        with open(path, encoding="utf-8") as f:
            for line in f:
                if '"SparkListenerJobStart"' in line:
                    ev = json.loads(line)
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group is None:
                        continue
                    out[group]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif '"SparkListenerStageCompleted"' in line:
                    completed.append(json.loads(line)["Stage Info"])
    for info in completed:
        group = stage_group.get(info["Stage ID"])
        if group is None:
            continue
        counts = out[group]
        counts["tasks"] += int(info.get("Number of Tasks", 0))
        for acc in info.get("Accumulables", []):
            key = ACCUMULABLES.get(acc.get("Name"))
            if key is not None:
                counts[key] += int(float(acc["Value"]))
    return dict(out)
