"""Traced runs: spans around the calls into each layer, per-layer Spark
job tagging, and task statistics from the Spark event log.

Spans are recorded by the benchmark's own code around the public layer
functions (nothing inside ``search_spark`` is instrumented). Each span
holds its name, start, end, parent span and the id of the operation it
belongs to; spans stay in memory and are written out once at the end.

Every Spark job started inside a layer span carries that layer in the
job group (``setJobGroup``) and in the local property
``perfbench.layer``. The property is what attribution reads: Spark SQL
runs broadcast-exchange jobs under its own job group, but local
properties are inherited by those jobs.
"""

from __future__ import annotations

import glob
import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

LAYER_PROP = "perfbench.layer"


@dataclass
class Span:
    span_id: int
    op_id: str
    name: str
    layer: str
    parent: int | None
    start: float
    end: float | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return (self.end or self.start) - self.start


class Tracer:
    """In-memory span recorder with layer tagging of Spark jobs."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, op_id: str, name: str, layer: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), op_id, name, layer,
                  parent.span_id if parent else None, time.time(),
                  attrs=dict(attrs))
        self.spans.append(sp)
        self._stack.append(sp)
        self._tag(op_id, layer)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if parent is not None:
                self._tag(parent.op_id, parent.layer)
            else:
                self._untag()

    def _tag(self, op_id: str, layer: str) -> None:
        self.sc.setJobGroup(f"{op_id}/{layer}", layer)
        self.sc.setLocalProperty(LAYER_PROP, layer)

    def _untag(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)
        self.sc.setLocalProperty(LAYER_PROP, None)

    def total(self, name: str) -> float:
        return sum(s.duration for s in self.spans if s.name == name)

    def durations(self, name: str) -> list[float]:
        return [s.duration for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                [
                    {"id": s.span_id, "op": s.op_id, "name": s.name,
                     "layer": s.layer, "parent": s.parent,
                     "start": s.start, "end": s.end, **s.attrs}
                    for s in self.spans
                ],
                f,
                indent=1,
            )


@dataclass
class LayerTasks:
    jobs: int = 0
    tasks: int = 0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    task_ms: list[int] = field(default_factory=list)

    @property
    def skew(self) -> float:
        """Slowest task ÷ median task (1.0 when no tasks ran)."""
        if not self.task_ms:
            return 1.0
        return max(self.task_ms) / max(statistics.median(self.task_ms), 1.0)


_WANTED = ('{"Event":"SparkListenerJobStart"',
           '{"Event":"SparkListenerTaskEnd"')


def layer_tasks(event_log_dir: str) -> dict[str, LayerTasks]:
    """Per-layer job/task statistics from a finished Spark event log."""
    files = [p for p in glob.glob(f"{event_log_dir}/*")
             if not p.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {event_log_dir}, "
                           f"found {files}")
    stage_layer: dict[int, str] = {}
    out: dict[str, LayerTasks] = {}
    with open(files[0]) as f:
        for line in f:
            # most of the log is SQL plan events: skip them unparsed
            if not line.startswith(_WANTED):
                continue
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                layer = (ev.get("Properties") or {}).get(LAYER_PROP)
                if layer is None:
                    continue
                out.setdefault(layer, LayerTasks()).jobs += 1
                for sid in ev.get("Stage IDs", []):
                    stage_layer.setdefault(sid, layer)
            elif kind == "SparkListenerTaskEnd":
                layer = stage_layer.get(ev.get("Stage ID"))
                if layer is None:
                    continue
                lt = out.setdefault(layer, LayerTasks())
                info = ev.get("Task Info", {})
                m = ev.get("Task Metrics") or {}
                lt.tasks += 1
                lt.task_ms.append(
                    int(info.get("Finish Time", 0))
                    - int(info.get("Launch Time", 0))
                )
                lt.shuffle_bytes += int(
                    (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                )
                lt.spill_bytes += int(m.get("Disk Bytes Spilled", 0))
    return out
