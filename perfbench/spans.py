"""Spans and Spark layer counters, recorded from outside the program.

``Tracer`` keeps spans in memory (name, start, end, parent, run id) and
writes them to one JSON file when the run ends. A layer's self time is its
span's duration minus the part of that interval its child spans cover.

``SparkLayers`` runs each traced step under its own Spark job group and
reads what the step cost from Spark's status store: jobs, stages, tasks,
executor run and CPU time, GC, shuffle bytes and spill. Nothing inside the
program is instrumented.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    attrs: dict = field(default_factory=dict)


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, reach = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, reach), min(b, hi)
        if b > a:
            total += b - a
            reach = b
    return total


class Tracer:
    """In-memory spans. Disabled, ``span`` only yields and records nothing."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield attrs
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.run_id, attrs))
        self._stack.append(idx)
        try:
            yield attrs
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def self_times(self) -> dict[str, float]:
        """Summed self time per span name."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append((s.start, s.end))
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            own = (s.end - s.start) - covered(children.get(i, []), s.start, s.end)
            out[s.name] = out.get(s.name, 0.0) + own
        return out

    def dump(self, path: str, **extra) -> None:
        """Write the spans, self time per span name and ``extra`` as JSON."""
        with open(path, "w") as fh:
            json.dump(
                {
                    "run_id": self.run_id,
                    "spans": [
                        {"id": i, "name": s.name, "start": s.start, "end": s.end,
                         "parent": s.parent, "run_id": s.run_id, **s.attrs}
                        for i, s in enumerate(self.spans)
                    ],
                    "self_s": self.self_times(),
                    **extra,
                },
                fh,
                indent=1,
            )


STAGE_FIELDS = {
    # StageData accessor -> (layer counter, scale)
    "executorRunTime": ("executor_run_s", 1e-3),
    "executorCpuTime": ("executor_cpu_s", 1e-9),
    "jvmGcTime": ("gc_s", 1e-3),
    "shuffleReadBytes": ("shuffle_read_bytes", 1),
    "shuffleWriteBytes": ("shuffle_write_bytes", 1),
    "memoryBytesSpilled": ("spill_bytes", 1),
    "diskBytesSpilled": ("spill_bytes", 1),
}
COUNTERS = ("jobs", "stages", "tasks", *dict.fromkeys(v[0] for v in STAGE_FIELDS.values()))


class SparkLayers:
    """Per-step Spark counters from job groups and the status store."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._seq = 0

    @contextmanager
    def group(self, name: str):
        """Run the body under a fresh job group; yields the group id."""
        self._seq += 1
        gid = f"perfbench-{self._seq}-{name}"
        self.sc.setJobGroup(gid, name)
        try:
            yield gid
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def counters(self, gid: str) -> dict[str, float]:
        """Jobs, stages, tasks and summed stage metrics of one job group."""
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        out = dict.fromkeys(COUNTERS, 0.0)
        seen: set[int] = set()
        for jid in self.sc.statusTracker().getJobIdsForGroup(gid):
            out["jobs"] += 1
            stage_ids = store.job(jid).stageIds()
            for i in range(stage_ids.size()):
                sid = stage_ids.apply(i)
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    stage = store.lastStageAttempt(sid)
                except Py4JJavaError:  # the stage was never submitted
                    continue
                if stage.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += stage.numCompleteTasks()
                for accessor, (key, scale) in STAGE_FIELDS.items():
                    out[key] += getattr(stage, accessor)() * scale
        return out

    def persisted_rdds(self) -> int:
        return self._jsc.getPersistentRDDs().size()
