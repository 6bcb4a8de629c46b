"""In-memory spans for the traced run, plus Spark's own counters per span.

A span is recorded in the benchmark's code around one call into a layer of
the library. Spans are kept in memory and written out when the run ends.
Spark counters are attributed to spans through job groups: entering a span
sets the Spark job group to the span's id, and the event log (enabled only
in the traced run) names the group of every job, so each task's counters
can be summed into the innermost span that launched it.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

ENGINE_COUNTERS = ("jobs", "tasks", "tasks_failed", "executor_cpu_s", "gc_s",
                   "shuffle_write_mb", "spill_mb")


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    run_id: str = ""

    @property
    def duration(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """Records spans when ``enabled``; a disabled tracer only times.

    ``spark`` is set once the session exists, after which entering a span
    also sets the Spark job group."""

    run_id: str
    enabled: bool
    spark: object = None
    spans: list[Span] = field(default_factory=list)
    _stack: list[Span] = field(default_factory=list)

    @contextmanager
    def span(self, name: str, traced: bool = True):
        """Time the block; record it as a span if tracing is on and
        *traced*. Yields the Span, whose ``end`` is set on exit."""
        record = self.enabled and traced
        parent = self._stack[-1].id if self._stack else None
        sp = Span(len(self.spans), name, time.perf_counter(), parent=parent, run_id=self.run_id)
        if record:
            self.spans.append(sp)
            self._stack.append(sp)
            self._set_group(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            if record:
                self._stack.pop()
                self._set_group(self._stack[-1] if self._stack else None)

    def attach(self, spark) -> None:
        """Start setting Spark job groups from spans on *spark*."""
        self.spark = spark
        self._set_group(None)

    def _set_group(self, sp: Span | None) -> None:
        if self.spark is None:
            return
        if sp is None:
            self.spark.sparkContext.setJobGroup("bench", "outside any span")
        else:
            self.spark.sparkContext.setJobGroup(f"span-{sp.id}", sp.name)

    def durations(self, name: str) -> list[float]:
        return [s.duration for s in self.spans if s.name == name]

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the part covered by its children."""
        child = {s.id: 0.0 for s in self.spans}
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.duration
        return {s.id: s.duration - child[s.id] for s in self.spans}

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def engine_counters(event_dir: str, spans: list[Span]) -> tuple[dict, dict[str, dict]]:
    """Sum task counters from the Spark event log(s) in *event_dir*.

    Returns (totals, per_span_name), each mapping counter name -> value.
    Jobs without a span group (e.g. streaming micro-batches, which run on
    the stream's own thread) count in the totals, and micro-batch jobs
    also under the pseudo-span ``streaming.micro_batch``."""
    span_name = {f"span-{s.id}": s.name for s in spans}
    stage_owner: dict[int, str | None] = {}
    totals = dict.fromkeys(ENGINE_COUNTERS, 0.0)
    per: dict[str, dict] = {}

    def bucket(owner):
        return per.setdefault(owner, dict.fromkeys(ENGINE_COUNTERS, 0.0))

    files = sorted(os.path.join(d, f) for d, _, fs in os.walk(event_dir) for f in fs
                   if not f.startswith((".", "appstatus")))
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    owner = span_name.get(props.get("spark.jobGroup.id"))
                    if owner is None and "streaming.sql.batchId" in props:
                        owner = "streaming.micro_batch"
                    for sid in ev.get("Stage IDs", []):
                        stage_owner[sid] = owner
                    totals["jobs"] += 1
                    if owner:
                        bucket(owner)["jobs"] += 1
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    inc = {
                        "tasks": 1,
                        "tasks_failed": 1 if (ev.get("Task Info") or {}).get("Failed") else 0,
                        "executor_cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                        "gc_s": m.get("JVM GC Time", 0) / 1e3,
                        "shuffle_write_mb": sw.get("Shuffle Bytes Written", 0) / 2**20,
                        "spill_mb": (m.get("Memory Bytes Spilled", 0)
                                     + m.get("Disk Bytes Spilled", 0)) / 2**20,
                    }
                    owner = stage_owner.get(ev.get("Stage ID"))
                    for k, v in inc.items():
                        totals[k] += v
                        if owner:
                            bucket(owner)[k] += v
    return totals, per
