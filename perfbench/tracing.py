"""Spans around the benchmark's own calls into each layer.

A ``Tracer`` records one span per call: name, layer, start, end, parent
span and run id.  Spans stay in memory and are written out at the end.
While a span is open its Spark job group is set, so the jobs a call forces
are counted against that span (``statusTracker``) and, when Spark's event
log is on, its tasks' run time, shuffle, spill and GC time too.

With tracing off, ``span`` is a no-op context manager: no clock reads, no
job groups, no Spark calls.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from collections import defaultdict
from dataclasses import asdict, dataclass, field

LAYERS = ("session", "orchestration", "metadata", "operators", "store",
          "dedup", "simsearch", "opcache")


@dataclass
class Span:
    id: int
    parent: int | None
    layer: str
    name: str
    start: float
    end: float = 0.0
    run_id: str = ""
    jobs: list[int] = field(default_factory=list)
    stages: int = 0
    tasks: int = 0

    @property
    def group(self) -> str:
        return f"{self.run_id}:{self.id}"


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._sc = None

    def attach(self, sc) -> None:
        """Start attributing Spark jobs once a SparkContext exists."""
        self._sc = sc

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        if not self.enabled:
            yield
            return
        if layer not in LAYERS:
            raise ValueError(f"unknown layer {layer!r}")
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), parent.id if parent else None, layer, name,
                  time.perf_counter(), run_id=self.run_id)
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp)
        try:
            yield
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._collect_jobs(sp)
            self._set_group(parent)

    def _set_group(self, sp: Span | None) -> None:
        if self._sc is None:
            return
        if sp is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self._sc.setJobGroup(sp.group, sp.name)

    def _collect_jobs(self, sp: Span) -> None:
        if self._sc is None:
            return
        # the status tracker is fed by the asynchronous listener bus; let
        # it catch up so the span's last stages are counted
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()
        st = self._sc.statusTracker()
        sp.jobs = sorted(st.getJobIdsForGroup(sp.group))
        for j in sp.jobs:
            info = st.getJobInfo(j)
            if info is None:
                continue
            for s in info.stageIds:
                sp.stages += 1
                stage = st.getStageInfo(s)
                if stage is not None:
                    sp.tasks += stage.numTasks

    # ------------------------------------------------------------------
    def self_seconds(self) -> dict[int, float]:
        """Span duration minus the part its direct children cover."""
        covered: dict[int, float] = defaultdict(float)
        for sp in self.spans:
            if sp.parent is not None:
                covered[sp.parent] += sp.end - sp.start
        return {sp.id: (sp.end - sp.start) - covered[sp.id] for sp in self.spans}

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(sp) for sp in self.spans], fh)


def eventlog_by_group(log_dir: str) -> dict[str, dict[str, float]]:
    """Task run time, shuffle bytes written, spilled bytes and GC time per
    job group, read from the (uncompressed) Spark event log files."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(
        lambda: {"task_s": 0.0, "shuffle_bytes": 0.0, "spill_bytes": 0.0, "gc_s": 0.0}
    )
    files = sorted(os.path.join(root, n) for root, _dirs, names in os.walk(log_dir)
                   for n in names if n.startswith("events"))
    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        for s in ev.get("Stage IDs", []):
                            stage_group.setdefault(s, group)
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if group is None or not m:
                        continue
                    acc = out[group]
                    acc["task_s"] += m.get("Executor Run Time", 0) / 1000.0
                    acc["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    acc["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    acc["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0)
    return dict(out)
