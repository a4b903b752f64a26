"""Spans recorded from the benchmark side, and the per-layer table.

A span wraps one call into a layer of the package. It sets the Spark job
group to its own name, so the event-log parser can book every Spark job to
the span that caused it. In a traced run the span also materialises the
layer's output (``Tracer.materialize``), so the layer's jobs run inside the
span instead of fused into whichever later action consumes it. Spans are
kept in memory and written out once, when the run ends.

The two pipelines call their operators inside ``pipeline.py``; there the
span wraps ``StageRunner.run_stage`` (``stage_spans``), patched at runtime
from this file and restored afterwards — the package itself is not edited.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass

from eventlog import LINEAGE, EventLog, bucket_metrics, clip, \
    execution_intervals, failed_tasks, union_length

ROOT = "run"
GAP = "pipeline.gap"
COMMIT = "checkpointing.commit"
RESUME = "checkpointing.resume"
SKEW_FLAG = 4.0     # a layer whose max/median task time reaches this is flagged


@dataclass
class Span:
    name: str
    parent: int | None
    start: float
    end: float | None = None

    @property
    def wall(self) -> float:
        return (self.end or self.start) - self.start


class Tracer:
    """Records spans; ``materialize`` forces a layer's output only when
    ``traced`` is set. ``sc`` may be None (unit tests)."""

    def __init__(self, sc, traced: bool):
        self.sc = sc
        self.traced = traced
        self.spans: list[Span] = []
        self._stack: list[int] = []

    def _set_group(self, name: str | None) -> None:
        if self.sc is None:
            return
        if name is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(name, name, False)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, parent, time.time()))
        idx = len(self.spans) - 1
        self._stack.append(idx)
        self._set_group(name)
        try:
            yield
        finally:
            self.spans[idx].end = time.time()
            self._stack.pop()
            self._set_group(self.spans[self._stack[-1]].name
                            if self._stack else None)

    def materialize(self, df):
        return df.localCheckpoint(eager=True) if self.traced else df

    def reset(self) -> None:
        self.spans.clear()


def self_times(spans: list[Span]) -> list[float]:
    """Each span's wall time minus the part of it its children cover."""
    kids: dict[int, list] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return [s.wall - union_length(clip(kids.get(i, []), s.start, s.end))
            for i, s in enumerate(spans)]


@contextmanager
def stage_spans(tracer: Tracer, names: dict[str, str]):
    """Wrap ``StageRunner.run_stage`` so each stage listed in ``names``
    runs inside the span ``names[stage]``. Stages not listed run unwrapped
    (they stay inside whatever span is open, e.g. the resume pass)."""
    from geospatialtools_spark.plans.checkpointing import StageRunner
    original = StageRunner.run_stage

    def run_stage(self, stage, fn, force=False):
        if stage not in names:
            return original(self, stage, fn, force)
        with tracer.span(names[stage]):
            return original(self, stage, fn, force)

    StageRunner.run_stage = run_stage
    try:
        yield
    finally:
        StageRunner.run_stage = original


def layer_table(tracer: Tracer, log: EventLog, since_ms: int, reps: int,
                stage_span_names=()) -> dict[str, dict]:
    """Per-layer table: span walls from the tracer, task metrics from the
    event log, every value averaged over the ``reps`` traced repetitions.

    ``stage_span_names`` are the spans that wrap ``StageRunner.run_stage``;
    their time outside any SQL execution is the checkpoint layer's commit
    bookkeeping (``checkpointing.commit``)."""
    spans = tracer.spans
    selfs = self_times(spans)
    table: dict[str, dict] = {}

    def row(name: str) -> dict:
        return table.setdefault(name, {"wall_s": 0.0, "self_s": 0.0,
                                       "calls": 0, "idle_s": 0.0})

    windows: dict[str, list] = {}
    for s, self_s in zip(spans, selfs):
        r = row(s.name)
        r["wall_s"] += s.wall
        r["self_s"] += self_s
        r["calls"] += 1
        windows.setdefault(s.name, []).append((s.start, s.end))
    for root, self_s in zip(spans, selfs):
        if root.name == ROOT:
            row(GAP)["wall_s"] += self_s
            row(GAP)["calls"] += 1

    buckets = bucket_metrics(log, since_ms)
    busy = {name: m.pop("task_intervals") for name, m in buckets.items()}
    for name, m in buckets.items():
        row(name).update(m)
    for name, wins in windows.items():
        # a stage span's lineage tasks are booked to LINEAGE but still keep
        # the span busy
        intervals = busy.get(name, []) + busy.get(LINEAGE, [])
        row(name)["idle_s"] = sum(
            (e - s) - union_length(clip(intervals, s, e)) for s, e in wins)
    for name in stage_span_names:
        for s, e in windows.get(name, []):
            ex = execution_intervals(log, name, since_ms)
            covered = union_length(clip(
                ex.get("compute", []) + ex.get("lineage", []), s, e))
            row(COMMIT)["wall_s"] += (e - s) - covered
            lin = ex.get("lineage", [])
            if lin:
                row(LINEAGE)["wall_s"] += union_length(clip(lin, s, e))
    row("spark")["failed_tasks"] = failed_tasks(log, since_ms)
    for r in table.values():
        for k, v in r.items():
            if k not in ("calls", "skew", "failed_tasks"):
                r[k] = v / max(reps, 1)
    return table


def accounted(tracer: Tracer) -> tuple[float, float]:
    """(root wall, sum of top-level span walls + gap) over all root spans —
    equal up to clock rounding by construction of the gap."""
    selfs = self_times(tracer.spans)
    roots = [i for i, s in enumerate(tracer.spans) if s.name == ROOT]
    wall = sum(tracer.spans[i].wall for i in roots)
    tops = sum(s.wall for s in tracer.spans if s.parent in roots)
    return wall, tops + sum(selfs[i] for i in roots)
