"""Span arithmetic and job-group attribution (no Spark needed)."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from eventlog import LINEAGE, EventLog, Execution, Job, Task, skew  # noqa: E402
from spans import (GAP, ROOT, SKEW_FLAG, Span, Tracer, accounted,  # noqa: E402
                   layer_table, self_times)


def _task(stage, job, run_ms, launch=0, failed=False, cpu_ns=0, py_ms=0):
    return Task(stage=stage, job=job, launch_ms=launch,
                finish_ms=launch + run_ms, run_ms=run_ms, cpu_ns=cpu_ns,
                gc_ms=0, shuffle_bytes=0, spill_bytes=0, python_ms=py_ms,
                failed=failed)


def test_self_time_subtracts_union_of_children():
    spans = [Span("root", None, 0.0, 10.0),
             Span("a", 0, 1.0, 3.0),
             Span("b", 0, 2.0, 5.0),        # overlaps a: union is 1..5
             Span("c", 0, 7.0, 8.0),
             Span("c.inner", 3, 7.2, 7.7)]
    selfs = self_times(spans)
    assert selfs[0] == 10.0 - 4.0 - 1.0
    assert selfs[1] == 2.0 and selfs[2] == 3.0
    assert abs(selfs[3] - 0.5) < 1e-12      # c minus its own child only
    assert abs(selfs[4] - 0.5) < 1e-12


def test_child_outside_parent_window_is_clipped():
    spans = [Span("root", None, 0.0, 4.0), Span("late", 0, 3.0, 6.0)]
    assert self_times(spans)[0] == 3.0


def test_planted_50x_partition_is_flagged():
    even = [_task(0, 0, 20) for _ in range(3)]
    planted = even + [_task(0, 0, 1000)]
    assert skew(even) == 1.0
    assert skew(planted) >= SKEW_FLAG
    assert abs(skew(planted) - 1000 / 20) < 1e-9


def test_skew_uses_the_stage_with_most_task_time():
    small_skewed = [_task(1, 0, 1), _task(1, 0, 1), _task(1, 0, 100)]
    big_even = [_task(2, 0, 500) for _ in range(4)]
    assert skew(small_skewed + big_even) == 1.0


def test_tracer_nesting_and_materialize_switch():
    tr = Tracer(None, traced=False)
    with tr.span(ROOT):
        with tr.span("a"):
            pass
        with tr.span("b"):
            with tr.span("b.1"):
                pass
    assert [(s.name, s.parent) for s in tr.spans] == [
        (ROOT, None), ("a", 0), ("b", 0), ("b.1", 2)]
    marker = object()
    assert tr.materialize(marker) is marker


def test_layer_table_attributes_jobs_by_group_and_books_lineage():
    # two repetitions of: root [0, 10] with a [1, 4] and stage span s [5, 9]
    spans = []
    for base in (0.0, 100.0):
        r = len(spans)
        spans += [Span(ROOT, None, base, base + 10),
                  Span("a", r, base + 1, base + 4),
                  Span("s", r, base + 5, base + 9)]
    tr = Tracer(None, traced=True)
    tr.spans = spans
    jobs, execs, tasks = {}, {}, []
    for k, base in enumerate((0.0, 100.0)):
        ms = int(base * 1000)
        execs[10 * k] = Execution("s", ms + 5000, ms + 7000, "compute")
        execs[10 * k + 1] = Execution("s", ms + 7000, ms + 8000, "lineage")
        jobs[4 * k] = Job("a", None, ms + 1000, stages=[4 * k])
        jobs[4 * k + 1] = Job("s", 10 * k, ms + 5000, stages=[4 * k + 1])
        jobs[4 * k + 2] = Job("s", 10 * k + 1, ms + 7000, stages=[4 * k + 2])
        jobs[4 * k + 3] = Job(None, None, ms + 9500, stages=[4 * k + 3])
        tasks += [_task(4 * k, 4 * k, 2000, launch=ms + 1500, cpu_ns=10**9),
                  _task(4 * k + 1, 4 * k + 1, 1500, launch=ms + 5200,
                        py_ms=700),
                  _task(4 * k + 2, 4 * k + 2, 500, launch=ms + 7100,
                        failed=(k == 1)),
                  _task(4 * k + 3, 4 * k + 3, 100, launch=ms + 9600)]
    log = EventLog(jobs, execs, tasks)
    t = layer_table(tr, log, since_ms=0, reps=2, stage_span_names=["s"])
    assert t["a"]["wall_s"] == 3.0 and t["a"]["jobs"] == 1
    assert t["a"]["cpu_s"] == 1.0
    assert abs(t["a"]["idle_s"] - 1.0) < 1e-9     # 3 s span, 2 s of tasks
    assert t["s"]["jobs"] == 1 and t["s"]["python_s"] == 0.7
    assert t[LINEAGE]["jobs"] == 1 and t[LINEAGE]["wall_s"] == 1.0
    assert t["checkpointing.commit"]["wall_s"] == 1.0  # 4 s span - 3 s SQL
    assert t[GAP]["wall_s"] == 3.0                 # 10 - 3 - 4 per rep
    assert t["spark"]["failed_tasks"] == 1
    wall, parts = accounted(tr)
    assert wall == parts == 20.0


def test_layer_table_ignores_jobs_before_the_traced_window():
    tr = Tracer(None, traced=True)
    tr.spans = [Span(ROOT, None, 10.0, 12.0), Span("a", 0, 10.0, 11.0)]
    log = EventLog({0: Job("a", None, 1000, stages=[0]),       # warm-up
                    1: Job("a", None, 10_000, stages=[1])},
                   {}, [_task(0, 0, 50, launch=1000),
                        _task(1, 1, 50, launch=10_000)])
    t = layer_table(tr, log, since_ms=10_000, reps=1)
    assert t["a"]["jobs"] == 1 and t["a"]["tasks"] == 1
