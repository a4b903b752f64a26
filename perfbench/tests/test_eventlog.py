"""Event-log parser on a small recorded log (data/small_eventlog.jsonl, made
by record_eventlog.py): job groups, task metrics, the planted 50x
partition, a retried task and the lineage pass of one StageRunner commit."""

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from eventlog import (LINEAGE, bucket_metrics, execution_kind,  # noqa: E402
                      failed_tasks, read)
from spans import SKEW_FLAG  # noqa: E402

LOG = os.path.join(HERE, "data", "small_eventlog.jsonl")


def test_jobs_carry_their_groups():
    log = read(LOG)
    groups = {j.group for j in log.jobs.values()}
    assert {"plant.skew", "plant.retry", "plant.stage"} <= groups
    assert all(t.job in log.jobs for t in log.tasks)


def test_planted_partition_is_flagged_and_python_time_is_read():
    m = bucket_metrics(read(LOG))["plant.skew"]
    assert m["skew"] >= SKEW_FLAG
    assert m["python_s"] > 2.0          # 530 rows x 5 ms of UDF sleep
    assert m["cpu_s"] > 0 and m["failed_tasks"] == 0


def test_retried_task_is_counted_as_failed():
    log = read(LOG)
    m = bucket_metrics(log)["plant.retry"]
    assert m["failed_tasks"] == 1
    assert m["tasks"] == 3              # two partitions, one retried
    assert failed_tasks(log) == 1


def test_stage_commit_books_lineage_to_the_checkpoint_layer():
    log = read(LOG)
    kinds = {e.kind for e in log.executions.values() if e.group == "plant.stage"}
    assert kinds == {"compute", "lineage"}
    m = bucket_metrics(log)
    assert m["plant.stage"]["jobs"] >= 1
    assert m[LINEAGE]["jobs"] >= 2      # the lineage pass and its append
    assert m[LINEAGE]["python_s"] > 0   # lineage_records is a mapInPandas


def test_window_excludes_earlier_jobs():
    log = read(LOG)
    last = max(j.submit_ms for j in log.jobs.values())
    assert sum(m["jobs"] for m in bucket_metrics(log, since_ms=last).values()) == 1


def test_execution_kind_reads_the_plan():
    write = {"simpleString": "Execute InsertIntoHadoopFsRelationCommand "
                             "file:/w/ckpt/dedup.tmp, false, Parquet",
             "children": [{"simpleString": "Project [a]", "children": []}]}
    append = {"simpleString": "Execute InsertIntoHadoopFsRelationCommand "
                              "file:/w/ckpt/_lineage, false, Parquet",
              "children": []}
    lineage = {"simpleString": "AdaptiveSparkPlan isFinalPlan=false",
               "children": [{"simpleString": "MapInPandas per_partition(a#1)#2",
                             "children": []}]}
    assert execution_kind(write) == "compute"
    assert execution_kind(append) == "lineage"
    assert execution_kind(lineage) == "lineage"
