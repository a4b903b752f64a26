"""Re-record ``data/small_eventlog.jsonl``, the event log the parser tests
read. Run from the root of a checkout:

    python3 perfbench/tests/record_eventlog.py

The application runs three job groups on ``local[2,2]`` (two cores, a task
may fail once):

- ``plant.skew``: four partitions through an Arrow UDF that sleeps per row;
  one partition holds 50x the rows of the others;
- ``plant.retry``: a task that fails on its first attempt and then succeeds;
- ``plant.stage``: one ``StageRunner`` commit, whose lineage pass and
  ``_lineage`` append the parser must book to the checkpoint layer.

Only the events and fields the parser reads are kept, and paths are
rewritten relative to the scratch directory, so the file is small and
says nothing about the machine it was recorded on.
"""

import glob
import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(os.path.dirname(HERE))
OUT = os.path.join(HERE, "data", "small_eventlog.jsonl")
KEEP = ("SparkListenerJobStart", "SparkListenerTaskEnd",
        "SparkListenerSQLExecutionStart", "SparkListenerSQLExecutionEnd")


def record(work: str) -> str:
    import pandas as pd
    from pyspark import TaskContext
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from geospatialtools_spark.plans.checkpointing import StageRunner

    os.makedirs(os.path.join(work, "events"))
    spark = (SparkSession.builder.master("local[2,2]").appName("record")
             .config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false")
             .config("spark.eventLog.dir", "file://" + os.path.join(work, "events"))
             .config("spark.ui.enabled", "false")
             .config("spark.sql.shuffle.partitions", "2")
             .config("spark.sql.adaptive.enabled", "false")
             .getOrCreate())
    sc = spark.sparkContext

    @F.pandas_udf("long")
    def slow(s: pd.Series) -> pd.Series:
        import time
        time.sleep(0.005 * len(s))
        return s

    sizes = [10, 10, 10, 500]       # one partition with 50x the rows
    rdd = sc.parallelize(range(len(sizes)), len(sizes)).flatMap(
        lambda p: [(p, i) for i in range(sizes[p])])
    skewed = spark.createDataFrame(rdd, "p int, i long").select(slow("i"))
    # the same job once outside any group first, so Python worker start-up
    # does not mask the planted partition's cost
    skewed.write.format("noop").mode("overwrite").save()
    sc.setJobGroup("plant.skew", "plant.skew", False)
    skewed.write.format("noop").mode("overwrite").save()

    sc.setJobGroup("plant.retry", "plant.retry", False)

    def flaky(it):
        ctx = TaskContext.get()
        if ctx.partitionId() == 0 and ctx.attemptNumber() == 0:
            raise RuntimeError("planted first-attempt failure")
        return it

    sc.parallelize(range(100), 2).mapPartitions(flaky).count()

    sc.setJobGroup("plant.stage", "plant.stage", False)
    StageRunner(spark, os.path.join(work, "ckpt")).run_stage(
        "s", lambda: spark.range(1000).withColumn("k", F.col("id") % 7))
    spark.stop()
    return glob.glob(os.path.join(work, "events", "*"))[0]


def _plan(node: dict, work: str) -> dict:
    return {"nodeName": node["nodeName"],
            "simpleString": node["simpleString"].replace(work, "/work"),
            "children": [_plan(c, work) for c in node.get("children", [])]}


def shrink(ev: dict, work: str) -> dict | None:
    kind = ev["Event"].rsplit(".", 1)[-1]
    if kind not in KEEP:
        return None
    if kind == "SparkListenerJobStart":
        props = ev.get("Properties") or {}
        return {"Event": kind, "Job ID": ev["Job ID"],
                "Submission Time": ev["Submission Time"],
                "Stage IDs": ev["Stage IDs"],
                "Properties": {k: props[k] for k in
                               ("spark.jobGroup.id", "spark.sql.execution.id")
                               if k in props}}
    if kind == "SparkListenerSQLExecutionStart":
        return {"Event": ev["Event"], "executionId": ev["executionId"],
                "time": ev["time"], "jobGroupId": ev.get("jobGroupId"),
                "sparkPlanInfo": _plan(ev["sparkPlanInfo"], work)}
    if kind == "SparkListenerSQLExecutionEnd":
        return {"Event": ev["Event"], "executionId": ev["executionId"],
                "time": ev["time"]}
    info = ev["Task Info"]
    m = ev.get("Task Metrics") or {}
    keep_m = ("Executor Run Time", "Executor CPU Time", "JVM GC Time",
              "Memory Bytes Spilled", "Disk Bytes Spilled")
    return {"Event": kind, "Stage ID": ev["Stage ID"],
            "Task Info": {
                "Task ID": info["Task ID"], "Launch Time": info["Launch Time"],
                "Finish Time": info["Finish Time"], "Failed": info["Failed"],
                "Killed": info["Killed"],
                "Accumulables": [{"Name": a["Name"], "Update": a.get("Update")}
                                 for a in info.get("Accumulables", [])
                                 if a.get("Name") == "time to run Python workers"]},
            "Task Metrics": {
                **{k: m[k] for k in keep_m if k in m},
                "Shuffle Read Metrics": {
                    k: (m.get("Shuffle Read Metrics") or {}).get(k, 0)
                    for k in ("Local Bytes Read", "Remote Bytes Read")},
                "Shuffle Write Metrics": {
                    "Shuffle Bytes Written": (m.get("Shuffle Write Metrics")
                                              or {}).get("Shuffle Bytes Written", 0)}}}


def main() -> int:
    sys.path.insert(0, CHECKOUT)
    work = tempfile.mkdtemp(prefix="record_eventlog_")
    os.environ["PYTHONPATH"] = CHECKOUT + os.pathsep + os.environ.get("PYTHONPATH", "")
    try:
        path = record(work)
        with open(path) as f:
            events = [shrink(json.loads(ln), work) for ln in f if ln.strip()]
    finally:
        shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.dirname(OUT), exist_ok=True)
    with open(OUT, "w") as f:
        for ev in events:
            if ev is not None:
                f.write(json.dumps(ev) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
