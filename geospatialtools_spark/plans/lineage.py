"""Per-partition lineage (north_rule), read on the driver from the footers
of the ``part-NNNNN-*.parquet`` files Spark wrote: exact committed rows and
on-disk bytes per partition, and the stored Spark schema. No Spark job
runs; per-partition timing is the task-metric profiler's job."""

from __future__ import annotations

import json
import os
import re

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql.types import StructType

SCHEMA = pa.schema([("stage", pa.string()), ("partition_id", pa.int32()),
                    ("rows", pa.int64()), ("bytes", pa.int64())])
_PART = re.compile(r"^part-(\d+)-.*\.parquet$")


def _parts(path: str) -> list[tuple[int, str]]:
    return sorted((int(m.group(1)), os.path.join(path, m.group(0)))
                  for m in map(_PART.match, os.listdir(path)) if m)


def lineage_records(path: str, stage: str) -> pa.Table:
    """One row per written partition of the parquet directory ``path``
    (a partition's files are summed)."""
    agg: dict[int, list[int]] = {}
    for pid, f in _parts(path):
        r = agg.setdefault(pid, [0, 0])
        r[0] += pq.read_metadata(f).num_rows
        r[1] += os.path.getsize(f)
    return pa.table({"stage": [stage] * len(agg), "partition_id": list(agg),
                     "rows": [r for r, _ in agg.values()],
                     "bytes": [b for _, b in agg.values()]}, schema=SCHEMA)


def footer_schema(path: str) -> StructType:
    """The Spark schema in a part file's footer (an empty output has one)."""
    meta = pq.read_metadata(_parts(path)[0][1]).metadata
    return StructType.fromJson(json.loads(
        meta[b"org.apache.spark.sql.parquet.row.metadata"]))
