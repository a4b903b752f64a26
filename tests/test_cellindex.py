"""Quad-cell encoder: the Catalyst production path (``cellindex.with_cell``)
against its numpy twin (``cellindex.encode``), NULL/NaN semantics, and the
flagship attach plan staying free of Python nodes."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from geospatialtools_spark import cellindex
from geospatialtools_spark.grid import GridMeta
from geospatialtools_spark.operators.docs import attach_grid_cell
from geospatialtools_spark.operators.points import extract_point_data

EDGES = [  # (lat, lon): poles, antimeridian, just below the top edges, clips
    (-90.0, -180.0), (90.0, 180.0), (90.0, -180.0), (-90.0, 180.0),
    (0.0, 0.0), (-0.0, -0.0), (89.9999999999, 179.9999999999),
    (np.nextafter(90.0, 0.0), np.nextafter(180.0, 0.0)),
    (45.0, 179.9999999999), (-45.0, -179.9999999999),
    (91.0, 181.0), (-91.0, -181.0), (1e6, -1e6), (-1e6, 1e6),
    (123456.789, -98765.4321),
]


def _points() -> pd.DataFrame:
    rng = np.random.RandomState(2024)
    n = 40_000
    lat = np.concatenate([rng.uniform(-90, 90, n), [p[0] for p in EDGES]])
    lon = np.concatenate([rng.uniform(-180, 180, n), [p[1] for p in EDGES]])
    return pd.DataFrame({"pid": np.arange(len(lat)), "lat": lat, "lon": lon})


@pytest.mark.parametrize("res", [1, 14, 20, 28])
def test_catalyst_encoder_matches_numpy_bit_for_bit(spark, res):
    pdf = _points()
    # repartition keeps the projection out of local-relation constant
    # folding, so the whole-stage-codegen path is the one compared
    df = spark.createDataFrame(pdf).repartition(3)
    got = (cellindex.with_cell(df, res).select("pid", "cell").toPandas()
           .sort_values("pid")["cell"].to_numpy())
    want = cellindex.encode(pdf["lat"].to_numpy(), pdf["lon"].to_numpy(), res)
    assert got.dtype == np.int64
    np.testing.assert_array_equal(got, want)


def test_null_or_nan_location_gives_null_cell(spark):
    nan = float("nan")
    rows = [(0, None, 10.0), (1, 10.0, None), (2, nan, 10.0), (3, 10.0, nan),
            (4, None, None), (5, nan, nan), (6, 10.0, 10.0)]
    df = spark.createDataFrame(rows, "pid long, lat double, lon double")
    for frame in (df, df.repartition(2)):      # interpreted and codegen
        got = {r["pid"]: r["cell"]
               for r in cellindex.with_cell(frame, 14).collect()}
        assert all(got[p] is None for p in range(6))
        assert got[6] == int(cellindex.encode(10.0, 10.0, 14))


def test_temporary_columns_do_not_clobber_caller_columns(spark):
    df = spark.createDataFrame([(1, 10.0, 20.0, 7, 8)],
                               "pid long, lat double, lon double, "
                               "_cell_x int, _CELL_Y int")
    out = cellindex.with_cell(df, 10)
    assert out.columns == df.columns + ["cell"]
    row = out.first()
    assert (row["_cell_x"], row["_CELL_Y"]) == (7, 8)
    assert row["cell"] == int(cellindex.encode(10.0, 20.0, 10))


def test_resolution_out_of_range_rejected(spark):
    df = spark.createDataFrame([(0.0, 0.0)], "lat double, lon double")
    for res in (-1, cellindex.MAX_RES + 1):
        with pytest.raises(ValueError):
            cellindex.with_cell(df, res)


def test_attach_grid_cell_plan_has_no_python_node(spark):
    meta = GridMeta(nx=64, ny=64, minx=0.0, miny=0.0,
                    resx=1.0 / 64, resy=1.0 / 64, tile=32)
    docs = (spark.range(1000)
            .withColumn("lat", F.rand(1)).withColumn("lon", F.rand(2)))
    out = attach_grid_cell(docs, meta, res=20)
    out.count()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan


def test_nan_location_maps_to_no_grid_cell(spark):
    """NaN used to round to grid row/column 0 and join a real cell."""
    meta = GridMeta(nx=4, ny=4, minx=0.0, miny=0.0, resx=0.25, resy=0.25,
                    tile=4)
    nan = float("nan")
    pts = spark.createDataFrame(
        [(0, nan, 0.1), (1, 0.1, nan), (2, None, 0.1), (3, 0.1, 0.1)],
        "pid long, lat double, lon double")
    got = {r["pid"]: r for r in attach_grid_cell(pts, meta, res=8).collect()}
    for p in (0, 1, 2):
        assert got[p]["cell_id"] is None
    assert (got[0]["i"], got[1]["j"], got[2]["i"]) == (None, None, None)
    assert (got[3]["i"], got[3]["j"]) == (0, 0)

    cells = spark.createDataFrame(
        [(i, j, float(10 * i + j)) for i in range(4) for j in range(4)],
        "i long, j long, v double")
    vals = {r["pid"]: r["value"]
            for r in extract_point_data(pts, cells, meta, "v").collect()}
    assert [vals[p] for p in (0, 1, 2)] == [-9999.0] * 3
    assert vals[3] == 0.0


def test_half_to_even_rounding_kept(spark):
    """grid_ij keeps numpy's np.round (half-to-even), not Spark's half-up."""
    meta = GridMeta(nx=8, ny=8, minx=0.0, miny=0.0, resx=1.0, resy=1.0,
                    tile=8)
    # cell-center offsets of exactly .5 -> ties at 0.5, 1.5, 2.5, 3.5
    ys = [1.0, 2.0, 3.0, 4.0, 2.7]
    pts = spark.createDataFrame([(k, y, 0.5) for k, y in enumerate(ys)],
                                "pid long, lat double, lon double")
    got = [r["i"] for r in attach_grid_cell(pts, meta, res=4)
           .orderBy("pid").collect()]
    want = [int(np.round(y - 0.5)) for y in ys]
    assert got == want == [0, 2, 2, 4, 2]
