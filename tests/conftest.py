"""Shared fixtures: one SparkSession per test run, small golden grids.

Golden strategy (SURVEY.md §5.2): the numpy oracle under
``geospatialtools_spark/oracle`` is the authority (the reference's f2py
Fortran is not buildable in this environment); Spark operators must match it
bit-for-bit on these deterministic grids.
"""

from __future__ import annotations

import numpy as np
import pytest

from geospatialtools_spark import fixtures
from geospatialtools_spark.oracle import terrain as T
from geospatialtools_spark.session import get_spark, host_cpus

RES = 30.0
TH = RES * RES * 20  # channel threshold
BTH = RES * RES * 5  # basin threshold


@pytest.fixture(scope="session")
def spark():
    # cores from the host; 8 shuffle partitions (and default parallelism)
    # whatever the core count, so partition-dependent outputs do not move
    s = get_spark(app_name="tests", cpus=host_cpus(), shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def grid32():
    """32x32, tile 16 -> 2x2 tiles: exercises every cross-tile path."""
    meta, dem, mask = fixtures.make_dem(32, 32, tile=16)
    return meta, dem, mask


@pytest.fixture(scope="session")
def golden32(grid32):
    """Oracle outputs for the full terrain pipeline on grid32."""
    meta, dem, mask = grid32
    g = {}
    g["filled"] = T.planchon_fill(dem, RES)
    g["area"], g["fdir"] = T.d8_acc(g["filled"], mask, RES)
    g["slope"], g["aspect"] = T.slope_aspect(
        g["filled"], np.full_like(dem, RES), np.full_like(dem, RES))
    g["channels"], g["channels_wob"], g["topology"] = T.calculate_channels_wocean_wprop(
        g["area"], TH, BTH, g["fdir"], mask)
    g["basins"] = T.delineate_basins(g["channels"], mask, g["fdir"])
    g["hand"] = T.calculate_depth2channel(g["channels"], mask.copy(), g["fdir"],
                                          g["filled"], leak=False)
    g["hillslopes"] = T.delineate_hillslopes(g["channels"], g["area"], g["fdir"], mask)
    g["mfd"] = T.mfd_acc(g["filled"], RES, 1.0)
    return g
