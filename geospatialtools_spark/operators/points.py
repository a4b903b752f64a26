"""Point operators: raster sampling (J1) and kNN via expanding cell rings (J8).

J1 replaces the reference's per-point ``ReadAsArray`` syscall loop
(gdal_tools.py:26-32) with one equi-join against the cell table. J8 has no
reference analog (mandated by BASELINE.json north_rule): kNN over the
engine's quad-cell index — candidates gathered ring-by-ring, exact haversine
re-rank, with the standard ring+1 completeness guarantee.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as TY

from .. import cellindex
from ..cellindex import with_cell
from ..geometry import haversine_np
from ..grid import UNDEF, GridMeta


def grid_ij(meta: GridMeta, lat_col="lat", lon_col="lon"):
    """(i, j) long columns of the nearest grid-cell center, the
    ``gdal_tools.py:19-20`` affine rule with numpy's half-to-even
    ``np.round`` (not Spark's half-up). Not clipped to the grid; NULL for a
    NULL or NaN coordinate, so such a row matches no cell."""

    def rint(c):
        c = F.nanvl(c, F.lit(None).cast("double"))
        f = F.floor(c)
        is_half = (c - f) == 0.5
        even = (f % 2) == 0
        return F.when(is_half, F.when(even, f).otherwise(f + 1)) \
                .otherwise(F.floor(c + 0.5)).cast("long")

    iy = (F.col(lat_col) - (meta.miny + meta.resy / 2)) / meta.resy
    jx = (F.col(lon_col) - (meta.minx + meta.resx / 2)) / meta.resx
    return rint(iy), rint(jx)


def extract_point_data(points: DataFrame, cells: DataFrame, meta: GridMeta,
                       value_col: str, lat_col="lat", lon_col="lon",
                       undef: float = UNDEF) -> DataFrame:
    """gdal_tools.extract_point_data (gdal_tools.py:9-34) as one left join.

    Affine nearest-center rule (``grid_ij``), out-of-bounds -> undef
    (:29-30); a NULL/NaN location also reads undef. The cell side is keyed
    on (i, j); Catalyst broadcasts whichever side is small.
    """
    pi, pj = grid_ij(meta, lat_col, lon_col)
    pts = points.withColumn("pi", pi).withColumn("pj", pj)
    oob = (F.col("pi") < 0) | (F.col("pi") >= meta.nx) | (F.col("pj") < 0) | (F.col("pj") >= meta.ny)
    joined = pts.join(
        cells.select(F.col("i").alias("pi"), F.col("j").alias("pj"),
                     F.col(value_col).alias("_v")),
        ["pi", "pj"], "left",
    )
    value = F.when(oob, F.lit(float(undef))).otherwise(F.coalesce(F.col("_v"), F.lit(float(undef))))
    return joined.withColumn("value", value).drop("_v")


def _located(df: DataFrame, lat_col: str, lon_col: str) -> DataFrame:
    """Rows whose lat and lon are both non-NULL and not NaN."""
    ok = [F.col(c).isNotNull() & ~F.isnan(F.col(c)) for c in (lat_col, lon_col)]
    return df.filter(ok[0] & ok[1])


def knn_join(queries: DataFrame, targets: DataFrame, k: int, res: int,
             query_id="query_id", target_id="target_id",
             lat_col="lat", lon_col="lon", max_rounds: int = 6,
             max_guard_rings: int = 64) -> DataFrame:
    """k nearest targets per query: expanding Chebyshev rings on the cell
    index, exact haversine re-rank (terrain_tools.py:14-23 formula).

    Two phases for EXACT results:
    1. candidate phase — rings expand geometrically (log(#rings) shuffle
       rounds) until every query has >= k candidates;
    2. guard phase — having candidates in rings 0..r does NOT bound the true
       kNN to ring r+1 (cells are anisotropic in metres: a ring-2 cell across
       the short axis can be nearer than a ring-1 point across the long one),
       so compute each query's k-th candidate distance d_k, convert to a ring
       bound ceil(d_k / min_cell_extent_m) + 1, and gather the remaining
       rings up to that bound in ONE extra batch. Every cell whose nearest
       point could beat d_k is then examined -> exact.

    A query or target with a NULL/NaN coordinate (a NULL cell) is dropped
    before the ring kernel: such a query returns no rows, such a target is
    never a candidate.
    """
    q = with_cell(_located(queries, lat_col, lon_col)
                  .select(query_id, lat_col, lon_col), res).select(
        F.col(query_id).alias("qid"), F.col(lat_col).alias("qlat"),
        F.col(lon_col).alias("qlon"), F.col("cell").alias("qcell"))
    t = with_cell(_located(targets, lat_col, lon_col)
                  .select(target_id, lat_col, lon_col), res).select(
        F.col(target_id).alias("tid"), F.col(lat_col).alias("tlat"),
        F.col(lon_col).alias("tlon"), F.col("cell").alias("tcell"))
    t = t.localCheckpoint(eager=True)

    @F.pandas_udf(TY.ArrayType(TY.LongType()))
    def ring_cells(cell: pd.Series, r0: pd.Series, r1: pd.Series) -> pd.Series:
        # vectorized annulus generation: one numpy broadcast per DISTINCT
        # (r0, r1) pair in the batch (usually 1-2), no per-row Python. Edge
        # clipping can duplicate cells; downstream dropDuplicates absorbs it.
        c = cell.to_numpy()
        a = r0.to_numpy()
        b = r1.to_numpy()
        out: list = [[]] * len(c)
        if len(c) == 0:
            return pd.Series(out)
        x, y = cellindex.cell_to_xy(c)
        res = int(cellindex.cell_res(c[:1])[0])
        for aa, bb in set(zip(a.tolist(), b.tolist())):
            sel = np.nonzero((a == aa) & (b == bb))[0]
            offs = np.arange(-bb, bb + 1, dtype=np.int64)
            dx, dy = np.meshgrid(offs, offs, indexing="ij")
            keep = np.maximum(np.abs(dx), np.abs(dy)).ravel() >= aa
            dx, dy = dx.ravel()[keep], dy.ravel()[keep]
            cells = cellindex.encode_xy(x[sel][:, None] + dx[None, :],
                                        y[sel][:, None] + dy[None, :], res)
            for row_i, lst in zip(sel.tolist(), cells.tolist()):
                out[row_i] = lst
        return pd.Series(out)

    # initial ring radius from target density: aim for ~3k candidates in the
    # first gather so most queries finish in ONE round (each extra round is
    # a full explode+join+checkpoint pass — the dominant cost). The density
    # is a SIZING HEURISTIC only (a wrong estimate costs an extra round,
    # never correctness — the guard-radius re-check is exact), so estimate
    # both numbers in ONE partial-agg scan with approx_count_distinct
    # instead of an exact distinct shuffle over the full target table.
    import math
    est = t.agg(F.count("*").alias("n"),
                F.approx_count_distinct("tcell").alias("nc")).first()
    n_t = est["n"]
    n_cells = est["nc"]
    density = n_t / max(n_cells, 1)
    r_est = max(1, min(8, math.ceil(0.5 * (math.sqrt(3.0 * k / max(density, 1e-9)) - 1))))

    pending = q.withColumn("r0", F.lit(0)).withColumn("r1", F.lit(int(r_est)))
    results = None
    finished = []  # (qid, qlat, qlon, qcell, r1) with >= k candidates
    for rnd in range(max_rounds):
        cand = (pending
                .withColumn("cell", F.explode(ring_cells("qcell", "r0", "r1")))
                .join(t, F.col("cell") == F.col("tcell"))
                .select("qid", "qlat", "qlon", "tid", "tlat", "tlon"))
        batch = cand if results is None else results.unionByName(cand)
        results = batch.localCheckpoint(eager=True)
        counts = results.groupBy("qid").agg(F.count("*").alias("n"))
        done_ids = counts.filter(F.col("n") >= k).select("qid")
        finished.append(pending.join(done_ids, "qid", "left_semi")
                        .select("qid", "qlat", "qlon", "qcell", "r1"))
        nxt = pending.join(done_ids, "qid", "left_anti")
        if nxt.isEmpty():
            pending = None
            break
        width = 2 ** (rnd + 1)
        pending = nxt.withColumn("r0", F.col("r1") + 1) \
                     .withColumn("r1", F.col("r1") + F.lit(width))
    if results is None:
        return queries.sparkSession.createDataFrame(
            [], "qid long, tid long, dist double, rank int")
    if pending is not None:  # queries that never reached k (sparse targets)
        finished.append(pending.select("qid", "qlat", "qlon", "qcell", "r1"))
    st = finished[0]
    for f in finished[1:]:
        st = st.unionByName(f)

    dist = haversine_expr(F.col("qlat"), F.col("tlat"), F.col("qlon"), F.col("tlon"))
    w = Window.partitionBy("qid").orderBy(F.col("dist").asc(), F.col("tid").asc())
    ranked = (results.dropDuplicates(["qid", "tid"]).withColumn("dist", dist)
              .withColumn("rank", F.row_number().over(w)))

    # guard phase: ring bound from the k-th candidate distance
    m_per_deg = np.pi * 6372800.0 / 180.0
    lat_cell_m = (180.0 / (1 << res)) * m_per_deg
    dk = (ranked.filter(F.col("rank") <= k)
          .groupBy("qid").agg(F.max("dist").alias("dk")))
    lon_cell_m = (360.0 / (1 << res)) * m_per_deg * F.cos(F.radians(F.col("qlat")))
    min_cell = F.least(F.lit(lat_cell_m), lon_cell_m)
    guard = (st.join(dk, "qid", "left")
             .withColumn("r_need",
                         F.least(F.lit(max_guard_rings),
                                 F.ceil(F.coalesce(F.col("dk"), F.lit(0.0)) / min_cell) + 1)
                          .cast("int"))
             .filter(F.col("r_need") > F.col("r1")))
    extra = (guard
             .withColumn("r0", F.col("r1") + 1)
             .withColumn("cell", F.explode(ring_cells("qcell", "r0", "r_need")))
             .join(t, F.col("cell") == F.col("tcell"))
             .select("qid", "qlat", "qlon", "tid", "tlat", "tlon"))
    full = results.unionByName(extra)
    final = (full.dropDuplicates(["qid", "tid"]).withColumn("dist", dist)
             .withColumn("rank", F.row_number().over(w)))
    return final.filter(F.col("rank") <= k).select("qid", "tid", "dist", "rank")


def knn_broadcast(queries: DataFrame, targets: DataFrame, k: int,
                  query_id="query_id", target_id="target_id",
                  lat_col="lat", lon_col="lon", pad: int = 8) -> DataFrame:
    """Exact kNN for a SMALL query side: broadcast the collected queries into
    a single numpy pass over the targets (mapInPandas, per-partition running
    top-(k+pad)), then re-rank the tiny candidate union JVM-side.

    The canonical distributed plan when |Q| << |T|: the target table is
    scanned ONCE with zero shuffle; only |Q| * (k+pad) rows per partition
    survive to the final window. At 10^12 targets this is still a full scan
    — when |Q| is large, or the target table is cell-partitioned so ring
    probes prune partitions, use ``knn_join`` instead (``knn`` dispatches).

    numpy haversine only SELECTS a candidate superset (pad guards ulp-level
    numpy-vs-JVM ordering differences); the returned distance/rank come from
    the same Catalyst expression as ``knn_join``, so output is identical to
    the exact brute-force oracle. NULL/NaN-location rows are dropped on both
    sides, as in ``knn_join``.
    """
    qpdf = _located(queries, lat_col, lon_col) \
        .select(query_id, lat_col, lon_col).toPandas()
    nq = len(qpdf)
    if nq == 0:
        return queries.sparkSession.createDataFrame(
            [], "qid long, tid long, dist double, rank int")
    qlat = qpdf[lat_col].to_numpy(dtype=np.float64)
    qlon = qpdf[lon_col].to_numpy(dtype=np.float64)
    keep = k + pad

    t = _located(targets, lat_col, lon_col).select(
        F.col(target_id).alias("tid"), F.col(lat_col).alias("tlat"),
        F.col(lon_col).alias("tlon"))
    out_schema = TY.StructType([
        TY.StructField("qidx", TY.IntegerType()),
        t.schema["tid"],
        TY.StructField("tlat", TY.DoubleType()),
        TY.StructField("tlon", TY.DoubleType()),
    ])

    def part(batches):
        cand_d = [[] for _ in range(nq)]
        cand_rows = [[] for _ in range(nq)]  # (tid, tlat, tlon)
        for pdf in batches:
            tlat = pdf["tlat"].to_numpy(dtype=np.float64)
            tlon = pdf["tlon"].to_numpy(dtype=np.float64)
            tids = pdf["tid"].to_numpy()
            d = haversine_np(qlat[:, None], tlat[None, :],
                             qlon[:, None], tlon[None, :])
            m = d.shape[1]
            take = min(keep, m)
            idx = np.argpartition(d, take - 1, axis=1)[:, :take]
            for qi in range(nq):
                sel = idx[qi]
                cand_d[qi].append(d[qi, sel])
                cand_rows[qi].append((tids[sel], tlat[sel], tlon[sel]))
        rows = {"qidx": [], "tid": [], "tlat": [], "tlon": []}
        for qi in range(nq):
            if not cand_d[qi]:
                continue
            d = np.concatenate(cand_d[qi])
            tids = np.concatenate([r[0] for r in cand_rows[qi]])
            la = np.concatenate([r[1] for r in cand_rows[qi]])
            lo = np.concatenate([r[2] for r in cand_rows[qi]])
            order = np.lexsort((tids, d))[:keep]
            rows["qidx"].extend([qi] * len(order))
            rows["tid"].extend(tids[order].tolist())
            rows["tlat"].extend(la[order].tolist())
            rows["tlon"].extend(lo[order].tolist())
        yield pd.DataFrame(rows)

    cand = t.mapInPandas(part, out_schema)
    qdf = queries.sparkSession.createDataFrame(
        qpdf.assign(qidx=np.arange(nq, dtype=np.int32))).select(
        "qidx", F.col(query_id).alias("qid"),
        F.col(lat_col).alias("qlat"), F.col(lon_col).alias("qlon"))
    dist = haversine_expr(F.col("qlat"), F.col("tlat"), F.col("qlon"), F.col("tlon"))
    w = Window.partitionBy("qid").orderBy(F.col("dist").asc(), F.col("tid").asc())
    return (cand.join(F.broadcast(qdf), "qidx")
            .withColumn("dist", dist)
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("qid", F.col("tid"), "dist", "rank"))


def knn(queries: DataFrame, targets: DataFrame, k: int, res: int,
        small_query_threshold: int = 10_000, **kw) -> DataFrame:
    """kNN dispatcher: broadcast-scan when the query side is small (exact,
    one pass, no shuffle), expanding cell-ring index search otherwise.

    The strategy probe only needs "more than threshold rows or not" — a
    limit(threshold+1) count that stops scanning at the threshold, never a
    full count of a 10^12-row query table (r3 advice)."""
    nq = queries.limit(small_query_threshold + 1).count()
    if nq <= small_query_threshold:
        kw.pop("max_rounds", None)
        kw.pop("max_guard_rings", None)
        return knn_broadcast(queries, targets, k, **kw)
    return knn_join(queries, targets, k, res, **kw)


def haversine_expr(lat0, lat1, lon0, lon1):
    """Column-expression haversine, R=6372800 (terrain_tools.py:14-23)."""
    R = 6372800.0
    dlat = F.radians(lat1 - lat0)
    dlon = F.radians(lon1 - lon0)
    a = F.sin(dlat / 2) ** 2 + F.cos(F.radians(lat0)) * F.cos(F.radians(lat1)) * F.sin(dlon / 2) ** 2
    return R * 2 * F.atan2(F.sqrt(a), F.sqrt(1 - a))
