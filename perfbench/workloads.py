"""The benchmark's workloads. Each one builds its inputs from the seed,
computes the expected outputs with an independent method, and runs one
repetition of its job through the package's public functions.

A workload object carries:

- ``rows``: input rows (docs) of one repetition;
- ``rep(tracer)``: one repetition -> (rows, outputs); all of it is timed;
- ``check(outputs)``: list of problems, empty when the outputs are right;
- ``warm(tracer)``: the warm-up before timing;
- ``between()``: cleanup after a repetition, outside the timed region;
- ``extras``: per-repetition measurements beyond wall time.
"""

from __future__ import annotations

import os
import shutil

import numpy as np

from harness import warm_up
from spans import RESUME, ROOT, stage_spans

HASH_MOD = 1 << 31          # span-hash sums stay far from long overflow


def _dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total


def _doc_coords(ids: np.ndarray):
    """numpy twin of ``functions.synth.doc_lat``/``doc_lon`` (same float
    operations in the same order, so the values are bit-identical)."""
    from geospatialtools_spark.functions import synth as SY
    hot = (ids % SY.HOT_MOD) < SY.HOT_LT
    u_lon = ((ids * SY.A1 + SY.B1) % SY.M) / float(SY.M)
    u_lat = ((ids * SY.A2 + SY.B2) % SY.M) / float(SY.M)
    lon = np.where(hot, 0.30 + 0.10 * u_lon, u_lon)
    lat = np.where(hot, 0.35 + 0.10 * u_lat, u_lat)
    return lat, lon


def _rint_half_even(c: np.ndarray) -> np.ndarray:
    """``operators.docs.attach_grid_cell``'s rounding rule, in numpy."""
    f = np.floor(c)
    half = (c - f) == 0.5
    even = (f % 2) == 0
    return np.where(half, np.where(even, f, f + 1), np.floor(c + 0.5)).astype(np.int64)


def _seeded_docs(spark, n: int, offset: int):
    """(doc_id, lat, lon) for ids offset..offset+n-1 (20% in a hotspot
    covering 1% of the unit square)."""
    from pyspark.sql import functions as F

    from geospatialtools_spark.functions import synth as SY
    return (spark.range(offset, offset + n).select(F.col("id").alias("doc_id"))
            .withColumn("lat", SY.doc_lat(F.col("doc_id")))
            .withColumn("lon", SY.doc_lon(F.col("doc_id"))))


def _unit_meta(grid: int, tile: int):
    from geospatialtools_spark.grid import GridMeta
    return GridMeta(nx=grid, ny=grid, minx=0.0, miny=0.0,
                    resx=1.0 / grid, resy=1.0 / grid, tile=tile)


class TileAttach:
    """rasterize the polygon set onto a G x G grid -> attach_grid_cell ->
    attach_tile (broadcast) -> order-sensitive span hash, over N docs."""

    name = "tile_attach"
    N_DOCS = 1_000_000
    GRID = 512
    TILE = 128
    N_POLYS = 64
    CELL_RES = 20

    def __init__(self, spark, seed: int, work: str):
        from pyspark.sql import functions as F

        from geospatialtools_spark.functions import synth as SY
        from geospatialtools_spark.oracle.rasterize import rasterize as burn_np
        self.spark = spark
        self.rows = self.N_DOCS
        self.meta = _unit_meta(self.GRID, self.TILE)
        offset = (seed % 1000) * self.N_DOCS
        base = _seeded_docs(spark, self.N_DOCS, offset).withColumn(
            "text", F.concat(F.lit("document body "),
                             (F.col("doc_id") % 9973).cast("string"),
                             F.lit(" with some repeated filler text")))
        self.docs = SY.with_spans(base).drop("text").localCheckpoint(eager=True)
        self.hash_before = self.docs.agg(self._hash_sum()).first()[0]
        polys_pdf = SY.many_rects_pdf(self.N_POLYS)
        self.polys = spark.createDataFrame(polys_pdf)
        # expected n_tiled: the numpy oracle grid read at each doc's (i, j)
        grid = burn_np(self.meta, polys_pdf)
        ids = np.arange(offset, offset + self.N_DOCS, dtype=np.int64)
        lat, lon = _doc_coords(ids)
        m = self.meta
        i = _rint_half_even((lat - (m.miny + m.resy / 2)) / m.resy)
        j = _rint_half_even((lon - (m.minx + m.resx / 2)) / m.resx)
        self.expect_tiled = int((grid[i, j] != -9999.0).sum())
        self.extras: dict[str, list] = {}

    @staticmethod
    def _hash_sum():
        from pyspark.sql import functions as F
        return F.sum(F.pmod(F.xxhash64("spans"), F.lit(HASH_MOD))).alias("h")

    def _cells(self):
        from pyspark.sql import functions as F
        g, t = self.GRID, self.TILE
        return (self.spark.range(g * g)
                .select((F.col("id") / g).cast("int").alias("i"),
                        (F.col("id") % g).cast("int").alias("j"))
                .withColumn("tile_i", (F.col("i") / t).cast("int"))
                .withColumn("tile_j", (F.col("j") / t).cast("int")))

    def rep(self, tracer):
        from pyspark.sql import functions as F

        from geospatialtools_spark.operators.docs import (attach_grid_cell,
                                                          attach_tile)
        from geospatialtools_spark.operators.rasterize import rasterize
        with tracer.span(ROOT):
            with tracer.span("rasterize.rasterize"):
                burned = rasterize(self._cells(), self.polys, self.meta) \
                    .localCheckpoint(eager=True)
            with tracer.span("docs.attach_grid_cell"):
                with_ij = tracer.materialize(
                    attach_grid_cell(self.docs, self.meta, res=self.CELL_RES))
            with tracer.span("docs.attach_tile"):
                out = tracer.materialize(attach_tile(with_ij, burned))
            with tracer.span("docs.span_hash"):
                agg = out.agg(
                    F.count("*").alias("n"),
                    F.count("tile_id").alias("n_tiled"),
                    F.count("cell_id").alias("n_cell"),
                    self._hash_sum()).first()
        return self.rows, agg

    def check(self, agg) -> list[str]:
        problems = []
        if agg["n"] != self.N_DOCS or agg["n_cell"] != self.N_DOCS:
            problems.append(f"doc count {agg['n']} / cells {agg['n_cell']} "
                            f"!= {self.N_DOCS}")
        if agg["h"] != self.hash_before:
            problems.append("span hash sum changed by the attach")
        if agg["n_tiled"] != self.expect_tiled:
            problems.append(f"n_tiled {agg['n_tiled']} != oracle "
                            f"{self.expect_tiled}")
        return problems

    def warm(self, tracer):
        return warm_up(lambda: self.rep(tracer))

    def between(self):
        from geospatialtools_spark.session import release_blocks
        release_blocks(self.spark)


class PointJoin:
    """The same kind of docs used as points: pip_join against the polygon
    set (broadcast mapInPandas), then knn_join of a fixed query subset
    against all docs (cell rings, iterative localCheckpoint rounds)."""

    name = "point_join"
    N_DOCS = 100_000
    N_POLYS = 64
    QUERY_STRIDE = 400          # every 400th doc is a query
    K = 10
    RES = 16                    # tens to hundreds of candidates per ring
    N_CHECK = 16                # queries re-checked against knn_broadcast

    def __init__(self, spark, seed: int, work: str):
        from pyspark.sql import functions as F

        from geospatialtools_spark.functions import synth as SY
        from geospatialtools_spark.geometry import rings_bbox, wkb_to_rings
        from geospatialtools_spark.operators.points import knn_broadcast
        self.spark = spark
        self.rows = self.N_DOCS
        self.meta = _unit_meta(512, 128)
        offset = (seed % 1000) * self.N_DOCS
        self.docs = _seeded_docs(spark, self.N_DOCS, offset) \
            .localCheckpoint(eager=True)
        polys_pdf = SY.many_rects_pdf(self.N_POLYS)
        self.polys = spark.createDataFrame(polys_pdf)
        # closed-form last-wins PIP: the polygons are axis-aligned boxes, so
        # a point is inside iff strictly between both edge pairs, and the
        # largest polygon_id containing it wins
        ids = np.arange(offset, offset + self.N_DOCS, dtype=np.int64)
        lat, lon = _doc_coords(ids)
        win = np.full(len(ids), -1, dtype=np.int64)
        for pid, wkb in zip(polys_pdf["polygon_id"], polys_pdf["wkb"]):
            x0, y0, x1, y1 = rings_bbox(wkb_to_rings(wkb))
            win[(lon > x0) & (lon < x1) & (lat > y0) & (lat < y1)] = pid
        self.expect_pip = {}
        for pid in np.unique(win):
            sel = win == pid
            key = None if pid < 0 else int(pid)
            self.expect_pip[key] = (int(sel.sum()), int(ids[sel].sum()))
        self.queries = self._queries(self.docs)
        self.n_queries = self.queries.count()
        self.targets = self.docs.withColumnRenamed("doc_id", "target_id")
        small = self.docs.filter(F.col("doc_id") < offset + self.N_DOCS // 10) \
            .localCheckpoint(eager=True)
        self.warm_set = (small, self._queries(small),
                         small.withColumnRenamed("doc_id", "target_id"))
        sample = self.queries.orderBy("query_id").limit(self.N_CHECK) \
            .localCheckpoint(eager=True)
        self.sample_ids = [r[0] for r in sample.select("query_id").collect()]
        self.expect_knn = sorted(
            (r["qid"], r["rank"], r["tid"]) for r in
            knn_broadcast(sample, self.targets, self.K).collect())
        self.extras: dict[str, list] = {}

    def _queries(self, docs):
        from pyspark.sql import functions as F
        return (docs.filter(F.col("doc_id") % self.QUERY_STRIDE == 0)
                .withColumnRenamed("doc_id", "query_id")
                .localCheckpoint(eager=True))

    def rep(self, tracer):
        return self._run(tracer, self.docs, self.queries, self.targets)

    def _run(self, tracer, docs, queries, targets):
        from pyspark.sql import functions as F

        from geospatialtools_spark.operators.points import knn_join
        from geospatialtools_spark.operators.rasterize import pip_join
        with tracer.span(ROOT):
            with tracer.span("rasterize.pip_join"):
                pip = tracer.materialize(pip_join(docs, self.polys, self.meta))
                per_poly = (pip.groupBy("polygon_id")
                            .agg(F.count("*").alias("n"),
                                 F.sum("doc_id").alias("s")).collect())
            with tracer.span("points.knn_join"):
                knn = tracer.materialize(knn_join(
                    queries, targets, self.K, self.RES))
                sampled = F.col("qid").isin(self.sample_ids)
                res = knn.agg(
                    F.count("*").alias("n"),
                    F.collect_list(F.when(sampled, F.struct("qid", "rank", "tid")))
                    .alias("sample")).first()
        return self.rows, (per_poly, res)

    def check(self, outputs) -> list[str]:
        per_poly, res = outputs
        problems = []
        got = {r["polygon_id"]: (r["n"], r["s"]) for r in per_poly}
        if got != self.expect_pip:
            bad = sorted(k for k in set(got) | set(self.expect_pip)
                         if got.get(k) != self.expect_pip.get(k))
            problems.append(f"pip_join winners differ for polygons {bad[:8]}")
        if res["n"] != self.n_queries * self.K:
            problems.append(f"knn rows {res['n']} != {self.n_queries * self.K}")
        sample = sorted((r["qid"], r["rank"], r["tid"]) for r in res["sample"])
        if sample != self.expect_knn:
            problems.append("knn_join ids/ranks differ from knn_broadcast")
        return problems

    def warm(self, tracer):
        # one pass over a tenth of the docs: the same jobs and Python UDFs,
        # at a cost the per-run budget affords
        return warm_up(lambda: self._run(tracer, *self.warm_set), max_reps=1)

    def between(self):
        from geospatialtools_spark.session import release_blocks
        release_blocks(self.spark)


class Curation:
    """run_curation_pipeline on the planted-cluster corpus, bpe_train on
    the first train shard, then a resume pass over the committed root."""

    name = "curation"
    N_DOCS = 10_000
    WARM_DOCS = 400
    N_MERGES = 4
    SHARD_BUDGET = 60_000       # chars per train shard (~600 docs)
    BLOCK = 20                  # planted-cluster block length
    STAGES = {"dedup": "dedup.exact", "near_dedup": "dedup.near",
              "quality": "textstats.quality", "scrub": "textstats.scrub",
              "split": "sampling.split", "shard": "sampling.shard"}

    def __init__(self, spark, seed: int, work: str):
        from geospatialtools_spark.pipeline import CurationConfig
        self.spark = spark
        self.work = work
        self.rows = self.N_DOCS
        # the offset keeps whole 20-doc blocks, so the planted ground truth
        # (m+1 exact copy of m; m~m+2 and m+10~m+11 near copies) holds
        self.offset = self.BLOCK * (seed % 5000)
        self.docs = self._corpus(self.N_DOCS)
        self.warm_docs = self._corpus(self.WARM_DOCS)
        self.cfg = CurationConfig(quality_min=0.0, shard_budget=self.SHARD_BUDGET)
        inp = os.path.join(work, "input.parquet")
        self.docs.write.mode("overwrite").parquet(inp)
        self.input_bytes = _dir_bytes(inp)
        ids = np.arange(self.offset, self.offset + self.N_DOCS, dtype=np.int64)
        mod = ids % self.BLOCK
        self.expect_exact = set(ids[mod != 1].tolist())
        self.planted_near = set(ids[(mod == 0) | (mod == 10)].tolist())
        self.must_keep = set(ids[~np.isin(mod, (0, 1, 10))].tolist())
        self.extras = {"resume_s": [], "write_amp": [], "commit_mb": []}
        self._n = 0

    def _corpus(self, n: int):
        from pyspark.sql import functions as F

        from geospatialtools_spark.fixtures import planted_docs
        return (planted_docs(self.spark, self.offset + n, checkpoint=False)
                .filter(F.col("doc_id") >= self.offset)
                .localCheckpoint(eager=True))

    def _root(self) -> str:
        self._n += 1
        return os.path.join(self.work, f"ckpt-{self._n}")

    def _run(self, tracer, docs, n_merges: int):
        import time

        from pyspark.sql import functions as F

        from geospatialtools_spark.functions.bpe import bpe_train
        from geospatialtools_spark.pipeline import run_curation_pipeline
        root = self._root()
        with tracer.span(ROOT):
            with stage_spans(tracer, self.STAGES):
                out = run_curation_pipeline(self.spark, docs, self.cfg, root)
            with tracer.span("bpe.train"):
                shard0 = out["shard"].filter(F.col("shard") == 0)
                merges = bpe_train(shard0, n_merges, vocab_cap=None)
            with tracer.span(RESUME):
                t0 = time.perf_counter()
                again = run_curation_pipeline(self.spark, docs, self.cfg, root)
                n_final = again["shard"].count()
                resume_s = time.perf_counter() - t0
        return {"root": root, "out": out, "merges": merges,
                "n_final": n_final, "resume_s": resume_s,
                "resumed": all(m.get("resumed") for m in again["_metrics"])}

    def rep(self, tracer):
        return self.rows, self._run(tracer, self.docs, self.N_MERGES)

    def check(self, res) -> list[str]:
        from pyspark.sql import functions as F

        from geospatialtools_spark.oracle.bpe_twin import _ref_train
        out = res["out"]
        problems = []
        exact = {r[0] for r in out["dedup"].select("doc_id").collect()}
        near = {r[0] for r in out["near_dedup"].select("doc_id").collect()}
        if exact != self.expect_exact:
            problems.append(f"exact dedup kept {len(exact)} docs, expected "
                            f"exactly 19/20 = {len(self.expect_exact)}")
        leaks = [d for d in near if d % self.BLOCK == 1]
        if leaks:
            problems.append(f"{len(leaks)} exact-dup leaks")
        fp = self.must_keep - near
        if fp:
            problems.append(f"{len(fp)} false-positive drops")
        recall = len(self.planted_near - near) / len(self.planted_near)
        if recall < 0.98:
            problems.append(f"near-dup recall {recall:.4f} < 0.98")
        texts = [r[0] for r in out["shard"].filter(F.col("shard") == 0)
                 .select("text").collect()]
        if res["merges"] != _ref_train(texts, self.N_MERGES):
            problems.append("bpe merges differ from the reference trainer")
        n_shard = out["shard"].count()
        if not res["resumed"] or res["n_final"] != n_shard:
            problems.append("resume pass recomputed or changed the output")
        # measurements of the committed root, taken here (outside the timed
        # region) and only for repetitions whose outputs are right
        if not problems:
            total = _dir_bytes(res["root"])
            stages = sum(_dir_bytes(os.path.join(res["root"], s))
                         for s in self.STAGES if os.path.isdir(
                             os.path.join(res["root"], s)))
            self.extras["resume_s"].append(res["resume_s"])
            self.extras["write_amp"].append(total / self.input_bytes)
            self.extras["commit_mb"].append(stages / (1024 * 1024))
        return problems

    def warm(self, tracer):
        # a full small pipeline costs as much as a measured one (~100 Spark
        # jobs); instead prime the operators behind the stages and BPE on
        # the small corpus: Python workers, codegen and JIT for those paths
        from pyspark.sql import functions as F

        from geospatialtools_spark.functions.bpe import bpe_train
        from geospatialtools_spark.functions.dedup import (dedup_groups,
                                                           exact_dups,
                                                           minhash_lsh_pairs)
        from geospatialtools_spark.functions.textstats import (quality_score,
                                                               redact_pii)

        def run_all(df):     # noop write: no column pruned, nothing kept
            df.write.format("noop").mode("overwrite").save()

        def prime():
            d = self.warm_docs
            run_all(exact_dups(d))
            run_all(dedup_groups(d, minhash_lsh_pairs(d)))
            run_all(d.select(quality_score(F.col("text")),
                             redact_pii(F.col("text"))))
            bpe_train(d, 1, vocab_cap=None)

        return warm_up(prime, max_reps=1)

    def between(self):
        from geospatialtools_spark.session import release_blocks
        for d in os.listdir(self.work):
            if d.startswith("ckpt-"):
                shutil.rmtree(os.path.join(self.work, d), ignore_errors=True)
        release_blocks(self.spark)


WORKLOADS = {w.name: w for w in (TileAttach, PointJoin, Curation)}
