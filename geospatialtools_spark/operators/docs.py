"""Interleaved-document integration (BASELINE.json input_hint / north_rule).

The engine's production input is a table of 10^12 interleaved text+media
documents ``(doc_id, spans: array<struct<kind, text, media_ref, offset>>)``
carrying a location. These operators attach spatial columns (grid cell,
quad-cell id, burned tile id, polygon attrs) WITHOUT perturbing the span
sequence — the per-row invariant (kind, text, media_ref, order) is tested
byte-for-byte in tests/test_pipeline.py.

Skew (north_rule): doc locations are hot-spotted. Joins against the burned
cell table broadcast the dimension side (no skew exposure); joins against a
LARGE polygon side go through the tile-cogroup path of operators/rasterize
where a hot tile is split by AQE skew-join, plus an optional explicit salt
(``salt_hot_keys``) for pathological single-cell hotspots.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as TY

from ..cellindex import with_cell
from ..grid import GridMeta
from .points import grid_ij


def attach_grid_cell(docs: DataFrame, meta: GridMeta, res: int = 20,
                     lat_col="lat", lon_col="lon") -> DataFrame:
    """Add (i, j) affine grid coordinates + quad-cell id; spans untouched.
    A NULL/NaN location gives NULL i, j and cell_id."""
    i, j = grid_ij(meta, lat_col, lon_col)
    out = docs.withColumn("i", i).withColumn("j", j)
    return with_cell(out, res, lat_col=lat_col, lon_col=lon_col, out_col="cell_id")


def attach_tile(docs_ij: DataFrame, burned_cells: DataFrame,
                attr_col: str = "attr", out_col: str = "tile_id") -> DataFrame:
    """Join docs (with i, j) to the burned cell table -> tile assignment.

    The burned grid is the dimension side: broadcast when it fits (the
    64 MB threshold in session.py), else a plain shuffle join on (i, j)
    which Catalyst/AQE handles; doc rows outside the grid get NULL.
    """
    # unburned cells (-9999) are dropped from the dimension BEFORE the
    # broadcast: a left-join miss already yields NULL, and the broadcast
    # build is the flagship's only serial component — shipping only covered
    # cells halves it (and at production sparse coverage shrinks it further)
    dim = (burned_cells.filter(F.col(attr_col) != -9999.0)
           .select("i", "j", F.col(attr_col).alias(out_col)))
    return docs_ij.join(F.broadcast(dim), ["i", "j"], "left")


def salt_hot_keys(df: DataFrame, key: str, n_salt: int = 16,
                  hot_threshold: int = 100_000) -> tuple[DataFrame, DataFrame]:
    """Explicit skew salting (SURVEY.md §4.2 item 1).

    Returns (salted_df, hot_keys): rows whose ``key`` frequency exceeds
    ``hot_threshold`` get ``salt = crc32(row) % n_salt``; the dimension side
    must be exploded over 0..n_salt-1 for those keys (``explode_salt``).
    """
    freq = df.groupBy(key).agg(F.count("*").alias("_n"))
    hot = freq.filter(F.col("_n") > hot_threshold).select(key, F.lit(True).alias("_hot"))
    salted = df.join(F.broadcast(hot), key, "left").withColumn(
        "salt",
        F.when(F.col("_hot").isNotNull(),
               F.abs(F.crc32(F.col(key).cast("string")) + F.monotonically_increasing_id()) % n_salt)
         .otherwise(F.lit(0)).cast("int"),
    ).drop("_hot")
    return salted, hot.select(key)


def explode_salt(dim: DataFrame, key: str, hot_keys: DataFrame, n_salt: int = 16) -> DataFrame:
    """Replicate dimension rows of hot keys across all salt buckets.

    The generator sits at the top level with a CONDITIONAL upper bound
    (Spark rejects explode nested inside CASE): non-hot keys explode a
    1-element [0] sequence — exactly one row, salt 0.
    """
    hot = hot_keys.withColumn("_hot", F.lit(True))
    hi = F.when(F.col("_hot").isNotNull(), F.lit(n_salt - 1)).otherwise(F.lit(0))
    out = (dim.join(F.broadcast(hot), key, "left")
           .withColumn("salt", F.explode(F.sequence(F.lit(0), hi)))
           .withColumn("salt", F.col("salt").cast("int"))
           .drop("_hot"))
    return out


def span_fingerprint(docs: DataFrame, out_col: str = "span_fp") -> DataFrame:
    """Deterministic hash of the ORDERED span sequence (kind, text,
    media_ref, offset) — the invariant checked before/after every stage."""
    fp = F.sha2(
        F.to_json(F.transform(
            F.col("spans"),
            lambda s: F.struct(s["kind"], s["text"], s["media_ref"], s["offset"]),
        )), 256)
    return docs.withColumn(out_col, fp)


def span_dedup(docs: DataFrame, id_col: str = "doc_id",
               spans_col: str = "spans",
               out_col: str = "spans_dedup") -> DataFrame:
    """Global first-occurrence dedup of interleaved SPANS — the
    interleaved-axis analog of lines.line_dedup: a span's identity is its
    content ``(kind, text, media_ref)``; each distinct span survives only
    at its smallest ``(doc id, position)``, so corpus-wide boilerplate
    spans (license notices, watermark text, re-shared images by ref)
    collapse to one occurrence while every document keeps its remaining
    spans in original order.

    Adds ``n_spans``, ``n_kept`` and ``out_col`` (surviving spans, order
    preserved; empty array when every span was a repeat).

    Execution shape (same 100 TB design as line_dedup): posexplode ->
    groupBy(content key) with min(struct(id, pos)) — algebraic, map-side
    combined, so a span repeated 10^9 times contributes one row per map
    task to the shuffle — -> survivor join -> one groupBy(id) reassembly.
    """
    sp = F.col(spans_col)
    ex = docs.select(F.col(id_col).alias("_id"),
                     F.posexplode(spans_col).alias("_pos", "_s"))
    keyed = ex.select(
        "_id", "_pos", "_s",
        F.col("_s.kind").alias("_k"),
        F.coalesce(F.col("_s.text"), F.lit("")).alias("_t"),
        F.coalesce(F.col("_s.media_ref"), F.lit("")).alias("_m"))
    winners = (keyed.groupBy("_k", "_t", "_m")
               .agg(F.min(F.struct(F.col("_id"), F.col("_pos")))
                     .alias("_win")))
    kept = (keyed.join(winners, ["_k", "_t", "_m"])
            .filter((F.col("_win._id") == F.col("_id")) &
                    (F.col("_win._pos") == F.col("_pos")))
            .select("_id", "_pos", "_s"))
    assembled = (kept.groupBy("_id")
                 .agg(F.count("*").cast("long").alias("n_kept"),
                      F.transform(
                          F.array_sort(F.collect_list(
                              F.struct(F.col("_pos"), F.col("_s")))),
                          lambda s: s["_s"]).alias("_kept")))
    span_type = docs.schema[spans_col].dataType
    return (docs.join(assembled.withColumnRenamed("_id", id_col),
                      id_col, "left")
            .withColumn("n_spans", F.size(sp).cast("long"))
            .withColumn("n_kept", F.coalesce(F.col("n_kept"), F.lit(0))
                        .cast("long"))
            .withColumn(out_col, F.coalesce(F.col("_kept"),
                                            F.array().cast(span_type)))
            .drop("_kept"))


def spans_schema() -> TY.ArrayType:
    return TY.ArrayType(TY.StructType([
        TY.StructField("kind", TY.StringType()),
        TY.StructField("text", TY.StringType()),
        TY.StructField("media_ref", TY.StringType()),
        TY.StructField("offset", TY.IntegerType()),
    ]))


def docs_df(spark, pdf: pd.DataFrame) -> DataFrame:
    """Fixture pandas docs (fixtures.make_documents) -> Spark with explicit
    spans schema."""
    schema = TY.StructType([
        TY.StructField("doc_id", TY.StringType()),
        TY.StructField("spans", spans_schema()),
        TY.StructField("lat", TY.DoubleType()),
        TY.StructField("lon", TY.DoubleType()),
    ])
    rows = [
        (r.doc_id, [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r.spans],
         float(r.lat), float(r.lon))
        for r in pdf.itertuples()
    ]
    return spark.createDataFrame(rows, schema)
