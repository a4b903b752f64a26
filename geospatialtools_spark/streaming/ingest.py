"""Streaming doc-ingest operators (SURVEY.md §2.11).

All transformations are source-agnostic: they take any streaming (or batch —
the logic is identical, which is how the tests oracle them) DataFrame with an
event-time column. At production scale the source is a file/Kafka stream of
doc-ingest records; here the file source over the ``events`` parquet with
``availableNow`` triggers exercises the full watermark + state path.

Checkpointing: pass ``checkpointLocation`` to ``writeStream`` — Spark's state
store gives the kill-resume guarantee for the streaming stages (the batch
stages use plans/checkpointing.py stage snapshots instead).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _ts_utc(df: DataFrame, ts_col: str) -> DataFrame:
    """Watermarks require TIMESTAMP (with zone); driver parquet carries
    TIMESTAMP_NTZ — interpret as UTC wall time."""
    return df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))


def _read_table_stream(spark, sf_dir: str, name: str, schema=None) -> DataFrame:
    """File-source stream over one driver table (one-file-per-trigger keeps
    backpressure bounded; at scale this is a Kafka/queue source). The
    streaming file source wants a DIRECTORY, so the table's file is picked
    out of the sf dir with a glob filter."""
    if schema is None:
        schema = spark.read.parquet(f"{sf_dir}/{name}.parquet").schema
    return (spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .option("pathGlobFilter", f"{name}.parquet")
            .parquet(sf_dir))


def read_events_stream(spark, sf_dir: str, schema=None) -> DataFrame:
    return _read_table_stream(spark, sf_dir, "events", schema)


def dedup_in_watermark(events: DataFrame, id_col: str = "event_id",
                       ts_col: str = "ts", watermark: str = "1 hour") -> DataFrame:
    """Exactly-once-per-id within the watermark horizon: state-store dedup
    keyed on id; state older than the watermark is evicted (bounded memory
    at unbounded input — the scale requirement).

    Uses ``dropDuplicatesWithinWatermark``: plain ``dropDuplicates([id])``
    without the event-time column in the key never evicts its state (the
    watermark only bounds LATE data there, not state), so on an unbounded
    stream of unique ids the state store grows forever — the exact failure
    the watermark variant exists to prevent."""
    events = _ts_utc(events, ts_col)
    return (events.withWatermark(ts_col, watermark)
            .dropDuplicatesWithinWatermark([id_col]))


def windowed_ingest_counts(events: DataFrame, ts_col: str = "ts",
                           watermark: str = "1 hour",
                           window: str = "1 hour",
                           slide: str | None = None) -> DataFrame:
    """Tumbling (or sliding) per-window ingest counts + value sum.

    Late rows beyond the watermark are dropped; the aggregation state closes
    per window once the watermark passes, so output is append-mode capable.
    """
    w = F.window(F.col(ts_col), window, slide) if slide else F.window(F.col(ts_col), window)
    events = _ts_utc(events, ts_col)
    return (events.withWatermark(ts_col, watermark)
            .groupBy(w.alias("win"), F.col("event_type"))
            .agg(F.count("*").alias("n_events"),
                 F.sum("value").alias("sum_value"))
            .select(F.col("win.start").alias("win_start"),
                    F.col("win.end").alias("win_end"),
                    "event_type", "n_events", "sum_value"))


def streaming_time_average(events: DataFrame, ts_col: str = "ts",
                           block: str = "1 hour",
                           watermark: str = "1 hour") -> DataFrame:
    """Streaming twin of functions/upscaling.time_average: tumbling-window
    mean (src/upscaling_tools.f90 block mean, with the window as the block)."""
    events = _ts_utc(events, ts_col)
    return (events.withWatermark(ts_col, watermark)
            .groupBy(F.window(F.col(ts_col), block).alias("win"))
            .agg(F.avg("value").alias("avg_value"))
            .select(F.col("win.start").alias("block_start"), "avg_value"))


def run_available_now(stream_df: DataFrame, checkpoint_dir: str,
                      out_dir: str) -> None:
    """Drain everything currently available through the streaming engine
    (used by tests and backfills; identical plan serves true continuous runs)."""
    q = (stream_df.writeStream
         .format("parquet")
         .option("path", out_dir)
         .option("checkpointLocation", checkpoint_dir)
         .outputMode("append")
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()


# --------------------------------------------------------------- sessions

def sessionize_batch(events: DataFrame, user_col: str = "user_id",
                     ts_col: str = "ts", gap_minutes: int = 30) -> DataFrame:
    """Per-user activity sessions, batch form (gaps-and-islands): a new
    session starts when the gap to the previous event exceeds
    ``gap_minutes``. Pure window expressions — this is the SQL-oracled twin
    of ``sessionize_stream`` (identical session boundaries; parity asserted
    in tests/test_pipeline.py).

    Output: (user_id, session_idx 1-based per user, session_start/
    session_end epoch seconds, n_events).
    """
    from pyspark.sql import Window
    base = events.select(
        F.col(user_col).alias("user_id"),
        F.col(ts_col).cast("timestamp").cast("long").alias("_ep"))
    w = Window.partitionBy("user_id").orderBy("_ep")
    prev = F.lag("_ep").over(w)
    new_sess = (prev.isNull()
                | ((F.col("_ep") - prev) > gap_minutes * 60)).cast("int")
    sid = F.sum(new_sess).over(w).cast("long")  # running count of starts
    return (base
            .withColumn("session_idx", sid)
            .groupBy("user_id", "session_idx")
            .agg(F.min("_ep").alias("session_start"),
                 F.max("_ep").alias("session_end"),
                 F.count("*").alias("n_events")))


def sessionize_stream(events: DataFrame, user_col: str = "user_id",
                      ts_col: str = "ts", gap_minutes: int = 30,
                      watermark: str = "2 hours") -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState): per-user
    sessions closed after ``gap_minutes`` of event-time inactivity.

    State per user = the open session (start, last, n). Each trigger merges
    its (sorted) events into the open session, EMITS every session that
    closed inside the batch (a later event arrived past the gap), and arms
    an event-time timeout at last + gap for the still-open one — when the
    watermark passes it, the timeout fires and the final session is
    emitted with bounded state (the scale requirement: state size is
    O(active users), independent of stream length).

    Session boundaries are identical to ``sessionize_batch`` for in-order
    input; out-of-order input WITHIN a trigger is sorted before merging.
    Contract for cross-trigger late events (arrived in a later trigger but
    older than the open session's start): they join the open session
    (n_events counts them) but never lower session_start — true
    retroactive re-sessionization would need unbounded buffering, which
    the bounded-state requirement forbids; the batch twin is the authority
    when exactness over late data matters (replay through it).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_s = gap_minutes * 60

    def fn(key, pdfs, state: GroupState):
        uid = key[0]

        def arm(last_ts: int) -> None:
            # clamp: setTimeoutTimestamp at/below the current watermark
            # raises and kills the query (possible when a late event's
            # last + gap already trails the watermark front) — wm + 1 ms
            # fires at the next trigger, closing the session immediately
            state.setTimeoutTimestamp(max(
                (last_ts + gap_s) * 1000, state.getCurrentWatermarkMs() + 1))

        if state.hasTimedOut:
            start, last, n = state.get
            state.remove()
            yield pd.DataFrame([{"user_id": uid, "session_start": start,
                                 "session_end": last, "n_events": n}])
            return
        eps = []
        for pdf in pdfs:
            eps.append(pdf["_ep"])
        ts = pd.concat(eps).sort_values().to_numpy()
        if ts.size == 0:
            if state.exists:
                arm(state.get[1])
            return
        if state.exists:
            start, last, n = state.get
        else:
            start, last, n = int(ts[0]), int(ts[0]) - 1, 0
            # fresh state: first event below opens the session
        closed = []
        for t in ts:
            t = int(t)
            if n and t - last > gap_s:
                closed.append({"user_id": uid, "session_start": start,
                               "session_end": last, "n_events": n})
                start, n = t, 0
            last = max(last, t)
            n += 1
        state.update((start, last, n))
        # event-time timeout: fires when the watermark passes last + gap
        arm(last)
        if closed:
            yield pd.DataFrame(closed)

    events = _ts_utc(events, ts_col).withWatermark(ts_col, watermark)
    prepped = events.select(F.col(user_col).alias("user_id"), ts_col,
                            F.col(ts_col).cast("long").alias("_ep"))
    # output key type follows the input key type (like sessionize_batch)
    utype = dict(prepped.dtypes)["user_id"]
    return prepped.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=f"user_id {utype}, session_start long, "
                         "session_end long, n_events long",
        stateStructType="start long, last long, n long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def read_docs_stream(spark, sf_dir: str, schema=None) -> DataFrame:
    """File-source stream over the documents table (at production scale a
    Kafka/queue source of newly crawled interleaved docs)."""
    return _read_table_stream(spark, sf_dir, "documents", schema)


def streaming_tile_attach(docs: DataFrame, burned_cells: DataFrame, meta,
                          res: int = 20, lat_col: str = "lat",
                          lon_col: str = "lon") -> DataFrame:
    """The flagship doc->tile attach as a STREAMING transform: grid (i, j),
    quad-cell id, and burned tile id attached to each arriving doc
    micro-batch; spans untouched (the per-row invariant surface).

    Everything here is stateless per row — the Catalyst cell encode and
    the broadcast dimension join are exactly the batch operators, so the
    plan is streaming-legal with no watermark/state store, and the batch
    twin (same functions on the same rows) oracles it. ``burned_cells`` is
    the BATCH dimension side (the already-rasterized tile grid); in
    production it refreshes by restarting the query on a new snapshot —
    stream-static joins re-read the static side per micro-batch, so an
    Iceberg-backed dimension would even pick up commits live."""
    from ..operators.docs import attach_grid_cell, attach_tile

    with_ij = attach_grid_cell(docs, meta, res=res,
                               lat_col=lat_col, lon_col=lon_col)
    return attach_tile(with_ij, burned_cells)


# ------------------------------------------------------- incremental dedup

def dedup_batch_handler(index_path: str, pairs_dir: str,
                        text_col: str = "text", id_col: str = "doc_id",
                        star_threshold: int | None = 64):
    """The foreachBatch body of ``incremental_dedup_stream``, exposed so
    tests can drive (and REPLAY) it directly: load the index (base +
    streaming increments), probe the micro-batch, write its pairs, fold
    its band rows into the index.

    Idempotent under micro-batch replay (the Structured Streaming
    at-least-once window) by construction:

    - the pair output and the index increment both land as OVERWRITEs of
      batch-id-keyed directories, so a replay rewrites rather than
      duplicates;
    - the probe runs with ``exclude_new_from_history=True``, so a replay
      that finds its own rows already appended (crash between the index
      append and the checkpoint commit) sees EXACTLY the first run's
      history — same clique-guard decisions, same pair set, at any
      ``star_threshold`` (without the exclusion, the batch's own rows
      would inflate the old-side bucket counts on replay and could flip
      a straddling bucket from clique pairs to star rows).
    """
    from ..functions.dedup import (append_minhash_batch,
                                   incremental_dup_pairs,
                                   load_minhash_index)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        idx = load_minhash_index(spark, index_path)
        pairs, nb = incremental_dup_pairs(idx, batch_df, text_col=text_col,
                                          id_col=id_col,
                                          star_threshold=star_threshold,
                                          exclude_new_from_history=True)
        (pairs.write.mode("overwrite")
         .parquet(f"{pairs_dir}/batch={int(batch_id)}"))
        append_minhash_batch(index_path, nb, batch_id)

    return handle


def incremental_dedup_stream(docs: DataFrame, index_path: str,
                             pairs_dir: str, checkpoint_dir: str,
                             text_col: str = "text",
                             id_col: str = "doc_id",
                             star_threshold: int | None = 64) -> None:
    """Continuous-crawl dedup: every arriving micro-batch is probed
    against the persisted MinHash index (all old-new + new-new candidate
    pairs, never old-old) and then folded into it, so the index always
    covers everything ingested so far — the streaming face of
    ``incremental_dup_pairs``, state kept in the index's parquet layout
    rather than the state store (it must outlive the query and be
    shareable with batch jobs). ``availableNow`` drains the backlog; the
    identical plan serves a continuous trigger."""
    q = (docs.writeStream
         .foreachBatch(dedup_batch_handler(index_path, pairs_dir,
                                           text_col, id_col,
                                           star_threshold))
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
