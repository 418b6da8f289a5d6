"""Structured Streaming surface (SURVEY.md §2.7).

The reference is purely batch; streaming here extends the same
operators to continuous ingestion, per the survey's note that the RE
core is stateless row transforms + one grouped dedup:

  * ``streaming_triple_dedup`` — dropDuplicates with watermark: the
    triple-materialize stage as an incremental query;
  * ``windowed_event_counts`` — watermarked tumbling-window agg over an
    events stream (late data handled by the watermark);
  * ``sessionize`` — batch sessionization via lag+cumsum (the
    session_window streaming twin, usable on both batch and streams).

Tests drive these with file sources + processAllAvailable, the
documented local pattern for deterministic streaming tests.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from deepref_spark.session import local_frame


def streaming_triple_dedup(scored_stream: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming twin of pipeline.triples_from_scored's dedup: distinct
    (subj, pred, obj) within the watermark horizon."""
    return (
        scored_stream
        .withWatermark("event_time", watermark)
        .dropDuplicates(["subj", "pred", "obj"])
    )


def windowed_event_counts(events: DataFrame, window: str = "1 hour",
                          watermark: str = "2 hours") -> DataFrame:
    """Watermarked tumbling-window counts per event_type. Works on both
    a stream (append mode) and a batch frame (same expression)."""
    # watermarks require TIMESTAMP (session-TZ), not TIMESTAMP_NTZ
    events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 6).alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "total_value")
    )


def sessionize(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Batch sessionization: per-user session ids from gaps > threshold
    (lag + cumulative sum), then per-session rollup."""
    w = Window.partitionBy("user_id").orderBy("ts")
    # fractional seconds as a double, like the SQL twin's epoch(): a
    # whole-second cast would fold a 1800.5 s gap into one session.
    # parquet µs timestamps read as TIMESTAMP_NTZ hop through timestamp
    # (session TZ pinned to UTC)
    secs = F.unix_micros(F.col("ts").cast("timestamp")) / 1e6
    gap = secs - F.lag(secs).over(w)
    marked = (
        F.when(gap.isNull() | (gap > gap_minutes * 60), F.lit(1)).otherwise(F.lit(0))
    )
    with_session = (
        events.withColumn("new_session", marked)
        .withColumn("session_seq", F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, 0)))
    )
    return (
        with_session.groupBy("user_id", "session_seq")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.round(F.sum("value"), 6).alias("session_value"),
        )
    )


def sessionize_stream(events: DataFrame, gap_minutes: int = 30,
                      watermark: str = "2 hours") -> DataFrame:
    """TRUE streaming sessionization: ``session_window`` grows a
    per-user window while events keep arriving within the gap and
    closes it when the watermark passes gap past the last event —
    Spark's native streaming analogue of the batch ``sessionize``
    (lag+cumsum), with the same rollup columns. Works on a batch frame
    too (windows close immediately)."""
    events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy(
            F.session_window("ts", f"{gap_minutes} minutes").alias("w"), "user_id"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.round(F.sum("value"), 6).alias("session_value"),
        )
        .select("user_id", "n_events", "session_start", "session_end",
                "session_value")
    )


def attribution_join_stream(triggers: DataFrame, actions: DataFrame,
                            horizon_minutes: int = 30,
                            watermark: str = "2 hours") -> DataFrame:
    """Watermarked stream-stream interval join: attribute each action
    event to every trigger event of the same user whose timestamp lies
    in [trigger_ts, trigger_ts + horizon] — the view->click attribution
    shape. On streams this is Spark's canonical stream-stream join
    (both sides watermarked + a time-range condition bounds the join
    state, so buffered rows age out instead of accumulating); the
    identical expression runs on batch frames, which is what the
    oracle-checked registry query and the batch half of the streaming
    test execute.

    The join shuffles both sides on user_id only; the time range is
    evaluated within the co-partitioned pairs. lag_seconds is BIGINT
    (epoch-second difference), order-independent."""
    t = triggers.select(
        F.col("user_id"),
        F.col("event_id").alias("trigger_id"),
        F.col("ts").cast("timestamp").alias("trigger_ts"),
    )
    a = actions.select(
        F.col("user_id").alias("a_user"),
        F.col("event_id").alias("action_id"),
        F.col("ts").cast("timestamp").alias("action_ts"),
        F.col("value").alias("action_value"),
    )
    if t.isStreaming:
        t = t.withWatermark("trigger_ts", watermark)
    if a.isStreaming:
        a = a.withWatermark("action_ts", watermark)
    cond = (
        (t["user_id"] == a["a_user"])
        & (a["action_ts"] >= t["trigger_ts"])
        & (a["action_ts"] <= t["trigger_ts"]
           + F.expr(f"INTERVAL {horizon_minutes} MINUTES"))
    )
    return t.join(a, cond).select(
        "user_id", "trigger_id", "action_id", "trigger_ts", "action_ts",
        (F.col("action_ts").cast("long") - F.col("trigger_ts").cast("long"))
        .cast("long").alias("lag_seconds"),
        "action_value",
    )


def running_entity_counts(scored_stream: DataFrame, timeout: str = "NoTimeout") -> DataFrame:
    """Custom stateful streaming operator (SURVEY.md §2.7):
    applyInPandasWithState keeping a running mention count + best score
    per subject entity — the streaming twin of the bag-grouping
    aggregation (A9). State is one row per entity; emits the updated
    aggregate per micro-batch (update semantics)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState

    def update(key, pdfs, state: GroupState):
        total, best = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            total += len(pdf)
            if len(pdf):
                best = max(best, float(pdf["score"].max()))
        state.update((total, best))
        yield pd.DataFrame({"subj": [key[0]], "n_mentions": [total], "best_score": [best]})

    return (
        scored_stream.groupBy("subj")
        .applyInPandasWithState(
            update,
            outputStructType="subj string, n_mentions long, best_score double",
            stateStructType="n long, best double",
            outputMode="update",
            timeoutConf=timeout,
        )
    )


GRAPH_SNAPSHOT_SCHEMA = (
    "subj_canon string, pred string, obj_canon string, "
    "n_docs long, max_score double"
)


def kg_ingest_stream(docs_stream: DataFrame, snapshot_dir: str,
                     checkpoint_dir: str, preprocessing=None,
                     query_name: str = "kg_ingest"):
    """Continuous KG construction: per micro-batch, extract canonical
    triples from the incoming document stream (the stateless fused
    extraction — mapInPandas runs unchanged under Structured
    Streaming) and MERGE them into the persistent graph snapshot via
    graph.merge_triples. foreachBatch is the load-bearing choice: the
    merge is a keyed UPSERT into a table, not an append, which is
    exactly the documented Structured Streaming pattern for MERGE INTO
    an Iceberg/Delta graph table; in this engine the same batch
    DataFrame goes through io/tables.py's parquet fallback.

    Each batch is materialized (eager localCheckpoint) BEFORE the
    snapshot overwrite — reading and overwriting one path inside a
    single plan is the classic self-overwrite trap. Counts ADD across
    batches (doc_ids are unique across batches, so the folded n_docs
    equals the global count), scores MAX, and canonicalization is
    per-batch (the merge_triples canonical-drift contract: a
    continuous run periodically re-canonicalizes offline; see
    operators/graph.merge_triples). Returns the StreamingQuery —
    callers trigger availableNow or processAllAvailable.

    At scale: the extraction is embarrassingly parallel per batch; the
    merge's full-outer join co-locates when the snapshot is bucketed
    by the triple key, and the snapshot write is the only serial
    boundary per batch (an Iceberg MERGE commits the same way).
    """
    from deepref_spark.operators.graph import merge_triples
    from deepref_spark.pipeline import extract_scored, triples_from_scored

    def _merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if batch_df.isEmpty():
            return
        scored = extract_scored(spark, batch_df, preprocessing=preprocessing)
        t = triples_from_scored(scored)
        incoming = t.select(
            "subj_canon", "pred", "obj_canon", "n_docs",
            F.col("score").alias("max_score"),
        )
        try:
            existing = spark.read.parquet(snapshot_dir).select(
                "subj_canon", "pred", "obj_canon", "n_docs", "max_score")
        except Exception:
            existing = local_frame(spark, [], GRAPH_SNAPSHOT_SCHEMA)
        merged = merge_triples(existing, incoming).localCheckpoint(eager=True)
        merged.write.mode("overwrite").parquet(snapshot_dir)

    return (
        docs_stream.writeStream
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(_merge_batch)
        .start()
    )


def hll_stream(events_stream: DataFrame, registers_dir: str,
               checkpoint_dir: str, m: int = 64,
               key_col: str = "user_id", type_col: str = "event_type",
               query_name: str = "hll_stream"):
    """Continuous distinct-count sketching: per micro-batch, build the
    batch's HLL register table (events.hll_distinct's grid) and MERGE
    it into a persistent register snapshot by per-cell MAX — the
    mergeability that makes HLL the canonical streaming cardinality
    sketch: max() is commutative, associative and idempotent, so ANY
    batch split of the stream folds to the SAME registers as one batch
    over the union (pinned by the stream-vs-batch equality test).
    foreachBatch for the same reason as kg_ingest_stream: the merge is
    a keyed upsert, not an append.

    State is depth-bounded: the register snapshot holds at most
    m cells PER EVENT TYPE regardless of stream length — the
    fixed-size mergeable state a 100 TB deployment keeps per key
    instead of a distinct set.
    """
    from deepref_spark.portable import hex32, md5_mod

    def _batch_registers(batch_df: DataFrame) -> DataFrame:
        staged = batch_df.select(
            F.col(type_col).alias("event_type"),
            F.expr(f"md5(concat('hll|', CAST({key_col} AS STRING)))").alias("h"),
        ).select(
            "event_type",
            F.expr(md5_mod("h", m)).cast("int").alias("bucket"),
            F.expr(hex32("h", 8, "spark")).alias("v"),
        )
        return (
            staged.select(
                "event_type", "bucket",
                F.expr("CASE WHEN v = 0 THEN 33 "
                       "ELSE 33 - length(bin(v)) END").cast("int").alias("r"))
            .groupBy("event_type", "bucket")
            .agg(F.max("r").alias("mr"))
        )

    def _merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if batch_df.isEmpty():
            return
        incoming = _batch_registers(batch_df)
        try:
            existing = spark.read.parquet(registers_dir).select(
                "event_type", "bucket", "mr")
        except Exception:
            existing = local_frame(
                spark, [], "event_type string, bucket int, mr int")
        merged = (
            existing.unionByName(incoming)
            .groupBy("event_type", "bucket")
            .agg(F.max("mr").cast("int").alias("mr"))
            .localCheckpoint(eager=True)  # never read+overwrite in one plan
        )
        merged.write.mode("overwrite").parquet(registers_dir)

    return (
        events_stream.writeStream
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(_merge_batch)
        .start()
    )


def hll_estimate_from_registers(registers: DataFrame, m: int = 64) -> DataFrame:
    """(event_type, n_regs, hll_estimate) from a register snapshot —
    the read side of hll_stream, same exact dyadic BIGINT grid and
    bias constant as events.hll_distinct so a streamed register table
    and a batch run over the same rows estimate IDENTICALLY."""
    alpha = 0.7213 / (1.0 + 1.079 / m)
    two33 = 1 << 33
    per_type = registers.groupBy("event_type").agg(
        F.sum(F.expr("CAST(pow(2, 33 - mr) AS BIGINT)")).cast("long").alias("s_present"),
        F.count(F.lit(1)).cast("long").alias("n_regs"),
    )
    return per_type.select(
        "event_type", "n_regs",
        F.round(
            F.lit(alpha * m * m * float(two33))
            / (F.col("s_present") + (F.lit(m) - F.col("n_regs")) * F.lit(two33))
            .cast("double"), 2,
        ).alias("hll_estimate"),
    )


def enriched_window_revenue(events: DataFrame, customer: DataFrame,
                            nation: DataFrame, window: str = "1 hour",
                            watermark: str = "2 hours") -> DataFrame:
    """Stream-static enrichment: join the event stream to the
    customer->nation dimension (static, broadcast) and aggregate
    purchase value per (window, nation) — the canonical streaming
    enrichment shape (Structured Streaming allows stream-static inner
    joins before a watermarked windowed agg; the static side is
    re-broadcast per micro-batch, so dimension updates between batches
    are picked up without restarting the query).

    Works identically on a batch frame (same expressions, no
    watermark) — the registered query runs the batch twin against a
    plain-SQL oracle while the streaming path is pinned by a
    stream-vs-batch equality test. At scale the dimension stays
    broadcast-sized by projecting ONLY the join key + rollup columns
    before the join; a beyond-broadcast dimension falls back to a
    shuffled stream-static join keyed on user_id (same plan text,
    minus the hint)."""
    events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    dim = (
        customer.join(nation,
                      customer["c_nationkey"] == nation["n_nationkey"])
        .select(F.col("c_custkey").alias("user_id"), F.col("n_name"))
    )
    joined = (
        src.where(F.col("event_type") == "purchase")
        .join(F.broadcast(dim), "user_id")
    )
    return (
        joined.groupBy(F.window("ts", window).alias("w"), "n_name")
        .agg(F.count(F.lit(1)).cast("long").alias("n_purchases"),
             F.round(F.sum("value"), 6).alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "n_name",
                "n_purchases", "total_value")
    )
