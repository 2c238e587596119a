"""Streaming jobs: content-events pipeline + CDC dim upsert (S1-S7, T1-T8).

Same logical plans as batch mode (operators/ + plans/serving.py) behind
Structured Streaming sources/sinks:

- source: file/kafka stream of JSON `value` rows (the kafka wire shape).
  Tests use a file source with availableNow; production swaps in
  `format("kafka")` with identical downstream plans.
- gold path: watermark -> dropDuplicatesWithinWatermark(event_id) ->
  1-min tumbling agg -> foreachBatch MERGE-equivalent upsert (T5): union
  with current table state, window-dedup keeping the freshest batch row,
  overwrite. On Delta/Iceberg this becomes a real MERGE INTO; the
  semantics (idempotent replay, late re-emission folding into the same
  grain) are identical.
- fan-out: bronze append / gold upsert / invalid append as independent
  queries with isolated checkpoints (T4; ref checkpoint contract
  docs/architecture/streaming/spark-realtime-jobs-contract-m1.md:101-119).

Reference: src/spark/rt_content_events_aggregator.py:289-444,
rt_video_cdc_upsert.py:224-276.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from shortvideohybridanalyticslakehouse_spark import contracts as C
from shortvideohybridanalyticslakehouse_spark.operators.dedup import (
    delta_available,
    latest_per_key,
    merge_upsert_delta,
)
from shortvideohybridanalyticslakehouse_spark.operators.validate import (
    annotate_cdc_errors,
    annotate_content_errors,
    bronze_projection,
    invalid_projection,
    parse_cdc_records,
    parse_content_events,
    split_valid_invalid,
)
from shortvideohybridanalyticslakehouse_spark.plans import serving
from shortvideohybridanalyticslakehouse_spark.plans.ddl import recover_dir, swap_dir


def read_json_file_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """S1 batch-file analog: stream of one-string-`value` rows + lineage.

    Kafka-metadata columns are synthesized (S3): file streams have no
    topic/partition/offset (and monotone ids are unsupported on streams),
    so the offset is a 64-bit content hash — stable across replays, unique
    per distinct record. Tie-break ordering degrades from arrival order to
    content order for byte-identical records only; a real Kafka source
    provides true offsets with the same downstream plan.
    """
    reader = spark.readStream.format("text")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    raw = reader.load(path)
    return (
        raw.select(F.col("value").alias("raw_value"))
        .withColumn("topic", F.lit("stream_fixture"))
        .withColumn("partition", F.lit(0))
        .withColumn("offset", F.xxhash64(F.col("raw_value")))
        .withColumn("kafka_timestamp", F.current_timestamp())
    )


# The public Kafka source schema (Spark docs, Structured Streaming + Kafka
# integration guide) — what reader.load() yields; _kafka_projection maps it
# to the engine wire shape. Pinned here so the projection is testable
# without the connector jar (VERDICT r5 #4).
KAFKA_SOURCE_SCHEMA = (
    "key binary, value binary, topic string, partition int, offset bigint, "
    "timestamp timestamp, timestampType int"
)


def kafka_reader_options(
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "latest",
    group_id_prefix: str | None = None,
    max_offsets_per_trigger: int | None = None,
) -> dict[str, str]:
    """Option map for the Kafka reader — pure and unit-tested; the only
    code read_kafka_stream adds on top is format("kafka") + load()."""
    opts = {
        "kafka.bootstrap.servers": bootstrap_servers,
        "subscribe": topic,
        "startingOffsets": starting_offsets,
        "failOnDataLoss": "false",
    }
    if group_id_prefix:
        opts["groupIdPrefix"] = group_id_prefix
    if max_offsets_per_trigger:
        opts["maxOffsetsPerTrigger"] = str(max_offsets_per_trigger)
    return opts


def _kafka_projection(raw: DataFrame) -> DataFrame:
    """Kafka wire columns -> the engine source shape (raw_value + lineage),
    IDENTICAL to read_json_file_stream's output schema — asserted by the
    plan-shape twin test (tests/test_kafka_plan_shape.py) so every
    downstream plan is proven shared between production Kafka and the
    file/batch replay twin."""
    return raw.select(
        F.col("value").cast("string").alias("raw_value"),
        F.col("topic"),
        F.col("partition"),
        F.col("offset"),
        F.col("timestamp").alias("kafka_timestamp"),
    )


def read_kafka_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "latest",
    group_id_prefix: str | None = None,
    max_offsets_per_trigger: int | None = None,
) -> DataFrame:
    """S1/S2 production source: Kafka topic -> raw_value + lineage columns.

    Exposes the same schema as read_json_file_stream, so every downstream
    plan (parse -> validate -> split -> window agg -> MERGE) is identical
    in production and batch-replay mode. Requires the
    spark-sql-kafka connector on the classpath (not present in this test
    container); option assembly and the wire projection are factored out
    and tested without it — only format("kafka").load() itself needs the
    jar.

    Keyed-by-video_id topics preserve per-video order within a partition;
    (partition, offset) is the contract tie-break
    (ref: docs/architecture/messaging/kafka-topic-schema-retention-contract-m1.md:82-88).
    """
    reader = spark.readStream.format("kafka").options(
        **kafka_reader_options(
            bootstrap_servers,
            topic,
            starting_offsets,
            group_id_prefix,
            max_offsets_per_trigger,
        )
    )
    return _kafka_projection(reader.load())


def _merge_overwrite(
    spark: SparkSession,
    batch_df: DataFrame,
    table_path: str,
    key_cols: list[str],
    order_cols: list[str],
) -> None:
    """T5: micro-batch upsert — real ``MERGE`` when Delta is on the
    classpath, else the MERGE-equivalent plain-parquet fallback.

    Delta path: transactional MERGE with the CDC ordering tie-break
    (replay idempotent — see operators/dedup.py:merge_upsert_delta).
    Fallback: settle a torn swap left by a crashed batch, read current
    state, union the new batch (tagged newer via `_src_rank`), keep the
    winner per key, write the result to a tmp dir and commit it with
    ``ddl.swap_dir`` (a crash mid-write never touches the live table).
    """
    if delta_available():
        merge_upsert_delta(spark, table_path, batch_df, key_cols, order_cols)
        return

    tmp, old = table_path + "._tmp", table_path + "._old"
    recover_dir(table_path, old)
    batch_df = batch_df.withColumn("_src_rank", F.lit(1))
    # Explicit existence check — a bare try/except around the read would
    # also swallow REAL read errors (corrupt footer, FS hiccup) and then
    # silently overwrite the table with just this batch.
    if os.path.isdir(table_path):
        current = spark.read.parquet(table_path).withColumn("_src_rank", F.lit(0))
        combined = current.unionByName(batch_df)
    else:
        combined = batch_df
    merged = latest_per_key(
        combined, key_cols, order_cols=["_src_rank"] + order_cols
    ).drop("_src_rank")
    merged.write.mode("overwrite").parquet(tmp)  # completes before any rename
    swap_dir(tmp, table_path, old)


def start_content_events_job(
    spark: SparkSession,
    source: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    watermark: str = C.WATERMARK_DELAY,
    trigger: dict | None = None,
) -> list[StreamingQuery]:
    """Job 1: parse -> validate -> fan out to bronze / gold upsert / invalid.

    Returns the three running queries (isolated checkpoints, T4).
    """
    trigger = trigger or {"availableNow": True}
    parsed = annotate_content_errors(parse_content_events(source))
    valid = parsed.filter(F.col("error_code").isNull())
    invalid = parsed.filter(F.col("error_code").isNotNull())

    bronze_q = (
        bronze_projection(valid)
        .writeStream.format("parquet")
        .option("path", os.path.join(out_dir, "bronze_raw_events"))
        .option("checkpointLocation", os.path.join(checkpoint_dir, "bronze"))
        .outputMode("append")
        .trigger(**trigger)
        .start()
    )

    invalid_q = (
        invalid_projection(invalid)
        .writeStream.format("parquet")
        .option("path", os.path.join(out_dir, "invalid_events_content"))
        .option("checkpointLocation", os.path.join(checkpoint_dir, "invalid"))
        .outputMode("append")
        .trigger(**trigger)
        .start()
    )

    # T1-T3: watermark + stateful dedup + tumbling agg, update mode via
    # foreachBatch MERGE (late windows re-emitted and folded idempotently).
    with_wm = valid.withWatermark("event_timestamp", watermark)
    deduped = with_wm.dropDuplicatesWithinWatermark(["event_id"])
    # SAME plan builder as the batch twin (serving.gold_1min) — shared
    # conditional-count contract, so batch and streaming cannot drift.
    from shortvideohybridanalyticslakehouse_spark.operators.aggregate import (
        tumbling_window_agg,
    )

    gold_stream = tumbling_window_agg(
        deduped,
        ts_col="event_timestamp",
        key_cols=["video_id"],
        window_duration=C.TUMBLING_WINDOW,
        count_conditions=serving.gold_count_conditions(),
        sum_exprs={"watch_time_sum_ms": F.col("watch_time_ms")},
        with_processed_at=True,
    ).select(
        "video_id",
        "window_start",
        "window_end",
        *serving.GOLD_METRICS,
        "watch_time_sum_ms",
        "processed_at",
    )
    gold_path = os.path.join(out_dir, "rt_video_stats_1min")

    def upsert_gold(batch_df: DataFrame, batch_id: int) -> None:
        _merge_overwrite(
            spark,
            batch_df,
            gold_path,
            key_cols=["video_id", "window_start"],
            order_cols=["processed_at"],
        )

    gold_q = (
        gold_stream.writeStream.foreachBatch(upsert_gold)
        .option("checkpointLocation", os.path.join(checkpoint_dir, "gold"))
        .outputMode("update")
        .trigger(**trigger)
        .start()
    )
    return [bronze_q, invalid_q, gold_q]


def start_cdc_upsert_job(
    spark: SparkSession,
    source: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    trigger: dict | None = None,
) -> list[StreamingQuery]:
    """Job 2: CDC validate -> per-batch winner dedup -> dim Type-1 upsert."""
    trigger = trigger or {"availableNow": True}
    parsed = annotate_cdc_errors(parse_cdc_records(source))
    valid, invalid = (
        parsed.filter(F.col("error_code").isNull()),
        parsed.filter(F.col("error_code").isNotNull()),
    )
    dim_path = os.path.join(out_dir, "dim_videos")

    def upsert_dim(batch_df: DataFrame, batch_id: int) -> None:
        dims = serving.dim_videos(batch_df)
        _merge_overwrite(
            spark,
            dims,
            dim_path,
            key_cols=["video_id"],
            order_cols=["source_ts_ms"],
        )

    dim_q = (
        valid.writeStream.foreachBatch(upsert_dim)
        .option("checkpointLocation", os.path.join(checkpoint_dir, "dim"))
        .outputMode("append")
        .trigger(**trigger)
        .start()
    )
    invalid_q = (
        invalid_projection(invalid)
        .writeStream.format("parquet")
        .option("path", os.path.join(out_dir, "invalid_events_cdc_videos"))
        .option("checkpointLocation", os.path.join(checkpoint_dir, "cdc_invalid"))
        .outputMode("append")
        .trigger(**trigger)
        .start()
    )
    return [dim_q, invalid_q]


# ---------------------------------------------------------------------------
# Stream-stream interval join (attribution within an event-time window)
# ---------------------------------------------------------------------------


def interval_attribution_plan(
    clicks: DataFrame,
    purchases: DataFrame,
    key: str = "user_id",
    window_minutes: int = 10,
    watermark: str | None = None,
    how: str = "inner",
) -> DataFrame:
    """Stream-stream INNER interval join: each purchase is attributed to
    every click by the same key whose event-time precedes it by at most
    ``window_minutes``. The canonical Structured Streaming join shape —
    the range condition on both event-time columns is what lets Spark
    bound join state: rows older than (watermark + window) are evicted.

    Works identically on batch DataFrames (same logical plan minus the
    watermark), which is how the oracle checks it. Inputs need columns
    (key, ts, event_id, value); output one row per attributed pair.

    Reference has no stream-stream joins (SURVEY §2.3 — equi-joins with
    static dims only); this is extension surface per the Spark-first
    brief. At scale: one shuffle of each stream on the key; per-key state
    is bounded by the interval, so executors hold O(rate x window) rows.

    ``how="left_outer"`` adds the unconverted-click channel: a click with
    NO purchase inside its window emits once WITH NULL purchase columns —
    but only after BOTH watermarks pass (click_ts + window), when the
    engine can prove no match can still arrive. Streaming left-outer
    REQUIRES the watermark + both-side time bound for exactly that proof;
    batch mode needs neither and emits immediately.
    """
    lhs, rhs = clicks.alias("c"), purchases.alias("p")
    if watermark is not None:
        lhs = clicks.withWatermark("ts", watermark).alias("c")
        rhs = purchases.withWatermark("ts", watermark).alias("p")
    cond = (
        (F.col(f"c.{key}") == F.col(f"p.{key}"))
        & (F.col("p.ts") >= F.col("c.ts"))
        & (F.col("p.ts") <= F.col("c.ts") + F.expr(f"INTERVAL {window_minutes} MINUTES"))
    )
    return lhs.join(rhs, cond, how).select(
        F.col(f"c.{key}").alias(key),
        F.col("c.event_id").alias("click_id"),
        F.col("c.ts").alias("click_ts"),
        F.col("p.event_id").alias("purchase_id"),
        F.col("p.ts").alias("purchase_ts"),
        F.col("p.value").alias("purchase_value"),
    )


def start_attribution_join_job(
    spark: SparkSession,
    clicks: DataFrame,
    purchases: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    key: str = "user_id",
    window_minutes: int = 10,
    watermark: str = "2 minutes",
    trigger: dict | None = None,
) -> StreamingQuery:
    """Run the interval join as a streaming query appending matched pairs
    to parquet. Append mode is the only supported output for stream-stream
    joins; a pair is emitted once both sides' watermarks pass it."""
    trigger = trigger or {"availableNow": True}
    joined = interval_attribution_plan(
        clicks, purchases, key=key, window_minutes=window_minutes, watermark=watermark
    )
    return (
        joined.writeStream.format("parquet")
        .option("path", os.path.join(out_dir, "attributed_pairs"))
        .option("checkpointLocation", os.path.join(checkpoint_dir, "attribution"))
        .outputMode("append")
        .trigger(**trigger)
        .start()
    )


def session_window_plan(
    valid_events: DataFrame,
    gap: str = "30 minutes",
    watermark: str | None = "2 minutes",
) -> DataFrame:
    """T9 (the reference's deferred-M2 sessionization) as a native
    streaming plan: event-time ``session_window`` per user, gap-merged by
    the engine's session state store.

    The SAME expression works in batch (watermark=None) — the test
    asserts stream/batch agreement on closed sessions. In streaming,
    append mode emits a session only after the watermark passes its
    close (sessions still open at end-of-input stay in state).

    Scale: sessions shuffle once on user_id; state is bounded by open
    sessions per user (watermark evicts closed ones) — the canonical
    Spark sessionization shape (ref: legacy_docs/PipelineArchitecture.md:
    236-241 defers this to a batch LAG stitch; Structured Streaming's
    session_window subsumes it).
    """
    src = valid_events
    if watermark is not None:
        src = src.withWatermark("event_timestamp", watermark)
    return (
        src.groupBy(
            F.session_window(F.col("event_timestamp"), gap).alias("sw"),
            F.col("user_id"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.coalesce(F.col("watch_time_ms"), F.lit(0))).alias(
                "watch_time_sum_ms"
            ),
        )
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
            "watch_time_sum_ms",
        )
    )


def start_session_window_job(
    spark: SparkSession,
    source: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    gap: str = "30 minutes",
    watermark: str = "2 minutes",
    trigger: dict | None = None,
) -> StreamingQuery:
    """Streaming sessionization: parse -> validate -> session_window ->
    append closed sessions to parquet."""
    trigger = trigger or {"availableNow": True}
    parsed = annotate_content_errors(parse_content_events(source))
    valid = parsed.filter(F.col("error_code").isNull())
    sessions = session_window_plan(valid, gap=gap, watermark=watermark)
    return (
        sessions.writeStream.format("parquet")
        .option("path", os.path.join(out_dir, "user_sessions"))
        .option("checkpointLocation", os.path.join(checkpoint_dir, "sessions"))
        .outputMode("append")
        .trigger(**trigger)
        .start()
    )


def incremental_near_dup_plan(
    new_docs: DataFrame,
    index: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 2,
    num_hashes: int = 16,
    band_size: int = 2,
    event_ts_col: str | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """STREAM-STATIC join: incoming documents checked for near-duplicates
    against a pre-built corpus signature index, the incremental-ingest
    shape of the dedup pipeline (the batch pipeline rebuilds all pairs;
    here only the NEW side streams).

    ``index`` is the static banded corpus — (doc_id, band_id, band_hash,
    minhash) rows built once by build_near_dup_index() and re-read per
    micro-batch (stream-static joins re-evaluate the static side's plan
    each batch, so an index refreshed on disk is picked up without
    restart). New docs compute signatures with the IN-ROW higher-order
    form (with_minhash — per-row expressions, no aggregation: the
    explode+agg signature path is a streaming AGGREGATION and would
    demand a watermark; stream batches are small so the interpreted HOF
    cost is irrelevant here), explode to bands, and equi-join the index
    on (band_id, band_hash) — shuffle ∝ batch x bands, with the candidate
    estimate filtered by signature agreement exactly like the batch path.

    Output: (new_id, corpus_id, est_jaccard) per candidate. The
    dropDuplicates is state-backed on a stream: a re-ingested (new,
    corpus) pair will not re-emit across batches — the semantics an
    ingest pipeline wants.

    STATE BOUND: pass ``event_ts_col`` (an event-time column on
    ``new_docs``) and the dedup becomes dropDuplicatesWithinWatermark —
    pair state older than ``watermark`` is evicted, the same policy the
    gold path uses. WITHOUT it the (new_id, corpus_id) state grows with
    the lifetime of the ingest stream (re-ingests are suppressed forever,
    at unbounded-state cost) — only run that mode with a periodic query
    restart or a state-TTL config.
    """
    from shortvideohybridanalyticslakehouse_spark.functions import dedupfns

    carry = [F.col(event_ts_col)] if event_ts_col else []
    with_sig = dedupfns.with_minhash(
        new_docs.select(F.col(id_col), F.col(text_col), *carry),
        text_col=text_col,
        k=k,
        num_hashes=num_hashes,
        out_col="minhash",
    )
    carry_names = [event_ts_col] if event_ts_col else []
    banded_new = with_sig.select(
        F.col(id_col).alias("new_id"),
        F.col("minhash").alias("sig_new"),
        *[F.col(c) for c in carry_names],
        F.explode(
            dedupfns.lsh_bands(F.col("minhash"), num_hashes, band_size)
        ).alias("band"),
    ).select("new_id", "sig_new", *carry_names, "band.band_id", "band.band_hash")
    joined = (
        banded_new.join(index, ["band_id", "band_hash"])
        .filter(F.col("new_id") != F.col("corpus_id"))
        .select("new_id", "corpus_id", "sig_new", "sig_corpus", *carry_names)
    )
    if event_ts_col:
        cand = joined.withWatermark(event_ts_col, watermark)
        cand = cand.dropDuplicatesWithinWatermark(["new_id", "corpus_id"]).drop(
            event_ts_col
        )
    else:
        cand = joined.dropDuplicates(["new_id", "corpus_id"])
    agree = F.size(
        F.filter(
            F.zip_with(
                F.col("sig_new"), F.col("sig_corpus"), lambda x, y: x == y
            ),
            lambda v: v,
        )
    )
    return cand.select(
        "new_id",
        "corpus_id",
        F.round(agree.cast("double") / F.lit(float(num_hashes)), 6).alias(
            "est_jaccard"
        ),
    )


def build_near_dup_index(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 2,
    num_hashes: int = 16,
    band_size: int = 2,
) -> DataFrame:
    """The static side for incremental_near_dup_plan: banded corpus
    signatures — write this to parquet (bucketed by band_hash for a
    co-located join at scale) and point the stream-static join at it."""
    from shortvideohybridanalyticslakehouse_spark.functions import dedupfns

    with_sig = dedupfns.minhash_signatures_df(
        docs, id_col, text_col, k=k, num_hashes=num_hashes, out_col="minhash"
    )
    return with_sig.select(
        F.col(id_col).alias("corpus_id"),
        F.col("minhash").alias("sig_corpus"),
        F.explode(
            dedupfns.lsh_bands(F.col("minhash"), num_hashes, band_size)
        ).alias("band"),
    ).select("corpus_id", "sig_corpus", "band.band_id", "band.band_hash")
