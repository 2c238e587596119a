"""Streaming flagship: the reference's single headline guarantee as ONE
pipeline — validate -> 1-min gold agg -> 30-min rolling metrics ->
thresholds -> decision — with a MEASURED event->decision freshness SLO
per micro-batch (VERDICT r7 #3).

Reference analog: the end-to-end freshness budget (event at the source
to decision in the serving view) of
docs/architecture/realtime-decisioning/reconciliation-and-slo.md:1-22 —
P95 under 3 minutes. The batch pieces already exist (serving.gold_1min /
rolling_metrics_view / decision_context_view); this stitches them behind
one streaming query.

Execution shape (the 100 TB story):
- the ONLY stateful streaming operators are the watermarked dedup and
  the 1-min tumbling agg (bounded state: keys x watermark horizon);
- every micro-batch stages its updated 1-min windows to parquet FIRST
  (scd2/mv stage-first rule: the stateful subtree is consumed exactly
  once), writes them to the gold store, then recomputes rolling +
  decision ONLY for the touched videos and writes those to the decision
  store — per-batch work is O(touched videos x retention minutes),
  never O(gold table);
- each store write is a merge-on-read append, except on a compaction
  batch, where the batch's rows go through the compaction itself: each
  store's touched buckets are rewritten once, not appended to and then
  rewritten; a batch that updated no window writes nothing;
- freshness is real, not modeled: ingest time is the source file's
  modification time (what a Kafka source would give as log-append
  time), and each batch records P95/max of decision-write wall time
  minus ingest per updated window.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from shortvideohybridanalyticslakehouse_spark import contracts as C
from shortvideohybridanalyticslakehouse_spark.operators.aggregate import (
    tumbling_window_agg,
)
from shortvideohybridanalyticslakehouse_spark.operators.decision import (
    with_derived_metrics,
)
from shortvideohybridanalyticslakehouse_spark.operators.rolling import (
    rolling_range_sums,
)
from shortvideohybridanalyticslakehouse_spark.operators.validate import (
    annotate_content_errors,
    parse_content_events,
)
from shortvideohybridanalyticslakehouse_spark.plans import ddl, serving

FRESHNESS_SLO_P95_SECONDS = 180.0  # the reference's 3-minute budget
GOLD_BUCKETS = 16
COMPACT_EVERY = 8  # fold MOR appends back to one file per bucket


def _store_tables(out_dir: str) -> tuple[str, str]:
    """Deterministic catalog table names for this pipeline instance
    (managed bucketed tables live in the warehouse, not under out_dir;
    the freshness artifacts stay filesystem-side)."""
    import hashlib

    tag = hashlib.md5(out_dir.encode()).hexdigest()[:10]
    return f"flagship_gold_{tag}", f"flagship_decisions_{tag}"


def _arrival_stamped(raw: DataFrame) -> DataFrame:
    """Kafka-shaped projection of raw text lines whose ``kafka_timestamp``
    is the REAL arrival time: the file modification time, the file-source
    analog of Kafka log-append time."""
    return raw.select(
        F.col("value").alias("raw_value"),
        F.col("_metadata.file_modification_time").alias("kafka_timestamp"),
        F.lit("stream_fixture").alias("topic"),
        F.lit(0).alias("partition"),
        F.xxhash64(F.col("value")).alias("offset"),
    )


def read_flagship_file_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source twin with real arrival stamps, so downstream freshness
    numbers measure actual event->decision latency instead of restamping
    at parse time."""
    reader = spark.readStream.format("text")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return _arrival_stamped(reader.load(path))


def read_flagship_file_batch(spark: SparkSession, path: str) -> DataFrame:
    """Batch read of the same files with the SAME arrival stamps, so the
    batch twin sees byte-identical input — including ingest_max — and
    equality can be asserted column-for-column."""
    return _arrival_stamped(spark.read.format("text").load(path))


def valid_events_batch(spark: SparkSession, path: str) -> DataFrame:
    """Parse/validate the fixture files batch-side (the stream's twin)."""
    parsed = annotate_content_errors(
        parse_content_events(read_flagship_file_batch(spark, path))
    )
    return parsed.filter(F.col("error_code").isNull())


def _gold_agg(events: DataFrame) -> DataFrame:
    """Shared 1-min gold plan for stream and batch twin — the serving
    contract's count conditions plus the max ingest time per window
    (the freshness anchor)."""
    return tumbling_window_agg(
        events,
        ts_col="event_timestamp",
        key_cols=["video_id"],
        window_duration=C.TUMBLING_WINDOW,
        count_conditions=serving.gold_count_conditions(),
        sum_exprs={"watch_time_sum_ms": F.col("watch_time_ms")},
        extra_aggs={"ingest_max": F.max("source_timestamp")},
        with_processed_at=True,
    ).select(
        "video_id",
        "window_start",
        "window_end",
        *serving.GOLD_METRICS,
        "watch_time_sum_ms",
        "ingest_max",
        "processed_at",
    )


def _decisions_for(
    gold: DataFrame, dims: DataFrame, thresholds: DataFrame
) -> DataFrame:
    """30-min rolling -> derived metrics -> dims/threshold join ->
    decision, over whatever slice of the gold fact is passed in."""
    rolled = rolling_range_sums(
        gold,
        partition_cols=["video_id"],
        ts_col="window_start",
        sum_cols=list(serving.GOLD_METRICS) + ["watch_time_sum_ms"],
        minutes=C.ROLLING_WINDOW_MINUTES,
        max_cols=["processed_at", "ingest_max"],
    )
    metrics = with_derived_metrics(rolled)
    return serving.decision_context_view(metrics, dims, thresholds)


def flagship_batch_twin(
    valid_events: DataFrame, dims: DataFrame, thresholds: DataFrame
) -> DataFrame:
    """The batch computation the stream must converge to (equality is
    asserted column-for-column minus the wall-clock stamps)."""
    gold = _gold_agg(valid_events.dropDuplicates(["event_id"]))
    return _decisions_for(gold, dims, thresholds)


def start_flagship_stream(
    spark: SparkSession,
    source: DataFrame,
    dims: DataFrame,
    thresholds: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    watermark: str = C.WATERMARK_DELAY,
    trigger: dict | None = None,
    compact_every: int = COMPACT_EVERY,
) -> StreamingQuery:
    """One streaming query, full serving path, measured freshness.

    Store layout (the 100 TB write path): gold and decisions are
    BUCKETED merge-on-read catalog tables (plans/ddl.py) — a batch
    APPENDS bucket-aligned files (O(batch) write, no table rewrite) and
    readers resolve the newest row version per key. Every
    ``compact_every``-th batch instead hands its rows to the per-bucket
    bin-pack compaction (``compact_bucketed_table(rows=..., keys=...)``),
    which rewrites the buckets holding appends or the batch's videos to
    one sorted, merge-resolved file each, restoring the exchange-free
    read; gold is folded before the decision recompute reads it. A batch
    that updated no window writes nothing. Write amplification per batch
    is O(touched buckets), not O(table) — the scd2/mv scale shape applied
    to the serving path.

    ``out_dir`` keeps the filesystem artifacts:
      freshness/   batch_<id>.json with p95/max event->decision seconds
    Read the stores with :func:`read_gold` / :func:`read_decisions`.
    """
    trigger = trigger or {"availableNow": True}
    parsed = annotate_content_errors(parse_content_events(source))
    valid = parsed.filter(F.col("error_code").isNull())
    deduped = valid.withWatermark(
        "event_timestamp", watermark
    ).dropDuplicatesWithinWatermark(["event_id"])
    gold_stream = _gold_agg(deduped)

    gold_tbl, dec_tbl = _store_tables(out_dir)
    fresh_dir = os.path.join(out_dir, "freshness")
    stage_dir = os.path.join(out_dir, "_stage")
    os.makedirs(fresh_dir, exist_ok=True)

    def decide(batch_df: DataFrame, batch_id: int) -> None:
        # stage-first: the stateful subtree is consumed exactly once
        stage = os.path.join(stage_dir, f"batch_{batch_id}")
        shutil.rmtree(stage, ignore_errors=True)
        # the stage write also yields the videos the batch touched
        # (bounded by the batch's keys; a literal IN lets Spark
        # bucket-prune the MOR read) and the freshness anchors, as
        # observed metrics: no job of their own. Latency per window is
        # done - ingest, so its P95 is done - P5(ingest) and its max
        # done - min(ingest).
        ingest_s = F.unix_micros("ingest_max") / 1e6
        anchors = Observation()
        batch_df.observe(
            anchors,
            F.collect_set("video_id").alias("touched"),
            F.count(F.lit(1)).alias("n"),
            F.percentile(ingest_s, 0.05).alias("p5"),
            F.min(ingest_s).alias("first"),
        ).write.mode("overwrite").parquet(stage)
        row = anchors.get
        if not row["touched"]:  # no window updated: nothing to write
            shutil.rmtree(stage, ignore_errors=True)
            return
        # the schema is known: reading it back runs no footer-merge job
        staged = spark.read.schema(batch_df.schema).parquet(stage)
        compact = (batch_id + 1) % compact_every == 0

        def store(df: DataFrame, tbl: str, order: str) -> None:
            # a compaction batch folds its rows into the compaction: one
            # rewrite of the touched buckets instead of append + rewrite
            if compact:
                ddl.compact_bucketed_table(
                    spark,
                    tbl,
                    "video_id",
                    ["window_start"],
                    merge_keys=["video_id", "window_start"],
                    order_cols=[order],
                    rows=df,
                    keys=row["touched"],
                    n_buckets=GOLD_BUCKETS,
                )
            else:
                ddl.append_bucketed_sorted(
                    df, tbl, "video_id", ["window_start"], GOLD_BUCKETS
                )

        store(staged, gold_tbl, "processed_at")
        # recompute rolling+decision only for videos this batch touched
        gold_touched = read_gold(spark, out_dir).filter(
            F.col("video_id").isin(row["touched"])
        )
        ctx = _decisions_for(gold_touched, dims, thresholds)
        # writing the recompute makes it the newest version for every
        # (video, window) whose rolling sums moved; unchanged windows
        # write content-identical rows, so whichever version the MOR
        # read keeps, the result is the same
        store(ctx, dec_tbl, "max_processed_at_30m")
        # freshness: decisions for THIS batch's updated windows are now
        # queryable
        done = time.time()
        with open(os.path.join(fresh_dir, f"batch_{batch_id}.json"), "w") as f:
            json.dump(
                {
                    "batch_id": batch_id,
                    "windows_updated": row["n"],
                    "p95_latency_s": done - row["p5"],
                    "max_latency_s": done - row["first"],
                },
                f,
            )
        shutil.rmtree(stage, ignore_errors=True)

    return (
        gold_stream.writeStream.foreachBatch(decide)
        .option("checkpointLocation", os.path.join(checkpoint_dir, "flagship"))
        .outputMode("update")
        .trigger(**trigger)
        .start()
    )


def read_gold(spark: SparkSession, out_dir: str) -> DataFrame:
    """MOR view of the streamed 1-min gold fact: newest version per
    (video_id, window_start) across base + append files."""
    gold_tbl, _ = _store_tables(out_dir)
    return ddl.mor_read(
        spark, gold_tbl, ["video_id", "window_start"], ["processed_at"]
    )


def read_decisions(spark: SparkSession, out_dir: str) -> DataFrame:
    """MOR view of the decision context store (newest recompute wins)."""
    _, dec_tbl = _store_tables(out_dir)
    return ddl.mor_read(
        spark,
        dec_tbl,
        ["video_id", "window_start"],
        ["max_processed_at_30m"],
    )


def drop_stores(spark: SparkSession, out_dir: str) -> None:
    """Drop this pipeline instance's catalog tables (test hygiene)."""
    for tbl in _store_tables(out_dir):
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def freshness_report(out_dir: str) -> dict:
    """Fold the per-batch freshness records into the SLO gate verdict:
    the P95 over ALL updated windows is approximated conservatively by
    the worst per-batch P95 (exact when batches are uniform; an upper
    bound otherwise)."""
    fresh_dir = os.path.join(out_dir, "freshness")
    batches = []
    for fname in sorted(os.listdir(fresh_dir)):
        if fname.endswith(".json"):
            with open(os.path.join(fresh_dir, fname)) as f:
                batches.append(json.load(f))
    if not batches:
        return {"pass": False, "reason": "no freshness records"}
    worst_p95 = max(b["p95_latency_s"] for b in batches)
    return {
        "pass": worst_p95 < FRESHNESS_SLO_P95_SECONDS,
        "slo_p95_seconds": FRESHNESS_SLO_P95_SECONDS,
        "worst_batch_p95_s": worst_p95,
        "max_latency_s": max(b["max_latency_s"] for b in batches),
        "n_batches": len(batches),
        "windows_updated": sum(b["windows_updated"] for b in batches),
    }
