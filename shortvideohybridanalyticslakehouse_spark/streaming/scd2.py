"""Incremental SCD2 band maintenance over a CDC change stream (VERDICT
r5 #6; scale-shaped per VERDICT r6 #1): the streaming twin of
plans/queries_ext54.scd2_bands.

Each micro-batch of change events (user_id, ts, event_id, state) merges
into a HASH-BUCKETED parquet dimension table of validity bands laid out
as ``table_path/bucket=NNN/`` (pmod(xxhash64(user_id), n_buckets)).
Staging, touched-bucket selection, per-bucket markers, the bucket swap
and crash recovery are the shared bucket-store fold
(streaming/markers.py:fold_batch); this module owns only the rebuild of
a touched bucket: its CLOSED bands (valid_to not null) are carried
through; OPEN bands re-enter the band builder as pseudo-change events at
their valid_from with event_id = -1 (sorts before any real event at the
same instant), unioned with the batch's events for those buckets. The
SHARED batch builder (scd2_bands) recomputes bands over that union — so
a batch whose first state matches a user's open band collapses into it
(true SCD2: only CHANGES open versions).

Ordering contract: the CDC transport delivers each user's changes in
event-time order across micro-batches (Kafka keyed-by-user partitions,
or the file-source fixture with pinned mtimes). Late cross-batch data is
the upstream watermark layer's job, same as the reference's CDC upsert
(src/spark/rt_video_cdc_upsert_sql.py ordering contract).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from shortvideohybridanalyticslakehouse_spark.plans.queries_ext54 import scd2_bands
from shortvideohybridanalyticslakehouse_spark.streaming.markers import fold_batch

_CHANGE_COLS = ["user_id", "ts", "event_id", "state"]
DEFAULT_BUCKETS = 16


def _bucket_expr(n_buckets: int):
    return F.pmod(F.xxhash64("user_id"), F.lit(n_buckets)).cast("int")


def _rebuild(cur: DataFrame | None, batch: DataFrame) -> DataFrame:
    """Touched buckets' new bands: closed bands carried, open bands
    re-entered as pseudo-changes ahead of the batch's events."""
    if cur is None:
        return scd2_bands(batch)
    pseudo = cur.filter(F.col("valid_to").isNull()).select(
        "user_id",
        F.col("valid_from").alias("ts"),
        F.lit(-1).cast("long").alias("event_id"),
        "state",
    )
    closed = cur.filter(F.col("valid_to").isNotNull())
    return closed.unionByName(scd2_bands(pseudo.unionByName(batch)))


def merge_scd2_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    table_path: str,
    batch_id: int,
    n_buckets: int = DEFAULT_BUCKETS,
) -> None:
    """foreachBatch body: merge one micro-batch of changes into the
    bucketed band table through the shared bucket-store fold
    (streaming/markers.py:fold_batch), which rebuilds ONLY the touched
    buckets with :func:`_rebuild`."""
    fold_batch(
        spark,
        batch_df.select(*_CHANGE_COLS),
        table_path,
        batch_id,
        _bucket_expr(n_buckets),
        _rebuild,
    )


def start_scd2_band_job(
    spark: SparkSession,
    source: DataFrame,
    table_path: str,
    checkpoint_dir: str,
    trigger: dict | None = None,
    n_buckets: int = DEFAULT_BUCKETS,
) -> StreamingQuery:
    """Run the SCD2 band maintainer over a streaming change frame
    (user_id, ts, event_id, state)."""
    trigger = trigger or {"availableNow": True}

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        merge_scd2_batch(spark, batch_df, table_path, batch_id, n_buckets)

    return (
        source.select(*_CHANGE_COLS)
        .writeStream.foreachBatch(upsert)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(**trigger)
        .start()
    )
