"""Streaming ingest-time shingle-novelty monitor: the arrival-order twin
of plans/queries_ext140.shingle_temporal_novelty (VERDICT r10 #7 —
freshness is natively an ingest-time metric: "how much of this feed is
recycled text" should be known as the feed arrives, not at the next
batch sweep).

Contract (the batch lane's, read in arrival order): a (doc, shingle)
pair is RECYCLED iff some document with a smaller doc_id (the ingest
order proxy, exactly the winnow.py reading) contains the shingle. The
batch lane's first_seen = min(doc_id) per shingle makes this identical
to "first occurrence is in an earlier document" on the closed set, so
the incremental fold is bit-exact by construction — no approximation,
no late-data caveat beyond the in-order delivery contract shared by
every twin in this package.

Store layout (winnow.py doctrine, including its folded-store bound):
- ``firstseen/batch=N/`` — the batch's per-shingle min doc_id. A batch
  writes ONLY its own partition; replay overwrites it idempotently.
  compact_novelty_store folds old partitions into negative-id
  consolidated partitions (winnow.fold_partitions), so file counts
  stay O(replay window), data O(distinct shingles).
- ``flags/batch=N/`` — the batch's per-source (n_shingles, n_recycled)
  increments; read_novelty sums them and applies the batch lane's
  identical DECIMAL(38,0) micro expression.

Per-batch cost: batch shingles x earlier-store min-fold equi-join on
the shingle key. The store side is the distinct-shingle index — the
measured spill-less-SHJ OOM class (tools/SKEW_PROBE_SHJ.json) — so the
probe join is merge-pinned exactly like the batch lane's first_seen
join and the contamination firewall's static leg.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from shortvideohybridanalyticslakehouse_spark.streaming.contamination import (
    doc_shingles,
)
from shortvideohybridanalyticslakehouse_spark.streaming.markers import (
    has_parquet,
    read_batches_before,
)
from shortvideohybridanalyticslakehouse_spark.streaming.winnow import (
    fold_partitions,
)


def _fs_dir(store: str) -> str:
    return os.path.join(store, "firstseen")


def _flags_dir(store: str) -> str:
    return os.path.join(store, "flags")


def batch_novelty_counts(
    pairs: DataFrame, earlier: DataFrame | None
) -> DataFrame:
    """Per-source (n_shingles, n_recycled) for one batch of distinct
    (doc_id, source, shingle) pairs against the earlier first-seen
    store. Within the batch, smaller doc_ids count as earlier — the
    same split-invariance rule as winnow.flag_near_dups, so any
    batching of the same in-order stream folds to identical totals."""
    batch_min = pairs.groupBy("shingle").agg(
        F.min("doc_id").alias("batch_first")
    )
    first = (
        batch_min
        if earlier is None
        else batch_min.join(earlier, "shingle", "left").select(
            "shingle",
            F.least(
                F.col("batch_first"),
                F.coalesce(F.col("first_doc"), F.col("batch_first")),
            ).alias("batch_first"),
        )
    )
    # first-seen index is the volume-build distinct-shingle class: merge
    # pin (the batch lane's contract for the identical join)
    return (
        pairs.join(first.hint("merge"), "shingle")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
            F.sum(
                F.when(F.col("batch_first") < F.col("doc_id"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_recycled"),
        )
    )


def merge_novelty_batch(
    spark: SparkSession, batch_df: DataFrame, store: str, batch_id: int
) -> None:
    """foreachBatch body: shingle the batch, count novelty against the
    earlier store, persist both (own-partition overwrites => replay
    idempotent)."""
    pairs = doc_shingles(batch_df.select("doc_id", "source", "text"))
    staged = os.path.join(_fs_dir(store), f"batch={batch_id}")
    pairs.groupBy("shingle").agg(
        F.min("doc_id").cast("bigint").alias("first_doc")
    ).withColumn("batch", F.lit(batch_id)).write.mode("overwrite").parquet(
        staged
    )
    if not has_parquet(staged):
        return  # empty batch
    earlier = read_batches_before(spark, _fs_dir(store), batch_id)
    if earlier is not None:
        earlier = earlier.groupBy("shingle").agg(
            F.min("first_doc").alias("first_doc")
        )
    counts = batch_novelty_counts(pairs, earlier)
    # src_batch rides IN the row (not just the partition key): the store
    # fold's healing .distinct() strips the partition column, and two
    # batches with identical per-source counts must NOT collapse into
    # one row — the read-side sum would silently undercount.
    counts.withColumn("src_batch", F.lit(batch_id)).write.mode(
        "overwrite"
    ).parquet(os.path.join(_flags_dir(store), f"batch={batch_id}"))


def read_novelty(spark: SparkSession, store: str) -> DataFrame:
    """Fold the per-batch increments to the lane's output schema —
    (source, n_shingles, n_recycled, recycled_micro) with the batch
    lane's identical DECIMAL(38,0) micro expression."""
    return (
        spark.read.parquet(_flags_dir(store))
        .groupBy("source")
        .agg(
            F.sum("n_shingles").cast("bigint").alias("n_shingles"),
            F.sum("n_recycled").cast("bigint").alias("n_recycled"),
        )
        .select(
            "source",
            "n_shingles",
            "n_recycled",
            F.expr(
                "CAST(CAST(n_recycled AS DECIMAL(38,0)) * 1000000"
                " DIV n_shingles AS BIGINT)"
            ).alias("recycled_micro"),
        )
    )


def start_novelty_job(
    spark: SparkSession,
    source: DataFrame,
    store: str,
    checkpoint_dir: str,
    trigger: dict | None = None,
) -> StreamingQuery:
    """Run the novelty monitor on a streaming (doc_id, source, text)
    frame."""
    trigger = trigger or {"availableNow": True}

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        merge_novelty_batch(spark, batch_df, store, batch_id)

    return (
        source.writeStream.foreachBatch(fold)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(**trigger)
        .start()
    )


def compact_novelty_store(
    spark: SparkSession, store: str, keep_last: int = 8, n_files: int = 1
) -> dict[str, int]:
    """winnow.py's log-structured fold applied to both novelty stores:
    partitions older than the replay window merge into negative-id
    consolidated partitions; duplicate rows in the crash window are
    harmless (firstseen readers min-fold; flags are per-batch rows that
    the fold rewrites verbatim)."""
    return {
        "firstseen_folded": fold_partitions(
            spark, _fs_dir(store), keep_last, n_files
        ),
        "flags_folded": fold_partitions(
            spark, _flags_dir(store), keep_last, n_files
        ),
    }
