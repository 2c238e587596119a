"""Streaming ingest-time near-dup flagging against a winnowing
fingerprint store (round 7): the arrival-order twin of
plans/queries_ext95.winnowing_dup_pairs, for the dedup-on-ingest stage
of a corpus pipeline.

Contract: a document d is a near-dup iff some document d' with
doc_id < d.doc_id shares at least ``min_shared`` distinct winnowing
fingerprint hashes with it, where a hash counts as evidence only while
it appears in at most ``hot_cap`` docs seen so far (arrival-time cap —
the streaming-correct reading of the batch lane's whole-corpus cap: a
hash that later becomes hot was legitimate evidence when it was rare).
The store accumulates EVERY doc's fingerprints (not just accepted ones),
keyed by arrival batch (``fps/batch=N/`` — a batch writes only its own
partition, replay overwrites it idempotently), and within a batch
smaller-id docs count as "earlier" exactly as they would across batches
— so flags are SPLIT-INVARIANT wherever no contributing bucket crosses
the hot cap mid-stream (below the cap the predicate depends only on the
doc-id order, never on batch boundaries; tests pin this with two
different splits of the same stream).

Per-batch cost: batch-fps x store-fps equi-join on the fingerprint hash
(bucket-bounded by the hot cap) + the intra-batch smaller-id pair join.
The store-side scan grows with the corpus — the standard inverted-index
growth; at 100 TB the store becomes a bucketed table on the hash so the
probe join co-locates (plans/ddl.write_bucketed_sorted_table), and hot
hashes are already excluded by the cap before any pairing.

Verdicts land in ``flags/batch=N/`` (doc_id, is_dup, first_dup_of,
shared_fps) — replay-idempotent by the same own-partition-overwrite
rule as the edge store in streaming/graph.py.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from shortvideohybridanalyticslakehouse_spark.plans.queries_ext95 import (
    _HOT_HASH_CAP,
    _PAIR_MIN_SHARED,
    _POS_PACK,
    winnowing_fingerprints_df,
)
from shortvideohybridanalyticslakehouse_spark.streaming.markers import (
    has_parquet,
    read_batches_before,
)


def _fps_dir(store: str) -> str:
    return os.path.join(store, "fps")


def _flags_dir(store: str) -> str:
    return os.path.join(store, "flags")


def doc_fingerprint_hashes(docs: DataFrame) -> DataFrame:
    """(doc_id, fph) distinct winnowing fingerprint hashes."""
    fps = winnowing_fingerprints_df(docs)
    return fps.select(
        "doc_id", (F.col("wmin") / _POS_PACK).cast("bigint").alias("fph")
    ).distinct()


def flag_near_dups(
    batch_hashes: DataFrame, earlier_hashes: DataFrame | None
) -> DataFrame:
    """Per-doc verdict for a batch of fingerprint hashes against all
    earlier hashes (earlier batches UNION smaller ids within the batch):
    (doc_id, is_dup, first_dup_of, shared_fps)."""
    intra = batch_hashes.select(
        F.col("doc_id").alias("e_doc"), "fph"
    )
    earlier = (
        intra
        if earlier_hashes is None
        else earlier_hashes.select(
            F.col("doc_id").alias("e_doc"), "fph"
        ).unionByName(intra)
    )
    # hot-hash cap over the COMBINED view (same rule the batch lane
    # applies to the whole corpus); counting DISTINCT docs (not rows)
    # makes a crash-window duplicate row in the folded store harmless
    buck = (
        earlier.groupBy("fph")
        .agg(F.countDistinct("e_doc").alias("n_docs"))
        .filter(F.col("n_docs") <= _HOT_HASH_CAP)
        .select("fph")
    )
    pairs = (
        batch_hashes.join(buck, "fph")
        .join(
            earlier.join(buck, "fph"),
            "fph",
        )
        .filter(F.col("e_doc") < F.col("doc_id"))
        .groupBy("doc_id", "e_doc")
        .agg(F.countDistinct("fph").alias("shared"))
        .filter(F.col("shared") >= _PAIR_MIN_SHARED)
    )
    best = pairs.groupBy("doc_id").agg(
        F.max(F.struct(F.col("shared"), (-F.col("e_doc")).alias("_neg"))).alias(
            "_b"
        )
    )
    verdict = best.select(
        "doc_id",
        F.lit(True).alias("is_dup"),
        (-F.col("_b._neg")).cast("bigint").alias("first_dup_of"),
        F.col("_b.shared").cast("bigint").alias("shared_fps"),
    )
    all_docs = batch_hashes.select("doc_id").distinct()
    return all_docs.join(verdict, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("is_dup"), F.lit(False)).alias("is_dup"),
        "first_dup_of",
        F.coalesce(F.col("shared_fps"), F.lit(0)).cast("bigint").alias(
            "shared_fps"
        ),
    )


def merge_winnow_batch(
    spark: SparkSession, batch_df: DataFrame, store: str, batch_id: int
) -> None:
    """foreachBatch body: fingerprint the batch, flag near-dups against
    every earlier doc, persist both (own-partition overwrites)."""
    hashes = doc_fingerprint_hashes(batch_df.select("doc_id", "text"))
    # own-partition write consumes every source partition (Spark 4 rule)
    # and makes replay idempotent
    staged = os.path.join(_fps_dir(store), f"batch={batch_id}")
    hashes.withColumn("batch", F.lit(batch_id)).write.mode(
        "overwrite"
    ).parquet(staged)
    if not has_parquet(staged):
        return  # empty batch
    batch_hashes = spark.read.parquet(staged).select("doc_id", "fph")
    earlier = read_batches_before(spark, _fps_dir(store), batch_id)
    flags = flag_near_dups(batch_hashes, earlier)
    flags.write.mode("overwrite").parquet(
        os.path.join(_flags_dir(store), f"batch={batch_id}")
    )


def read_flags(spark: SparkSession, store: str) -> DataFrame:
    return spark.read.parquet(_flags_dir(store)).select(
        "doc_id", "is_dup", "first_dup_of", "shared_fps"
    )


def start_winnow_dedup_job(
    spark: SparkSession,
    source: DataFrame,
    store: str,
    checkpoint_dir: str,
    trigger: dict | None = None,
) -> StreamingQuery:
    """Flag near-dups on a streaming (doc_id, text) frame."""
    trigger = trigger or {"availableNow": True}

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        merge_winnow_batch(spark, batch_df, store, batch_id)

    return (
        source.writeStream.foreachBatch(fold)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(**trigger)
        .start()
    )


# ---------------------------------------------------------------------------
# Store growth bound (VERDICT r7 #7): log-structured partition folding
# ---------------------------------------------------------------------------
# One ``batch=N`` directory per micro-batch keeps DATA O(corpus) but file
# and directory counts O(batches) — the small-file failure mode checkpoint
# compaction exists for. Folding merges every partition older than the
# replay window into a single consolidated partition written under a
# NEGATIVE batch id (-1, -2, ... per fold generation): any negative id
# satisfies every future ``batch < b`` earlier-than filter, the target
# directory never collides with a real batch, and only batches outside
# the replay window are folded (the marker-vacuum safety argument).
# Crash-safety: the fold writes to a dot-directory (invisible to Spark),
# renames it in, THEN deletes the folded sources — the only bad window
# duplicates rows, which every reader tolerates (hot-cap counts distinct
# docs; pair evidence is countDistinct) and the next fold's .distinct()
# heals.


def fold_partitions(
    spark: SparkSession, path: str, keep_last: int, n_files: int
) -> int:
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    if not os.path.isdir(path):
        return 0
    import shutil

    # heal leftovers from a crash before the rename
    for d in os.listdir(path):
        if d.startswith(".fold_tmp"):
            shutil.rmtree(os.path.join(path, d), ignore_errors=True)
    ids = sorted(
        int(d.split("=", 1)[1])
        for d in os.listdir(path)
        if d.startswith("batch=")
    )
    live = [i for i in ids if i >= 0]
    folds = [i for i in ids if i < 0]
    foldable = folds + live[:-keep_last]
    if len(foldable) <= 1:
        return 0
    gen = 1 + max((-i for i in folds), default=0)
    cols = [c for c in spark.read.parquet(path).columns if c != "batch"]
    merged = (
        spark.read.parquet(path)
        .filter(F.col("batch").isin(foldable))
        .select(*cols)
        .distinct()  # heals any crash-window duplicates from prior folds
        .coalesce(n_files)
    )
    tmp = os.path.join(path, f".fold_tmp_{gen}")
    merged.write.mode("overwrite").parquet(tmp)
    os.rename(tmp, os.path.join(path, f"batch=-{gen}"))
    for i in foldable:
        shutil.rmtree(os.path.join(path, f"batch={i}"), ignore_errors=True)
    return len(foldable)


def compact_winnow_store(
    spark: SparkSession, store: str, keep_last: int = 8, n_files: int = 4
) -> dict[str, int]:
    """Fold both halves of the store (fingerprints and flag verdicts).
    After folding, directory count is <= keep_last + 1 per half and file
    count is O(corpus / rows-per-file) + O(keep_last) — independent of
    how many batches the stream has lived through. Returns the number of
    partitions folded per half."""
    return {
        "fps_folded": fold_partitions(
            spark, _fps_dir(store), keep_last, n_files
        ),
        "flags_folded": fold_partitions(
            spark, _flags_dir(store), keep_last, n_files
        ),
    }


def store_profile(store: str) -> dict[str, int]:
    """Directory/file/byte counts per store half — the soak gate's
    measured quantities."""
    out: dict[str, int] = {}
    for name, path in (("fps", _fps_dir(store)), ("flags", _flags_dir(store))):
        dirs = files = size = 0
        if os.path.isdir(path):
            for d in os.listdir(path):
                if not d.startswith("batch="):
                    continue
                dirs += 1
                sub = os.path.join(path, d)
                for f in os.listdir(sub):
                    if f.endswith(".parquet"):
                        files += 1
                        size += os.path.getsize(os.path.join(sub, f))
        out[f"{name}_dirs"] = dirs
        out[f"{name}_files"] = files
        out[f"{name}_bytes"] = size
    return out
