"""Incremental triangle-count maintenance over an edge-arrival stream
(VERDICT r6 #6): the streaming twin of the batch triangle census
(plans/queries_ext61.q_similarity_triangles), following the
EWMA/Holt/PSI/SCD2 twin pattern — same semantics, per-batch cost driven
by the DELTA, stream==batch equality provable.

Design (foreachBatch):

1. Edges canonicalize to a < b and dedup within the batch; edges already
   in the store are anti-joined away, leaving the true delta dE.
2. The store is parquet PARTITIONED BY ARRIVAL BATCH
   (``store/batch=N/``): a batch appends only its own partition
   (overwrite of that partition = idempotent replay; "edges before me" =
   partition-pruned scan of batch < N — no read-modify-write of the
   whole store, ever).
3. New triangles are counted by FIRST-NEW-EDGE OWNERSHIP, so each
   triangle (a<b<c; edges (a,b),(b,c),(a,c)) is attributed exactly once
   at the batch where its last edge arrives:

      pos1 new:               dE(a,b) |x| full(b,c) |x| full(a,c)
      pos1 old, pos2 new:     old(a,b) |x| dE(b,c) |x| full(a,c)
      pos1,2 old, pos3 new:   old(a,b) |x| old(b,c) |x| dE(a,c)

   Every join is delta-driven on at least one side; the cumulative count
   is the sum of per-batch deltas, each persisted to its own
   ``counts/batch=N`` partition (overwrite = replay-idempotent, and a
   replay recomputes the SAME delta because "old" is defined by batch id,
   not wall clock).

Scale: per-batch work is O(|dE| * avg-degree) join probes plus one
partition-pruned scan of the prior store; the store-side shuffle of the
probe joins is the standard cost of unindexed adjacency — a bucketed
edge layout (plans/ddl.write_bucketed_sorted_table on the probe key)
removes it when one probe key dominates. Nothing rewrites O(store) per
batch and nothing collects edges onto the driver.

Reference: the batch census derives from the same oriented-join shape
(queries_ext61.py); the reference engine has no streaming graph surface
— this is part of the beyond-parity streaming pack.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from shortvideohybridanalyticslakehouse_spark.streaming.markers import (
    has_parquet,
    read_batches_before,
)

_EDGE_COLS = ["a", "b"]


def canonical_edges(df: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Undirected edge canonical form: a = min, b = max, self-loops
    dropped, exact duplicates collapsed."""
    return (
        df.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") < F.col("b"))
        .distinct()
    )


def count_triangles(edges: DataFrame) -> int:
    """Exact triangle count over canonical (a<b) edges: each triangle
    a<b<c joins once as (a,b)|x|(b,c)|x|(a,c)."""
    return _owned_triangles(edges, edges, edges)


def _owned_triangles(e1: DataFrame, e2: DataFrame, e3: DataFrame) -> int:
    j1 = e1.select("a", "b")
    j2 = e2.select(F.col("a").alias("b"), F.col("b").alias("c"))
    j3 = e3.select("a", F.col("b").alias("c"))
    return j1.join(j2, "b").join(j3, ["a", "c"]).count()


def _edges_dir(store: str) -> str:
    return os.path.join(store, "edges")


def _counts_dir(store: str) -> str:
    return os.path.join(store, "counts")


def merge_triangle_batch(
    spark: SparkSession, batch_df: DataFrame, store: str, batch_id: int
) -> None:
    """foreachBatch body: fold one micro-batch of edges into the store
    and persist this batch's newly-completed triangle count."""
    batch = canonical_edges(batch_df)
    old = read_batches_before(spark, _edges_dir(store), batch_id)
    if old is not None:
        old = old.select(*_EDGE_COLS)
    delta = batch if old is None else batch.join(old, _EDGE_COLS, "left_anti")

    # own partition overwrite => consumed every source partition AND
    # replay-idempotent (same batch id always rewrites the same dir)
    staged = os.path.join(_edges_dir(store), f"batch={batch_id}")
    delta.write.mode("overwrite").parquet(staged)
    delta_c = spark.read.parquet(staged) if has_parquet(staged) else None

    if delta_c is None:
        new_tri = 0
    elif old is None:
        new_tri = count_triangles(delta_c)
    else:
        full = old.unionByName(delta_c)
        new_tri = (
            _owned_triangles(delta_c, full, full)
            + _owned_triangles(old, delta_c, full)
            + _owned_triangles(old, old, delta_c)
        )
    spark.createDataFrame(
        [(batch_id, new_tri)], "batch_id long, new_triangles long"
    ).write.mode("overwrite").parquet(
        os.path.join(_counts_dir(store), f"batch={batch_id}")
    )


def total_triangles(spark: SparkSession, store: str) -> int:
    """Cumulative triangle count = sum of per-batch ownership deltas."""
    path = _counts_dir(store)
    if not os.path.isdir(path):
        return 0
    row = (
        spark.read.parquet(path)
        .agg(F.sum("new_triangles").alias("t"))
        .first()
    )
    return int(row["t"] or 0)


def start_triangle_job(
    spark: SparkSession,
    source: DataFrame,
    store: str,
    checkpoint_dir: str,
    trigger: dict | None = None,
) -> StreamingQuery:
    """Maintain the triangle census over a streaming edge frame
    (src, dst)."""
    trigger = trigger or {"availableNow": True}

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        merge_triangle_batch(spark, batch_df, store, batch_id)

    return (
        source.writeStream.foreachBatch(fold)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(**trigger)
        .start()
    )
