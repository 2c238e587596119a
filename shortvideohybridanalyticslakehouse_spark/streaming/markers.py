"""The bucketed merge stores (scd2 / mv, and the covis and search-index
stores built on mv): one fold per micro-batch, and marker retention.
Also the two reads the ``batch=N`` stores (graph, winnow, novelty)
share, :func:`has_parquet` and :func:`read_batches_before`: this module
imports no queries module, so importing it never registers lanes.

Store layout: ``store/bucket=N/`` parquet dirs, N a hash of the store's
key columns. :func:`fold_batch` is the one write path:

1. recover on entry — a ``_old_bucket_N`` leftover is settled by
   ``ddl.recover_dir`` (restored when ``bucket=N`` is absent, pruned
   otherwise); ``_tmp_*`` / ``_stage_*`` dirs of crashed batches are
   always discardable;
2. stage the batch to parquet under the store (underscore-prefixed,
   invisible to readers). This consumes every source partition (the
   Spark 4 consume-before-skip rule) WITHOUT materializing the batch on
   the driver; the only driver-side collect is the distinct bucket-id
   list, bounded by ``n_buckets`` integers;
3. find the touched buckets and skip those already carrying this batch's
   ``_applied_batch_<id>`` marker;
4. write the rebuilt buckets into a tmp root — untouched buckets are not
   read, rewritten or listed, so per-batch cost is O(batch + touched
   buckets), not O(table);
5. carry every marker of the live bucket forward and add this batch's,
   inside the tmp bucket dir;
6. swap each bucket with ``ddl.swap_dir``: the markers ride the same
   rename as the data, so replay after a crash is exactly-once PER
   BUCKET (a replayed batch re-applies only the buckets a crash left
   without its marker).

Marker retention: without it the marker count grows with stream
lifetime — the same unbounded-metadata failure mode checkpoint
compaction exists for. Structured Streaming replays AT MOST the batches
after the last checkpoint commit — once batch N's checkpoint offset is
committed, no batch with id < N is ever re-entered through foreachBatch.
Keeping the trailing ``keep_last`` marker ids per bucket therefore
preserves idempotence for every batch that can still replay, provided
``keep_last`` exceeds the replay window (1 under default semantics; the
default 64 is a wide margin). Vacuuming is crash-safe: deleting a marker
never touches data files, and a crash mid-vacuum just leaves some
prunable markers for the next pass.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from shortvideohybridanalyticslakehouse_spark.plans.ddl import recover_dir, swap_dir

# underscore prefix: parquet readers ignore it as a data file
_MARKER = "_applied_batch_"
# underscore prefix (not "bucket=N._old"): partition discovery must never
# see a swap leftover as a malformed partition value
_OLD = "_old_bucket_"


def has_parquet(path: str) -> bool:
    """Did a write to ``path`` produce a data file? (A write of an empty
    frame may leave none, and reading such a dir fails schema inference.)"""
    return os.path.isdir(path) and any(
        f.endswith(".parquet") for f in os.listdir(path)
    )


def read_batches_before(
    spark: SparkSession, path: str, batch_id: int
) -> DataFrame | None:
    """The rows of every ``batch=N`` partition of ``path`` with N below
    ``batch_id`` (folded partitions included: their ids are negative),
    by a partition-pruned scan; None when there is no such partition."""
    if not os.path.isdir(path) or not any(
        d.startswith("batch=") and int(d.split("=", 1)[1]) < batch_id
        for d in os.listdir(path)
    ):
        return None
    return spark.read.parquet(path).filter(F.col("batch") < batch_id)


def bucket_dir(store: str, b: int) -> str:
    return os.path.join(store, f"bucket={b}")


def recover_buckets(store: str) -> None:
    """Step 1 of :func:`fold_batch`: settle torn bucket swaps, drop stale
    stage/tmp dirs."""
    if not os.path.isdir(store):
        return
    for name in os.listdir(store):
        full = os.path.join(store, name)
        if name.startswith(_OLD):
            recover_dir(bucket_dir(store, int(name[len(_OLD) :])), full)
        elif name.startswith(("_tmp_", "_stage_")):
            shutil.rmtree(full, ignore_errors=True)


def fold_batch(
    spark: SparkSession,
    frame: DataFrame,
    store: str,
    batch_id: int,
    bucket: Column,
    rebuild: Callable[[DataFrame | None, DataFrame], DataFrame],
) -> None:
    """foreachBatch body of a bucketed store (steps in the module doc):
    stage ``frame``, then for the touched buckets not yet carrying this
    batch's marker write ``rebuild(current, delta)`` — ``current`` their
    live rows (None when none of them exists yet), ``delta`` the staged
    rows hashed to them by ``bucket`` — and swap each bucket in."""
    os.makedirs(store, exist_ok=True)
    recover_buckets(store)

    stage = os.path.join(store, f"_stage_{batch_id}")
    frame.write.mode("overwrite").parquet(stage)
    try:
        if not has_parquet(stage):
            return  # empty batch (partitions already consumed by the write)
        staged = spark.read.parquet(stage)
        touched = sorted(
            r["b"] for r in staged.select(bucket.alias("b")).distinct().collect()
        )
        marker = f"{_MARKER}{batch_id}"
        todo = [
            b
            for b in touched
            if not os.path.exists(os.path.join(bucket_dir(store, b), marker))
        ]
        if not todo:
            return
        have = [d for d in (bucket_dir(store, b) for b in todo) if os.path.isdir(d)]
        current = spark.read.parquet(*have) if have else None
        out = rebuild(current, staged.filter(bucket.isin(todo)))

        tmp_root = os.path.join(store, f"_tmp_{batch_id}")
        shutil.rmtree(tmp_root, ignore_errors=True)
        out.withColumn("bucket", bucket).write.partitionBy("bucket").parquet(tmp_root)
        for b in todo:
            new_dir = bucket_dir(tmp_root, b)
            os.makedirs(new_dir, exist_ok=True)  # bucket emptied of rows
            live = bucket_dir(store, b)
            carried = os.listdir(live) if os.path.isdir(live) else []
            for f in [f for f in carried if f.startswith(_MARKER)] + [marker]:
                with open(os.path.join(new_dir, f), "w"):
                    pass
            swap_dir(new_dir, live, os.path.join(store, f"{_OLD}{b}"))
        shutil.rmtree(tmp_root, ignore_errors=True)
    finally:
        shutil.rmtree(stage, ignore_errors=True)


def vacuum_markers(store: str, keep_last: int = 64) -> int:
    """Delete applied-batch markers older than the newest ``keep_last``
    ids WITHIN EACH bucket directory (a per-bucket cut, so a bucket
    untouched for many batches keeps its newest markers regardless of
    how far the rest of the store has advanced). Returns the number of
    files removed."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    if not os.path.isdir(store):
        return 0
    by_dir: dict[str, list[tuple[int, str]]] = {}
    for root, _dirs, files in os.walk(store):
        for f in files:
            if f.startswith(_MARKER):
                try:
                    bid = int(f[len(_MARKER) :])
                except ValueError:
                    continue
                by_dir.setdefault(root, []).append(
                    (bid, os.path.join(root, f))
                )
    removed = 0
    for _root, found in by_dir.items():
        ids = sorted({bid for bid, _ in found})
        if len(ids) <= keep_last:
            continue
        cutoff = ids[-keep_last]  # keep ids >= cutoff within this bucket
        for bid, path in found:
            if bid < cutoff:
                try:
                    os.remove(path)
                    removed += 1
                except FileNotFoundError:
                    pass
    return removed
