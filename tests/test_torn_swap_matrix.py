"""Torn-swap matrix: every rewrite store commits through the same
two-rename directory swap, so every store must survive a crash at each
point of it.

Stores: the catalog bucketed table (compaction, and the compaction
that folds in a batch's rows), the parquet upsert table
(``jobs._merge_overwrite``), one SCD2 bucket and one MV bucket.
Crash points are the ones of ``tools/interleave_soak._crashing_swap``:

  0: tmp fully built, swap not started
  1: live renamed to old, tmp not promoted
  2: tmp promoted, old not pruned

The crash is injected by failing ``os.rename`` on the store's live
directory, so the store's own write path runs unchanged up to the crash.
Replaying the batch through the store's entry point (which recovers
first) must then leave exactly the post-op contents: neither the pre-op
rows lost nor the batch applied twice.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from shortvideohybridanalyticslakehouse_spark.operators.dedup import delta_available
from shortvideohybridanalyticslakehouse_spark.plans.ddl import (
    append_bucketed_sorted,
    compact_bucketed_table,
    table_location,
    write_bucketed_sorted_table,
)
from shortvideohybridanalyticslakehouse_spark.plans.queries_ext54 import scd2_bands
from shortvideohybridanalyticslakehouse_spark.streaming.jobs import _merge_overwrite
from shortvideohybridanalyticslakehouse_spark.streaming.mv import (
    MvSpec,
    counting,
    merge_mv_batch,
    read_mv,
    summing,
)
from shortvideohybridanalyticslakehouse_spark.streaming.scd2 import (
    _bucket_expr,
    merge_scd2_batch,
)

CRASH_POINTS = (0, 1, 2)
N_BUCKETS = 4
T0 = 1_700_000_000


class _Crash(RuntimeError):
    pass


@contextmanager
def _crash_after(point: int, live: str):
    """Raise once ``point`` renames of directory ``live`` (to or from it)
    have happened; other renames pass through."""
    real = os.rename
    done = 0

    def rename(src, dst, *args, **kwargs):
        nonlocal done
        if live not in (os.fspath(src), os.fspath(dst)):
            return real(src, dst, *args, **kwargs)
        if done == point:
            raise _Crash(f"crash@{point}")
        real(src, dst, *args, **kwargs)
        done += 1
        if done == point:
            raise _Crash(f"crash@{point}")

    os.rename = rename
    try:
        yield
    finally:
        os.rename = real


def _bucket_path(store: str, b: int) -> str:
    return os.path.join(store, f"bucket={b}")


def _catalog_table(spark, request, fold: bool):
    """A catalog bucketed table of 8 videos x 2 minutes, and 4 videos'
    newer versions that an append then a compaction (``fold=False``), or
    one compaction that takes them as ``rows`` (``fold=True``), merge."""
    table = "gold_torn_matrix"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    request.addfinalizer(lambda: spark.sql(f"DROP TABLE IF EXISTS {table}"))

    def rows(vids, ver):
        return [(v, T0 + 60 * m, float(v + m + ver), ver) for v in vids for m in (0, 1)]

    def frame(data):
        return spark.createDataFrame(
            data, "video_id long, m long, n double, ver long"
        ).select(
            "video_id", F.timestamp_seconds("m").alias("minute"), "n", "ver"
        )

    base, newer = rows(range(8), 0), rows(range(4), 1)
    write_bucketed_sorted_table(
        frame(base), table, "video_id", ["minute"], n_buckets=N_BUCKETS
    )
    if not fold:
        append_bucketed_sorted(
            frame(newer), table, "video_id", ["minute"], n_buckets=N_BUCKETS
        )
        fold_args = {}
    else:
        fold_args = {"rows": frame(newer), "keys": list(range(4)), "n_buckets": N_BUCKETS}
    latest = {}
    for r in base + newer:
        if r[:2] not in latest or r[3] > latest[r[:2]][3]:
            latest[r[:2]] = r

    def apply():
        compact_bucketed_table(
            spark, table, "video_id", ["minute"],
            merge_keys=["video_id", "minute"], order_cols=["ver"], **fold_args,
        )

    def read():
        spark.sql(f"REFRESH TABLE {table}")
        cols = ["video_id", F.col("minute").cast("long"), "n", "ver"]
        return sorted(tuple(r) for r in spark.table(table).select(*cols).collect())

    pre = sorted(base) if fold else sorted(base + newer)
    return table_location(spark, table), apply, read, pre, sorted(latest.values())


def _catalog_store(spark, tmp, request):
    return _catalog_table(spark, request, fold=False)


def _catalog_fold_store(spark, tmp, request):
    return _catalog_table(spark, request, fold=True)


def _upsert_store(spark, tmp, request):
    if delta_available():
        pytest.skip("with Delta present the upsert is a Delta MERGE, not a swap")
    path = os.path.join(tmp, "gold_fact")
    schema = "video_id string, status string, ts_ms long, source_offset long"
    keys, order = ["video_id"], ["ts_ms", "source_offset"]
    pre = [("vid_1", "active", 1000, 0), ("vid_2", "active", 1100, 1)]
    batch = [("vid_3", "active", 1200, 2)]
    _merge_overwrite(spark, spark.createDataFrame(pre, schema), path, keys, order)

    def apply():
        _merge_overwrite(spark, spark.createDataFrame(batch, schema), path, keys, order)

    def read():
        return sorted(tuple(r) for r in spark.read.parquet(path).collect())

    return path, apply, read, sorted(pre), sorted(pre + batch)


def _two_users_in_two_buckets(spark, bucket):
    users = spark.range(1, 50).withColumnRenamed("id", "user_id")
    b_of = {r.user_id: r.b for r in users.withColumn("b", bucket).collect()}
    other = next(u for u in b_of if b_of[u] != b_of[1])
    return 1, other, b_of[1]


def _scd2_store(spark, tmp, request):
    table = os.path.join(tmp, "dim_bands")
    u, v, b = _two_users_in_two_buckets(spark, _bucket_expr(N_BUCKETS))
    pre = [(u, 0, 100, "view"), (v, 1, 200, "signup")]
    batch = [(u, 3, 101, "click")]

    def changes(rows):
        return spark.createDataFrame(
            [(x, f"2026-03-01 00:{m:02d}:00", e, s) for x, m, e, s in rows],
            "user_id long, ts string, event_id long, state string",
        ).withColumn("ts", F.col("ts").cast("timestamp"))

    def bands(frame):
        cols = ["user_id", "state", "valid_from", "valid_to"]
        return sorted(tuple(r) for r in frame.select(*cols).collect())

    merge_scd2_batch(spark, changes(pre), table, 0, N_BUCKETS)

    def apply():
        merge_scd2_batch(spark, changes(batch), table, 1, N_BUCKETS)

    def read():
        return bands(spark.read.parquet(table))

    return (
        _bucket_path(table, b),
        apply,
        read,
        bands(scd2_bands(changes(pre))),
        bands(scd2_bands(changes(pre + batch))),
    )


def _mv_store(spark, tmp, request):
    store = os.path.join(tmp, "mv")
    spec = MvSpec(("user_id",), (counting("n"), summing(F.col("v"), "s")))
    u, v, b = _two_users_in_two_buckets(spark, spec.bucket_expr(N_BUCKETS))
    schema = "user_id long, v long"
    merge_mv_batch(
        spark, spark.createDataFrame([(u, 1), (v, 2)], schema), store, 0, spec,
        N_BUCKETS,
    )

    def apply():
        merge_mv_batch(
            spark, spark.createDataFrame([(u, 5)], schema), store, 1, spec,
            N_BUCKETS,
        )

    def read():
        return sorted(tuple(r) for r in read_mv(spark, store, spec).collect())

    return (
        _bucket_path(store, b),
        apply,
        read,
        sorted([(u, 1, 1), (v, 1, 2)]),
        sorted([(u, 2, 6), (v, 1, 2)]),
    )


STORES = {
    "catalog_bucketed": _catalog_store,
    "catalog_fold": _catalog_fold_store,
    "merge_overwrite": _upsert_store,
    "scd2_bucket": _scd2_store,
    "mv_bucket": _mv_store,
}


@pytest.mark.parametrize("point", CRASH_POINTS)
@pytest.mark.parametrize("store", list(STORES))
def test_torn_swap_then_replay(spark, tmp_path, request, store, point):
    live, apply, read, pre, post = STORES[store](spark, str(tmp_path), request)
    assert read() == pre != post
    with _crash_after(point, live), pytest.raises(_Crash):
        apply()
    apply()  # replay: the store's entry point recovers first
    assert read() == post
