"""Erasure composed with the full bucketed-table lifecycle: MOR appends
-> targeted delete -> compaction. The exchange-free window read must
hold at EVERY stage, the erased key must stay gone through compaction,
and the compacted result must equal the batch recomputation on the
surviving rows."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from shortvideohybridanalyticslakehouse_spark.operators.rolling import (
    rolling_range_sums,
)
from shortvideohybridanalyticslakehouse_spark.plans.ddl import (
    _bucket_of,
    append_bucketed_sorted,
    compact_bucketed_table,
    delete_keys_bucketed,
    mor_read,
    table_location,
    write_bucketed_sorted_table,
)

TABLE = "gold_minute_lifecycle"
N_BUCKETS = 8
T0 = 1_700_000_000


def _rows(spark, vids, minutes, ver):
    return spark.range(0, len(vids) * len(minutes)).select(
        (F.col("id") % len(vids) + min(vids)).alias("video_id"),
        F.timestamp_seconds(
            F.lit(T0)
            + (F.col("id") / len(vids)).cast("long") * 60
            + F.lit(min(minutes)) * 60
        ).alias("minute"),
        ((F.col("id") % 7) + ver).cast("double").alias("n"),
        F.lit(ver).cast("bigint").alias("ver"),
    )


def _no_exchange_window_plan(spark):
    mor = mor_read(spark, TABLE, ["video_id", "minute"], ["ver"])
    rolled = rolling_range_sums(
        mor,
        partition_cols=["video_id"],
        ts_col="minute",
        sum_cols=["n"],
        minutes=30,
    )
    plan = rolled._jdf.queryExecution().executedPlan().toString()
    assert "Window" in plan
    assert "Exchange" not in plan
    return mor


@pytest.fixture()
def lifecycle_table(spark):
    spark.sql(f"DROP TABLE IF EXISTS {TABLE}")
    write_bucketed_sorted_table(
        _rows(spark, range(0, 16), range(0, 8), ver=0),
        TABLE,
        "video_id",
        ["minute"],
        n_buckets=N_BUCKETS,
    )
    yield
    spark.sql(f"DROP TABLE IF EXISTS {TABLE}")


def test_erase_then_compact_keeps_invariants(spark, lifecycle_table):
    # 1) MOR appends (new versions for a video subset)
    append_bucketed_sorted(
        _rows(spark, range(2, 6), range(0, 4), ver=1),
        TABLE,
        "video_id",
        ["minute"],
        n_buckets=N_BUCKETS,
    )
    _no_exchange_window_plan(spark)

    # 2) targeted erasure of one appended video mid-MOR
    n_buckets_touched, n_deleted = delete_keys_bucketed(
        spark, TABLE, "video_id", [4], ["minute"]
    )
    assert n_deleted > 0 and n_buckets_touched >= 1
    mor = _no_exchange_window_plan(spark)
    assert mor.filter(F.col("video_id") == 4).count() == 0

    # 3) compaction of the remaining multi-file buckets
    compact_bucketed_table(
        spark,
        TABLE,
        "video_id",
        ["minute"],
        ["video_id", "minute"],
        ["ver"],
        n_buckets=N_BUCKETS,
    )
    loc = table_location(spark, TABLE)
    per_bucket: dict[int, int] = {}
    for f in os.listdir(loc):
        if f.startswith(".") or "_SUCCESS" in f:
            continue
        if f.endswith(".parquet"):
            b = int(f.split("_")[-1].split(".")[0])
            per_bucket[b] = per_bucket.get(b, 0) + 1
    assert all(c == 1 for c in per_bucket.values()), per_bucket

    mor2 = _no_exchange_window_plan(spark)
    assert mor2.filter(F.col("video_id") == 4).count() == 0

    # compacted content equals the batch recomputation on survivors:
    # latest ver per (video, minute) excluding the erased video
    base = _rows(spark, range(0, 16), range(0, 8), ver=0)
    upd = _rows(spark, range(2, 6), range(0, 4), ver=1)
    expect = (
        base.unionByName(upd)
        .filter(F.col("video_id") != 4)
        .groupBy("video_id", "minute")
        .agg(F.max(F.struct("ver", "n")).alias("b"))
        .select(
            "video_id", "minute", F.col("b.n").alias("n"),
            F.col("b.ver").alias("ver"),
        )
    )
    got = sorted(
        (r.video_id, str(r.minute), r.n, r.ver) for r in mor2.collect()
    )
    want = sorted(
        (r.video_id, str(r.minute), r.n, r.ver) for r in expect.collect()
    )
    assert got == want


def test_erase_preserves_null_keyed_rows(spark, lifecycle_table):
    """ADVICE r8 (medium): a bare NOT IN keep predicate evaluates to
    NULL for NULL keys, silently dropping NULL-keyed rows from rewritten
    buckets. The fix keeps them explicitly; this pins it."""
    # plant NULL-keyed rows — they hash into SOME bucket; erase a key
    # from every bucket so every bucket gets rewritten
    nulls = _rows(spark, range(0, 4), range(0, 2), ver=5).withColumn(
        "video_id", F.lit(None).cast("long")
    )
    append_bucketed_sorted(nulls, TABLE, "video_id", ["minute"], N_BUCKETS)
    n_null_before = (
        spark.table(TABLE).filter(F.col("video_id").isNull()).count()
    )
    assert n_null_before == 8
    erase_keys = list(range(0, 16))  # touches every bucket
    victims = (
        spark.table(TABLE).filter(F.col("video_id").isin(erase_keys)).count()
    )
    buckets, deleted = delete_keys_bucketed(
        spark, TABLE, "video_id", erase_keys, ["minute"]
    )
    assert deleted == victims
    n_null_after = (
        spark.table(TABLE).filter(F.col("video_id").isNull()).count()
    )
    assert n_null_after == n_null_before  # NULL rows survived the rewrite
    assert spark.table(TABLE).filter(F.col("video_id").isin(erase_keys)).count() == 0


def test_maintenance_rejects_foreign_data_file(spark, lifecycle_table):
    """ADVICE r8 (low) + r9 (low): ANY file that is neither bucket-named
    nor an allowlisted sidecar must abort maintenance loudly instead of
    being linked through as an 'extra' (incomplete erasure with no
    signal) — including files with no/unknown extension, the hole the
    old parquet/orc denylist left open."""
    loc = table_location(spark, TABLE)
    src = next(
        f for f in os.listdir(loc)
        if f.endswith(".parquet") and not f.startswith(".")
    )
    # r9 hole: extensionless and unknown-extension strays must also abort
    for stray in ("stray.parquet", "stray", "stray.avro"):
        os.link(os.path.join(loc, src), os.path.join(loc, stray))
        try:
            with pytest.raises(RuntimeError, match="unrecognized file"):
                compact_bucketed_table(
                    spark, TABLE, "video_id", ["minute"],
                    ["video_id", "minute"], ["ver"], N_BUCKETS,
                )
            spark.sql(f"REFRESH TABLE {TABLE}")
            with pytest.raises(RuntimeError, match="unrecognized file"):
                delete_keys_bucketed(
                    spark, TABLE, "video_id", [0], ["minute"]
                )
        finally:
            os.remove(os.path.join(loc, stray))


def test_erase_emptying_a_bucket(spark, lifecycle_table):
    """Erase every key of bucket 0 (plus one key elsewhere): bucket 0 is
    touched and ends with no rows, so Spark's always-written partition-0
    file is empty and must be dropped, leaving the bucket with no file.
    The accounting holds, and the erased keys stay gone through later
    appends and a compaction that keeps the exchange-free window plan."""
    by_bucket: dict[int, list[int]] = {}
    for r in spark.range(16).select(
        "id", F.expr(f"pmod(hash(id), {N_BUCKETS})").alias("b")
    ).collect():
        by_bucket.setdefault(r.b, []).append(r.id)
    assert 0 in by_bucket
    other = next(b for b in sorted(by_bucket) if b and len(by_bucket[b]) > 1)
    erased = by_bucket[0] + by_bucket[other][:1]
    victims = spark.table(TABLE).filter(F.col("video_id").isin(erased)).count()
    before = spark.table(TABLE).count()

    assert delete_keys_bucketed(
        spark, TABLE, "video_id", erased, ["minute"]
    ) == (2, victims)
    loc = table_location(spark, TABLE)
    files = [
        f for f in os.listdir(loc)
        if f.endswith(".parquet") and not f.startswith(".")
    ]
    assert not [f for f in files if _bucket_of(f) == 0]
    assert spark.table(TABLE).count() == before - victims
    mor = _no_exchange_window_plan(spark)
    assert mor.filter(F.col("video_id").isin(erased)).count() == 0

    append_bucketed_sorted(
        _rows(spark, range(0, 16), range(8, 10), ver=1).filter(
            ~F.col("video_id").isin(erased)
        ),
        TABLE, "video_id", ["minute"], n_buckets=N_BUCKETS,
    )
    assert compact_bucketed_table(
        spark, TABLE, "video_id", ["minute"], ["video_id", "minute"],
        ["ver"], n_buckets=N_BUCKETS,
    ) == len(by_bucket) - 1
    mor2 = _no_exchange_window_plan(spark)
    assert mor2.filter(F.col("video_id").isin(erased)).count() == 0
    assert mor2.count() == before - victims + 2 * (16 - len(erased))
