"""GDPR-style targeted delete over the bucketed gold layout
(plans/ddl.py:delete_keys_bucketed): only the buckets holding the erased
keys are rewritten; everything else is byte-identical; the erase removes
EVERY MOR version of the key; absent keys are a physical no-op."""

from __future__ import annotations

import hashlib
import os

import pytest
from pyspark.sql import functions as F

from shortvideohybridanalyticslakehouse_spark.plans.ddl import (
    _bucket_of,
    append_bucketed_sorted,
    delete_keys_bucketed,
    mor_read,
    table_location,
    write_bucketed_sorted_table,
)

TABLE = "gold_minute_erase"
N_BUCKETS = 8
T0 = 1_700_000_000


def _gold_rows(spark, vids, minutes, ver):
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


def _files_by_bucket(loc):
    out = {}
    for f in os.listdir(loc):
        if f.startswith("."):
            continue
        b = _bucket_of(f)
        if b is not None:
            out.setdefault(b, []).append(f)
    return out


def _sha(path):
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


@pytest.fixture()
def erase_table(spark):
    spark.sql(f"DROP TABLE IF EXISTS {TABLE}")
    base = _gold_rows(spark, range(0, 20), range(0, 10), ver=0)
    write_bucketed_sorted_table(
        base, TABLE, "video_id", ["minute"], n_buckets=N_BUCKETS
    )
    # MOR append a second version of a few keys so the erase has to
    # clear MULTIPLE files in the touched bucket
    append_bucketed_sorted(
        _gold_rows(spark, range(3, 5), range(0, 4), ver=1),
        TABLE,
        "video_id",
        ["minute"],
        n_buckets=N_BUCKETS,
    )
    yield
    spark.sql(f"DROP TABLE IF EXISTS {TABLE}")


def test_delete_rewrites_only_touched_buckets(spark, erase_table):
    loc = table_location(spark, TABLE)
    before = spark.table(TABLE).count()
    victim_rows = (
        spark.table(TABLE).filter(F.col("video_id") == 3).count()
    )
    assert victim_rows > 10  # base minutes + MOR versions
    pre = {
        b: {f: _sha(os.path.join(loc, f)) for f in fs}
        for b, fs in _files_by_bucket(loc).items()
    }

    n_buckets, n_deleted = delete_keys_bucketed(
        spark, TABLE, "video_id", [3], ["minute"]
    )
    assert n_deleted == victim_rows
    assert n_buckets >= 1

    # the key is gone — raw and through the MOR view
    assert spark.table(TABLE).filter(F.col("video_id") == 3).count() == 0
    assert (
        mor_read(spark, TABLE, ["video_id", "minute"], ["ver"])
        .filter(F.col("video_id") == 3)
        .count()
        == 0
    )
    assert spark.table(TABLE).count() == before - n_deleted

    # untouched buckets: identical file names AND bytes (hard links)
    post = {
        b: {f: _sha(os.path.join(loc, f)) for f in fs}
        for b, fs in _files_by_bucket(loc).items()
    }
    victim_bucket = next(
        b for b, files in post.items() if b not in pre or pre[b] != files
    )
    for b in pre:
        if b == victim_bucket:
            continue
        assert post[b] == pre[b], f"bucket {b} changed"

    # touched bucket was also bin-packed back to ONE file
    assert len(post[victim_bucket]) == 1

    # erasing an absent key is a physical no-op
    assert delete_keys_bucketed(
        spark, TABLE, "video_id", [3], ["minute"]
    ) == (0, 0)
    post2 = {
        b: {f: _sha(os.path.join(loc, f)) for f in fs}
        for b, fs in _files_by_bucket(loc).items()
    }
    assert post2 == post


def test_delete_job_count_is_constant(spark, count_jobs):
    """Erasure launches the same number of Spark jobs whether it rewrites
    4 buckets or 8: the touch probe, one accounting aggregate and one
    write, however many buckets are touched."""
    table = "gold_minute_erase_jobs"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    try:
        write_bucketed_sorted_table(
            _gold_rows(spark, range(0, 48), range(0, 4), ver=0),
            table, "video_id", ["minute"], n_buckets=N_BUCKETS,
        )
        by_bucket: dict[int, list[int]] = {}
        for r in spark.range(48).select(
            "id", F.expr(f"pmod(hash(id), {N_BUCKETS})").alias("b")
        ).collect():
            by_bucket.setdefault(r.b, []).append(r.id)
        assert len(by_bucket) == N_BUCKETS
        assert all(len(vs) >= 2 for vs in by_bucket.values())
        jobs = {}
        for k, i in ((4, 0), (8, 1)):
            vals = [by_bucket[b][i] for b in sorted(by_bucket)[:k]]
            jobs[k], result = count_jobs(
                lambda: delete_keys_bucketed(
                    spark, table, "video_id", vals, ["minute"]
                )
            )
            assert result == (k, 4 * k)
        assert jobs[4] == jobs[8], jobs
        # probe, aggregate and write: a result job each, plus under AQE
        # a map-stage job each
        assert jobs[4] <= 6, jobs
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
