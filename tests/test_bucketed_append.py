"""The one bucket writer (plans/ddl.py:_write_buckets) behind MOR appends.

``append_bucketed_sorted`` creates a missing table from the frame's schema,
checks the frame against the catalog entry, then writes bucket files
straight into the live table directory. These tests pin that:

  1. every appended row lands in the bucket file that Spark's own
     ``bucketBy(...).saveAsTable`` writer puts it in;
  2. a frame that disagrees with the catalog entry is refused before any
     file is written;
  3. a failure inside the writer leaves the live table as it was.
"""

from __future__ import annotations

import hashlib
import os

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from shortvideohybridanalyticslakehouse_spark.plans.ddl import (
    _bucket_of,
    append_bucketed_sorted,
    table_location,
    table_spec,
    write_bucketed_sorted_table,
)

TABLE = "gold_append_writer"
REF = "gold_append_reference"
N_BUCKETS = 8
T0 = 1_700_000_000


def _rows(spark, n_keys, ver):
    """String keys (the flagship's key type), NULL keys included, two
    minutes each."""
    return spark.range(0, n_keys * 2).select(
        F.when(F.col("id") % n_keys == 0, None)
        .otherwise(F.concat(F.lit("v"), (F.col("id") % n_keys).cast("string")))
        .alias("video_id"),
        F.timestamp_seconds(
            F.lit(T0) + (F.col("id") / n_keys).cast("long") * 60
        ).alias("minute"),
        (F.col("id") % 7 + ver).cast("double").alias("n"),
        F.lit(ver).cast("bigint").alias("ver"),
    )


def _bucket_per_row(df):
    return sorted(
        (r.video_id or "", str(r.minute), r.ver, _bucket_of(os.path.basename(r.f)))
        for r in df.select(
            "video_id", "minute", "ver", F.input_file_name().alias("f")
        ).collect()
    )


def _snapshot(loc):
    """Every file of the table directory (hidden ones too) -> content hash,
    plus any sibling the writer may have left beside it."""
    files = {}
    for f in sorted(os.listdir(loc)):
        with open(os.path.join(loc, f), "rb") as fh:
            files[f] = hashlib.sha256(fh.read()).hexdigest()
    parent, name = os.path.split(loc)
    siblings = sorted(s for s in os.listdir(parent) if s.startswith(name + "."))
    return files, siblings


@pytest.fixture()
def tables(spark):
    for t in (TABLE, REF):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    yield
    for t in (TABLE, REF):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


@pytest.mark.parametrize("windowed", [False, True])
def test_append_places_rows_like_bucketby(spark, tables, windowed):
    """Appends (the first one creating the table) put each row in the
    bucket Spark's ``bucketBy`` writer assigns it, with at most one new
    file per bucket per append. ``windowed``: the frame comes out of a
    window over the key with as many buckets as shuffle partitions, so
    Spark drops the writer's ``repartition`` onto the same partitioning
    and may coalesce the shuffle (the flagship's decision frame shape)."""
    n_buckets = N_BUCKETS
    batches = [_rows(spark, 40, 0), _rows(spark, 13, 1)]
    if windowed:
        n_buckets = int(spark.conf.get("spark.sql.shuffle.partitions"))
        over_key = Window.partitionBy("video_id")
        batches = [df.withColumn("ver", F.max("ver").over(over_key)) for df in batches]
    for i, df in enumerate(batches):
        files_before = len(os.listdir(table_location(spark, TABLE))) if i else 0
        append_bucketed_sorted(df, TABLE, "video_id", ["minute"], n_buckets)
        loc = table_location(spark, TABLE)
        new = [f for f in os.listdir(loc) if not f.startswith(".")]
        assert len(new) - files_before <= n_buckets
        assert all(_bucket_of(f) is not None for f in new)
    spec = table_spec(spark, TABLE)
    assert spec.n_buckets == n_buckets
    assert (spec.bucket_cols, spec.sort_cols) == (["video_id"], ["video_id", "minute"])

    batches[0].unionByName(batches[1]).write.format("parquet").bucketBy(
        n_buckets, "video_id"
    ).sortBy("video_id", "minute").saveAsTable(REF)
    got = _bucket_per_row(spark.table(TABLE))
    assert len(got) == 40 * 2 + 13 * 2
    assert got == _bucket_per_row(spark.table(REF))


@pytest.mark.parametrize(
    "key, sort_cols, n_buckets, extra",
    [
        ("video_id", ["minute"], 4, False),  # bucket count
        ("video_id", ["ver"], N_BUCKETS, False),  # sort columns
        ("ver", ["minute"], N_BUCKETS, False),  # bucket column
        ("video_id", ["minute"], N_BUCKETS, True),  # schema
    ],
)
def test_append_spec_mismatch_writes_nothing(
    spark, tables, key, sort_cols, n_buckets, extra
):
    write_bucketed_sorted_table(
        _rows(spark, 20, 0), TABLE, "video_id", ["minute"], N_BUCKETS
    )
    loc = table_location(spark, TABLE)
    before = _snapshot(loc)
    rows_before = _bucket_per_row(spark.table(TABLE))
    df = _rows(spark, 5, 1)
    if extra:
        df = df.withColumn("extra", F.lit(1))
    with pytest.raises(ValueError, match="disagrees with its catalog entry"):
        append_bucketed_sorted(df, TABLE, key, sort_cols, n_buckets)
    assert _snapshot(loc) == before
    assert _bucket_per_row(spark.table(TABLE)) == rows_before


def test_append_writer_failure_leaves_table_unchanged(spark, tables):
    """A file cap of one row makes the write produce several files for one
    bucket; the writer must refuse before it moves any of them into the
    live table."""
    write_bucketed_sorted_table(
        _rows(spark, 20, 0), TABLE, "video_id", ["minute"], N_BUCKETS
    )
    loc = table_location(spark, TABLE)
    before = _snapshot(loc)
    rows_before = _bucket_per_row(spark.table(TABLE))
    cap = "spark.sql.files.maxRecordsPerFile"
    was = spark.conf.get(cap)
    spark.conf.set(cap, "1")
    try:
        with pytest.raises(RuntimeError, match="before any file moves"):
            append_bucketed_sorted(
                _rows(spark, 20, 1), TABLE, "video_id", ["minute"], N_BUCKETS
            )
    finally:
        spark.conf.set(cap, was)
    assert _snapshot(loc) == before
    spark.sql(f"REFRESH TABLE {TABLE}")
    assert _bucket_per_row(spark.table(TABLE)) == rows_before
