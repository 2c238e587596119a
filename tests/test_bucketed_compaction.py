"""Incremental maintenance of the bucketed gold layout (VERDICT r7 #5).

The exchange-free rolling read assumes exactly one file per bucket — a
one-shot publish. Streaming 1-min MERGE traffic must not break it:
appends are merge-on-read (same bucket spec, no Exchange, per-partition
Sort only), and per-bucket bin-pack compaction restores the one-file
invariant touching ONLY the buckets that grew — untouched buckets are
hard-linked byte-identically. The reference's M2 compaction contract
(legacy_docs/PipelineArchitecture.md:202-219).
"""

from __future__ import annotations

import hashlib
import json
import os
import time

import pytest
from pyspark.sql import functions as F

from shortvideohybridanalyticslakehouse_spark.operators.rolling import (
    rolling_range_sums,
)
from shortvideohybridanalyticslakehouse_spark.plans.ddl import (
    _bucket_of,
    append_bucketed_sorted,
    compact_bucketed_table,
    mor_read,
    table_location,
    write_bucketed_sorted_table,
)

TABLE = "gold_minute_mor"
N_BUCKETS = 8
T0 = 1_700_000_000


def _gold_rows(spark, vids, minutes, ver):
    return spark.range(0, len(vids) * len(minutes)).select(
        F.lit(None).cast("long").alias("_drop"),
        (F.col("id") % len(vids) + min(vids)).alias("video_id"),
        F.timestamp_seconds(
            F.lit(T0) + (F.col("id") / len(vids)).cast("long") * 60
            + F.lit(min(minutes)) * 60
        ).alias("minute"),
        ((F.col("id") % 7) + ver).cast("double").alias("n"),
        F.lit(ver).cast("bigint").alias("ver"),
    ).drop("_drop")


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
def mor_table(spark):
    spark.sql(f"DROP TABLE IF EXISTS {TABLE}")
    base = _gold_rows(spark, range(0, 20), range(0, 10), ver=0)
    write_bucketed_sorted_table(
        base, TABLE, "video_id", ["minute"], n_buckets=N_BUCKETS
    )
    yield base
    spark.sql(f"DROP TABLE IF EXISTS {TABLE}")


def test_streaming_appends_then_compaction(spark, mor_table, tmp_path):
    loc = table_location(spark, TABLE)
    files0 = _files_by_bucket(loc)
    assert all(len(fs) == 1 for fs in files0.values())

    # --- N real streaming micro-batches append MERGE traffic ----------
    # batches touch ONLY videos 0..3 (a strict subset of buckets):
    # updates of existing minutes (higher ver) + brand-new minutes
    src = str(tmp_path / "in")
    os.makedirs(src)
    t_pin = time.time() - 10
    for i in range(3):
        rows = [
            {"video_id": v, "epoch": T0 + (5 + i) * 60, "n": 100.0 + i,
             "ver": i + 1}
            for v in range(0, 4)
        ] + [
            {"video_id": v, "epoch": T0 + (10 + i) * 60, "n": 200.0 + i,
             "ver": i + 1}
            for v in range(0, 4)
        ]
        p = os.path.join(src, f"b{i}.jsonl")
        with open(p, "w") as f:
            f.write("\n".join(json.dumps(r) for r in rows))
        os.utime(p, (t_pin + i, t_pin + i))

    stream = (
        spark.readStream.schema(
            "video_id long, epoch long, n double, ver long"
        )
        .option("maxFilesPerTrigger", 1)
        .json(src)
        .select(
            "video_id",
            F.timestamp_seconds("epoch").alias("minute"),
            "n",
            "ver",
        )
    )
    q = (
        stream.writeStream.foreachBatch(
            lambda b, _i: append_bucketed_sorted(
                b, TABLE, "video_id", ["minute"], n_buckets=N_BUCKETS
            )
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    spark.sql(f"REFRESH TABLE {TABLE}")

    files1 = _files_by_bucket(loc)
    grown = {b for b, fs in files1.items() if len(fs) > 1}
    assert grown  # appends landed
    assert grown != set(files1)  # ...but only in a subset of buckets

    # --- MOR read still plans without Exchange -----------------------
    mor = mor_read(spark, TABLE, ["video_id", "minute"], ["ver"])
    rolled = rolling_range_sums(
        mor, partition_cols=["video_id"], ts_col="minute",
        sum_cols=["n"], minutes=30,
    )
    plan = rolled._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Window" in plan
    want = sorted(
        (r.video_id, str(r.minute), r.n, r.ver) for r in mor.collect()
    )

    # --- compaction: touched buckets only, invariant restored --------
    n_compacted = compact_bucketed_table(
        spark, TABLE, "video_id", ["minute"],
        merge_keys=["video_id", "minute"], order_cols=["ver"],
    )
    assert n_compacted == len(grown)

    files2 = _files_by_bucket(loc)
    assert all(len(fs) == 1 for fs in files2.values())
    # untouched buckets: same file name, byte-identical content
    for b in set(files1) - grown:
        assert files2[b] == files1[b]
        assert _sha(os.path.join(loc, files2[b][0])) == _sha(
            os.path.join(loc, files0[b][0])
        )

    # --- values: compacted table == MOR view == batch twin ------------
    after = spark.table(TABLE)
    got = sorted(
        (r.video_id, str(r.minute), r.n, r.ver) for r in after.collect()
    )
    assert got == want
    # every key that got MERGE traffic resolved to its newest version:
    # minute T0+7*60 was written at ver 1, 2 AND 3 (batch i updates
    # minute 5+i and 10+i) — the survivor must be ver 3 where versions
    # collide, and updated rows exist at all
    newest = after.filter((F.col("video_id") < 4) & (F.col("ver") > 0))
    assert newest.count() > 0
    collide = after.filter(
        (F.col("video_id") < 4)
        & (F.col("minute") == F.timestamp_seconds(F.lit(T0 + 7 * 60)))
    ).collect()
    assert collide and all(r.ver == 3 for r in collide)
    # per updated (video, minute): exactly one row, max ver wins
    dupcheck = after.groupBy("video_id", "minute").count().filter(
        F.col("count") > 1
    )
    assert dupcheck.count() == 0

    # --- post-compaction plan: still exchange-free -------------------
    rolled2 = rolling_range_sums(
        spark.table(TABLE), partition_cols=["video_id"], ts_col="minute",
        sum_cols=["n"], minutes=30,
    )
    plan2 = rolled2._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan2
    assert "Window" in plan2

    # --- idempotence: a second compaction is a no-op -----------------
    assert compact_bucketed_table(
        spark, TABLE, "video_id", ["minute"],
        merge_keys=["video_id", "minute"], order_cols=["ver"],
    ) == 0


def test_recover_torn_swap(spark, mor_table):
    """Crash between the two renames leaves only ._old — recovery must
    restore the table directory."""
    import shutil

    from shortvideohybridanalyticslakehouse_spark.plans.ddl import (
        recover_bucketed_table,
    )

    loc = table_location(spark, TABLE)
    os.rename(loc, loc + "._old")
    recover_bucketed_table(loc)
    assert os.path.isdir(loc) and not os.path.isdir(loc + "._old")
    spark.sql(f"REFRESH TABLE {TABLE}")
    assert spark.table(TABLE).count() == 200
    shutil.rmtree(loc + "._tmp", ignore_errors=True)


STR_TABLE = "gold_minute_str_keys"
STR_BUCKETS = 16


def _str_rows(spark, keys, ver):
    return spark.createDataFrame(
        [(k, m, float(m + ver), ver) for k in keys for m in range(3)],
        "video_id string, m long, n double, ver long",
    ).select(
        "video_id",
        F.timestamp_seconds(F.lit(T0) + F.col("m") * 60).alias("minute"),
        "n",
        "ver",
    )


def _compact_str(spark):
    return compact_bucketed_table(
        spark, STR_TABLE, "video_id", ["minute"],
        merge_keys=["video_id", "minute"], order_cols=["ver"],
    )


@pytest.fixture()
def str_keys(spark):
    """String keys (like the flagship's video_id) grouped by the bucket
    ``bucketBy`` puts them in, ``pmod(hash(key), 16)``; the table holds
    every key outside bucket 0, so bucket 0 has no file."""
    spark.sql(f"DROP TABLE IF EXISTS {STR_TABLE}")
    by_bucket: dict[int, list[str]] = {}
    for r in spark.range(400).select(
        F.concat(F.lit("v"), F.col("id").cast("string")).alias("k")
    ).select(
        "k", F.expr(f"pmod(hash(k), {STR_BUCKETS})").alias("b")
    ).collect():
        by_bucket.setdefault(r.b, []).append(r.k)
    assert set(by_bucket) == set(range(STR_BUCKETS))
    write_bucketed_sorted_table(
        _str_rows(
            spark, [k for b, ks in by_bucket.items() if b for k in ks], 0
        ),
        STR_TABLE, "video_id", ["minute"], n_buckets=STR_BUCKETS,
    )
    yield by_bucket
    spark.sql(f"DROP TABLE IF EXISTS {STR_TABLE}")


def test_compaction_places_rows_in_their_bucket(spark, str_keys):
    """One write job rewrites all touched buckets: every row must land in
    the file of the bucket ``bucketBy`` assigns it, and Spark's always-
    written partition-0 file must not surface as a bucket-0 file."""
    touched = [3, 6, 9, 12]
    append_bucketed_sorted(
        _str_rows(spark, [k for b in touched for k in str_keys[b][:2]], 1),
        STR_TABLE, "video_id", ["minute"], n_buckets=STR_BUCKETS,
    )
    loc = table_location(spark, STR_TABLE)
    files1 = _files_by_bucket(loc)
    assert _compact_str(spark) == len(touched)

    files2 = _files_by_bucket(loc)
    assert 0 not in files2
    assert set(files2) == set(files1)
    assert all(len(fs) == 1 for fs in files2.values())
    for b in set(files1) - set(touched):
        assert files2[b] == files1[b]
    placed = spark.read.parquet(loc).select(
        F.input_file_name().alias("f"),
        F.expr(f"pmod(hash(video_id), {STR_BUCKETS})").alias("b"),
    ).distinct().collect()
    assert placed and all(
        _bucket_of(os.path.basename(r.f)) == r.b for r in placed
    )

    probe = [str_keys[b][0] for b in (1, 3, 6, 7, 12)] + str_keys[0][:1]
    unpruned = spark.read.parquet(loc).filter(F.col("video_id").isin(probe))

    def rows(df):
        return sorted(
            (r.video_id, str(r.minute), r.n, r.ver) for r in df.collect()
        )

    # a plain filter makes the planner drop the bucketed scan; keep it so
    # the read is pruned to the probe keys' buckets
    auto = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    was = spark.conf.get(auto)
    spark.conf.set(auto, "false")
    try:
        pruned = spark.table(STR_TABLE).filter(F.col("video_id").isin(probe))
        plan = pruned._jdf.queryExecution().executedPlan().toString()
        assert f"SelectedBucketsCount: 6 out of {STR_BUCKETS}" in plan
        got = rows(pruned)
    finally:
        spark.conf.set(auto, was)
    assert got == rows(unpruned)
    assert len(got) == 5 * 3  # 5 stored keys x 3 minutes, none lost
    assert {r[3] for r in got if r[0] in str_keys[3][:2]} == {1}


def test_compaction_job_count_is_constant(spark, str_keys, count_jobs):
    """Compaction launches the same number of Spark jobs whether it
    rewrites 4 buckets or 8: the fixed per-job cost is paid per call,
    not per bucket."""
    jobs = {}
    for touched in ([2, 5, 8, 11], [1, 4, 7, 10, 13, 14, 15, 3]):
        append_bucketed_sorted(
            _str_rows(spark, [str_keys[b][0] for b in touched], 2),
            STR_TABLE, "video_id", ["minute"], n_buckets=STR_BUCKETS,
        )
        jobs[len(touched)], n = count_jobs(lambda: _compact_str(spark))
        assert n == len(touched)
    assert jobs[4] == jobs[8], jobs
    assert jobs[4] <= 2, jobs  # the write, and under AQE its map stage


# --- compaction that folds in a batch's new rows (rows=, keys=) ----------


def _fold(spark, table, rows, keys, n_buckets):
    return compact_bucketed_table(
        spark, table, "video_id", ["minute"],
        merge_keys=["video_id", "minute"], order_cols=["ver"],
        rows=rows, keys=keys, n_buckets=n_buckets,
    )


def _table_rows(spark, table):
    spark.sql(f"REFRESH TABLE {table}")
    return sorted(
        (r.video_id, str(r.minute), r.n, r.ver)
        for r in spark.table(table).collect()
    )


def _string_case(spark):
    """String keys, 16 buckets, bucket 0 without a file: an earlier
    append left two files in bucket 5; the new rows update keys of
    buckets 3 and 9 and bring the first key of bucket 0."""
    by_bucket: dict[int, list[str]] = {}
    for r in spark.range(400).select(
        F.concat(F.lit("v"), F.col("id").cast("string")).alias("k")
    ).select("k", F.expr("pmod(hash(k), 16)").alias("b")).collect():
        by_bucket.setdefault(r.b, []).append(r.k)
    base = _str_rows(spark, [k for b, ks in by_bucket.items() if b for k in ks[:3]], 0)
    earlier = _str_rows(spark, by_bucket[5][:1], 1)
    keys = [by_bucket[b][0] for b in (0, 3, 9)]
    return base, earlier, _str_rows(spark, keys, 2), keys, 16, {0, 3, 5, 9}


def _bigint_case(spark):
    """Bigint keys (``hash`` of an int literal would pick other buckets),
    8 buckets: the new rows update videos 10-12 and bring videos 30-32."""
    base = _gold_rows(spark, range(0, 20), range(0, 10), ver=0)
    earlier = _gold_rows(spark, range(0, 2), range(0, 3), ver=1)
    new = _gold_rows(spark, range(10, 13), range(5, 12), ver=2).union(
        _gold_rows(spark, range(30, 33), range(0, 4), ver=2)
    )
    keys = [*range(10, 13), *range(30, 33)]
    return base, earlier, new, keys, N_BUCKETS, None


@pytest.mark.parametrize("case", [_string_case, _bigint_case])
def test_fold_equals_append_then_compact(spark, case):
    """One compaction that takes the batch's rows leaves the same rows and
    the same files per bucket (one per bucket) as an append of them
    followed by a compaction."""
    base, earlier, new, keys, n, want_touched = case(spark)
    two_step, fused = "gold_fold_two_step", "gold_fold_fused"
    try:
        for t in (two_step, fused):
            write_bucketed_sorted_table(base, t, "video_id", ["minute"], n_buckets=n)
            append_bucketed_sorted(earlier, t, "video_id", ["minute"], n_buckets=n)
        append_bucketed_sorted(new, two_step, "video_id", ["minute"], n_buckets=n)
        compact_bucketed_table(
            spark, two_step, "video_id", ["minute"],
            merge_keys=["video_id", "minute"], order_cols=["ver"],
        )
        touched = _fold(spark, fused, new, keys, n)
        if want_touched is not None:
            assert touched == len(want_touched)

        assert _table_rows(spark, fused) == _table_rows(spark, two_step)
        files = _files_by_bucket(table_location(spark, fused))
        assert all(len(fs) == 1 for fs in files.values())
        assert set(files) == set(_files_by_bucket(table_location(spark, two_step)))
    finally:
        for t in (two_step, fused):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_fold_creates_missing_table(spark):
    """The first batch of a store may be a compaction batch: the fold
    creates the table, and a key bucket with no rows writes no file."""
    table = "gold_fold_created"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    try:
        rows = _gold_rows(spark, range(0, 4), range(0, 3), ver=0)
        assert _fold(spark, table, rows, [0, 1, 2, 3, 99], N_BUCKETS) >= 1
        files = _files_by_bucket(table_location(spark, table))
        assert all(len(fs) == 1 for fs in files.values())
        want = spark.createDataFrame([(99,), *((v,) for v in range(4))], "k bigint")
        by_key = {
            r.k: r.b
            for r in want.select("k", F.expr(f"pmod(hash(k), {N_BUCKETS})").alias("b")).collect()
        }
        assert set(files) == {by_key[v] for v in range(4)}
        assert _table_rows(spark, table) == sorted(
            (r.video_id, str(r.minute), r.n, r.ver) for r in rows.collect()
        )
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_fold_row_outside_keys_aborts(spark, str_keys):
    """A row whose key is not in ``keys`` (and whose bucket is otherwise
    untouched) aborts in the writer before any file moves: the table
    directory stays byte-unchanged."""
    loc = table_location(spark, STR_TABLE)

    def snapshot():
        return {
            f: _sha(os.path.join(loc, f))
            for f in os.listdir(loc)
            if not f.startswith(".")
        }

    before = snapshot()
    rows = _str_rows(spark, [str_keys[3][0], str_keys[7][0]], 1)
    with pytest.raises(Exception, match="not writable"):
        _fold(spark, STR_TABLE, rows, [str_keys[3][0]], STR_BUCKETS)
    assert snapshot() == before


def test_fold_job_count_is_constant(spark, str_keys, count_jobs):
    """The fold launches the same number of Spark jobs for 4 touched
    buckets as for 8."""
    jobs = {}
    for touched in ([2, 5, 8, 11], [1, 4, 7, 10, 13, 14, 15, 3]):
        keys = [str_keys[b][0] for b in touched]
        rows = _str_rows(spark, keys, 2)
        jobs[len(touched)], n = count_jobs(
            lambda: _fold(spark, STR_TABLE, rows, keys, STR_BUCKETS)
        )
        assert n == len(touched)
    assert jobs[4] == jobs[8], jobs
    assert jobs[4] <= 2, jobs  # the write, and under AQE its map stage


def test_key_bucket_lookup_launches_no_job(spark, str_keys, count_jobs):
    """The key -> bucket lookup runs over a local VALUES relation: no Spark
    job, and each key is hashed as its catalog type."""
    from shortvideohybridanalyticslakehouse_spark.plans.ddl import _key_buckets

    keys = [str_keys[b][0] for b in (0, 4, 9)]
    n, got = count_jobs(lambda: _key_buckets(spark, keys, "string", STR_BUCKETS))
    assert n == 0
    assert got == {0, 4, 9}

    want = {
        r.id: r.b
        for r in spark.range(10).select(
            "id", F.expr(f"pmod(hash(id), {N_BUCKETS})").alias("b")
        ).collect()
    }

    def per_key(key_type):
        return {v: _key_buckets(spark, [v], key_type, N_BUCKETS) for v in want}

    n, as_bigint = count_jobs(lambda: per_key("bigint"))
    assert n == 0
    assert as_bigint == {v: {b} for v, b in want.items()}
    assert per_key("int") != as_bigint  # hash(int) != hash(bigint)
