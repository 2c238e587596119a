"""Generic incremental MV maintenance == batch aggregation
(streaming/mv.py): the monoid merge must reproduce the one-shot batch
aggregate over any arrival split, replay idempotently, and rewrite only
touched buckets."""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from shortvideohybridanalyticslakehouse_spark.streaming.mv import (
    MvSpec,
    counting,
    maxing,
    merge_mv_batch,
    minning,
    read_mv,
    start_mv_job,
    summing,
)

_SCHEMA = "user_id long, v long"

# per-user measures incl. sum-of-squares so a derived VARIANCE checks the
# second-moment path too
def _spec():
    # built lazily: Column exprs need an active SparkContext
    return MvSpec(
        key_cols=("user_id",),
        measures=(
            counting("n"),
            summing(F.col("v"), "s"),
            summing(F.col("v") * F.col("v"), "ss"),
            minning(F.col("v"), "v_min"),
            maxing(F.col("v"), "v_max"),
        ),
    )

_ROWS = [(u, (u * 37 + i * 11) % 1000) for u in range(1, 30) for i in range(8)]


def _files(n_files=4):
    per = (len(_ROWS) + n_files - 1) // n_files
    return [_ROWS[i * per : (i + 1) * per] for i in range(n_files)]


def _write_files(src):
    os.makedirs(src, exist_ok=True)
    t0 = time.time() - 600
    for i, chunk in enumerate(_files()):
        p = os.path.join(src, f"f{i:04d}.csv")
        with open(p, "w") as f:
            for u, v in chunk:
                f.write(f"{u},{v}\n")
        os.utime(p, (t0 + i, t0 + i))


def _batch_expected(spark):
    df = spark.createDataFrame(_ROWS, _SCHEMA)
    return sorted(
        (r.user_id, r.n, r.s, r.ss, r.v_min, r.v_max)
        for r in _spec().partials(df).collect()
    )


def _canon(df):
    return sorted(
        (r.user_id, r.n, r.s, r.ss, r.v_min, r.v_max) for r in df.collect()
    )


def test_stream_equals_batch(spark, tmp_path):
    src = os.path.join(str(tmp_path), "in")
    _write_files(src)
    store = os.path.join(str(tmp_path), "mv")
    stream = (
        spark.readStream.schema(_SCHEMA).option("maxFilesPerTrigger", 1).csv(src)
    )
    q = start_mv_job(
        spark, stream, store, os.path.join(str(tmp_path), "ckpt"), _spec()
    )
    q.awaitTermination(120)
    assert _canon(read_mv(spark, store, _spec())) == _batch_expected(spark)
    # derived variance from merged moments == batch variance (integer
    # moments => exact)
    mv = read_mv(spark, store, _spec())
    var_mv = {
        r.user_id: r.ss * r.n - r.s * r.s for r in mv.collect()
    }
    df = spark.createDataFrame(_ROWS, _SCHEMA)
    var_batch = {
        r.user_id: r.ss * r.n - r.s * r.s
        for r in _spec().partials(df).collect()
    }
    assert var_mv == var_batch


def test_replay_and_untouched_buckets(spark, tmp_path):
    from shortvideohybridanalyticslakehouse_spark.streaming.markers import (
        bucket_dir as _bucket_dir,
    )

    store = os.path.join(str(tmp_path), "mv")
    files = _files()
    for i, chunk in enumerate(files[:2]):
        merge_mv_batch(
            spark, spark.createDataFrame(chunk, _SCHEMA), store, i, _spec()
        )
    before = _canon(read_mv(spark, store, _spec()))
    # replay batch 1 -> no-op (markers)
    merge_mv_batch(
        spark, spark.createDataFrame(files[1], _SCHEMA), store, 1, _spec()
    )
    assert _canon(read_mv(spark, store, _spec())) == before

    # single-user batch touches ONE bucket; others' files byte-identical
    import hashlib

    def fp(path):
        out = []
        for root, _d, fs in os.walk(path):
            for f in sorted(fs):
                p = os.path.join(root, f)
                with open(p, "rb") as fh:
                    out.append(
                        (
                            os.path.relpath(p, path),
                            hashlib.sha256(fh.read()).hexdigest(),
                            os.stat(p).st_mtime_ns,
                        )
                    )
        return sorted(out)

    wb = _spec().bucket_expr(16)
    target_user = 1
    b1 = (
        spark.createDataFrame([(target_user,)], "user_id long")
        .select(wb.alias("b"))
        .collect()[0]["b"]
    )
    others = [
        b
        for b in range(16)
        if b != b1 and os.path.isdir(_bucket_dir(store, b))
    ]
    fps_before = {b: fp(_bucket_dir(store, b)) for b in others}
    merge_mv_batch(
        spark,
        spark.createDataFrame([(target_user, 5)], _SCHEMA),
        store,
        2,
        _spec(),
    )
    for b in others:
        assert fp(_bucket_dir(store, b)) == fps_before[b]
    # and the merged row reflects the extra value
    row = [
        r
        for r in read_mv(spark, store, _spec()).collect()
        if r.user_id == target_user
    ][0]
    want = [v for u, v in files[0] + files[1] if u == target_user] + [5]
    assert row.n == len(want) and row.s == sum(want)
    assert row.v_min == min(want) and row.v_max == max(want)


def test_bad_merge_kind_rejected(spark):
    import pytest

    with pytest.raises(ValueError):
        from shortvideohybridanalyticslakehouse_spark.streaming.mv import Measure

        Measure("bad", F.count(F.lit(1)), "avg")
