"""Streaming SCD2 band maintenance == batch SCD2 (VERDICT r5 #6).

The foreachBatch maintainer (streaming/scd2.py) must converge to EXACTLY
the band set the shared batch builder produces over the full change
history — including collapsing a batch's leading state into a user's
open band, closing opens at the right instant, and surviving a
crash-restart replay without double-applying a batch.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from shortvideohybridanalyticslakehouse_spark.plans.queries_ext54 import scd2_bands
from shortvideohybridanalyticslakehouse_spark.streaming.scd2 import (
    start_scd2_band_job,
)

_SCHEMA = "user_id long, ts timestamp, event_id long, state string"

# (user, minute, event_id, state): u1 collapses duplicates WITHIN a file,
# ACROSS files (view->view over files 2-3), and changes state mid-file;
# u2 never changes (one open band across all files); u3 appears late.
_EVENTS = [
    [  # file 0
        (1, 0, 100, "view"),
        (1, 2, 101, "view"),
        (1, 4, 102, "click"),
        (2, 1, 200, "signup"),
    ],
    [  # file 1
        (1, 6, 103, "click"),
        (1, 8, 104, "view"),
        (2, 7, 201, "signup"),
    ],
    [  # file 2
        (1, 10, 105, "view"),
        (2, 11, 202, "signup"),
        (3, 12, 300, "error"),
    ],
    [  # file 3
        (1, 14, 106, "error"),
        (3, 15, 301, "view"),
        (3, 16, 302, "view"),
    ],
]


def _write_files(src: str) -> None:
    os.makedirs(src, exist_ok=True)
    t0 = time.time() - 600
    for i, chunk in enumerate(_EVENTS):
        p = os.path.join(src, f"p{i:04d}.csv")
        with open(p, "w") as f:
            for u, minute, eid, state in chunk:
                f.write(f"{u},2026-03-01 00:{minute:02d}:00,{eid},{state}\n")
        # FileStreamSource orders by MODIFICATION TIME: pin it strictly
        # increasing or arrival order scrambles
        os.utime(p, (t0 + i, t0 + i))


def _batch_bands(spark):
    rows = [
        (u, f"2026-03-01 00:{minute:02d}:00", eid, state)
        for chunk in _EVENTS
        for u, minute, eid, state in chunk
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts string, event_id long, state string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    return scd2_bands(df)


def _canon(df):
    return sorted(
        (r.user_id, r.state, str(r.valid_from), str(r.valid_to))
        for r in df.collect()
    )


def test_stream_equals_batch(spark, tmp_path):
    src = os.path.join(str(tmp_path), "in")
    _write_files(src)
    table = os.path.join(str(tmp_path), "dim_bands")
    stream = (
        spark.readStream.schema(_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .csv(src)
    )
    q = start_scd2_band_job(
        spark, stream, table, os.path.join(str(tmp_path), "ckpt")
    )
    q.awaitTermination(120)
    got = _canon(spark.read.parquet(table))
    want = _canon(_batch_bands(spark))
    assert got == want
    # structural spot-checks: u1 ends open on 'error', u2 has ONE band
    # (never changed across 3 batches), u1's view->view across files 1-2
    # collapsed into a single band
    u2 = [r for r in got if r[0] == 2]
    assert len(u2) == 1 and u2[0][3] == "None"
    u1_views = [r for r in got if r[0] == 1 and r[1] == "view"]
    assert len(u1_views) == 2  # 00:00-00:04 and 00:08-00:14 (collapsed)


def test_replay_is_idempotent(spark, tmp_path):
    """Crash-restart: kill the query mid-stream, restart from the same
    checkpoint — replayed batches must not double-apply (the applied
    marker rides the atomic table rename)."""
    src = os.path.join(str(tmp_path), "in")
    _write_files(src)
    table = os.path.join(str(tmp_path), "dim_bands")
    ckpt = os.path.join(str(tmp_path), "ckpt")

    def start(trigger):
        stream = (
            spark.readStream.schema(_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .csv(src)
        )
        return start_scd2_band_job(spark, stream, table, ckpt, trigger)

    q = start({"processingTime": "200 milliseconds"})
    deadline = time.time() + 60
    while time.time() < deadline:
        lp = q.lastProgress
        if lp and lp["batchId"] >= 1:
            break
        time.sleep(0.2)
    q.stop()
    q.awaitTermination(60)

    q2 = start({"availableNow": True})
    q2.awaitTermination(120)
    got = _canon(spark.read.parquet(table))
    want = _canon(_batch_bands(spark))
    assert got == want


def _dir_fingerprint(path):
    """(relative name, size, content-hash, mtime_ns) for every file under
    path — byte-identical AND not-rewritten means all four match."""
    import hashlib

    out = []
    for root, _dirs, files in os.walk(path):
        for f in sorted(files):
            p = os.path.join(root, f)
            st = os.stat(p)
            with open(p, "rb") as fh:
                h = hashlib.sha256(fh.read()).hexdigest()
            out.append((os.path.relpath(p, path), st.st_size, h, st.st_mtime_ns))
    return sorted(out)


def _bucket_of(spark, user_id, n_buckets):
    from shortvideohybridanalyticslakehouse_spark.streaming.scd2 import _bucket_expr

    df = spark.createDataFrame([(user_id,)], "user_id long")
    return df.select(_bucket_expr(n_buckets).alias("b")).collect()[0]["b"]


def _changes_df(spark, rows):
    df = spark.createDataFrame(
        [(u, f"2026-03-01 00:{m:02d}:00", e, s) for u, m, e, s in rows],
        "user_id long, ts string, event_id long, state string",
    )
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def test_untouched_buckets_not_rewritten(spark, tmp_path):
    """A batch rewrites ONLY the buckets it touches: per-batch cost is
    O(batch + touched buckets), not O(table) (VERDICT r6 #1)."""
    from shortvideohybridanalyticslakehouse_spark.streaming.markers import (
        bucket_dir as _bucket_dir,
    )
    from shortvideohybridanalyticslakehouse_spark.streaming.scd2 import (
        merge_scd2_batch,
    )

    n_buckets = 16
    u_a, u_b = 1, None
    b_a = _bucket_of(spark, u_a, n_buckets)
    for cand in range(2, 200):
        if _bucket_of(spark, cand, n_buckets) != b_a:
            u_b = cand
            break
    assert u_b is not None
    b_b = _bucket_of(spark, u_b, n_buckets)

    table = os.path.join(str(tmp_path), "dim_bands")
    merge_scd2_batch(
        spark,
        _changes_df(spark, [(u_a, 0, 100, "view"), (u_b, 1, 200, "signup")]),
        table,
        0,
        n_buckets,
    )
    fp_a_before = _dir_fingerprint(_bucket_dir(table, b_a))
    # batch 1 touches ONLY u_b's bucket
    merge_scd2_batch(
        spark, _changes_df(spark, [(u_b, 3, 201, "click")]), table, 1, n_buckets
    )
    assert _dir_fingerprint(_bucket_dir(table, b_a)) == fp_a_before
    # and u_b's bucket DID change (new band + marker)
    names_b = {f for f, *_ in _dir_fingerprint(_bucket_dir(table, b_b))}
    assert "_applied_batch_1" in names_b
    # full table still equals the batch builder over the whole history
    want = _canon(
        scd2_bands(
            _changes_df(
                spark,
                [(u_a, 0, 100, "view"), (u_b, 1, 200, "signup"), (u_b, 3, 201, "click")],
            )
        )
    )
    got = _canon(spark.read.parquet(table).select("user_id", "state", "valid_from", "valid_to"))
    assert got == want


def test_torn_swap_recovery(spark, tmp_path):
    """A crash between the two swap renames leaves the bucket absent and
    _old_bucket_N present; recovery restores it, and the in-flight batch
    (marker absent from the restored dir) re-applies (ADVICE r6)."""
    from shortvideohybridanalyticslakehouse_spark.streaming.markers import (
        bucket_dir as _bucket_dir,
        recover_buckets as recover_table,
    )
    from shortvideohybridanalyticslakehouse_spark.streaming.scd2 import (
        merge_scd2_batch,
    )

    n_buckets = 16
    u = 1
    b = _bucket_of(spark, u, n_buckets)
    table = os.path.join(str(tmp_path), "dim_bands")
    merge_scd2_batch(
        spark, _changes_df(spark, [(u, 0, 100, "view")]), table, 0, n_buckets
    )
    live = _bucket_dir(table, b)
    fp = _dir_fingerprint(live)
    # crash window A: between rename(live, old) and rename(tmp, live)
    os.rename(live, os.path.join(table, f"_old_bucket_{b}"))
    recover_table(table)
    assert _dir_fingerprint(live) == fp  # closed bands + markers restored
    # the torn batch then re-applies cleanly (marker not present yet)
    merge_scd2_batch(
        spark, _changes_df(spark, [(u, 2, 101, "click")]), table, 1, n_buckets
    )
    want = _canon(
        scd2_bands(_changes_df(spark, [(u, 0, 100, "view"), (u, 2, 101, "click")]))
    )
    got = _canon(spark.read.parquet(table).select("user_id", "state", "valid_from", "valid_to"))
    assert got == want
    # crash window B: after the second rename (leftover _old + live both
    # present) -> recovery discards the leftover, live dir untouched
    import shutil as _sh

    _sh.copytree(live, os.path.join(table, f"_old_bucket_{b}"))
    fp2 = _dir_fingerprint(live)
    recover_table(table)
    assert not os.path.exists(os.path.join(table, f"_old_bucket_{b}"))
    assert _dir_fingerprint(live) == fp2


def test_replayed_batch_skips_committed_buckets(spark, tmp_path):
    """Exactly-once per bucket: re-running a committed batch id is a
    no-op (marker present), even file-for-file."""
    from shortvideohybridanalyticslakehouse_spark.streaming.markers import (
        bucket_dir as _bucket_dir,
    )
    from shortvideohybridanalyticslakehouse_spark.streaming.scd2 import (
        merge_scd2_batch,
    )

    n_buckets = 16
    u = 1
    b = _bucket_of(spark, u, n_buckets)
    table = os.path.join(str(tmp_path), "dim_bands")
    changes = _changes_df(spark, [(u, 0, 100, "view"), (u, 2, 101, "click")])
    merge_scd2_batch(spark, changes, table, 0, n_buckets)
    fp = _dir_fingerprint(_bucket_dir(table, b))
    merge_scd2_batch(spark, changes, table, 0, n_buckets)  # replay
    assert _dir_fingerprint(_bucket_dir(table, b)) == fp
