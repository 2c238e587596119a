"""1000-batch soak of the flagship MOR store cadence (VERDICT r8 #6).

The flagship serving stores (streaming/flagship.py) append bucket-aligned
files per micro-batch and fold them back to one file per bucket every
COMPACT_EVERY batches. The 100-batch winnow soak bounds the dedup-store
metadata; this soak answers the same question for the serving store at
10x the horizon: does ANY quantity grow with batches lived through
rather than with corpus/cadence constants?

Per batch: write a small synthetic gold delta (bigint keys) on the
stream's cadence — an append (``append_bucketed_sorted``, which creates
the table on the first batch), or on every COMPACT_EVERY-th batch a
compaction that takes the delta as its new rows
(``compact_bucketed_table(rows=..., keys=...)``) — and sample gates:

  * files per bucket       <= compact_every + 1   (cadence-bounded)
  * total store file count <= n_buckets x (compact_every + 1)
  * MOR read == driver-side ledger (latest batch id per key) — checked
    every 100 batches and at the end
  * wall flatness: mean append+maintain seconds over the tail window
    <= 3x the mean over the warm window (state growth would show as
    monotonic drift). The windows never overlap; see flatness_windows.

Usage: python tools/flagship_store_soak.py [--batches 1000]
Artifact: tools/FLAGSHIP_STORE_SOAK.json; exit 0 iff PASS.
"""

from __future__ import annotations

import json
import os
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

from pyspark.sql import functions as F  # noqa: E402

from shortvideohybridanalyticslakehouse_spark.plans import ddl  # noqa: E402

N_BUCKETS = 16
COMPACT_EVERY = 8
N_VIDEOS = 24
T0 = 1_700_000_000
TABLE = "gold_flagship_soak"


def _batch_videos(batch_id: int) -> list[int]:
    base_vid = (batch_id * 3) % N_VIDEOS
    return [base_vid, base_vid + 1, base_vid + 2]


def _batch(spark, batch_id: int):
    """Synthetic gold delta: 3 videos x 4 windows per batch, rotating
    through the video space so every bucket keeps seeing traffic."""
    base_vid = (batch_id * 3) % N_VIDEOS
    return spark.range(0, 12).select(
        (F.col("id") % 3 + base_vid).alias("video_id"),
        F.timestamp_seconds(
            F.lit(T0) + (F.col("id") / 3).cast("long") * 60
            + F.lit((batch_id % 50) * 240)
        ).alias("window_start"),
        (F.col("id") + batch_id).cast("double").alias("metric"),
        F.lit(batch_id).cast("bigint").alias("src_batch"),
    )


def _ledger_update(ledger: dict, batch_id: int) -> None:
    base_vid = (batch_id * 3) % N_VIDEOS
    for i in range(12):
        vid = i % 3 + base_vid
        ws = T0 + (i // 3) * 60 + (batch_id % 50) * 240
        ledger[(vid, ws)] = (float(i + batch_id), batch_id)


def _check_content(spark, ledger: dict) -> bool:
    mor = ddl.mor_read(
        spark, TABLE, ["video_id", "window_start"], ["src_batch"]
    )
    got = {
        (r.video_id, r.ws): (r.metric, r.src_batch)
        for r in mor.select(
            "video_id",
            F.col("window_start").cast("long").alias("ws"),
            "metric",
            "src_batch",
        ).collect()
    }
    return got == ledger


def flatness_windows(batches: int) -> tuple[range, range]:
    """(warm, tail) batch-index windows of the wall-flatness gate, always
    disjoint: the warm window starts after the first 100 batches (at 0
    when the run is no longer than that), the tail ends at the last
    batch, and both are 100 batches wide, or half of what follows the
    warm start when that is shorter (200 batches: 100-149 against
    150-199; 1000 batches: 100-199 against 900-999)."""
    start = 100 if batches >= 102 else 0
    span = min(100, (batches - start) // 2)
    return range(start, start + span), range(batches - span, batches)


def main() -> int:
    batches = 1000
    argv = sys.argv[1:]
    if "--batches" in argv:
        batches = int(argv[argv.index("--batches") + 1])

    from shortvideohybridanalyticslakehouse_spark.session import get_spark

    spark = get_spark("flagship-store-soak")
    spark.sparkContext.setLogLevel("ERROR")
    spark.sql(f"DROP TABLE IF EXISTS {TABLE}")

    ledger: dict = {}
    walls: list[float] = []
    max_files_per_bucket = 0
    max_total_files = 0
    content_ok = True
    for b in range(batches):
        t0 = time.time()
        df = _batch(spark, b)
        if (b + 1) % COMPACT_EVERY == 0:
            ddl.compact_bucketed_table(
                spark,
                TABLE,
                "video_id",
                ["window_start"],
                merge_keys=["video_id", "window_start"],
                order_cols=["src_batch"],
                rows=df,
                keys=_batch_videos(b),
                n_buckets=N_BUCKETS,
            )
        else:
            ddl.append_bucketed_sorted(
                df, TABLE, "video_id", ["window_start"], n_buckets=N_BUCKETS
            )
        _ledger_update(ledger, b)
        walls.append(time.time() - t0)

        loc = ddl.table_location(spark, TABLE)
        per_bucket: dict[int, int] = {}
        total = 0
        for f in os.listdir(loc):
            if f.startswith("."):
                continue
            bk = ddl._bucket_of(f)
            if bk is not None:
                per_bucket[bk] = per_bucket.get(bk, 0) + 1
                total += 1
        max_files_per_bucket = max(
            max_files_per_bucket, max(per_bucket.values(), default=0)
        )
        max_total_files = max(max_total_files, total)

        if (b + 1) % 100 == 0:
            content_ok &= _check_content(spark, ledger)
            print(
                f"batch {b + 1}/{batches}: files/bucket max "
                f"{max(per_bucket.values(), default=0)}, total {total}, "
                f"wall {walls[-1]:.2f}s, content_ok={content_ok}"
            )

    content_ok &= _check_content(spark, ledger)
    warm, tail = flatness_windows(batches)
    mean_warm = sum(walls[i] for i in warm) / len(warm)
    mean_tail = sum(walls[i] for i in tail) / len(tail)
    report = {
        "batches": batches,
        "compact_every": COMPACT_EVERY,
        "n_buckets": N_BUCKETS,
        "distinct_keys": len(ledger),
        "max_files_per_bucket": max_files_per_bucket,
        "files_per_bucket_bounded": max_files_per_bucket <= COMPACT_EVERY + 1,
        "max_total_files": max_total_files,
        "total_files_bounded": max_total_files
        <= N_BUCKETS * (COMPACT_EVERY + 1),
        "content_equals_ledger": content_ok,
        "warm_window": [warm.start, warm.stop],
        "tail_window": [tail.start, tail.stop],
        "mean_wall_warm_s": round(mean_warm, 3),
        "mean_wall_tail_s": round(mean_tail, 3),
        "wall_flat": mean_tail <= 3 * mean_warm,
    }
    report["pass"] = all(
        report[k]
        for k in (
            "files_per_bucket_bounded",
            "total_files_bounded",
            "content_equals_ledger",
            "wall_flat",
        )
    )
    with open(
        os.path.join(_REPO, "tools", "FLAGSHIP_STORE_SOAK.json"), "w"
    ) as fh:
        json.dump(report, fh, indent=1, sort_keys=True)
    print(json.dumps(report, sort_keys=True))
    spark.sql(f"DROP TABLE IF EXISTS {TABLE}")
    spark.stop()
    return 0 if report["pass"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
