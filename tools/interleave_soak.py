"""Randomized maintenance-interleaving soak (VERDICT r8 #5).

Erasure, compaction, and MOR appends each have crash tests, but only in
fixed orders. This drives N random interleavings of
{append, erase, compact} against a bucketed gold table, with a crash
injected at a random swap point on a random subset of operations, and
checks after EVERY step:

  1. the exchange-free window read still plans with zero Exchange,
  2. the table's MOR content equals a driver-side model (latest version
     per (video_id, minute)) — i.e. each op either fully applied or fully
     rolled back, never half,
  3. erased keys that the model says are gone ARE gone.

Crash injection monkeypatches ddl._swap_table_dir with a wrapper that
performs the real swap steps up to a chosen point and raises; recovery is
whatever recover_bucketed_table does on the next op (it runs first inside
compact/erase) — exactly the production path. Crash points:

  0: tmp fully built, swap not started      -> rollback (loc intact)
  1: loc renamed to ._old, tmp not promoted -> rollback via old->loc
  2: tmp promoted, ._old not pruned         -> op APPLIED, old pruned

Usage: python tools/interleave_soak.py [--seeds N] [--ops M]
Writes tools/INTERLEAVE_SOAK.json; exit 0 iff every invariant held.

The same engine backs tests/test_maintenance_interleaving.py (few seeds).
"""

from __future__ import annotations

import json
import os
import random
import shutil
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

from pyspark.sql import functions as F  # noqa: E402

from shortvideohybridanalyticslakehouse_spark.plans import ddl  # noqa: E402
from shortvideohybridanalyticslakehouse_spark.operators.rolling import (  # noqa: E402
    rolling_range_sums,
)

T0 = 1_700_000_000
N_BUCKETS = 8


class _InjectedCrash(RuntimeError):
    pass


def _crashing_swap(point: int):
    """A _swap_table_dir twin that dies at ``point`` (see module doc)."""

    def swap(spark, table_name, loc, tmp):
        old = loc + "._old"
        shutil.rmtree(old, ignore_errors=True)
        if point == 0:
            raise _InjectedCrash(f"crash@{point}")
        os.rename(loc, old)
        if point == 1:
            raise _InjectedCrash(f"crash@{point}")
        os.rename(tmp, loc)
        if point == 2:
            raise _InjectedCrash(f"crash@{point}")
        shutil.rmtree(old, ignore_errors=True)
        spark.sql(f"REFRESH TABLE {table_name}")

    return swap


def _rows(spark, vids, minutes, ver):
    n = len(vids) * len(minutes)
    return spark.range(0, n).select(
        (F.col("id") % len(vids) + min(vids)).alias("video_id"),
        F.timestamp_seconds(
            F.lit(T0)
            + (F.col("id") / len(vids)).cast("long") * 60
            + F.lit(min(minutes)) * 60
        ).alias("minute"),
        ((F.col("id") % 7) + ver).cast("double").alias("n"),
        F.lit(ver).cast("bigint").alias("ver"),
    )


def _model_rows(vids, minutes, ver):
    """Driver-side mirror of _rows."""
    vids, minutes = list(vids), list(minutes)
    out = []
    for i in range(len(vids) * len(minutes)):
        vid = i % len(vids) + min(vids)
        minute = T0 + (i // len(vids)) * 60 + min(minutes) * 60
        out.append((vid, minute, float(i % 7 + ver), ver))
    return out


def _mor_latest(physical):
    """Latest version per (video_id, minute): ver desc (ties impossible —
    appends always bump ver)."""
    best = {}
    for vid, minute, n, ver in physical:
        k = (vid, minute)
        if k not in best or ver > best[k][3]:
            best[k] = (vid, minute, n, ver)
    return set(best.values())


def _actual_mor(spark, table):
    mor = ddl.mor_read(spark, table, ["video_id", "minute"], ["ver"])
    # epoch seconds computed server-side: collect-side datetime.timestamp()
    # would re-interpret in the driver's local zone
    rows = mor.select(
        "video_id",
        F.col("minute").cast("long").alias("m"),
        "n",
        "ver",
    ).collect()
    return {(r.video_id, r.m, r.n, r.ver) for r in rows}


def _assert_no_exchange(spark, table):
    mor = ddl.mor_read(spark, table, ["video_id", "minute"], ["ver"])
    rolled = rolling_range_sums(
        mor,
        partition_cols=["video_id"],
        ts_col="minute",
        sum_cols=["n"],
        minutes=30,
    )
    plan = rolled._jdf.queryExecution().executedPlan().toString()
    assert "Window" in plan, "rolling window pruned from plan"
    assert "Exchange" not in plan, f"Exchange appeared:\n{plan}"


def run_interleaving(spark, table: str, seed: int, n_ops: int) -> dict:
    """One random interleaving; returns a step log. Raises on any
    invariant violation."""
    rng = random.Random(seed)
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    base_vids = range(0, 16)
    ddl.write_bucketed_sorted_table(
        _rows(spark, base_vids, range(0, 6), ver=0),
        table,
        "video_id",
        ["minute"],
        n_buckets=N_BUCKETS,
    )
    physical = _model_rows(base_vids, range(0, 6), 0)
    next_ver = 1
    erased: set[int] = set()
    log = []
    real_swap = ddl._swap_table_dir
    try:
        for step in range(n_ops):
            op = rng.choice(["append", "erase", "compact"])
            crash_point = (
                rng.choice([0, 1, 2]) if rng.random() < 0.5 else None
            )
            applied = True
            crashed = False
            live_keys = sorted({v for v, *_ in physical})
            if op == "erase" and not live_keys:
                op = "append"  # nothing to erase; keep the step count
            if op == "append":
                # appends don't go through the swap; never crash-injected.
                # _rows generates CONSECUTIVE keys from min(vids), so the
                # append block must be a contiguous run that avoids every
                # erased key (else the harness would "resurrect" a key the
                # model considers gone — a bookkeeping artifact, not an
                # engine bug); fall back to fresh key space when no clean
                # block remains
                blocks = [
                    s
                    for s in range(0, len(base_vids) - 2)
                    if not any(s + i in erased for i in range(3))
                ]
                if blocks:
                    s = rng.choice(blocks)
                else:
                    s = 100 + step * 3
                vids = range(s, s + 3)
                lo = rng.randrange(0, 4)
                ddl.append_bucketed_sorted(
                    _rows(spark, vids, range(lo, lo + 3), next_ver),
                    table,
                    "video_id",
                    ["minute"],
                    n_buckets=N_BUCKETS,
                )
                physical += _model_rows(vids, range(lo, lo + 3), next_ver)
                next_ver += 1
            else:
                keys = (
                    sorted(rng.sample(live_keys, min(2, len(live_keys))))
                    if op == "erase"
                    else []
                )
                if crash_point is not None:
                    ddl._swap_table_dir = _crashing_swap(crash_point)
                try:
                    if op == "erase":
                        ddl.delete_keys_bucketed(
                            spark, table, "video_id", keys, ["minute"]
                        )
                    else:
                        ddl.compact_bucketed_table(
                            spark, table, "video_id", ["minute"],
                            ["video_id", "minute"], ["ver"],
                        )
                    op_applied = True
                except _InjectedCrash:
                    crashed = True
                    # crash point 2 means the new dir was already
                    # promoted: the op APPLIED; points 0/1 roll back on
                    # recovery (._old restored / ._tmp pruned)
                    op_applied = crash_point == 2
                finally:
                    ddl._swap_table_dir = real_swap
                applied = op_applied
                if op_applied:
                    if op == "erase":
                        physical = [r for r in physical if r[0] not in keys]
                        erased |= set(keys)
                    else:
                        # compaction folds MOR versions into latest-only
                        physical = list(_mor_latest(physical))
                if crashed:
                    # production path: next maintenance call's recovery;
                    # run it explicitly so reads below see a whole table
                    ddl.recover_bucketed_table(ddl.table_location(spark, table))
                    spark.sql(f"REFRESH TABLE {table}")

            # ---- invariants after every step ----
            spark.sql(f"REFRESH TABLE {table}")
            _assert_no_exchange(spark, table)
            want = _mor_latest(physical)
            got = _actual_mor(spark, table)
            assert got == want, (
                f"seed={seed} step={step} op={op} crash={crash_point} "
                f"applied={applied}: MOR mismatch "
                f"(missing={sorted(want - got)[:5]}, "
                f"extra={sorted(got - want)[:5]})"
            )
            gone = {v for v, *_ in physical}
            for k in erased:
                assert k not in gone, f"erased key {k} reappeared"
            log.append(
                {
                    "step": step,
                    "op": op,
                    "crash_point": crash_point,
                    "applied": applied,
                    "rows": len(want),
                }
            )
    finally:
        ddl._swap_table_dir = real_swap
        spark.sql(f"DROP TABLE IF EXISTS {table}")
    return {"seed": seed, "steps": log}


def main() -> int:
    seeds = 100
    n_ops = 5
    argv = sys.argv[1:]
    if "--seeds" in argv:
        seeds = int(argv[argv.index("--seeds") + 1])
    if "--ops" in argv:
        n_ops = int(argv[argv.index("--ops") + 1])

    from shortvideohybridanalyticslakehouse_spark.session import get_spark

    spark = get_spark("interleave-soak")
    spark.sparkContext.setLogLevel("ERROR")
    results = []
    crashes = rollbacks = 0
    for seed in range(seeds):
        r = run_interleaving(spark, "gold_interleave_soak", seed, n_ops)
        for s in r["steps"]:
            if s["crash_point"] is not None:
                crashes += 1
                if not s["applied"]:
                    rollbacks += 1
        results.append(r)
        if (seed + 1) % 10 == 0:
            print(f"{seed + 1}/{seeds} interleavings green "
                  f"({crashes} crashes, {rollbacks} rollbacks)")
    summary = {
        "seeds": seeds,
        "ops_per_seed": n_ops,
        "total_steps": seeds * n_ops,
        "crashes_injected": crashes,
        "rollbacks": rollbacks,
        "applied_after_crash": crashes - rollbacks,
        "all_invariants_held": True,
    }
    out = os.path.join(_REPO, "tools", "INTERLEAVE_SOAK.json")
    with open(out, "w") as fh:
        json.dump({"summary": summary}, fh, indent=1)
    print("SUMMARY:", json.dumps(summary))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
