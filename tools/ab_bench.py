"""Paired A/B bench of two git revisions (guide §1).

Host speed drifts by 10-50% across minutes (CPU steal from co-tenants),
so a baseline recorded earlier is meaningless per lane. Both revisions
are checked out as git worktrees and measured INTERLEAVED — per lane
and trial one fresh process per arm, alternating which arm runs first —
so the per-arm MEDIAN over >=3 trials is directly comparable.

Usage: python tools/ab_bench.py [--trials N] REV_A REV_B lane [lane ...]
Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS.

A trial process warms up like bench.py, builds and runs the lane once
untimed, then times the build plus bench.py's xxhash64-of-struct sum.
The timed build starts with no cached frames: between the two builds the
child clears Spark's cache and releases the registry's materialized
scope, so nothing the untimed build left behind serves the timed one.
"""

from __future__ import annotations

import argparse
import os
import subprocess
import sys
import tempfile
import time


def child(lane: str) -> None:
    sys.path.insert(0, os.getcwd())  # the revision's worktree
    from pyspark.sql import functions as F

    from shortvideohybridanalyticslakehouse_spark.plans.registry import (
        load_all,
        release_scope,
    )
    from shortvideohybridanalyticslakehouse_spark.session import get_spark

    fn, _ = load_all()[lane]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("svh-ab-bench")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).groupBy((F.col("id") % 10).alias("k")).agg(
        F.sum("id")
    ).collect()
    for timed in (False, True):
        if timed:
            spark.catalog.clearCache()
            release_scope()
        t0 = time.time()
        df = fn(spark, sf_dir)
        h = F.xxhash64(F.to_json(F.struct(*df.columns)))
        df.select(F.sum(h)).collect()
    print(time.time() - t0)
    spark.stop()


def steal() -> int:
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8])


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--trials", type=int, default=3)
    ap.add_argument("revs", nargs=2, metavar="REV")
    ap.add_argument("lanes", nargs="+")
    args = ap.parse_args()
    with tempfile.TemporaryDirectory(prefix="ab-bench-") as tmp:
        trees = [os.path.join(tmp, arm) for arm in "AB"]
        try:
            for tree, rev in zip(trees, args.revs):
                git = ["git", "worktree", "add", "-q", "--detach", tree, rev]
                subprocess.run(git, check=True)
            print(f"# A: {args.revs[0]}  B: {args.revs[1]}  trials={args.trials}")
            cmd = [sys.executable, os.path.abspath(__file__), "--child"]
            for lane in args.lanes:
                times: list[list[float]] = [[], []]
                s0 = steal()
                for t in range(args.trials):
                    for arm in (0, 1) if t % 2 == 0 else (1, 0):
                        out = subprocess.run(
                            cmd + [lane], cwd=trees[arm], check=True,
                            capture_output=True, text=True,
                        ).stdout
                        times[arm].append(float(out.split()[-1]))
                med = [sorted(ts)[len(ts) // 2] for ts in times]
                arms = "  ".join(
                    f"{ab} med={m:.3f}s {[round(x, 2) for x in ts]}"
                    for ab, m, ts in zip("AB", med, times)
                )
                print(
                    f"{lane}: {arms}  B/A={med[1] / med[0]:.3f} "
                    f"steal={steal() - s0}j",
                    flush=True,
                )
        finally:
            for tree in trees:
                subprocess.run(["git", "worktree", "remove", "--force", tree])


if __name__ == "__main__":
    if sys.argv[1:2] == ["--child"]:
        child(sys.argv[2])
    else:
        main()
