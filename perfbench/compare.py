"""Compare two sets of benchmark runs, e.g. parent and change run
alternately on the same seeds.

    python3 perfbench/compare.py A_DIR_OR_FILES... --vs B_DIR_OR_FILES...

Inputs are run records written by run.py (``.perfbench_runs/*.json``).
Per workload and end-to-end metric it prints each side's median and
quartiles, the share of paired runs B wins (ties count for neither; the
i-th A run of a seed is paired with the i-th B run of that seed, in start
order, so repeated sets on the same seeds are all paired),
and a verdict against the bound in BENCHMARK.json:

  improved     B wins >= 9/10 of the pairs and the medians differ by more
               than A's own quartile spread, in the better direction
  worse        B's median is worse than A's by more than the bound
  unresolved   A's quartile spread is wider than the bound, unless every
               B run beats every A run
  within bound otherwise

Runs stamped noisy by their host record are left out unless
``--include-noisy``. Traced runs are compared per layer metric (median
delta), untraced runs per end-to-end metric.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load_records(items: list[str]) -> list[dict]:
    out = []
    for item in items:
        paths = sorted(glob.glob(os.path.join(item, "*.json"))) if os.path.isdir(item) else [item]
        for p in paths:
            with open(p) as fh:
                rec = json.load(fh)
            if "workload" in rec and "metrics" in rec:
                out.append(rec)
    return out


def pair_runs(a_runs: list[dict], b_runs: list[dict]) -> list[tuple[dict, dict]]:
    """Pair runs by (seed, occurrence of that seed in start order)."""
    def keyed(runs: list[dict]) -> dict[tuple[int, int], dict]:
        seen: dict[int, int] = {}
        out = {}
        for r in sorted(runs, key=lambda r: r["started"]):
            i = seen[r["seed"]] = seen.get(r["seed"], -1) + 1
            out[(r["seed"], i)] = r
        return out

    a, b = keyed(a_runs), keyed(b_runs)
    return [(a[k], b[k]) for k in sorted(a) if k in b]


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        v = values[0]
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def verdict(a: list[float], b: list[float], better: str, bound: float,
            pairs: list[tuple[float, float]]) -> tuple[str, float | None]:
    sign = -1.0 if better == "lower" else 1.0
    a_q1, a_med, a_q3 = quartiles(a)
    b_med = statistics.median(b)
    wins = [sign * (y - x) > 0 for x, y in pairs if x != y]
    win_frac = sum(wins) / len(pairs) if pairs else None
    spread = a_q3 - a_q1
    gain = sign * (b_med - a_med)
    if win_frac is not None and win_frac >= 0.9 and gain > spread:
        return "improved", win_frac
    if -gain > bound * abs(a_med):
        return "worse", win_frac
    all_better = all(sign * (y - x) > 0 for x in a for y in b)
    if spread > bound * abs(a_med) and not all_better:
        return "unresolved", win_frac
    return "within bound", win_frac


def compare(a_recs: list[dict], b_recs: list[dict], declared: dict, out=sys.stdout) -> None:
    e2e = {m["name"]: m for m in declared["end_to_end"]}
    layer_names = [m["name"] for m in declared["per_layer"]]
    workloads = sorted({r["workload"] for r in a_recs + b_recs})
    for wl in workloads:
        a_plain = [r for r in a_recs if r["workload"] == wl and not r["trace"]]
        b_plain = [r for r in b_recs if r["workload"] == wl and not r["trace"]]
        print(f"== {wl}: {len(a_plain)} A runs, {len(b_plain)} B runs", file=out)
        if a_plain and b_plain:
            print(f"  {'metric':<16} {'A median [q1, q3]':>30} {'B median [q1, q3]':>30} "
                  f"{'B/A':>7} {'wins':>5}  verdict (bound)", file=out)
            for name, m in e2e.items():
                a = [r["metrics"][name][0] for r in a_plain if name in r["metrics"]]
                b = [r["metrics"][name][0] for r in b_plain if name in r["metrics"]]
                if not a or not b:
                    continue
                pairs = [(x["metrics"][name][0], y["metrics"][name][0])
                         for x, y in pair_runs(a_plain, b_plain)
                         if name in x["metrics"] and name in y["metrics"]]
                v, win = verdict(a, b, m["better"], m["bound"], pairs)
                qa, qb = quartiles(a), quartiles(b)
                print(f"  {name:<16} {qa[1]:>12.4g} [{qa[0]:.4g}, {qa[2]:.4g}] "
                      f"{qb[1]:>12.4g} [{qb[0]:.4g}, {qb[2]:.4g}] {qb[1] / qa[1]:>7.3f} "
                      f"{'-' if win is None else f'{win:.2f}':>5}  {v} ({m['bound']})",
                      file=out)
        a_tr = [r for r in a_recs if r["workload"] == wl and r["trace"]]
        b_tr = [r for r in b_recs if r["workload"] == wl and r["trace"]]
        if a_tr and b_tr:
            print(f"  per-layer medians over {len(a_tr)} A / {len(b_tr)} B traced runs:",
                  file=out)
            for name in layer_names:
                a = [r["layers"][name][0] for r in a_tr if name in r["layers"]]
                b = [r["layers"][name][0] for r in b_tr if name in r["layers"]]
                if not a or not b:
                    continue
                ma, mb = statistics.median(a), statistics.median(b)
                if ma == mb == 0:
                    continue
                print(f"    {name:<42} {ma:>12.4g} -> {mb:>12.4g}  delta {mb - ma:+.4g}",
                      file=out)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("a", nargs="+", help="run records or directories of side A")
    ap.add_argument("--vs", nargs="+", required=True, help="run records of side B")
    ap.add_argument("--include-noisy", action="store_true")
    args = ap.parse_args(argv)
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        declared = json.load(fh)
    sides = []
    for items in (args.a, args.vs):
        recs = load_records(items)
        kept = [r for r in recs if args.include_noisy or not r["host"]["noisy"]]
        if len(kept) < len(recs):
            print(f"left out {len(recs) - len(kept)} noisy run(s)", file=sys.stderr)
        sides.append(kept)
    compare(sides[0], sides[1], declared)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
