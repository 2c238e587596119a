"""Benchmark self-test: a smoke run of every workload, untraced and traced,
on the sf0.001 tables with a short stream.

    python3 perfbench/selftest.py

Checks that every metric declared in BENCHMARK.json is emitted with its
declared unit, that a planted wrong result (one lane's expected hash
perturbed) is counted as a failure, and that a planted stream failure (the
query dies in its first micro-batch) still gives a result line with
``correct: false``. Exits 0 when every check holds.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import common  # noqa: E402
import run  # noqa: E402

PLANTED_LANE = "topk_orders"
# (workload, traced, plant)
RUNS = (
    ("fleet_sample", False, PLANTED_LANE),
    ("fleet_sample", True, None),
    ("stream_flagship", False, None),
    ("stream_flagship", True, None),
    ("stream_flagship", False, "stream"),
)


def main() -> int:
    declared = run._declared()
    problems: list[str] = []
    for workload, traced, plant in RUNS:
        record = run.run_workload(workload, seed=7, seconds=3, traced=traced, plant=plant)
        line = run.result_line(record)
        wanted = declared["per_layer" if traced else "end_to_end"]
        tag = f"{workload} trace={int(traced)} plant={plant}"
        for m in wanted:
            got = line["metrics"].get(m["name"])
            if got is None or got["unit"] != m["unit"]:
                problems.append(f"{tag}: metric {m['name']} missing or wrong unit")
        if plant:
            if line["failed"] == 0 or line["correct"]:
                problems.append(f"{tag}: planted failure not caught")
        elif line["failed"]:
            problems.append(f"{tag}: {line['failed']} failures: {record['errors'][:3]}")
        print(json.dumps({"run": tag, "attempted": line["attempted"],
                          "failed": line["failed"]}))
    common.shutdown_jvm()
    for p in problems:
        print("SELFTEST FAIL:", p)
    print("SELFTEST", "FAILED" if problems else "PASSED")
    return 1 if problems else 0


if __name__ == "__main__":
    raise SystemExit(main())
