"""Scale probe for the round-5 continuation operators: wall time at
sf0.01 vs sf0.1 (10x rows) and the per-unit cost trend. A scale-shaped
plan should grow sublinearly in wall clock on a fixed-core host until
cores saturate; superlinear growth flags a plan that won't survive
100x.

Usage: python tools/scale_probe_round5b.py [names...]
Prints one JSON line per (query, sf) with wall seconds and rows.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from shortvideohybridanalyticslakehouse_spark.plans.registry import load_all
from shortvideohybridanalyticslakehouse_spark.session import get_spark

DEFAULT = [
    "max_concurrent_sessions",
    "similarity_graph_kcore",
    "market_basket_lift",
    "customer_supplier_linkage",
    "signup_purchase_survival",
    "rfm_segments",
    "user_spend_gini",
    "interval_union_coverage",
    "event_type_ewma",
    "multimodal_mulaw_decode",
]

SFS = ["/root/testdata/sf0.01", "/root/testdata/sf0.1"]


def main() -> None:
    names = sys.argv[1:] or DEFAULT
    spark = get_spark("scale-probe-r5b")
    spark.sparkContext.setLogLevel("ERROR")
    reg = load_all()
    # machinery warmup (JVM/codegen/python workers)
    reg["events_1min_agg"][0](spark, SFS[0]).collect()
    for name in names:
        fn, _ = reg[name]
        for sf in SFS:
            trials = []
            for _ in range(3):
                t0 = time.time()
                rows = len(fn(spark, sf).collect())
                trials.append(time.time() - t0)
            trials.sort()
            print(
                json.dumps(
                    {
                        "query": name,
                        "sf_dir": sf,
                        "rows": rows,
                        "wall_s_median": round(trials[1], 3),
                        "wall_s_spread": round(trials[-1] - trials[0], 3),
                    }
                ),
                flush=True,
            )


if __name__ == "__main__":
    main()
