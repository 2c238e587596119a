"""Lane list of the ``fleet_sample`` workload.

``fleet_sample`` = bench.py's 8 HEADLINE lanes + ``ks_weekend_value_shift``
+ the registry's two oracle-less sketch lanes (so the row-count gate is
exercised) + FLEET_SAMPLE, a fixed stratified sample of the other lanes.
The iterative graph/LSH family (ITERATIVE_LANES) is left out, as in the
fleet sample's definition: its lanes are eager-job bound, not per-lane
fixed-cost bound.

FLEET_SAMPLE is drawn by ``draw_sample`` from every registry lane that
passes its DuckDB oracle on the benchmark's tables, leaving out the lanes
named above and the iterative graph/LSH family (ITERATIVE_LANES),
stratified on the round-13 idle bench time at sf0.1
(tools/bench_r13_end_idle.json): 2 lanes under 1 s and 1 slower, about
the fleet's two thirds of sub-second lanes (226/349). It is frozen here
rather than re-drawn per seed so that runs with different seeds time the
same lanes; the seed sets the lane order. To redraw it:

    PYTHONPATH=. python3 tools/check_oracle.py perfbench/tables/sf0.001 > oracle.log
    python3 perfbench/lanes.py oracle.log
"""

from __future__ import annotations

import ast
import json
import os
import random
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SKETCH_LANES = ("weekly_hll_union_estimate", "value_percentiles_approx")

# Lanes dominated by eager iterative jobs; not drawn into the sample.
ITERATIVE_LANES = (
    "similarity_graph_kcore",
    "doc_similarity_pagerank",
    "similarity_graph_bfs_hops",
    "hits_hubs_authorities",
    "near_dup_clusters",
    "minhash_lsh_candidates",
    "bigram_lm_surprise",
    "market_basket_lift",
    "bm25_topk_search",
    "corpus_curation_funnel",
)
FAST_S = 1.0
DRAW = {"fast": 2, "slow": 1}

FLEET_SAMPLE: tuple[str, ...] = (
    "logrank_error_exposure",
    "tpch_q16_supplier_part_counts",
    "weighted_sample_topk",
)


def headline() -> list[str]:
    """bench.py's HEADLINE list, read from its source so that importing
    bench.py (which loads the registry at import) is not needed."""
    with open(os.path.join(ROOT, "bench.py")) as fh:
        tree = ast.parse(fh.read())
    for node in tree.body:
        if isinstance(node, ast.Assign) and any(
            getattr(t, "id", None) == "HEADLINE" for t in node.targets
        ):
            return list(ast.literal_eval(node.value))
    raise LookupError("HEADLINE not found in bench.py")


def fleet_sample() -> list[str]:
    return headline() + ["ks_weekend_value_shift", *SKETCH_LANES, *FLEET_SAMPLE]


def draw_sample(passing: set[str], seed: int = 0) -> tuple[str, ...]:
    """The stratified draw behind FLEET_SAMPLE, from the lanes in
    ``passing`` (names that pass their oracle on the benchmark's tables)."""
    with open(os.path.join(ROOT, "tools", "bench_r13_end_idle.json")) as fh:
        idle = json.load(fh)["queries"]
    taken = set(headline()) | {"ks_weekend_value_shift", *SKETCH_LANES, *ITERATIVE_LANES}
    pool = sorted(n for n in passing if n in idle and n not in taken)
    rng = random.Random(seed)
    picked = []
    for stratum, k in DRAW.items():
        lanes = [n for n in pool if (idle[n] < FAST_S) == (stratum == "fast")]
        picked.extend(rng.sample(lanes, k))
    return tuple(sorted(picked))


if __name__ == "__main__":
    with open(sys.argv[1]) as fh:
        passed = {line.split()[1].rstrip(":") for line in fh if line.startswith("PASS ")}
    print(draw_sample(passed))
