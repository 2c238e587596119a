"""ExactSubstr memory cap (VERDICT r12 #3): the group-chunked kernel
must produce output identical to a single flush per task, including
under a tiny token budget that forces many flushes, and identical to
the one-concat kernel on planted anchor skew (one boilerplate string
shared by many docs)."""

from __future__ import annotations

import pytest

from shortvideohybridanalyticslakehouse_spark.plans.registry import load_all

SF_DIR = "/root/testdata/sf0.001"

LANES = [
    "exact_substring_spans",
    "exact_substring_removal",
    "span_provenance_matrix",
    "doc_self_repetition",
]


@pytest.mark.parametrize("lane", LANES)
def test_capped_equals_uncapped(spark, lane, monkeypatch):
    fn, _ = load_all()[lane]
    # a budget no partition reaches: the kernel flushes once per task,
    # the one-concat reference
    monkeypatch.setenv("SVH_SA_MAX_TOKENS", str(2**62))
    base = sorted(tuple(r) for r in fn(spark, SF_DIR).collect())
    monkeypatch.setenv("SVH_SA_MAX_TOKENS", "64")  # force many flushes
    capped = sorted(tuple(r) for r in fn(spark, SF_DIR).collect())
    assert base == capped
    assert len(base) > 0


def test_capped_kernel_planted_skew():
    """Direct kernel check on a skewed bucket layout: one hot anchor
    group bigger than the budget plus many small groups, spread across
    several arrow batches, sorted by ahash as the plan guarantees."""
    import pandas as pd

    from shortvideohybridanalyticslakehouse_spark.functions.suffixes import (
        partition_covered_positions,
        partition_covered_positions_capped,
    )

    rows = []
    # hot group: 40 snippets of the same 12-token boilerplate across 20 docs
    boiler = [f"tok{i}" for i in range(12)]
    for d in range(20):
        for s in range(2):
            rows.append((0, d, 1 + s, boiler))
    # cold groups: pairs of docs sharing an 8-gram
    for g in range(1, 30):
        shared = [f"g{g}_{i}" for i in range(8)] + [f"pad{g}a"] * 4
        rows.append((g, 100 + 2 * g, 1, shared))
        rows.append((g, 101 + 2 * g, 1, shared[:8] + [f"pad{g}b"] * 4))
    rows.sort(key=lambda r: r[0])  # sorted by ahash, as in the plan
    pdf = pd.DataFrame(rows, columns=["ahash", "doc_id", "start", "snip"])
    # split into small batches so groups straddle batch boundaries
    batches = [pdf.iloc[i : i + 7] for i in range(0, len(pdf), 7)]

    def collect(gen):
        outs = list(gen)
        if not outs:
            return set()
        allp = pd.concat(outs, ignore_index=True)
        return set(zip(allp.doc_id, allp.pos))

    full = collect(
        partition_covered_positions(iter([pdf.drop(columns="ahash")]), 8)
    )
    capped = collect(
        partition_covered_positions_capped(iter(batches), 8, max_tokens=50)
    )
    assert capped == full
    assert len(full) > 0
