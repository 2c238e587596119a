"""Deferred checkpoint releases (plans.registry.defer_release) must
actually free blocks at the next query build."""

from __future__ import annotations

from shortvideohybridanalyticslakehouse_spark.plans.registry import (
    drain_deferred,
    load_all,
)

SF_DIR = "/root/testdata/sf0.001"


def test_deferred_checkpoints_released_at_next_build(spark):
    """single_pass / loop checkpoints are deferred-released: after the
    NEXT registered builder runs, no blocks from the prior lane linger."""
    registry = load_all()
    fn, _ = registry["similarity_graph_kcore"]  # defers edge/alive blocks
    # Diff against the pre-existing set (the hygiene-gate convention):
    # other surfaces — e.g. the serving pipeline's documented
    # one-generation rolled cache — may legitimately hold blocks when
    # the full suite runs this test mid-session; THIS lane's deferred
    # blocks are what must appear and then drain.
    before = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    df = fn(spark, SF_DIR)
    df.collect()

    def _new():
        return (
            set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
            - before
        )

    assert _new()  # blocks deferred, not leaked
    drain_deferred()
    assert _new() == set()
