"""A query's materialized frames (plans.registry.materialize) must
actually be freed when the next query builds."""

from __future__ import annotations

from shortvideohybridanalyticslakehouse_spark.plans.registry import (
    load_all,
    release_scope,
)

SF_DIR = "/root/testdata/sf0.001"


def test_deferred_checkpoints_released_at_next_build(spark):
    """single_pass / loop checkpoints live in the query's scope: once the
    NEXT registered builder releases it, no blocks from the prior lane
    linger."""
    registry = load_all()
    fn, _ = registry["similarity_graph_kcore"]  # keeps edge/alive blocks
    # Diff against the pre-existing set (the hygiene-gate convention):
    # other surfaces — e.g. the serving pipeline's documented
    # one-generation rolled cache — may legitimately hold blocks when
    # the full suite runs this test mid-session; THIS lane's scoped
    # blocks are what must appear and then drain.
    before = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    df = fn(spark, SF_DIR)
    df.collect()

    def _new():
        return (
            set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
            - before
        )

    assert _new()  # blocks held by the scope, not leaked
    release_scope()
    assert _new() == set()
