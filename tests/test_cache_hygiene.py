"""Cache lifetimes are query-scoped: every frame a builder materializes
belongs to its query's scope (VERDICT r4 'what's wrong' #2 — cache blocks
accumulating across a 161-query bench session).

The iterative/composite builders (PageRank, triangles, curation funnel,
k-center, HITS) collect their BOUNDED final frame and release the scope
inside the builder (registry.finalize_bounded); this gate runs them and
asserts the SparkContext holds zero new persisted RDDs afterwards. Lanes
whose O(rows) result still reads materialized blocks keep them until the
scope is released; once it is, they too must hold none.
"""

from __future__ import annotations

import pytest

from shortvideohybridanalyticslakehouse_spark.plans.registry import (
    load_all,
    release_scope,
)

REGISTRY = load_all()
SF_DIR = "/root/testdata/sf0.001"

ITERATIVE = [
    "doc_similarity_pagerank",
    "similarity_graph_triangles",
    "corpus_curation_funnel",
    "kcenter_coreset_greedy",
    "hits_hubs_authorities",
]

# Lanes that once held checkpoint or persist blocks past the release of
# their query's scope (bare checkpoints, HITS rounds, the last re-band
# frontier), so the blocks stayed until the ContextCleaner's GC pass.
SCOPED = [
    "bigram_lm_surprise",
    "bootstrap_mean_purchase_ci",
    "cluster_aware_split",
    "embedding_lsh_topk",
    "embedding_pairs_topk",
    "exact_substring_spans",
    "hits_hubs_authorities",
    "simhash_closest_pairs",
]


def _persisted_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


@pytest.mark.parametrize("name", ITERATIVE)
def test_no_persisted_rdds_after_query(spark, name):
    # Diff against the pre-existing set: other session surfaces (e.g. the
    # serving pipeline's documented one-generation cache) may legitimately
    # hold blocks; THIS query must not add any.
    before = _persisted_ids(spark)
    fn, _ = REGISTRY[name]
    fn(spark, SF_DIR).collect()
    leaked = _persisted_ids(spark) - before
    assert not leaked, f"{name}: persisted RDD(s) outlive the query: {leaked}"


@pytest.mark.parametrize("name", SCOPED)
def test_no_persisted_rdds_after_scope_release(spark, name):
    before = _persisted_ids(spark)
    fn, _ = REGISTRY[name]
    fn(spark, SF_DIR).collect()
    release_scope()
    leaked = _persisted_ids(spark) - before
    assert not leaked, f"{name}: persisted RDD(s) outlive the scope: {leaked}"


def test_release_materialized_frees_checkpoint_blocks(spark):
    """r12: iterative builders switched persist -> eager localCheckpoint
    (plan truncation). Checkpoint blocks are NOT CacheManager entries —
    registry.release_materialized must drop them from the context's
    persistent-RDD registry immediately, not whenever the
    ContextCleaner's weak-ref pass happens to run."""
    from shortvideohybridanalyticslakehouse_spark.plans.registry import (
        release_materialized,
    )

    before = _persisted_ids(spark)
    df = spark.range(1000).localCheckpoint()
    assert df.count() == 1000
    assert _persisted_ids(spark) - before, "checkpoint registered no blocks"
    release_materialized(df)
    assert _persisted_ids(spark) - before == set()
