"""Extension queries, round 6: near-dup cluster formation (iterative
connected components), blocked fuzzy string matching, and time-series
gap filling — each with a DuckDB oracle (the CC oracle is a recursive
CTE, so even the iterative algorithm is hash-checked, not rows-only).

These finish the dedup pipeline the earlier rounds built pair-by-pair:
shingle -> MinHash/LSH -> candidate -> exact-Jaccard verify (COVERAGE.md
extension table) ends at PAIRS; a training-data dedup actually needs the
transitive CLUSTERS and one canonical survivor per cluster. The
reference has nothing iterative at all (SURVEY.md §4 — single-pass
streaming plans only), so this is pure extension surface.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from shortvideohybridanalyticslakehouse_spark.functions import dedupfns
from shortvideohybridanalyticslakehouse_spark.plans.registry import (
    materialize,
    register,
    release_materialized,
)
from shortvideohybridanalyticslakehouse_spark.sources.batch import load_table


def connected_components(
    edges: DataFrame, src: str = "src", dst: str = "dst", max_iter: int = 20
) -> DataFrame:
    """Min-label propagation over an undirected edge list.

    Returns (node, cluster_id) where cluster_id = min node id reachable.
    Each round: every node takes min(own label, neighbors' labels) — a
    union + groupBy-min, i.e. one shuffle on node per round, converging
    in O(graph diameter) rounds (near-dup clusters are near-cliques, so
    2-3 rounds in practice). Convergence test = sum(labels), which is
    monotone non-increasing and stable exactly at the fixpoint — one
    cheap scalar agg instead of a change-detect join.

    The driver-side loop is bounded (max_iter) and each step is fully
    distributed; at 100 TB this is the standard large-graph CC shape
    (alternating star contractions would cut rounds further; diameter
    here is tiny so the simple form wins).
    """
    # The edge derivation upstream (e.g. a Jaccard self-join) is expensive;
    # materialize it ONCE (the r11 persist-the-union shape executed the
    # upstream join once per union branch at materialization), then
    # symmetrize over the materialized blocks. The checkpointed edge count
    # is a free byproduct and funds two scale-adaptive choices (guide
    # §2.2/§3.1): partition the per-round frames by measured size instead
    # of the session's shuffle constant (near-dup edge sets are tiny
    # relative to the corpus — 32-task stages on KB-sized frames were pure
    # scheduling overhead, profiled r12), and broadcast the label frame
    # into the per-round join while it fits (labels <= 2x edges rows), so
    # the edge list never crosses an Exchange; past the envelope
    # (SVH_CC_BCAST_MAX_NODES) the shuffle join returns — same fixpoint.
    base = materialize(
        edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
    )
    n_edges = base.count()
    nparts = int(max(1, min(4096, -(-n_edges // 500_000))))
    bcast_labels = 2 * n_edges <= int(
        os.environ.get("SVH_CC_BCAST_MAX_NODES", "5000000")
    )
    sym = base.union(base.select(F.col("d").alias("s"), F.col("s").alias("d")))
    labels = (
        sym.select(F.col("s").alias("node"))
        .distinct()
        .coalesce(nparts)
        .withColumn("cluster_id", F.col("node"))
    )
    prev_sum = None
    for _ in range(max_iter):
        lab = F.broadcast(labels) if bcast_labels else labels
        neighbor = sym.join(lab, sym.s == lab.node).select(
            F.col("d").alias("node"), "cluster_id"
        )
        nxt = materialize(
            neighbor.union(labels)
            .groupBy("node")
            .agg(F.min("cluster_id").alias("cluster_id"))
            .coalesce(nparts),
            eager=False,
        )
        # one tiny action per round fills the new labels from the previous
        # round's blocks, which are then superseded
        cur = nxt.agg(F.sum("cluster_id")).collect()[0][0]
        release_materialized(labels)
        labels = nxt
        if cur == prev_sum:
            break
        prev_sum = cur
    return labels


_DUCK_SHINGLES_3 = (
    r"list_distinct(list_transform("
    r"range(1, greatest(len(regexp_split_to_array(lower(trim(text)), '\s+')) - 2, 1) + 1), "
    r"i -> array_to_string(list_slice(regexp_split_to_array(lower(trim(text)), '\s+'), i, i + 2), ' ')))"
)

# Recursive-CTE twin of the label-propagation loop: transitive closure
# then min(reachable) — identical fixpoint, tractable because the edge
# set is already thresholded (≥ 0.5 Jaccard keeps ~5% of candidates).
_CLUSTERS_ORACLE = rf"""
WITH RECURSIVE sh AS (
  SELECT doc_id, {_DUCK_SHINGLES_3} AS shs FROM documents
), sized AS (
  SELECT doc_id, shs, len(shs) AS sh_size FROM sh
), ex AS (
  SELECT doc_id, sh_size,
         CAST(('0x' || substr(md5(unnest(shs)), 1, 15)) AS BIGINT) AS shingle_h
  FROM sized
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.sh_size AS size_a, b.sh_size AS size_b,
         CAST(count(*) AS BIGINT) AS n_inter
  FROM ex a JOIN ex b ON a.shingle_h = b.shingle_h AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4
), edges AS (
  SELECT doc_a, doc_b FROM inter
  WHERE n_inter / CAST(size_a + size_b - n_inter AS DOUBLE) >= 0.5
), sym AS (
  SELECT doc_a AS s, doc_b AS d FROM edges
  UNION SELECT doc_b, doc_a FROM edges
), reach(node, r) AS (
  SELECT s, s FROM sym
  UNION
  SELECT sym.d, reach.r FROM reach JOIN sym ON sym.s = reach.node
), labels AS (
  SELECT node, min(r) AS cluster_id FROM reach GROUP BY node
)
SELECT
  CAST(cluster_id AS BIGINT) AS cluster_id,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(max(node) AS BIGINT) AS max_doc
FROM labels
GROUP BY cluster_id
"""


@register("near_dup_clusters", _CLUSTERS_ORACLE)
def q_near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTERS: 3-gram Jaccard ≥ 0.5 pairs as edges,
    connected components by min-label propagation, one row per cluster
    with its size and canonical id (min doc_id = the survivor a dedup
    writer keeps; max_doc pins membership, not just counts).
    """
    docs = load_table(spark, sf_dir, "documents", ensure_parallelism=True)
    edges = dedupfns.exact_jaccard_pairs(
        docs, "doc_id", "text", k=3, min_jaccard=0.5
    )
    labels = connected_components(edges, "doc_a", "doc_b")
    return labels.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.max("node").alias("max_doc"),
    )


# ---------------------------------------------------------------------------
# Blocked fuzzy string matching (levenshtein join)
# ---------------------------------------------------------------------------

# The blocking key (last token) turns |names|² comparisons into
# per-block ones — the only fuzzy-join shape that scales: the equi-join
# shuffles on the block key and levenshtein runs post-join per pair,
# never as a cross-product predicate.
_FUZZY_ORACLE = """
WITH names AS (
  SELECT DISTINCT p_name FROM part
), pairs AS (
  SELECT a.p_name AS name_a, b.p_name AS name_b,
         levenshtein(a.p_name, b.p_name) AS dist
  FROM names a JOIN names b
    ON split_part(a.p_name, ' ', -1) = split_part(b.p_name, ' ', -1)
   AND a.p_name < b.p_name
)
SELECT name_a, name_b, CAST(dist AS BIGINT) AS dist
FROM pairs
WHERE dist <= 4
"""


@register("fuzzy_part_name_pairs", _FUZZY_ORACLE)
def q_fuzzy_part_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy part-name matching: distinct names blocked on their last
    token, edit distance ≤ 4 within a block. Spark and DuckDB both
    implement classic Levenshtein, so the distances are oracle-exact.
    """
    names = (
        load_table(spark, sf_dir, "part")
        .select("p_name")
        .distinct()
        .withColumn("block", F.element_at(F.split(F.col("p_name"), " "), -1))
    )
    a = names.select(F.col("p_name").alias("name_a"), F.col("block").alias("ba"))
    b = names.select(F.col("p_name").alias("name_b"), F.col("block").alias("bb"))
    return (
        a.join(b, (F.col("ba") == F.col("bb")) & (F.col("name_a") < F.col("name_b")))
        .withColumn("dist", F.levenshtein(F.col("name_a"), F.col("name_b")).cast("bigint"))
        .filter(F.col("dist") <= 4)
        .select("name_a", "name_b", "dist")
    )


# ---------------------------------------------------------------------------
# Time-series gap filling (sequence + explode zero-fill)
# ---------------------------------------------------------------------------

# sequence() manufactures the dense per-user day grid JVM-side (no UDF,
# no driver loop); the grid explodes to |users| x |span| rows — bounded,
# and partitioned by the same user_id key the activity agg used.
_GAPFILL_ORACLE = """
WITH daily AS (
  SELECT user_id, date_trunc('day', ts) AS day,
         CAST(count(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1, 2
), spans AS (
  SELECT user_id, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY user_id
), grid AS (
  SELECT user_id,
         unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
  FROM spans
), filled AS (
  SELECT g.user_id, g.day, coalesce(d.n_events, 0) AS n_events
  FROM grid g LEFT JOIN daily d
    ON g.user_id = d.user_id AND g.day = d.day
)
SELECT
  CAST(day AS TIMESTAMP) AS day,
  CAST(count(*) AS BIGINT) AS n_users_in_span,
  CAST(sum(CASE WHEN n_events = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_gap_users,
  CAST(sum(n_events) AS BIGINT) AS total_events
FROM filled
GROUP BY day
"""


@register("daily_activity_gapfill", _GAPFILL_ORACLE)
def q_daily_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-filled daily activity: each user's [first, last] active-day
    span densified with sequence()+explode, silent days join as zero
    (the resample-then-fill primitive time-series features need — a
    plain groupBy cannot see the missing rows).
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day")
    )
    daily = ev.groupBy("user_id", "day").agg(F.count(F.lit(1)).alias("n_events"))
    spans = daily.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    grid = spans.select(
        "user_id",
        F.explode(
            F.sequence(F.col("d0"), F.col("d1"), F.expr("INTERVAL 1 DAY"))
        ).alias("day"),
    )
    filled = grid.join(daily, ["user_id", "day"], "left").select(
        "day", F.coalesce(F.col("n_events"), F.lit(0)).alias("n_events")
    )
    return filled.groupBy("day").agg(
        F.count(F.lit(1)).alias("n_users_in_span"),
        F.sum((F.col("n_events") == 0).cast("bigint")).alias("n_gap_users"),
        F.sum("n_events").alias("total_events"),
    )
