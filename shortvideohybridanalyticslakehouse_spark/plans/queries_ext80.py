"""Extension queries, round 80: multi-source BFS hop distances over the
MinHash-LSH similarity graph — the fourth iterative-graph family after
connected components (ext6), PageRank (ext38), and k-core (ext61).

The curation question this answers: how FAR does near-duplicate
influence spread from a seed set (here: every document whose id is
divisible by 97 that participates in any near-dup edge)? dist-1 docs
collide with a seed directly; dist 2-4 are reachable only through
chains — template families that pairwise LSH alone would not attribute
to the seeds.

Exactly SQL-replayable by the same device as k-core: a FIXED 4
expansion rounds (frontier joins edges, minus visited, distinct), so
the oracle replays the identical rounds through chained CTEs — no
convergence collect. Per-distance output rows carry a doc_id checksum
so a wrong frontier membership fails the hash, not just the count.

Scale shape: the edge list is the shared banded-LSH candidate path
(shuffle ∝ docs x bands); each round is one equi-join + one anti-join
over a frontier that can only shrink relative to the component, with
each round materialized to pin its lineage (the measured k-core fix).
Driver-side: zero collects — the loop is fixed-length and the final
aggregation is one groupBy over <= 5 distance classes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from shortvideohybridanalyticslakehouse_spark.functions import dedupfns
from shortvideohybridanalyticslakehouse_spark.plans.queries_ext import (
    _DUCK_BASES,
    _duck_shingles,
)
from shortvideohybridanalyticslakehouse_spark.plans.registry import (
    materialize,
    register,
)
from shortvideohybridanalyticslakehouse_spark.sources.batch import load_table

_ROUNDS = 4
_SEED_MOD = 97


def _duck_step(prev_v: str, prev_f: str, out_v: str, out_f: str) -> str:
    return f"""
{out_f} AS (
  SELECT DISTINCT e.dst AS doc_id
  FROM edges e JOIN {prev_f} f ON f.doc_id = e.src
  WHERE e.dst NOT IN (SELECT doc_id FROM {prev_v})
), {out_v} AS (
  SELECT doc_id FROM {prev_v} UNION ALL SELECT doc_id FROM {out_f}
)"""


_BFS_ORACLE = rf"""
WITH sh AS (
  SELECT doc_id, {_duck_shingles(2)} AS shs FROM documents
), bases AS (
  SELECT doc_id, {_DUCK_BASES.format(shs='shs')} AS hs FROM sh
), sig AS (
  SELECT doc_id,
    list_transform(range(0, 16),
      i -> list_min(list_transform(hs,
        h -> ((7919 * i + 1) * h + 104729 * i) % 1000000007))) AS sig
  FROM bases
), banded AS (
  SELECT doc_id, sig, b AS band_id,
         md5(CAST(sig[2*b + 1] AS VARCHAR) || '|'
             || CAST(sig[2*b + 2] AS VARCHAR)) AS band_hash
  FROM sig, range(0, 8) AS t(b)
), pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a JOIN banded b
    ON a.band_id = b.band_id AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id
  WHERE len(list_filter(range(1, 17),
        i -> a.sig[i] = b.sig[i])) >= 4
), edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM pairs
), f0 AS (
  SELECT DISTINCT src AS doc_id FROM edges WHERE src % {_SEED_MOD} = 0
), v0 AS (
  SELECT doc_id FROM f0
),{_duck_step('v0', 'f0', 'v1', 'f1')},{_duck_step('v1', 'f1', 'v2', 'f2')},{_duck_step('v2', 'f2', 'v3', 'f3')},{_duck_step('v3', 'f3', 'v4', 'f4')}
SELECT * FROM (
  SELECT 0 AS dist, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(coalesce(sum(doc_id), 0) AS BIGINT) AS doc_id_sum FROM f0
  UNION ALL SELECT 1, CAST(count(*) AS BIGINT),
         CAST(coalesce(sum(doc_id), 0) AS BIGINT) FROM f1
  UNION ALL SELECT 2, CAST(count(*) AS BIGINT),
         CAST(coalesce(sum(doc_id), 0) AS BIGINT) FROM f2
  UNION ALL SELECT 3, CAST(count(*) AS BIGINT),
         CAST(coalesce(sum(doc_id), 0) AS BIGINT) FROM f3
  UNION ALL SELECT 4, CAST(count(*) AS BIGINT),
         CAST(coalesce(sum(doc_id), 0) AS BIGINT) FROM f4
)
WHERE n_docs > 0
"""


@register("similarity_graph_bfs_hops", _BFS_ORACLE)
def q_similarity_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-hop frontier sizes (+ doc_id checksums) of a fixed 4-round
    multi-source BFS from seed docs (id % 97 == 0) over the near-dup
    graph: frontier -> edges equi-join -> minus visited (left_anti) ->
    distinct, each round materialized; no driver collects."""
    docs = load_table(spark, sf_dir, "documents", ensure_parallelism=True)
    with_sig = dedupfns.minhash_signatures_df(
        docs, "doc_id", "text", k=2, num_hashes=16, out_col="minhash"
    )
    pairs = (
        dedupfns.minhash_candidate_pairs(
            with_sig, id_col="doc_id", sig_col="minhash", num_hashes=16, band_size=2
        )
        .filter(F.col("est_jaccard") * 16 >= 4)
        .select("doc_a", "doc_b")
    )
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionByName(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    edges = materialize(edges)
    frontier = materialize(
        edges.filter(F.col("src") % _SEED_MOD == 0)
        .select(F.col("src").alias("doc_id"))
        .distinct()
    )
    visited = frontier
    levels = [frontier.withColumn("dist", F.lit(0))]
    for _rnd in range(1, _ROUNDS + 1):
        nxt = materialize(
            edges.join(frontier.withColumnRenamed("doc_id", "src"), "src")
            .select(F.col("dst").alias("doc_id"))
            .join(visited, "doc_id", "left_anti")
            .distinct()
        )
        levels.append(nxt.withColumn("dist", F.lit(_rnd)))
        visited = materialize(visited.unionByName(nxt))
        frontier = nxt
    all_levels = levels[0]
    for lv in levels[1:]:
        all_levels = all_levels.unionByName(lv)
    return all_levels.groupBy("dist").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.coalesce(F.sum("doc_id"), F.lit(0)).cast("bigint").alias("doc_id_sum"),
    )
