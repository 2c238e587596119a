"""Extension queries, round 61: bounded k-core peeling on the MinHash-LSH
similarity graph — the third iterative-graph family after connected
components and PageRank.

A node is in the 2-core if it keeps degree >= 2 after repeatedly deleting
nodes of degree < 2. Full k-core runs to a fixpoint; to stay exactly
SQL-replayable the query unrolls a FIXED 4 peeling rounds (enough to
converge on every fixture; the per-round removal counts the query emits
prove where convergence happened — a trailing round with removed = 0).
Each round is pure integer relational algebra: keep edges whose BOTH
endpoints survive (two semi-joins on doc keys), recount degrees (one
map-side-combinable groupBy), drop nodes under the threshold. The oracle
replays the identical rounds through chained CTEs.

Scale shape: the edge list derives from the shared banded-LSH candidate
path (shuffle ∝ docs x bands, hot buckets bounded); each round is two
shuffles on doc ids over a monotonically SHRINKING relation; the output
is O(rounds). The driver loop is fixed-length — no convergence collect.
Reference: iterative peeling is standard distributed k-core
(Montresor et al.); the reference engine has no graph surface at all —
this is beyond-reference capability for curation (the 2-core of the
near-dup graph is the set of documents embedded in template FAMILIES,
not mere pairwise collisions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from shortvideohybridanalyticslakehouse_spark.functions import dedupfns
from shortvideohybridanalyticslakehouse_spark.plans.queries_ext import (
    _DUCK_BASES,
    _duck_shingles,
)
from shortvideohybridanalyticslakehouse_spark.functions.localrel import (
    local_rows_df,
)
from shortvideohybridanalyticslakehouse_spark.plans.registry import (
    materialize,
    register,
)
from shortvideohybridanalyticslakehouse_spark.sources.batch import load_table

_K = 2
_ROUNDS = 4


def _duck_round(prev: str, out: str) -> str:
    return f"""
{out} AS (
  SELECT e.src AS doc_id
  FROM edges e
  JOIN {prev} a ON a.doc_id = e.src
  JOIN {prev} b ON b.doc_id = e.dst
  GROUP BY 1
  HAVING count(*) >= {_K}
)"""


_KCORE_ORACLE = rf"""
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
), a0 AS (
  SELECT DISTINCT src AS doc_id FROM edges
),{_duck_round('a0', 'a1')},{_duck_round('a1', 'a2')},{_duck_round('a2', 'a3')},{_duck_round('a3', 'a4')}
SELECT * FROM (
  SELECT 1 AS round, (SELECT CAST(count(*) AS BIGINT) FROM a1) AS survivors,
         (SELECT CAST(count(*) AS BIGINT) FROM a0)
         - (SELECT CAST(count(*) AS BIGINT) FROM a1) AS removed
  UNION ALL
  SELECT 2, (SELECT CAST(count(*) AS BIGINT) FROM a2),
         (SELECT CAST(count(*) AS BIGINT) FROM a1)
         - (SELECT CAST(count(*) AS BIGINT) FROM a2)
  UNION ALL
  SELECT 3, (SELECT CAST(count(*) AS BIGINT) FROM a3),
         (SELECT CAST(count(*) AS BIGINT) FROM a2)
         - (SELECT CAST(count(*) AS BIGINT) FROM a3)
  UNION ALL
  SELECT 4, (SELECT CAST(count(*) AS BIGINT) FROM a4),
         (SELECT CAST(count(*) AS BIGINT) FROM a3)
         - (SELECT CAST(count(*) AS BIGINT) FROM a4)
)
"""


@register("similarity_graph_kcore", _KCORE_ORACLE)
def q_similarity_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-round survivor/removed counts of a fixed 4-round 2-core peel of
    the MinHash-LSH near-dup graph (round with removed = 0 == converged)."""
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
    # Each round materializes its survivor set ONCE; the only driver-side
    # fetches are the O(rounds) scalar counts — the same bounded pattern
    # as the connected-components loop (queries_ext6). A checkpoint
    # (not persist) so each round's ANALYZED plan restarts from the
    # materialized blocks instead of re-analyzing an ever-deeper lineage:
    # a lazy 4-branch union re-peeled rounds 1..r for every round r
    # (37 s), persist-only still paid quadratic analysis (23 s), the
    # checkpointed loop is ~12 s at sf0.01 — and stays fully distributed.
    edges = materialize(edges)
    alive = materialize(
        edges.select("src").distinct().withColumnRenamed("src", "doc_id")
    )
    prev_n = alive.count()
    stats: list[tuple[int, int, int]] = []
    for rnd in range(1, _ROUNDS + 1):
        nxt = materialize(
            edges.join(alive.withColumnRenamed("doc_id", "src"), "src")
            .join(alive.select(F.col("doc_id").alias("dst")), "dst")
            .groupBy("src")
            .agg(F.count(F.lit(1)).alias("deg"))
            .filter(F.col("deg") >= _K)
            .select(F.col("src").alias("doc_id"))
        )
        surv = nxt.count()
        stats.append((rnd, surv, prev_n - surv))
        prev_n = surv
        alive = nxt
    return local_rows_df(
        spark, stats, "round int, survivors bigint, removed bigint"
    )
