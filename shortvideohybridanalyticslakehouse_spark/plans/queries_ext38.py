"""Extension queries, round 38: PageRank over the near-dup similarity
graph — the second iterative-algorithm family (connected components being
the first), with a fully SQL-reproducible fixed-iteration oracle.

Determinism for an iterative double algorithm: every cross-row
accumulation (the per-target contribution sum) happens in DECIMAL over
per-row values that were QUANTIZED (round 12) as doubles first, and each
iteration's rank is re-quantized — so partition order cannot perturb a
single bit, and DuckDB replays the identical arithmetic through chained
CTEs. Three iterations, damping 0.85, degree-normalized push.
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
    finalize_bounded,
    materialize,
    register,
)
from shortvideohybridanalyticslakehouse_spark.sources.batch import load_table

_DAMP = "0.85"
_BASE = "0.15"
_ITERS = 3



def _duck_iter(prev: str, out: str) -> str:
    return f"""
{out} AS (
  SELECT n.doc_id,
         CAST(round({_BASE} + {_DAMP} * CAST(coalesce(s.acc, 0) AS DOUBLE), 12)
              AS DECIMAL(28,12)) AS rank
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS doc_id,
           sum(CAST(round(CAST(p.rank AS DOUBLE) / d.deg, 12)
               AS DECIMAL(28,12))) AS acc
    FROM edges e
    JOIN {prev} p ON p.doc_id = e.src
    JOIN degrees d ON d.doc_id = e.src
    GROUP BY 1
  ) s ON s.doc_id = n.doc_id
)"""


_PAGERANK_ORACLE = rf"""
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
), nodes AS (
  SELECT DISTINCT doc_id FROM documents
), degrees AS (
  SELECT src AS doc_id, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY 1
), it0 AS (
  SELECT doc_id, CAST(1.0 AS DECIMAL(28,12)) AS rank FROM nodes
),{_duck_iter('it0', 'it1')},{_duck_iter('it1', 'it2')},{_duck_iter('it2', 'it3')}
SELECT doc_id, round(CAST(rank AS DOUBLE), 9) AS pagerank
FROM it3
ORDER BY pagerank DESC, doc_id ASC
LIMIT 20
"""


@register("doc_similarity_pagerank", _PAGERANK_ORACLE)
def q_doc_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 documents by PageRank over the MinHash-LSH similarity graph
    (edges: candidate pairs with signature agreement >= 4/16, symmetric;
    dangling/isolated docs keep the base rank). Centrality here surfaces
    TEMPLATE documents — the hubs of near-dup neighborhoods a curation
    pass should inspect first.

    Plan per iteration: one join of the edge list against the O(nodes)
    rank relation + a grouped decimal sum — both shuffles on doc keys;
    the driver loop is a fixed 3 unrolled iterations (no convergence
    fetch). Edge derivation reuses the banded-LSH candidate path (shuffle
    ∝ docs x bands).
    """
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
    # Degree is loop-invariant: attach it to the edge list ONCE and
    # materialize the combined relation, so each of the _ITERS iterations
    # is one join (edges_deg x rank) + one grouped sum instead of two
    # joins — measured 5.5 -> 3.0 s median at sf0.1 (removes 3 shuffles of
    # the edge list). Lazy: an eager materialization serializes its job
    # before the iterations (4.4 -> 5.3 s median at sf0.1, r12), while the
    # iterations read it one after another inside the final action.
    from pyspark.sql import Window as _W

    edges = materialize(
        edges.withColumn("deg", F.count(F.lit(1)).over(_W.partitionBy("src"))),
        eager=False,
    )
    # the node list is consumed by every iteration's dangling-node left
    # join (and the seed rank): materialized lazily like the edges, so the
    # docs scan+distinct runs once without an extra serial job
    nodes = materialize(docs.select("doc_id").distinct(), eager=False)
    rank = nodes.withColumn("rank", F.lit("1.0").cast("decimal(28,12)"))
    for _ in range(_ITERS):
        contrib = (
            edges.join(rank.withColumnRenamed("doc_id", "src"), "src")
            .select(
                F.col("dst").alias("doc_id"),
                F.round(F.col("rank").cast("double") / F.col("deg"), 12)
                .cast("decimal(28,12)")
                .alias("contrib"),
            )
            .groupBy("doc_id")
            .agg(F.sum("contrib").alias("acc"))
        )
        rank = nodes.join(contrib, "doc_id", "left").select(
            "doc_id",
            F.round(
                F.lit(float(_BASE))
                + F.lit(float(_DAMP))
                * F.coalesce(F.col("acc"), F.lit(0)).cast("double"),
                12,
            )
            .cast("decimal(28,12)")
            .alias("rank"),
        )
    top = (
        rank.select(
            "doc_id", F.round(F.col("rank").cast("double"), 9).alias("pagerank")
        )
        .orderBy(F.col("pagerank").desc(), F.col("doc_id").asc())
        .limit(20)
    )
    # Top-20 is driver-bounded: collect it and release the edges and nodes.
    return finalize_bounded(top)


# ---------------------------------------------------------------------------
# Triangle count / clustering coefficient on the similarity graph
# ---------------------------------------------------------------------------

_TRIANGLE_ORACLE = rf"""
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
), und AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION ALL SELECT doc_b, doc_a FROM pairs
), deg AS (
  SELECT u AS node, CAST(count(*) AS BIGINT) AS d FROM und GROUP BY 1
), oriented AS (
  SELECT e.u, e.v FROM und e
  JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v
  WHERE (du.d, e.u) < (dv.d, e.v)
), tri AS (
  SELECT CAST(count(*) AS BIGINT) AS n
  FROM oriented e1
  JOIN oriented e2 ON e2.u = e1.v
  JOIN oriented e3 ON e3.u = e1.u AND e3.v = e2.v
), wedges AS (
  SELECT CAST(sum(d * (d - 1) / 2) AS BIGINT) AS n FROM deg
)
SELECT CAST((SELECT count(*) FROM pairs) AS BIGINT) AS n_edges,
       tri.n AS n_triangles,
       wedges.n AS n_wedges,
       round(CASE WHEN wedges.n = 0 THEN 0.0
                  ELSE 3.0 * tri.n / wedges.n END, 6)
         AS global_clustering
FROM tri, wedges
"""


@register("similarity_graph_triangles", _TRIANGLE_ORACLE)
def q_similarity_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count + global clustering coefficient of the near-dup
    graph — the transitivity diagnostic (near-dup SHOULD be near-
    transitive; a low coefficient means the LSH threshold is admitting
    chains of weak links, exactly what canonical-survivor dedup
    over-merges on). Degree-ordered edge orientation bounds the wedge
    join by each node's FORWARD degree — the standard distributed
    triangle shape (work ∝ Σ d_fwd², never Σ d² on hub nodes).
    """
    docs = load_table(spark, sf_dir, "documents", ensure_parallelism=True)
    # r12 (guide §1.2/§2.4, supersedes the r5/r10 lazy-vs-persist split):
    # the oriented edge list feeds FOUR plan branches (e1/e2/e3 + the
    # degree sum) and pairs feeds two more — lazily that re-runs the
    # banded candidate join per branch (exchange reuse only dedups up to
    # the last common Exchange; profiled r12 baseline: the 16 s-CPU
    # signature stage executed in both the wedge join and the degree
    # branch), and the ~6600-line analyzed plan costs ~2-3 s of driver
    # planning per trial. EAGER materialization of pairs + oriented runs
    # the candidate generation exactly once and truncates every branch's
    # lineage to a scan of materialized blocks — strictly better than
    # both old regimes at every scale (the r5 "persist slower" result
    # was persist's materialize-then-read WITH the full lineage still in
    # the plan; checkpoint removes the planning cost too). Measured
    # sf0.1: 4.5 -> 2.5 s median.
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
    pairs = materialize(pairs)
    und = pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v")).unionByName(
        pairs.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v"))
    )
    deg = und.groupBy(F.col("u").alias("node")).agg(F.count(F.lit(1)).alias("d"))
    oriented = (
        und.join(deg.withColumnRenamed("node", "u").withColumnRenamed("d", "du"), "u")
        .join(deg.withColumnRenamed("node", "v").withColumnRenamed("d", "dv"), "v")
        .filter(
            (F.col("du") < F.col("dv"))
            | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v")))
        )
        .select("u", "v")
    )
    oriented = materialize(oriented)
    e1 = oriented.alias("e1")
    e2 = oriented.select(
        F.col("u").alias("mid"), F.col("v").alias("w")
    ).alias("e2")
    closing = oriented.select(
        F.col("u").alias("cu"), F.col("v").alias("cv")
    ).alias("e3")
    tri = (
        e1.join(e2, F.col("e1.v") == F.col("mid"))
        .join(
            closing,
            (F.col("cu") == F.col("e1.u")) & (F.col("cv") == F.col("w")),
            "left_semi",
        )
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    wedges = deg.agg(
        F.sum((F.col("d") * (F.col("d") - 1) / 2).cast("bigint")).alias("n_wedges")
    )
    n_edges = pairs.agg(F.count(F.lit(1)).alias("n_edges"))
    result = (
        n_edges.crossJoin(F.broadcast(tri))
        .crossJoin(F.broadcast(wedges))
        .select(
            "n_edges",
            "n_triangles",
            "n_wedges",
            F.round(
                F.when(F.col("n_wedges") == 0, F.lit(0.0)).otherwise(
                    F.lit(3.0) * F.col("n_triangles") / F.col("n_wedges")
                ),
                6,
            ).alias("global_clustering"),
        )
    )
    # one-row result: collect it and release the candidate/edge blocks
    return finalize_bounded(result)
