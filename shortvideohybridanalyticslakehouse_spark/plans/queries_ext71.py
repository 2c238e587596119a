"""Extension queries, round 71: hybrid retrieval — Reciprocal Rank
Fusion of a lexical BM25 lane and a vector cosine lane, the modern
search stack's default result merger (RRF: Cormack et al., SIGIR'09).

Lanes (both deterministic, both already oracle-proven standalone):
  - lexical: BM25 (k1=1.2, b=0.75) for the corpus-derived 3-term query
    (the same top-df workload as bm25_topk_search, query 0), scores
    rounded to 6, top-50 ranks with doc_id tie-break.
  - vector: brute cosine against the vec_id=0 query embedding (the
    embedding_cosine_topk baseline), rounded to 6, top-50 ranks.

Fusion stays integer-exact: rrf_micro = floor(1e6/(60+rank_lex)) +
floor(1e6/(60+rank_vec)), missing lane contributing 0 — no float
accumulation, so the hash gate needs no tolerance. The fused relation
is a FULL OUTER join of two 50-row rank lists (driver-bounded), then a
top-10 TakeOrderedAndProject.

Scale: each lane keeps its own scale shape (index-pruned postings join;
broadcast query vector); fusion is O(k) regardless of corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from shortvideohybridanalyticslakehouse_spark.functions import similarity, text
from shortvideohybridanalyticslakehouse_spark.operators.ranks import with_tiny_rank
from shortvideohybridanalyticslakehouse_spark.plans.registry import (
    materialize,
    register,
)
from shortvideohybridanalyticslakehouse_spark.sources.batch import load_table

_K1 = 1.2
_B = 0.75
_LANE_K = 50
_RRF_K = 60
_TOP = 10

_DUCK_COSINE = (
    "round(list_sum(list_transform(range(1, 65), "
    "i -> CAST(b.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))) "
    "/ (sqrt(list_sum(list_transform(range(1, 65), i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))) "
    "* sqrt(list_sum(list_transform(range(1, 65), i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))))), 6)"
)

_RRF_ORACLE = rf"""
WITH tok AS (
  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
  FROM tok GROUP BY 1, 2
), dl AS (
  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dlen FROM tf GROUP BY 1
), stats AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1
), consts AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
         (SELECT CAST(sum(dlen) AS DOUBLE) / count(*) FROM dl) AS avgdl
  FROM documents
), qterms AS (
  SELECT term, df FROM stats ORDER BY df DESC, term LIMIT 3
), lex_scored AS (
  SELECT t.doc_id,
         round(sum(
           ln(1 + (c.n_docs - q.df + 0.5) / (q.df + 0.5))
           * (t.tf * ({_K1} + 1.0))
           / (t.tf + {_K1} * (1.0 - {_B} + {_B} * d.dlen / c.avgdl))
         ), 6) AS score
  FROM qterms q JOIN tf t USING (term)
  JOIN dl d ON d.doc_id = t.doc_id
  CROSS JOIN consts c
  GROUP BY 1
), lex AS (
  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS r
  FROM lex_scored QUALIFY r <= {_LANE_K}
), vec_scored AS (
  SELECT b.vec_id AS doc_id, {_DUCK_COSINE} AS sim
  FROM embeddings b CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) a
  WHERE b.vec_id <> 0
), vec AS (
  SELECT doc_id, row_number() OVER (ORDER BY sim DESC, doc_id ASC) AS r
  FROM vec_scored QUALIFY r <= {_LANE_K}
), fused AS (
  SELECT coalesce(l.doc_id, v.doc_id) AS doc_id,
         CAST(l.r AS INT) AS rank_lex,
         CAST(v.r AS INT) AS rank_vec,
         CAST(coalesce(1000000 // ({_RRF_K} + l.r), 0)
              + coalesce(1000000 // ({_RRF_K} + v.r), 0) AS BIGINT)
           AS rrf_micro
  FROM lex l FULL OUTER JOIN vec v ON v.doc_id = l.doc_id
)
SELECT doc_id, rank_lex, rank_vec, rrf_micro
FROM fused
ORDER BY rrf_micro DESC, doc_id ASC
LIMIT {_TOP}
"""


@register("hybrid_rrf_search", _RRF_ORACLE)
def q_hybrid_rrf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 hybrid results: BM25 lane + cosine lane fused by exact
    integer reciprocal-rank scores (k = 60)."""
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")

    # --- lexical lane (the bm25_topk_search machinery, single query) ---
    tok = docs.select(
        "doc_id", F.explode(text.tokens(F.col("text"))).alias("term")
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    # Same single-execution posture as q_bm25_topk: TF feeds the qterms
    # branch, the consts/dl branch and both scoring-join sides — without
    # this the corpus is tokenized 4x inside one lane.
    tf = materialize(tf)
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dlen"))
    stats = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    consts = docs.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs")
    ).crossJoin(
        dl.agg(
            (F.sum("dlen").cast("double") / F.count(F.lit(1))).alias("avgdl")
        )
    )
    qterms = stats.orderBy(F.desc("df"), F.asc("term")).limit(3)
    idf = F.log(
        1.0 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    tf_part = (F.col("tf") * (_K1 + 1.0)) / (
        F.col("tf") + _K1 * (1.0 - _B + _B * F.col("dlen") / F.col("avgdl"))
    )
    lex_scored = (
        tf.join(F.broadcast(qterms), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(consts))
        .groupBy("doc_id")
        .agg(F.round(F.sum(idf * tf_part), 6).alias("score"))
    )
    lex = with_tiny_rank(
        lex_scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(_LANE_K),
        [("score", "desc"), ("doc_id", "asc")],
        rank_col="rank_lex",
        max_rows=_LANE_K,
    ).select("doc_id", "rank_lex")

    # --- vector lane (the embedding_cosine_topk baseline) ---
    query = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("query_vec")
    )
    vec_scored = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(query))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(
                similarity.cosine(F.col("embedding"), F.col("query_vec")), 6
            ).alias("sim"),
        )
    )
    vec = with_tiny_rank(
        vec_scored.orderBy(F.desc("sim"), F.asc("doc_id")).limit(_LANE_K),
        [("sim", "desc"), ("doc_id", "asc")],
        rank_col="rank_vec",
        max_rows=_LANE_K,
    ).select("doc_id", "rank_vec")

    # --- fusion over two O(k) rank lists ---
    fused = lex.join(vec, "doc_id", "full_outer").select(
        "doc_id",
        F.col("rank_lex").cast("int").alias("rank_lex"),
        F.col("rank_vec").cast("int").alias("rank_vec"),
        (
            F.coalesce(
                F.floor(F.lit(1000000) / (_RRF_K + F.col("rank_lex"))), F.lit(0)
            )
            + F.coalesce(
                F.floor(F.lit(1000000) / (_RRF_K + F.col("rank_vec"))), F.lit(0)
            )
        )
        .cast("bigint")
        .alias("rrf_micro"),
    )
    return fused.orderBy(F.desc("rrf_micro"), F.asc("doc_id")).limit(_TOP)
