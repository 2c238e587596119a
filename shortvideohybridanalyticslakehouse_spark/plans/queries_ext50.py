"""Extension queries, round 50: BM25 ranked retrieval — full-text
search over the documents corpus as a first-class relational pipeline
(inverted-index statistics -> per-query-term scoring -> top-k ranking),
the retrieval primitive a training-data pipeline uses for targeted
corpus slicing (e.g. "pull the top matches for these probe queries" in
contamination audits or topic-targeted sampling).

Query workload is DERIVED deterministically from the corpus itself so
the benchmark needs no side-channel inputs: the 15 highest-document-
frequency terms (ties broken by term) are grouped three-at-a-time into
5 multi-term queries. Scoring is Lucene-flavored BM25
(k1=1.2, b=0.75, idf = ln(1 + (N - df + 0.5)/(df + 0.5))); scores are
rounded to 6 decimals (the repo-wide cross-engine float tactic, same as
term_tfidf) and ties broken by doc_id before the top-10 cut.

Scale shape (100 TB): tokenize/explode is map-side; (doc, term) TF and
per-doc length are one partial-agg shuffle each; corpus constants
(N, avgdl) are a broadcast 1-row aggregate; the query-term table is
O(15) rows and broadcast into the TF join, so the scoring join touches
only postings of query terms (index-pruned, never the full corpus
cross-product); the final rank is a per-query window over candidate
docs only.

Reference parity: beyond the reference (no text-retrieval surface);
part of the brief's text-analysis/training-data-pipeline mandate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from shortvideohybridanalyticslakehouse_spark.functions import text
from shortvideohybridanalyticslakehouse_spark.operators.ranks import with_tiny_rank
from shortvideohybridanalyticslakehouse_spark.plans.registry import (
    materialize,
    register,
)
from shortvideohybridanalyticslakehouse_spark.sources.batch import load_table

_K1 = 1.2
_B = 0.75
_N_QUERIES = 5
_TERMS_PER_QUERY = 3
_TOP_K = 10

_BM25_ORACLE = rf"""
WITH tok AS (
  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
  FROM tok GROUP BY 1, 2
), dl AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS dlen FROM tok GROUP BY 1
), stats AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1
), consts AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
         (SELECT CAST(sum(dlen) AS DOUBLE) / count(*) FROM dl) AS avgdl
  FROM documents
), qterms AS (
  SELECT CAST((rn - 1) // {_TERMS_PER_QUERY} AS INT) AS query_id, term, df
  FROM (
    SELECT term, df, row_number() OVER (ORDER BY df DESC, term) AS rn
    FROM stats
  )
  WHERE rn <= {_N_QUERIES * _TERMS_PER_QUERY}
), scored AS (
  SELECT q.query_id, t.doc_id,
         sum(
           ln(1 + (c.n_docs - q.df + 0.5) / (q.df + 0.5))
           * (t.tf * ({_K1} + 1.0))
           / (t.tf + {_K1} * (1.0 - {_B} + {_B} * d.dlen / c.avgdl))
         ) AS score,
         CAST(count(*) AS BIGINT) AS n_terms_hit
  FROM qterms q
  JOIN tf t USING (term)
  JOIN dl d ON d.doc_id = t.doc_id
  CROSS JOIN consts c
  GROUP BY 1, 2
), ranked AS (
  SELECT query_id, doc_id, round(score, 6) AS bm25, n_terms_hit,
         row_number() OVER (
           PARTITION BY query_id ORDER BY round(score, 6) DESC, doc_id
         ) AS rank
  FROM scored
)
SELECT query_id, CAST(rank AS INT) AS rank, doc_id, bm25, n_terms_hit
FROM ranked WHERE rank <= {_TOP_K}
"""


@register("bm25_topk_search", _BM25_ORACLE)
def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 per derived query: inverted-index stats (TF, DF, doc
    length, corpus averages) composed into Lucene-style BM25, with the
    tiny query-term table broadcast into the postings join so only
    query-term postings are ever scored."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(text.tokens(F.col("text"))).alias("term")
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    # The TF frame feeds FOUR independent consumers (the stats->qterms
    # branch, the consts/dl broadcast branch, and both sides of the
    # scoring join) — without materialization each one re-runs the
    # tokenize+explode+partial-agg subtree, so the corpus is tokenized
    # 4x per run (guide §5: reuse > recompute). Checkpoint it once;
    # storage is the aggregated postings list (far smaller than the
    # corpus), released when the next lane builds.
    tf = materialize(tf)
    # doc length re-aggregates the (much smaller) TF frame instead of a
    # second tokenize+explode pass over the corpus
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dlen"))
    stats = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    consts = docs.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs")
    ).crossJoin(
        dl.agg(
            (F.sum("dlen").cast("double") / F.count(F.lit(1))).alias("avgdl")
        )
    )
    # top-k first via orderBy+limit (TakeOrderedAndProject — distributed
    # partial top-k, never a full-vocab sort), THEN with_tiny_rank over the
    # O(15)-row frame — the shared bounded-frame idiom: broadcast O(k^2)
    # self-join, no WindowExec planned at all.
    top = stats.orderBy(F.desc("df"), F.asc("term")).limit(
        _N_QUERIES * _TERMS_PER_QUERY
    )
    qterms = with_tiny_rank(
        top,
        [("df", "desc"), ("term", "asc")],
        max_rows=_N_QUERIES * _TERMS_PER_QUERY,
    ).select(
        ((F.col("rn") - 1) / _TERMS_PER_QUERY).cast("int").alias("query_id"),
        "term",
        "df",
    )
    idf = F.log(
        1.0 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    tf_part = (F.col("tf") * (_K1 + 1.0)) / (
        F.col("tf")
        + _K1 * (1.0 - _B + _B * F.col("dlen") / F.col("avgdl"))
    )
    scored = (
        tf.join(F.broadcast(qterms), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(consts))
        .groupBy("query_id", "doc_id")
        .agg(
            F.sum(idf * tf_part).alias("score"),
            F.count(F.lit(1)).alias("n_terms_hit"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc(F.round("score", 6)), F.asc("doc_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= _TOP_K)
        .select(
            "query_id",
            "rank",
            "doc_id",
            F.round("score", 6).alias("bm25"),
            "n_terms_hit",
        )
    )
