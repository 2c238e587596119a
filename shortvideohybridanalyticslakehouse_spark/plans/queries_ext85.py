"""Extension queries, round 85: PMI term co-occurrence — pointwise
mutual information over document-level term pairs, the collocation
statistic behind phrase induction and topic seeding in text pipelines.

PMI(a, b) = ln( P(a,b) / (P(a) P(b)) ) = ln( c_ab * N / (c_a * c_b) )
over document presence counts. Pair generation is bounded by contract:
only the TOP_TERMS most document-frequent terms pair up (broadcast
membership join prunes the postings BEFORE the per-doc self-join), so
candidates are <= docs * C(TOP_TERMS, 2) — never vocabulary-squared.
The tie-broken top-terms cut and the final top-k both carry total
orders, so both engines select identical sets; the only float is one
ln() of a ratio of exact BIGINT cross-products (the bm25 idf precedent).

Scale: tokenize -> distinct(doc, term) (one shuffle), top-terms via
TakeOrderedAndProject, pruned self-join shuffles on doc_id only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from shortvideohybridanalyticslakehouse_spark.functions import text
from shortvideohybridanalyticslakehouse_spark.plans.registry import (
    materialize,
    register,
)
from shortvideohybridanalyticslakehouse_spark.sources.batch import load_table

_TOP_TERMS = 40
_MIN_CO = 5
_TOP_PAIRS = 30

_PMI_ORACLE = f"""
WITH tok AS (
  SELECT DISTINCT doc_id,
         unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS term
  FROM documents
), n_docs AS (
  SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n FROM tok
), df AS (
  SELECT term, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1
), top AS (
  SELECT term, c FROM df ORDER BY c DESC, term ASC LIMIT {_TOP_TERMS}
), pruned AS (
  SELECT t.doc_id, t.term, tp.c FROM tok t JOIN top tp USING (term)
), pairs AS (
  SELECT a.term AS term_a, b.term AS term_b,
         CAST(count(*) AS BIGINT) AS c_ab,
         MAX(a.c) AS c_a, MAX(b.c) AS c_b
  FROM pruned a JOIN pruned b
    ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY 1, 2
)
SELECT term_a, term_b, c_ab, c_a, c_b,
       round(ln(CAST(c_ab * n AS DOUBLE) / CAST(c_a * c_b AS DOUBLE)), 6)
         AS pmi
FROM pairs, n_docs
WHERE c_ab >= {_MIN_CO}
ORDER BY pmi DESC, term_a ASC, term_b ASC
LIMIT {_TOP_PAIRS}
"""


@register("term_pmi_top_pairs", _PMI_ORACLE)
def q_term_pmi_top_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top PMI collocations among the TOP_TERMS most frequent terms
    (document-presence counts; pruned-postings self-join; one exact-int
    ratio through ln)."""
    docs = load_table(spark, sf_dir, "documents")
    # materialize the tokenized postings ONCE: df stats, both self-join
    # sides, and the corpus count all reuse it (plan audit showed 5
    # tokenize scans / 18 exchanges without this — tokenization is the
    # CPU-heavy stage, everything downstream is narrow)
    tok = materialize(
        docs.select(
            "doc_id", F.explode(text.tokens(F.col("text"))).alias("term")
        ).distinct()
    )
    df = tok.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    top = df.orderBy(F.col("c").desc(), F.col("term").asc()).limit(_TOP_TERMS)
    pruned = tok.join(F.broadcast(top), "term")
    a = pruned.select(
        "doc_id", F.col("term").alias("term_a"), F.col("c").alias("c_a")
    )
    b = pruned.select(
        "doc_id", F.col("term").alias("term_b"), F.col("c").alias("c_b")
    )
    pairs = (
        a.join(b, "doc_id")
        .filter(F.col("term_a") < F.col("term_b"))
        .groupBy("term_a", "term_b")
        .agg(
            F.count(F.lit(1)).alias("c_ab"),
            F.max("c_a").alias("c_a"),
            F.max("c_b").alias("c_b"),
        )
        .filter(F.col("c_ab") >= _MIN_CO)
    )
    n = tok.agg(F.countDistinct("doc_id").alias("n"))
    pmi = F.round(
        F.log(
            (F.col("c_ab") * F.col("n")).cast("double")
            / (F.col("c_a") * F.col("c_b")).cast("double")
        ),
        6,
    )
    return (
        pairs.crossJoin(F.broadcast(n))
        .select("term_a", "term_b", "c_ab", "c_a", "c_b", pmi.alias("pmi"))
        .orderBy(
            F.col("pmi").desc(), F.col("term_a").asc(), F.col("term_b").asc()
        )
        .limit(_TOP_PAIRS)
    )
