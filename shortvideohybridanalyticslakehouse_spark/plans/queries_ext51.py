"""Extension queries, round 51: positional phrase search — the
inverted-index-with-positions retrieval primitive (exact multi-word
phrase matching), complementing round 50's bag-of-words BM25.

Like BM25, the query workload is DERIVED deterministically from the
corpus: the 5 most frequent adjacent bigrams (ties by terms) become the
phrase queries. Execution then follows the classic positional-postings
shape — NOT a substring scan: per-term postings (doc_id, position) are
filtered to query terms via a broadcast join, and a phrase hit is the
equi-join of term1's postings with term2's postings on
(phrase_id, doc_id, pos1 + 1 = pos2). On a real engine this is exactly
how positional intersection works, and it generalizes to k-word phrases
by chaining joins.

Scale shape (100 TB): posexplode is map-side; both postings sides are
pruned to query terms BEFORE the shuffle (broadcast of the O(5) phrase
table), so the positional join shuffles only matching postings keyed by
(phrase_id, doc_id, adjusted position) — fully equi, no skew surface
beyond genuinely popular terms (and those cap at per-doc token counts).
The workload-derivation pass (bigram counts) is one partial-agg shuffle
of O(distinct bigrams).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from shortvideohybridanalyticslakehouse_spark.operators.ranks import with_tiny_rank
from shortvideohybridanalyticslakehouse_spark.plans.registry import (
    materialize,
    register,
)
from shortvideohybridanalyticslakehouse_spark.sources.batch import load_table

_N_PHRASES = 5

_PHRASE_ORACLE = rf"""
WITH tok AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS a
  FROM documents
), big AS (
  SELECT doc_id, a[CAST(u.i AS INT)] AS t1, a[CAST(u.i AS INT) + 1] AS t2
  FROM tok, unnest(range(1, len(a))) AS u(i)
), cnt AS (
  SELECT t1, t2, count(*) AS c FROM big GROUP BY 1, 2
), top5 AS (
  SELECT t1, t2,
         CAST(row_number() OVER (ORDER BY c DESC, t1, t2) - 1 AS INT)
           AS phrase_id
  FROM cnt ORDER BY c DESC, t1, t2 LIMIT {_N_PHRASES}
), hits AS (
  SELECT p.phrase_id, p.t1, p.t2, b.doc_id
  FROM big b JOIN top5 p USING (t1, t2)
)
SELECT phrase_id, t1 AS term1, t2 AS term2,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_occurrences
FROM hits GROUP BY 1, 2, 3
"""


@register("phrase_search_positional", _PHRASE_ORACLE)
def q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase matching via positional-postings intersection: the
    tiny derived phrase table broadcasts into BOTH postings sides, then
    term1's postings join term2's on (phrase_id, doc_id, pos+1 = pos) —
    an all-equi join over index-pruned postings, never a full-text scan.
    (The oracle verifies the same result through direct adjacent-bigram
    matching; the Spark plan is the scalable-index shape.)"""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.split(F.lower(F.trim(F.col("text"))), r"\s+").alias("toks"),
    )
    # the token-array frame feeds the n-gram count branch AND every
    # broadcast-pruned postings side (2 for the bigram lane, 3 for
    # the trigram chain) — without materialization each consumer
    # re-runs the regex split+lower+trim over the whole corpus in
    # its own map stage (no exchange between them for ReuseExchange
    # to share; profiled 3x per trial). Eager: sibling stages race
    # a lazy checkpoint (the winnowing lesson).
    toks = materialize(toks)
    # workload derivation: adjacent-bigram counts, map-side pair
    # construction with array HOFs (no per-token shuffle before the agg)
    pairs = F.expr(
        "transform(slice(toks, 1, greatest(size(toks) - 1, 0)),"
        " (x, i) -> struct(x AS t1, toks[i + 1] AS t2))"
    )
    bigrams = toks.select("doc_id", F.explode(pairs).alias("p")).select(
        "doc_id", F.col("p.t1").alias("t1"), F.col("p.t2").alias("t2")
    )
    cnt = bigrams.groupBy("t1", "t2").agg(F.count(F.lit(1)).alias("c"))
    # top-k via orderBy+limit (TakeOrderedAndProject — distributed top-k,
    # never a full sort of all distinct bigrams), THEN with_tiny_rank over
    # the O(5)-row frame (broadcast self-join idiom — no WindowExec).
    top = cnt.orderBy(F.desc("c"), F.asc("t1"), F.asc("t2")).limit(_N_PHRASES)
    phrases = with_tiny_rank(
        top,
        [("c", "desc"), ("t1", "asc"), ("t2", "asc")],
        max_rows=_N_PHRASES,
    ).select((F.col("rn") - 1).cast("int").alias("phrase_id"), "t1", "t2")
    # positional postings, pruned to query terms before any wide join
    postings = toks.select(
        "doc_id", F.posexplode("toks").alias("pos", "term")
    )
    p1 = postings.join(
        F.broadcast(phrases), postings["term"] == phrases["t1"]
    ).select("phrase_id", "t1", "t2", "doc_id", (F.col("pos") + 1).alias("nxt"))
    p2 = postings.join(
        F.broadcast(phrases.select("phrase_id", "t2")),
        postings["term"] == F.col("t2"),
    ).select("phrase_id", "doc_id", F.col("pos").alias("nxt"))
    hits = p1.join(p2, ["phrase_id", "doc_id", "nxt"])
    return hits.groupBy(
        "phrase_id",
        F.col("t1").alias("term1"),
        F.col("t2").alias("term2"),
    ).agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.count(F.lit(1)).alias("n_occurrences"),
    )


# ---------------------------------------------------------------------------
# k-word generalization: chained positional intersection (k = 3 here)
# ---------------------------------------------------------------------------

_PHRASE3_ORACLE = r"""
WITH tok AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS a
  FROM documents
), tri AS (
  SELECT doc_id,
         a[CAST(u.i AS INT)] AS t0,
         a[CAST(u.i AS INT) + 1] AS t1,
         a[CAST(u.i AS INT) + 2] AS t2
  FROM tok, unnest(range(1, len(a) - 1)) AS u(i)
), cnt AS (
  SELECT t0, t1, t2, count(*) AS c FROM tri GROUP BY 1, 2, 3
), top5 AS (
  SELECT t0, t1, t2,
         CAST(row_number() OVER (ORDER BY c DESC, t0, t1, t2) - 1 AS INT)
           AS phrase_id
  FROM cnt ORDER BY c DESC, t0, t1, t2 LIMIT 5
), hits AS (
  SELECT p.phrase_id, p.t0, p.t1, p.t2, b.doc_id
  FROM tri b JOIN top5 p USING (t0, t1, t2)
)
SELECT phrase_id, t0 AS term1, t1 AS term2, t2 AS term3,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_occurrences
FROM hits GROUP BY 1, 2, 3, 4
"""


def _chained_positional_hits(postings: DataFrame, phrases: DataFrame, k: int):
    """Generic k-word positional intersection: anchor on term slot 0's
    postings (broadcast-pruned), then for each later slot i chain one
    all-equi join on (doc_id, anchor_pos + i = pos_i, slot_term = term).
    Every postings side is broadcast-pruned to that slot's terms BEFORE
    the wide join, so shuffle volume stays proportional to query-term
    postings at any k."""
    anchor = (
        postings.join(
            F.broadcast(phrases), postings["term"] == phrases["t0"]
        )
        .drop("term")
        .withColumnRenamed("pos", "pos0")
    )
    for i in range(1, k):
        terms_i = phrases.select(F.col(f"t{i}").alias("term")).distinct()
        p_i = (
            postings.join(F.broadcast(terms_i), "term")
            .select(
                F.col("doc_id").alias(f"d{i}"),
                F.col("pos").alias(f"p{i}"),
                F.col("term").alias(f"w{i}"),
            )
        )
        anchor = anchor.join(
            p_i,
            (F.col("doc_id") == F.col(f"d{i}"))
            & (F.col("pos0") + i == F.col(f"p{i}"))
            & (F.col(f"t{i}") == F.col(f"w{i}")),
        ).drop(f"d{i}", f"p{i}", f"w{i}")
    return anchor


@register("phrase3_search_positional", _PHRASE3_ORACLE)
def q_phrase3_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-word exact phrase matching by CHAINING positional joins —
    the k-word generalization of phrase_search_positional: anchor
    postings of the first term, then one equi-join per later slot on
    (doc_id, anchor_pos + i, term). The oracle verifies through direct
    adjacent-trigram matching."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.split(F.lower(F.trim(F.col("text"))), r"\s+").alias("toks"),
    )
    # multi-consumer token arrays: materialized once, as above
    toks = materialize(toks)
    tris = F.expr(
        "transform(slice(toks, 1, greatest(size(toks) - 2, 0)),"
        " (x, i) -> struct(x AS t0, toks[i + 1] AS t1, toks[i + 2] AS t2))"
    )
    trigrams = toks.select("doc_id", F.explode(tris).alias("p")).select(
        "doc_id", "p.t0", "p.t1", "p.t2"
    )
    cnt = trigrams.groupBy("t0", "t1", "t2").agg(
        F.count(F.lit(1)).alias("c")
    )
    order = [F.desc("c"), F.asc("t0"), F.asc("t1"), F.asc("t2")]
    top = cnt.orderBy(*order).limit(5)
    phrases = with_tiny_rank(
        top,
        [("c", "desc"), ("t0", "asc"), ("t1", "asc"), ("t2", "asc")],
        max_rows=5,
    ).select((F.col("rn") - 1).cast("int").alias("phrase_id"), "t0", "t1", "t2")
    postings = toks.select(
        "doc_id", F.posexplode("toks").alias("pos", "term")
    )
    hits = _chained_positional_hits(postings, phrases, 3)
    return hits.groupBy(
        "phrase_id",
        F.col("t0").alias("term1"),
        F.col("t1").alias("term2"),
        F.col("t2").alias("term3"),
    ).agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.count(F.lit(1)).alias("n_occurrences"),
    )
