"""Extension queries, round 123: TextRank keyword extraction (Mihalcea
& Tarau 2004) — weighted PageRank over the term co-occurrence graph,
the unsupervised keyword scorer that complements frequency-based
TF-IDF/BM25 with a centrality signal.

Graph: adjacent-token pairs (window 2, the paper's default) across the
corpus, undirected, edge weight = co-occurrence count; self-pairs
dropped. Rank: 3 damped (0.85) iterations of the WEIGHTED push

    rank'(t) = 0.15 + 0.85 * sum over neighbors s of
               rank(s) * w(s,t) / wdeg(s)

under the ext38 iterative-double discipline: per-row contributions are
round-12-quantized doubles summed in DECIMAL(28,12), each iteration's
rank re-quantized — partition order cannot perturb a bit and DuckDB
replays the identical arithmetic through chained CTEs.

Plan shape for 100 TB: pair construction is one narrow per-document
array transform (no shuffle) followed by a map-side-combinable count to
the O(vocab^2-bounded, co-occurrence-sparse) edge list; each iteration
is one join of edges against the O(vocab) rank relation plus a grouped
decimal sum — vocabulary size, not corpus size, bounds the iteration
cost. Degrees ride the edge list (loop-invariant, the ext38 lesson).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from shortvideohybridanalyticslakehouse_spark.plans.registry import (
    finalize_bounded,
    materialize,
    register,
)
from shortvideohybridanalyticslakehouse_spark.sources.batch import load_table

_DAMP = "0.85"
_BASE = "0.15"
_ITERS = 3
_TOPK = 20


def _duck_iter(prev: str, out: str) -> str:
    return f"""
{out} AS (
  SELECT n.term,
         CAST(round({_BASE} + {_DAMP} * CAST(coalesce(s.acc, 0) AS DOUBLE),
                    12) AS DECIMAL(28,12)) AS rank
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS term,
           sum(CAST(round(CAST(p.rank AS DOUBLE) * e.w / e.wdeg, 12)
               AS DECIMAL(28,12))) AS acc
    FROM edges e JOIN {prev} p ON p.term = e.src
    GROUP BY 1
  ) s ON s.term = n.term
)"""


_TEXTRANK_ORACLE = rf"""
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
  FROM documents
), adj AS (
  SELECT unnest(list_transform(range(1, greatest(len(t), 1)),
                i -> [t[i], t[i + 1]])) AS pr
  FROM toks
), pairs AS (
  SELECT least(pr[1], pr[2]) AS a, greatest(pr[1], pr[2]) AS b,
         CAST(count(*) AS BIGINT) AS w
  FROM adj WHERE pr[1] <> pr[2]
  GROUP BY 1, 2
), und AS (
  SELECT a AS src, b AS dst, w FROM pairs
  UNION ALL
  SELECT b, a, w FROM pairs
), wdeg AS (
  SELECT src, CAST(sum(w) AS BIGINT) AS wdeg FROM und GROUP BY 1
), edges AS (
  SELECT u.src, u.dst, u.w, d.wdeg FROM und u JOIN wdeg d USING (src)
), nodes AS (
  SELECT DISTINCT src AS term FROM und
), it0 AS (
  SELECT term, CAST(1.0 AS DECIMAL(28,12)) AS rank FROM nodes
),{_duck_iter("it0", "it1")},{_duck_iter("it1", "it2")},{_duck_iter("it2", "it3")}
SELECT term, round(CAST(rank AS DOUBLE), 9) AS textrank
FROM it3
ORDER BY textrank DESC, term ASC
LIMIT {_TOPK}
"""


@register("textrank_keywords", _TEXTRANK_ORACLE)
def q_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 corpus keywords by weighted TextRank over the window-2
    co-occurrence graph — 3 damped iterations replayed bit-for-bit by
    the oracle."""
    docs = load_table(spark, sf_dir, "documents", ensure_parallelism=True)
    return textrank_over(docs)


def textrank_over(docs: DataFrame) -> DataFrame:
    """The full TextRank pipeline over an arbitrary documents frame —
    shared by the registry query and the 10x scale probe
    (tools/scale_probe_round8c.py)."""
    toks = docs.select(
        F.split(F.lower(F.trim(F.col("text"))), r"\s+").alias("t")
    )
    # adjacent pairs without a shuffle: zip t[1:n-1] with t[2:n]
    n1 = F.greatest(F.size("t") - 1, F.lit(0))
    adj = toks.select(
        F.explode(
            F.arrays_zip(
                F.slice(F.col("t"), F.lit(1), n1),
                F.slice(F.col("t"), F.lit(2), n1),
            )
        ).alias("pr")
    ).select(F.col("pr.0").alias("x"), F.col("pr.1").alias("y"))
    pairs = (
        adj.filter(F.col("x") != F.col("y"))
        .groupBy(
            F.least("x", "y").alias("a"), F.greatest("x", "y").alias("b")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("w"))
    )
    und = pairs.select(
        F.col("a").alias("src"), F.col("b").alias("dst"), "w"
    ).unionByName(
        pairs.select(F.col("b").alias("src"), F.col("a").alias("dst"), "w")
    )
    # weighted degree is loop-invariant: attach once (ext38 lesson)
    from pyspark.sql import Window as _W

    # materialized eagerly: every iteration's analyzed plan would otherwise
    # carry (and the FIRST consumer re-execute) the full pairs pipeline;
    # nodes derives from the materialized edge list (guide §1.2/§5).
    edges = materialize(
        und.withColumn("wdeg", F.sum("w").over(_W.partitionBy("src")))
    )
    nodes = edges.select(F.col("src").alias("term")).distinct()
    rank = nodes.withColumn("rank", F.lit("1.0").cast("decimal(28,12)"))
    for _ in range(_ITERS):
        contrib = (
            edges.join(rank.withColumnRenamed("term", "src"), "src")
            .select(
                F.col("dst").alias("term"),
                F.round(
                    F.col("rank").cast("double") * F.col("w") / F.col("wdeg"),
                    12,
                )
                .cast("decimal(28,12)")
                .alias("contrib"),
            )
            .groupBy("term")
            .agg(F.sum("contrib").alias("acc"))
        )
        rank = nodes.join(contrib, "term", "left").select(
            "term",
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
            "term", F.round(F.col("rank").cast("double"), 9).alias("textrank")
        )
        .orderBy(F.col("textrank").desc(), F.col("term").asc())
        .limit(_TOPK)
    )
    return finalize_bounded(top)
