"""Extension queries, round 92: interpolated BIGRAM language-model
scoring — the context-aware upgrade of the unigram-LM perplexity proxy
(ext28/ext42), i.e. the quality filter that catches scrambled or
machine-garbled text a bag-of-words model scores as fine.

Model: p(w | v) = 3/4 * c(v,w)/c(v) + 1/4 * c(w)/N (Jelinek-Mercer
interpolation with dyadic lambda, trained on the corpus itself). A
document's surprise is the mean negative ln p over its adjacent bigrams.

Determinism ladder: all counts are exact ints; each per-bigram
probability is two correctly-rounded divisions + dyadic-weighted sum +
one ln (identical libm inputs -> identical doubles); the per-DOC sum
folds in position order (collect_list(struct(pos, ...)) / list(... ORDER
BY pos) — the EWMA recipe), so both engines add the same doubles in the
same order; the per-doc score then floors to micro units (bigint), so
the per-SOURCE rollup is exact integer arithmetic with no float
re-association anywhere.

Scale: tokenize -> one shuffle for bigram counts, one for context
counts; scoring joins the bigram relation against two broadcast-or-
shuffled count tables keyed by the bigram/context; the per-doc fold is
O(doc length).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from shortvideohybridanalyticslakehouse_spark.plans.registry import (
    materialize,
    register,
)
from shortvideohybridanalyticslakehouse_spark.sources.batch import (
    load_table,
    scaled_shuffle_partitions,
)

_MICRO = 1_000_000

_BIGRAM_LM_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, source, u.i AS pos, toks[CAST(u.i AS INT) + 1] AS term
  FROM (
    SELECT doc_id, source,
           regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
    FROM documents
  ), unnest(range(len(toks))) AS u(i)
), uni AS (
  SELECT term, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1
), n_tok AS (
  SELECT CAST(count(*) AS BIGINT) AS n FROM tok
), big AS (
  SELECT a.doc_id, a.source, a.pos, a.term AS v, b.term AS w
  FROM tok a JOIN tok b
    ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
), bigc AS (
  SELECT v, w, CAST(count(*) AS BIGINT) AS c_vw FROM big GROUP BY 1, 2
), scored AS (
  SELECT g.doc_id, g.source, g.pos,
         ln(0.75 * (CAST(bc.c_vw AS DOUBLE) / CAST(cv.c AS DOUBLE))
            + 0.25 * (CAST(cw.c AS DOUBLE) / CAST(n_tok.n AS DOUBLE)))
           AS logp
  FROM big g
  JOIN bigc bc ON bc.v = g.v AND bc.w = g.w
  JOIN uni cv ON cv.term = g.v
  JOIN uni cw ON cw.term = g.w
  CROSS JOIN n_tok
), per_doc AS (
  SELECT doc_id, source,
         CAST(count(*) AS BIGINT) AS n_bigrams,
         CAST(FLOOR({_MICRO} * -(
           list_reduce(list(logp ORDER BY pos), (a, b) -> a + b)
         ) / count(*)) AS BIGINT) AS surprise_micro
  FROM scored GROUP BY 1, 2
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_bigrams) AS BIGINT) AS n_bigrams,
       CAST(sum(surprise_micro) AS BIGINT) AS total_surprise_micro,
       CAST(sum(surprise_micro) // count(*) AS BIGINT)
         AS mean_surprise_micro
FROM per_doc GROUP BY 1
"""


@register("bigram_lm_surprise", _BIGRAM_LM_ORACLE)
def q_bigram_lm_surprise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source mean bigram-LM surprise (floored micro units; see
    module docstring for the determinism ladder)."""
    docs = load_table(spark, sf_dir, "documents")
    # one tokenize pass feeds uni, N, bigrams
    toks = materialize(
        docs.select(
            "doc_id",
            "source",
            F.split(F.lower(F.trim(F.col("text"))), r"\s+").alias("toks"),
        )
    )
    # Auto-size the pinned SHJ builds from the corpus size (VERDICT r10
    # #1): toks is already materialized, so the count is a
    # materialized-partition count, not a recompute. 10k docs/partition
    # keeps the 30x bigram build at the measured-green ~85 MB/partition
    # (tools/SKEW_PROBE_30X.json: 32 partitions = spill-less OOM at
    # ~356 MB; 128 = clean); small fixtures floor at defaultParallelism.
    n_shuf = scaled_shuffle_partitions(toks, rows_per_partition=10_000)
    tok = toks.select(
        "doc_id", F.explode(F.col("toks")).alias("term")
    )
    uni = tok.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    # (r13: an eager checkpoint of uni + n_tok-from-sum(uni) was measured
    # and REVERTED — B/A 1.25 at sf0.1; the O(vocab) count frame is
    # cheaper to recompute per consumer than to materialize serially.)
    n_tok = tok.agg(F.count(F.lit(1)).alias("n"))
    # bigrams map-side from the token array (the phrase-search idiom) —
    # no (doc_id, pos) self-join shuffle
    pairs = F.expr(
        "transform(slice(toks, 1, greatest(size(toks) - 1, 0)),"
        " (x, i) -> struct(i AS pos, x AS v, toks[i + 1] AS w))"
    )
    big = toks.select(
        "doc_id", "source", F.explode(pairs).alias("p")
    ).select("doc_id", "source", "p.pos", "p.v", "p.w")
    bigc = (
        big.groupBy("v", "w")
        .agg(F.count(F.lit(1)).alias("c_vw"))
        # Build-side-only repartition AFTER the agg: keeps the map-side
        # partial combine, costs one O(vocab) re-exchange, and bounds
        # the spill-less SHJ build at ~rows/n_shuf per task. The probe
        # side is aligned to n_shuf by EnsureRequirements (verified in
        # tests/test_scaled_shuffle.py), so its exchange keeps the
        # ENSURE_REQUIREMENTS origin and AQE skew-splitting stays
        # available on the big side.
        .repartition(n_shuf, "v", "w")
    )
    uni_v = (
        uni.select(F.col("term").alias("v"), F.col("c").alias("c_v"))
        .repartition(n_shuf, "v")
    )
    uni_w = (
        uni.select(F.col("term").alias("w"), F.col("c").alias("c_w"))
        .repartition(n_shuf, "w")
    )
    # bigc/uni are O(vocab) — they GROW with the corpus. The 10x AQE
    # probe (tools/scale_probe_aqe.py, round 9) caught Catalyst
    # broadcasting the bigram-count frame at 419 MB on a vocab-salted
    # clone, so the three vocabulary joins are pinned to shuffle-hash
    # with n_shuf-scaled builds: per-executor memory stays
    # O(rows/n_shuf) no matter how the vocabulary scales.
    scored = (
        big.join(bigc.hint("shuffle_hash"), ["v", "w"])
        .join(uni_v.hint("shuffle_hash"), "v")
        .join(uni_w.hint("shuffle_hash"), "w")
        .crossJoin(F.broadcast(n_tok))
        .select(
            "doc_id",
            "source",
            "pos",
            F.log(
                F.lit(0.75)
                * (F.col("c_vw").cast("double") / F.col("c_v").cast("double"))
                + F.lit(0.25)
                * (F.col("c_w").cast("double") / F.col("n").cast("double"))
            ).alias("logp"),
        )
    )
    per_doc = (
        scored.groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.array_sort(F.collect_list(F.struct("pos", "logp"))).alias("arr"),
        )
        .select(
            "doc_id",
            "source",
            "n_bigrams",
            F.floor(
                F.lit(_MICRO)
                * -F.aggregate(
                    F.transform(F.col("arr"), lambda s: s["logp"]),
                    F.lit(0.0),
                    lambda x, y: x + y,
                )
                / F.col("n_bigrams")
            )
            .cast("bigint")
            .alias("surprise_micro"),
        )
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_bigrams").cast("bigint").alias("n_bigrams"),
        F.sum("surprise_micro").cast("bigint").alias("total_surprise_micro"),
        F.expr("CAST(sum(surprise_micro) DIV count(*) AS BIGINT)").alias(
            "mean_surprise_micro"
        ),
    )
