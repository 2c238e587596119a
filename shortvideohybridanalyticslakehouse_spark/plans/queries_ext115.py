"""Extension queries, round 115: MMR diversified top-k re-ranking
(Carbonell & Goldstein 1998, maximal marginal relevance) — the classic
retrieval re-ranker that trades relevance against redundancy:

    pick argmax over remaining candidates of
        lambda * rel(c) - (1 - lambda) * max_{s in selected} sim(c, s)

with lambda = 1/2, so the argmax is equivalently over the integer score
``rel(c) - max_sim(c)``. Complements the existing retrieval surface
(cosine/IVF/LSH top-k, BM25, RRF fusion) with the diversification step
none of them has; the same greedy shape is how a training-data pipeline
picks a DIVERSE exemplar subset, not just the nearest one.

Determinism contract: embeddings quantize component-wise to
floor(x * 1e6 + 0.5) int64 (the ext83/ext91/ext105 contract); relevance
and pairwise similarity are exact integer dot products; ties break on
the smaller vec_id. The greedy loop is replayed EXACTLY by the oracle
as k unrolled CTE rounds (bounded candidate set, so unrolling is k
windowed selections — no folds needed).

Plan shape for 100 TB: candidate generation is the distributed part —
one broadcast of the query vector, integer dots JVM-side, and a
TakeOrderedAndProject top-16 (no full sort). The greedy re-rank then
runs over the BOUNDED candidate frame: a 16x16 similarity cross join
and k argmax rounds, each a 1-row bounded collect (the iterative-query
O(rounds)-scalar-fetch contract from the kmeans/medoid family). Corpus
size only ever touches the first stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from shortvideohybridanalyticslakehouse_spark.functions.localrel import (
    local_rows_df,
)
from shortvideohybridanalyticslakehouse_spark.plans.registry import (
    finalize_bounded,
    materialize,
    register,
)
from shortvideohybridanalyticslakehouse_spark.sources.batch import load_table

MMR_QUERY_ID = 0
MMR_N_CAND = 16
MMR_K = 5

_QUANT = "CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)"


def _duck_dot(a: str, b: str) -> str:
    return (
        f"CAST(list_sum(list_transform(range(1, len({a}) + 1),"
        f" i -> {a}[i] * {b}[i])) AS BIGINT)"
    )


def _mmr_oracle() -> str:
    rounds = []
    union = []
    for r in range(1, MMR_K + 1):
        if r == 1:
            rounds.append(
                "s1 AS (SELECT vec_id, rel, CAST(0 AS BIGINT) AS max_sim"
                " FROM cand ORDER BY rel DESC, vec_id ASC LIMIT 1)"
            )
        else:
            prev = " UNION ALL ".join(
                f"SELECT vec_id FROM s{i}" for i in range(1, r)
            )
            rounds.append(
                f"s{r} AS (\n"
                f"  SELECT c.vec_id, c.rel, max(p.sim) AS max_sim\n"
                f"  FROM cand c JOIN sims p ON p.ca = c.vec_id\n"
                f"   AND p.cb IN ({prev})\n"
                f"  WHERE c.vec_id NOT IN ({prev})\n"
                f"  GROUP BY c.vec_id, c.rel\n"
                f"  ORDER BY c.rel - max(p.sim) DESC, c.vec_id ASC LIMIT 1)"
            )
        union.append(
            f"SELECT CAST({r} AS BIGINT) AS round, vec_id, rel, max_sim,"
            f" rel - max_sim AS mmr_score FROM s{r}"
        )
    return f"""
WITH base AS (
  SELECT vec_id,
         list_transform(embedding, x -> {_QUANT}) AS v
  FROM embeddings
), q AS (
  SELECT v AS qv FROM base WHERE vec_id = {MMR_QUERY_ID}
), scored AS (
  SELECT b.vec_id, b.v, {_duck_dot("b.v", "qv")} AS rel
  FROM base b, q WHERE b.vec_id <> {MMR_QUERY_ID}
), cand AS (
  SELECT vec_id, v, rel FROM scored
  ORDER BY rel DESC, vec_id ASC LIMIT {MMR_N_CAND}
), sims AS (
  SELECT a.vec_id AS ca, b.vec_id AS cb, {_duck_dot("a.v", "b.v")} AS sim
  FROM cand a JOIN cand b ON a.vec_id <> b.vec_id
), {", ".join(rounds)}
{" UNION ALL ".join(union)}
"""


def _int_vec(col: str):
    return F.transform(
        F.col(col),
        lambda x: F.floor(
            x.cast("double") * F.lit(1000000.0) + F.lit(0.5)
        ).cast("bigint"),
    )


def _int_dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )


@register("mmr_diversified_topk", _mmr_oracle())
def q_mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR re-ranked top-5 for query vec_id=0 over the integer-exact
    top-16 relevance candidates: per round the selected vector, its
    relevance, its max similarity to the already-selected set, and the
    marginal score. Greedy replayed by the oracle round-for-round."""
    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.select("vec_id", _int_vec("embedding").alias("v"))
    q = base.filter(F.col("vec_id") == MMR_QUERY_ID).select(
        F.col("v").alias("qv")
    )
    cand = materialize(
        base.filter(F.col("vec_id") != MMR_QUERY_ID)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id", "v", _int_dot(F.col("v"), F.col("qv")).alias("rel")
        )
        .orderBy(F.col("rel").desc(), F.col("vec_id").asc())
        .limit(MMR_N_CAND)
    )
    a = cand.select(
        F.col("vec_id").alias("ca"), F.col("v").alias("va"), "rel"
    )
    b = cand.select(F.col("vec_id").alias("cb"), F.col("v").alias("vb"))
    sims = materialize(
        a.join(F.broadcast(b), F.col("ca") != F.col("cb")).select(
            "ca",
            "cb",
            "rel",
            _int_dot(F.col("va"), F.col("vb")).alias("sim"),
        )
    )

    selected: list[int] = []
    out_rows: list[tuple[int, int, int, int, int]] = []
    for rnd in range(1, MMR_K + 1):
        rows = _mmr_round(cand, sims, selected, rnd).collect()
        if not rows:  # pool smaller than MMR_K: greedy set exhausted
            break
        r = rows[0]
        selected.append(r.vec_id)
        out_rows.append((rnd, r.vec_id, r.rel, r.max_sim, r.rel - r.max_sim))

    result = local_rows_df(
        spark,
        out_rows,
        "round bigint, vec_id bigint, rel bigint, max_sim bigint, "
        "mmr_score bigint",
    )
    return finalize_bounded(result)


def _mmr_round(cand, sims, selected: list[int], rnd: int):
    """One greedy MMR round's winner frame (bounded: limit 1)."""
    if rnd == 1:
        return (
            cand.orderBy(F.col("rel").desc(), F.col("vec_id").asc())
            .limit(1)
            .select(
                "vec_id",
                "rel",
                F.lit(0).cast("bigint").alias("max_sim"),
            )
        )
    return (
        sims.filter(
            F.col("cb").isin(selected)
            & ~F.col("ca").isin(selected)
        )
        .groupBy("ca", "rel")
        .agg(F.max("sim").alias("max_sim"))
        .orderBy(
            (F.col("rel") - F.col("max_sim")).desc(),
            F.col("ca").asc(),
        )
        .limit(1)
        .select(F.col("ca").alias("vec_id"), "rel", "max_sim")
    )
