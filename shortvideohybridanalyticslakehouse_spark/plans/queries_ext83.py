"""Extension queries, round 83: top principal component of the embedding
corpus via fixed-round POWER ITERATION — iterative linear algebra as a
fifth iterative family (after CC, PageRank, k-core, BFS), and the
spectral summary an embedding-drift monitor tracks release-over-release.

Cross-engine determinism, layer by layer:

1. Quantize each float32 component to x_q = floor(x * 1e6 + 0.5)
   (explicit half-up — numpy's rint and DuckDB's round() disagree on
   ties, floor(+0.5) cannot). Integer second moments (Gram + marginals
   + count) then reassociate LOSSLESSLY, so Spark's partition order and
   DuckDB's scan order give byte-identical covariance numerators:
   cov_ij ∝ n*S_ij - S_i*S_j (all int64; overflow headroom asserted in
   functions/similarity.int_gram_stats).
2. The 64x64 matrix folds through 8 power iterations on the driver
   (functions/driverfold.pca_power_fold): u = round(mat·v, 12) per
   component via an ORDERED fold (0.0 + x1 == x1 in IEEE, so the
   explicit zero seed equals DuckDB's first-element seed), norm and
   normalize round-12 quantized — the EWMA/survival recipe applied to
   vectors; spark_round is bit-identical to Spark's round().
3. v0 = 1/sqrt(64) = 0.125 exactly (dyadic), so even the start state
   carries no rounding.

Scale shape: one mapInPandas GEMM pass (per-partition X^T X, int64
exact) + a groupBy over 64x64+65 cells, collected (4161 rows whatever
the corpus size) and folded on the driver. At 100 TB the
GEMM pass is the only data-sized stage and it is embarrassingly
parallel with a 4 KB-per-partition reduce payload.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from shortvideohybridanalyticslakehouse_spark.functions import similarity
from shortvideohybridanalyticslakehouse_spark.functions.driverfold import (
    pca_power_fold,
    spark_round,
)
from shortvideohybridanalyticslakehouse_spark.functions.localrel import (
    local_rows_df,
)
from shortvideohybridanalyticslakehouse_spark.plans.registry import register
from shortvideohybridanalyticslakehouse_spark.sources.batch import load_table

_D = 64
_ITERS = 8
_SCALE = 1_000_000


def _duck_iter(k: int) -> str:
    return f"""
u{k} AS (
  SELECT mat,
    list_transform(range(0, {_D}), i ->
      round(list_reduce(
        list_transform(range(0, {_D}),
          j -> mat[CAST(i * {_D} + j AS INT) + 1] * v[CAST(j AS INT) + 1]),
        (a, b) -> a + b), 12)) AS u
  FROM it{k - 1}
), it{k} AS (
  SELECT mat,
    list_transform(u, x -> round(x / round(sqrt(
      list_reduce(list_transform(u, y -> y * y), (a, b) -> a + b)), 12),
      12)) AS v
  FROM u{k}
)"""


_PCA_ORACLE = rf"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(FLOOR(CAST(x AS DOUBLE) * {_SCALE} + 0.5) AS BIGINT))
           AS xq
  FROM embeddings
), cells AS (
  SELECT i.i AS i, j.j AS j,
         CAST(SUM(xq[CAST(i.i AS INT) + 1] * xq[CAST(j.j AS INT) + 1])
              AS BIGINT) AS s
  FROM q, range(0, {_D}) AS i(i), range(0, {_D}) AS j(j)
  GROUP BY 1, 2
), marg AS (
  SELECT i.i AS i, CAST(SUM(xq[CAST(i.i AS INT) + 1]) AS BIGINT) AS m
  FROM q, range(0, {_D}) AS i(i)
  GROUP BY 1
), nn AS (
  SELECT CAST(count(*) AS BIGINT) AS n FROM q
), m0 AS (
  SELECT list(
           CAST(nn.n * c.s - ma.m * mb.m AS DOUBLE)
           / (CAST(nn.n AS DOUBLE) * CAST(nn.n AS DOUBLE))
           ORDER BY c.i, c.j) AS mat
  FROM cells c
  JOIN marg ma ON ma.i = c.i
  JOIN marg mb ON mb.i = c.j
  CROSS JOIN nn
), it0 AS (
  SELECT mat,
         list_transform(range(0, {_D}), i -> CAST(0.125 AS DOUBLE)) AS v
  FROM m0
),{','.join(_duck_iter(k) for k in range(1, _ITERS + 1))},
final_u AS (
  SELECT mat, v,
    list_transform(range(0, {_D}), i ->
      round(list_reduce(
        list_transform(range(0, {_D}),
          j -> mat[CAST(i * {_D} + j AS INT) + 1] * v[CAST(j AS INT) + 1]),
        (a, b) -> a + b), 12)) AS u
  FROM it{_ITERS}
), lam AS (
  SELECT v,
    round(list_reduce(
      list_transform(range(0, {_D}),
        j -> v[CAST(j AS INT) + 1] * u[CAST(j AS INT) + 1]),
      (a, b) -> a + b), 6) AS eigenvalue
  FROM final_u
)
SELECT CAST(d.d AS INT) AS dim,
       round(v[CAST(d.d AS INT) + 1], 6) AS loading,
       eigenvalue
FROM lam, range(0, {_D}) AS d(d)
"""


@register("embedding_pca_power", _PCA_ORACLE)
def q_embedding_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top covariance eigenvector (8 fixed power-iteration rounds,
    round-12 quantized) + Rayleigh eigenvalue over the embedding corpus;
    integer-exact covariance via the quantized GEMM pass (see module
    docstring)."""
    emb = load_table(spark, sf_dir, "embeddings")
    stats = similarity.int_gram_stats(
        emb, "vec_id", "embedding", dim=_D, scale=_SCALE
    )
    # The 8-round power iteration runs on a SINGLE 64x64 matrix, so
    # its cost scales with nothing (guide §1.2/§5). Collect the 4161
    # exact-integer stat rows (produced by the
    # distributed ANSI-guarded GEMM SUM, which keeps the overflow gate)
    # and fold on the driver with bit-identical arithmetic
    # (driverfold.pca_power_fold).
    rows = stats.collect()
    n_val = next(
        (r["s"] for r in rows if r["i"] == -1 and r["j"] == -1), None
    )
    # an empty corpus has no covariance: NULL loadings and eigenvalue,
    # as the oracle answers
    out = [(d, None, None) for d in range(_D)]
    if n_val:
        gram = {
            (r["i"], r["j"]): r["s"]
            for r in rows
            if r["i"] >= 0 and r["j"] >= 0
        }
        marg = {r["i"]: r["s"] for r in rows if r["i"] >= 0 and r["j"] == -1}
        v, lam = pca_power_fold(n_val, gram, marg, _D, _ITERS)
        out = [(d, spark_round(v[d], 6), lam) for d in range(_D)]
    return local_rows_df(
        spark, out, "dim int, loading double, eigenvalue double"
    )
