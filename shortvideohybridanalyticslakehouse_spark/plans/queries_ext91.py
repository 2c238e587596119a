"""Extension queries, round 91: integer-exact Lloyd k-means TRAINING —
the sixth iterative family (CC, PageRank, k-core, BFS, PCA power
iteration, now k-means), and unlike the pyspark.ml variant (recall-
tested, ext3) this one's TRAINING LOOP is hash-replayed by the oracle
round for round.

Exactness by construction (no floats anywhere until the final output):
embeddings quantize to xq = floor(x*1e6 + 0.5) int64; distances are
exact integer squared-L2 (max term 64 * (2e6)^2 ~ 2.6e14 — int64 safe);
assignment is argmin with ties to the smallest cluster id; centroid
update is the TRUNCATED integer mean per dimension (toward zero — the
semantics of DuckDB's // and SQL DIV; Python's // floors, so the driver
loop uses an explicit trunc_div). Empty clusters keep their previous
centroid — a deterministic rule both engines state explicitly. Initial centroids are the quantized vectors of vec_ids
0..K-1. R fixed rounds; output is per-cluster membership, exact integer
inertia, and a centroid checksum — any assignment or update slip in any
round shifts all three.

Scale shape: per round, assignment is one scan with K broadcast literal
centroids folded scan-side (no join), and the update is one
posexplode + groupBy(K x D cells); the only driver traffic is the
O(K*D) centroid matrix per round (256 ints), the bounded-collect
precedent (medoids, k-core round counts).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from shortvideohybridanalyticslakehouse_spark.plans.registry import (
    materialize,
    register,
)
from shortvideohybridanalyticslakehouse_spark.sources.batch import load_table

_K = 4
_D = 64
_ROUNDS = 3
_SCALE = 1_000_000


def _duck_assign(cent: str, out: str) -> str:
    """One assignment round: cross join the K centroids, exact integer
    squared-L2, argmin via a per-vec window (ties to lowest k)."""
    return f"""
{out}_d AS (
  SELECT q.vec_id, q.xq, c.k,
         list_reduce(
           list_transform(range(1, {_D} + 1),
             i -> (q.xq[CAST(i AS INT)] - c.cent[CAST(i AS INT)])
                * (q.xq[CAST(i AS INT)] - c.cent[CAST(i AS INT)])),
           (a, b) -> a + b) AS dist
  FROM q CROSS JOIN {cent} c
), {out} AS (
  SELECT vec_id, xq, k FROM (
    SELECT vec_id, xq, k,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY dist ASC, k ASC) AS rn
    FROM {out}_d
  ) WHERE rn = 1
)"""


def _duck_update(assign: str, prev_cent: str, out: str) -> str:
    """Centroid update: TRUNCATED integer mean per dim (DuckDB // on
    ints truncates toward zero); empty clusters keep the previous
    centroid."""
    return f"""
{out} AS (
  SELECT k0.k,
         coalesce(u.cent, p.cent) AS cent
  FROM range(0, {_K}) AS k0(k)
  JOIN {prev_cent} p ON p.k = k0.k
  LEFT JOIN (
    SELECT k, list(s // n ORDER BY d) AS cent
    FROM (
      SELECT a.k, dd.d AS d,
             CAST(SUM(a.xq[CAST(dd.d AS INT) + 1]) AS BIGINT) AS s,
             CAST(count(*) AS BIGINT) AS n
      FROM {assign} a, range(0, {_D}) AS dd(d)
      GROUP BY 1, 2
    ) GROUP BY k
  ) u ON u.k = k0.k
)"""


def _duck_rounds() -> str:
    parts = []
    cent = "c0"
    for r in range(1, _ROUNDS + 1):
        parts.append("," + _duck_assign(cent, f"a{r}"))
        new_cent = f"c{r}"
        parts.append("," + _duck_update(f"a{r}", cent, new_cent))
        cent = new_cent
    return "".join(parts)


_KMEANS_ORACLE = rf"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(FLOOR(CAST(x AS DOUBLE) * {_SCALE} + 0.5) AS BIGINT))
           AS xq
  FROM embeddings
), c0 AS (
  SELECT vec_id AS k, xq AS cent FROM q WHERE vec_id < {_K}
){_duck_rounds()},
final_dists AS (
  SELECT a.k,
         list_reduce(
           list_transform(range(1, {_D} + 1),
             i -> (a.xq[CAST(i AS INT)] - c.cent[CAST(i AS INT)])
                * (a.xq[CAST(i AS INT)] - c.cent[CAST(i AS INT)])),
           (x, y) -> x + y) AS dist
  FROM a{_ROUNDS} a JOIN c{_ROUNDS} c ON c.k = a.k
)
SELECT f.k AS cluster,
       CAST(count(*) AS BIGINT) AS n_members,
       CAST(sum(f.dist) AS BIGINT) AS inertia,
       (SELECT CAST(list_reduce(list_transform(c.cent, v -> abs(v)),
                                (a, b) -> a + b) AS BIGINT)
        FROM c{_ROUNDS} c WHERE c.k = f.k) AS centroid_abs_sum
FROM final_dists f
GROUP BY 1
"""


def _quantized(emb: DataFrame) -> DataFrame:
    return emb.select(
        "vec_id",
        F.transform(
            F.col("embedding"),
            lambda x: F.floor(x.cast("double") * _SCALE + F.lit(0.5)).cast(
                "long"
            ),
        ).alias("xq"),
    )


def _kmeans_partials_kernel(
    assign_cents: list[list[int]],
    measure_cents: list[list[int]] | None = None,
):
    """mapInPandas kernel: per input batch, exact-integer assignment to
    the K ``assign_cents`` (argmin squared-L2, ties to lowest k — the
    oracle's total order on (dist, k)) and
    PARTIAL per-(cluster, dim) sums/counts plus the per-cluster partial
    inertia measured against ``measure_cents`` (defaults to the
    assignment centroids; the final stats pass assigns with the LAST
    round's centroids but measures distance to the UPDATED ones, as the
    oracle does). All arithmetic is int64
    (micro-quantized inputs keep every product far below 2^63), and
    integer addition is associative — the numpy fold is bit-identical to
    the oracle's SQL fold whatever the batch split (guide §4.2)."""
    mc = measure_cents if measure_cents is not None else assign_cents

    def fn(it):
        import numpy as np  # noqa: PLC0415 — executor-side import
        import pandas as pd  # noqa: PLC0415

        C = np.array(assign_cents, dtype=np.int64)  # K x D
        M = np.array(mc, dtype=np.int64)
        for pdf in it:
            if not len(pdf):
                continue
            X = np.stack(pdf["xq"].to_numpy()).astype(np.int64)  # n x D
            d = np.empty((len(X), len(C)), dtype=np.int64)
            for k in range(len(C)):
                diff = X - C[k]
                d[:, k] = np.einsum("ij,ij->i", diff, diff)
            assign = np.argmin(d, axis=1)
            rows = {"k": [], "d": [], "s": [], "n": [], "inert": []}
            for k in range(len(C)):
                mask = assign == k
                n = int(mask.sum())
                if n == 0:
                    continue
                sums = X[mask].sum(axis=0)
                diff_m = X[mask] - M[k]
                inert = int(np.einsum("ij,ij->", diff_m, diff_m))
                dim = X.shape[1]
                rows["k"].extend([k] * dim)
                rows["d"].extend(range(dim))
                rows["s"].extend(int(v) for v in sums)
                rows["n"].extend([n] * dim)
                rows["inert"].extend([inert] + [0] * (dim - 1))
            yield pd.DataFrame(rows).astype(
                {"k": "int32", "d": "int32", "s": "int64",
                 "n": "int64", "inert": "int64"}
            )

    return fn


_KMEANS_PARTIAL_SCHEMA = "k int, d int, s long, n long, inert long"


@register("kmeans_lloyd_integer", _KMEANS_ORACLE)
def q_kmeans_lloyd_integer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three exact-integer Lloyd rounds over quantized embeddings; the
    oracle replays assignment and centroid updates round for round.
    Output: per-cluster size, integer inertia, centroid checksum.

    r13 (guide §4.2): each round's assignment + per-dim re-aggregation
    runs as ONE numpy int64 kernel per partition (mapInPandas) instead
    of a K x D Catalyst HOF per row plus a posexplode of N x D rows —
    integer arithmetic is associative, so the results are bit-identical
    (tests/test_ext91_kmeans_kernel.py checks the lane against a
    pure-python Lloyd twin).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    q = materialize(_quantized(emb))

    cents = [
        [int(v) for v in r.xq]
        for r in q.filter(F.col("vec_id") < _K)
        .orderBy("vec_id")
        .collect()
    ]
    if not cents:  # no seed vectors (empty corpus): no clusters
        return spark.createDataFrame(
            [],
            "cluster int, n_members bigint, inertia bigint,"
            " centroid_abs_sum bigint",
        )
    prev_cents = cents
    for _round in range(_ROUNDS):
        partials = (
            q.select("xq")
            .mapInPandas(
                _kmeans_partials_kernel(cents), _KMEANS_PARTIAL_SCHEMA
            )
            .groupBy("k", "d")
            .agg(
                F.sum("s").alias("s"),
                F.sum("n").alias("n"),
            )
            .collect()
        )
        by_k: dict[int, dict[int, tuple[int, int]]] = {}
        for r in partials:
            by_k.setdefault(int(r.k), {})[int(r.d)] = (int(r.s), int(r.n))

        def trunc_div(s: int, n: int) -> int:
            # toward-zero division (SQL DIV / DuckDB //); Python // floors
            return -((-s) // n) if s < 0 else s // n

        new_cents = []
        for k in range(_K):
            if k in by_k:
                new_cents.append(
                    [
                        trunc_div(by_k[k][d][0], by_k[k][d][1])
                        for d in range(len(cents[k]))
                    ]
                )
            else:  # empty cluster: keep previous centroid
                new_cents.append(cents[k])
        prev_cents, cents = cents, new_cents
    # final stats, as the oracle computes them: assign with the LAST
    # round's centroids but measure inertia against the UPDATED ones
    final = (
        q.select("xq")
        .mapInPandas(
            _kmeans_partials_kernel(prev_cents, cents),
            _KMEANS_PARTIAL_SCHEMA,
        )
        .groupBy(F.col("k").cast("int").alias("cluster"))
        .agg(
            F.sum(F.when(F.col("d") == 0, F.col("n"))).alias(
                "n_members"
            ),
            F.sum("inert").cast("bigint").alias("inertia"),
        )
    )
    checksums = {k: sum(abs(v) for v in c) for k, c in enumerate(cents)}
    cks = F.create_map(
        *[x for k, s in checksums.items() for x in (F.lit(k), F.lit(s))]
    )
    return final.select(
        "cluster",
        F.col("n_members").cast("bigint").alias("n_members"),
        "inertia",
        cks[F.col("cluster")].cast("bigint").alias("centroid_abs_sum"),
    )
