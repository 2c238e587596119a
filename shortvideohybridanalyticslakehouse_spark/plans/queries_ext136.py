"""Extension queries, round 136: embedding label-geometry audits.

1. label_centroid_db_index — Davies-Bouldin components per label over
   the micro-quantized embeddings: per-label centroid (exact integer
   sums, floor-divided), per-label scatter (milli-floored sqrt of the
   integer squared distance — sqrt is IEEE correctly-rounded, so it is
   bit-identical across engines), and the worst (S_i+S_j)/M_ij ratio
   against every other label. The "are my labels geometrically
   separable" check a linear-probe would answer with a GPU.
2. centroid_label_confusion — every vector assigned to its NEAREST
   label centroid (squared integer distance, label tie-break), counted
   as a (label, nearest_label) confusion matrix — the classifier-free
   label-noise smell test that complements knn_label_noise_audit.

Determinism: centroids are floor(sum/n) on exact integer sums (floor on
a double that is exact below 2^53); distances are integer; sqrt is
correctly-rounded IEEE; every derived double is floored to milli/micro
before comparison or summation.

Plan shapes at 100 TB: one Arrow-kernel pass of per-partition
(label, dim) partial sums, aggregated to K x dim rows and collected as
the centroids (closed label alphabet), then an O(N) kernel scan against
the K centroids — nothing quadratic in N; the label-pair matrix is
K x K on the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from shortvideohybridanalyticslakehouse_spark.functions.localrel import (
    local_rows_df,
)
from shortvideohybridanalyticslakehouse_spark.plans.registry import register
from shortvideohybridanalyticslakehouse_spark.sources.batch import load_table

_QUANT = "CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)"

_CENTROID_CTE = f"""
WITH base AS (
  SELECT vec_id, CAST(label AS BIGINT) AS label,
         list_transform(embedding, x -> {_QUANT}) AS v
  FROM embeddings
), expl AS (
  SELECT label, vec_id, unnest(generate_series(1, len(v))) AS pos, v
  FROM base
), cells AS (
  SELECT label, pos, CAST(sum(v[pos]) AS BIGINT) AS s,
         CAST(count(*) AS BIGINT) AS n
  FROM expl GROUP BY 1, 2
), cent AS (
  SELECT label, n,
         list(CAST(floor(CAST(s AS DOUBLE) / n) AS BIGINT)
              ORDER BY pos) AS c
  FROM cells GROUP BY 1, 2
)
"""


def _duck_sqdist(a: str, b: str) -> str:
    return (
        f"CAST(list_sum(list_transform(range(1, len({a}) + 1),"
        f" i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i]))) AS BIGINT)"
    )


_DB_ORACLE = (
    _CENTROID_CTE
    + f"""
, scatter AS (
  SELECT b.label,
         CAST(count(*) AS BIGINT) AS n_vecs,
         CAST(sum(CAST(floor(
           sqrt(CAST({_duck_sqdist("b.v", "c.c")} AS DOUBLE)) * 1000.0
         ) AS BIGINT)) AS BIGINT) AS dist_sum_milli
  FROM base b JOIN cent c ON c.label = b.label
  GROUP BY 1
), s AS (
  SELECT label, n_vecs,
         CAST(floor(CAST(dist_sum_milli AS DOUBLE) / n_vecs) AS BIGINT)
           AS s_milli
  FROM scatter
), ratios AS (
  SELECT si.label,
         sj.label AS other_label,
         CASE WHEN CAST(floor(
           sqrt(CAST({_duck_sqdist("ci.c", "cj.c")} AS DOUBLE)) * 1000.0
         ) AS BIGINT) = 0
         THEN CAST(9223372036854775807 AS BIGINT)
         ELSE
         CAST((si.s_milli + sj.s_milli) * 1000000 // CAST(floor(
           sqrt(CAST({_duck_sqdist("ci.c", "cj.c")} AS DOUBLE)) * 1000.0
         ) AS BIGINT) AS BIGINT) END AS r_micro
  FROM s si JOIN s sj ON si.label <> sj.label
  JOIN cent ci ON ci.label = si.label
  JOIN cent cj ON cj.label = sj.label
)
SELECT s.label, s.n_vecs, s.s_milli,
       CAST(max(r.r_micro) AS BIGINT) AS worst_ratio_micro
FROM s JOIN ratios r ON r.label = s.label
GROUP BY 1, 2, 3
"""
)


# Arrow kernels (r13, guide §4.2): the per-label centroid aggregation and
# the per-member distance scans run as exact-int64 numpy kernels.
# Quantization floor(x*1e6+0.5), integer squared distances and the
# milli-floored sqrt are the oracle's ops one for one; integer partial
# sums are associative, so results are bit-identical (oracle-gated at
# all SFs; brute-force twins in tests/test_kernel_twins.py).


def _emb_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select(
        F.col("label").cast("bigint").alias("label"),
        F.col("embedding").cast("array<double>").alias("e"),
    )


def _quant_np(pdf_col):
    import numpy as np  # noqa: PLC0415

    X = np.stack(pdf_col.to_numpy()).astype(np.float64)
    return np.floor(X * 1_000_000.0 + 0.5).astype(np.int64)


def _cent_partials_kernel(it):
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    for pdf in it:
        if not len(pdf):
            continue
        V = _quant_np(pdf["e"])
        labels = pdf["label"].to_numpy()
        rows = {"label": [], "d": [], "s": [], "n": []}
        for lab in np.unique(labels):
            mask = labels == lab
            sums = V[mask].sum(axis=0)
            n = int(mask.sum())
            dim = V.shape[1]
            rows["label"].extend([int(lab)] * dim)
            rows["d"].extend(range(dim))
            rows["s"].extend(int(x) for x in sums)
            rows["n"].extend([n] * dim)
        yield pd.DataFrame(rows).astype(
            {"label": "int64", "d": "int32", "s": "int64", "n": "int64"}
        )


def _centroids_driver(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, dict[int, tuple[int, list[int]]]]:
    """(raw frame, {label: (n_vecs, centroid ints)}) via one kernel pass."""
    import math

    raw = _emb_raw(spark, sf_dir)
    parts = (
        raw.mapInPandas(
            _cent_partials_kernel, "label long, d int, s long, n long"
        )
        .groupBy("label", "d")
        .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
        .collect()
    )
    by_label: dict[int, dict[int, tuple[int, int]]] = {}
    for r in parts:
        by_label.setdefault(int(r.label), {})[int(r.d)] = (int(r.s), int(r.n))
    cents: dict[int, tuple[int, list[int]]] = {}
    for lab, cells in by_label.items():
        dim = len(cells)
        n = cells[0][1]
        # floor over the DOUBLE quotient — the oracle casts s to double
        # first, so replicate float(s)/float(n)
        cents[lab] = (
            n,
            [int(math.floor(float(cells[d][0]) / float(cells[d][1]))) for d in range(dim)],
        )
    return raw, cents


@register("label_centroid_db_index", _DB_ORACLE)
def q_label_centroid_db_index(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-label Davies-Bouldin components: scatter (milli) and the
    worst (S_i+S_j)/M_ij separation ratio (micro) vs any other label."""
    import math

    raw, cents = _centroids_driver(spark, sf_dir)
    schema = (
        "label bigint, n_vecs bigint, s_milli bigint, "
        "worst_ratio_micro bigint"
    )
    if not cents:
        return local_rows_df(spark, [], schema)
    cvecs = {lab: c for lab, (_, c) in cents.items()}

    def scatter_kernel(it):
        import numpy as np  # noqa: PLC0415
        import pandas as pd  # noqa: PLC0415

        for pdf in it:
            if not len(pdf):
                continue
            V = _quant_np(pdf["e"])
            labels = pdf["label"].to_numpy()
            rows = {"label": [], "cnt": [], "dm": []}
            for lab in np.unique(labels):
                c = np.asarray(cvecs[int(lab)], dtype=np.int64)
                diff = V[labels == lab] - c
                d2 = np.einsum("ij,ij->i", diff, diff)
                dm = np.floor(
                    np.sqrt(d2.astype(np.float64)) * 1000.0
                ).astype(np.int64)
                rows["label"].append(int(lab))
                rows["cnt"].append(int((labels == lab).sum()))
                rows["dm"].append(int(dm.sum()))
            yield pd.DataFrame(rows).astype("int64")

    sc = (
        raw.mapInPandas(scatter_kernel, "label long, cnt long, dm long")
        .groupBy("label")
        .agg(F.sum("cnt").alias("n_vecs"), F.sum("dm").alias("dm"))
        .collect()
    )
    s_milli = {
        int(r.label): (
            int(r.n_vecs),
            int(math.floor(float(r.dm) / float(r.n_vecs))),
        )
        for r in sc
    }
    rows = []
    for lab, (n_vecs, si) in s_milli.items():
        worst = None
        for other, (_, sj) in s_milli.items():
            if other == lab:
                continue
            diff2 = sum(
                (x - y) * (x - y)
                for x, y in zip(cvecs[lab], cvecs[other])
            )
            m = int(math.floor(math.sqrt(float(diff2)) * 1000.0))
            r = (
                9223372036854775807
                if m == 0
                else (si + sj) * 1_000_000 // m
            )
            worst = r if worst is None or r > worst else worst
        if worst is not None:
            rows.append((lab, n_vecs, si, worst))
    return local_rows_df(spark, rows, schema)


_CONFUSION_ORACLE = (
    _CENTROID_CTE
    + f"""
, assign AS (
  SELECT b.vec_id, b.label,
         c.label AS cand,
         {_duck_sqdist("b.v", "c.c")} AS d2,
         row_number() OVER (
           PARTITION BY b.vec_id
           ORDER BY {_duck_sqdist("b.v", "c.c")} ASC, c.label ASC
         ) AS rn
  FROM base b CROSS JOIN cent c
)
SELECT label, cand AS nearest_label,
       CAST(count(*) AS BIGINT) AS n_vecs
FROM assign WHERE rn = 1
GROUP BY 1, 2
"""
)


@register("centroid_label_confusion", _CONFUSION_ORACLE)
def q_centroid_label_confusion(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Confusion matrix of own label vs nearest label centroid (integer
    squared distance, label tie-break) — the classifier-free label
    separability audit."""
    raw, cents = _centroids_driver(spark, sf_dir)
    if not cents:
        return local_rows_df(
            spark, [], "label bigint, nearest_label bigint, n_vecs bigint"
        )
    cand = sorted(cents)  # ascending label = argmin tie-break
    cmat = [cents[lab][1] for lab in cand]

    def confusion_kernel(it):
        import numpy as np  # noqa: PLC0415
        import pandas as pd  # noqa: PLC0415

        C = np.array(cmat, dtype=np.int64)
        cids = np.array(cand, dtype=np.int64)
        for pdf in it:
            if not len(pdf):
                continue
            V = _quant_np(pdf["e"])
            labels = pdf["label"].to_numpy()
            best_d = None
            best_c = None
            for j in range(len(C)):
                diff = V - C[j]
                d2 = np.einsum("ij,ij->i", diff, diff)
                if best_d is None:
                    best_d = d2
                    best_c = np.full(len(V), cids[j], np.int64)
                else:
                    upd = d2 < best_d
                    best_d = np.where(upd, d2, best_d)
                    best_c = np.where(upd, cids[j], best_c)
            out = (
                pd.DataFrame(
                    {"label": labels, "nearest_label": best_c}
                )
                .groupby(["label", "nearest_label"], as_index=False)
                .size()
                .rename(columns={"size": "cnt"})
            )
            yield out.astype("int64")

    return (
        raw.mapInPandas(
            confusion_kernel,
            "label long, nearest_label long, cnt long",
        )
        .groupBy("label", "nearest_label")
        .agg(F.sum("cnt").cast("bigint").alias("n_vecs"))
    )
