"""Extension queries, round 111: dedup-cluster-aware train/val/test
split (the leakage-proof version of train_val_test_split) and a
deterministic half-sample bootstrap CI for mean purchase value.

The split op is the one a training-data pipeline actually needs: hashing
per-DOCUMENT leaks near-duplicate pairs across the train/test boundary
(the model sees the test set through its train-side twins); hashing the
CLUSTER id assigns whole near-dup components to one side, making the
cross-split edge count zero BY CONSTRUCTION — and the query reports the
naive split's leaked-edge count alongside, so the hazard is measured,
not asserted. Everything rides the hash60 contract (md5-prefix bigint)
both engines share; the connected components reuse the ext6 machinery
(label propagation on Spark, recursive-CTE closure in DuckDB).

The bootstrap: B=200 deterministic half-samples (row r is in resample b
iff hash60(id:b) is even), per-resample exact integer mean in micro
cents via DIV, CI from the sorted resample means — no RNG, no floats,
replayable bit-identically in any engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from shortvideohybridanalyticslakehouse_spark.functions import dedupfns
from shortvideohybridanalyticslakehouse_spark.functions.dedupfns import hash60
from shortvideohybridanalyticslakehouse_spark.plans.queries_ext6 import (
    _DUCK_SHINGLES_3,
    connected_components,
)
from shortvideohybridanalyticslakehouse_spark.functions.localrel import (
    local_rows_df,
)
from shortvideohybridanalyticslakehouse_spark.plans.registry import (
    materialize,
    register,
)
from shortvideohybridanalyticslakehouse_spark.sources.batch import load_table

# split buckets: 0-7 train, 8 val, 9 test (the train_val_test_split mix)
_SPLIT_CASE = (
    "CASE WHEN {b} <= 7 THEN 'train' WHEN {b} = 8 THEN 'val'"
    " ELSE 'test' END"
)

_CLUSTER_SPLIT_ORACLE = rf"""
WITH RECURSIVE sh AS (
  SELECT doc_id, {_DUCK_SHINGLES_3} AS shs FROM documents
), sized AS (
  SELECT doc_id, shs, len(shs) AS sh_size FROM sh
), ex AS (
  SELECT doc_id, sh_size,
         CAST(('0x' || substr(md5(unnest(shs)), 1, 15)) AS BIGINT) AS shingle_h
  FROM sized
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.sh_size AS size_a, b.sh_size AS size_b,
         CAST(count(*) AS BIGINT) AS n_inter
  FROM ex a JOIN ex b ON a.shingle_h = b.shingle_h AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4
), edges AS (
  SELECT doc_a, doc_b FROM inter
  WHERE n_inter / CAST(size_a + size_b - n_inter AS DOUBLE) >= 0.5
), sym AS (
  SELECT doc_a AS s, doc_b AS d FROM edges
  UNION SELECT doc_b, doc_a FROM edges
), reach(node, r) AS (
  SELECT s, s FROM sym
  UNION
  SELECT sym.d, reach.r FROM reach JOIN sym ON sym.s = reach.node
), labels AS (
  SELECT node, min(r) AS cluster_id FROM reach GROUP BY node
), assigned AS (
  SELECT d.doc_id, d.n_chars,
         coalesce(l.cluster_id, d.doc_id) AS cluster_id,
         CAST(('0x' || substr(md5(CAST(coalesce(l.cluster_id, d.doc_id)
                                       AS VARCHAR)), 1, 15)) AS BIGINT)
           % 10 AS cb,
         CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))
              AS BIGINT) % 10 AS nb
  FROM documents d LEFT JOIN labels l ON l.node = d.doc_id
), leaks AS (
  SELECT
    CAST(sum(CASE WHEN ({_SPLIT_CASE.format(b="x.cb")})
                <> ({_SPLIT_CASE.format(b="y.cb")}) THEN 1 ELSE 0 END)
         AS BIGINT) AS leak_cluster,
    CAST(sum(CASE WHEN ({_SPLIT_CASE.format(b="x.nb")})
                <> ({_SPLIT_CASE.format(b="y.nb")}) THEN 1 ELSE 0 END)
         AS BIGINT) AS leak_naive
  FROM edges e
  JOIN assigned x ON x.doc_id = e.doc_a
  JOIN assigned y ON y.doc_id = e.doc_b
)
SELECT ({_SPLIT_CASE.format(b="a.cb")}) AS split,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT a.cluster_id) AS BIGINT) AS n_clusters,
       CAST(sum(a.n_chars) AS BIGINT) AS n_chars,
       l.leak_cluster AS leaked_dup_edges,
       l.leak_naive AS naive_split_leaked_edges
FROM assigned a, leaks l
GROUP BY 1, l.leak_cluster, l.leak_naive
ORDER BY split
"""


@register("cluster_aware_split", _CLUSTER_SPLIT_ORACLE)
def q_cluster_aware_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test split that assigns whole near-dup clusters to one
    side (hash the CLUSTER id, not the doc id), with a measured leakage
    audit: cross-split near-dup edges are zero by construction, while
    the naive per-doc split's leaked-edge count is reported alongside —
    the contamination a test-set eval would silently inherit."""
    docs = load_table(spark, sf_dir, "documents", ensure_parallelism=True)
    # The Jaccard self-join is this lane's dominant cost and its output is
    # consumed THREE times (CC edge list, leak audit join x2 sides);
    # materializing executes it once instead of re-deriving it from the
    # scan for the leak audit at final-action time (guide §5 cache
    # discipline; measured r12: 7.4 s -> 4.9 s for the lane).
    edges = materialize(
        dedupfns.exact_jaccard_pairs(docs, "doc_id", "text", k=3, min_jaccard=0.5)
    )
    labels = connected_components(edges, "doc_a", "doc_b")
    assigned = (
        docs.select("doc_id", "n_chars")
        .join(
            F.broadcast(labels.withColumnRenamed("node", "doc_id")),
            "doc_id",
            "left",
        )
        .select(
            "doc_id",
            "n_chars",
            F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias(
                "cluster_id"
            ),
        )
        .withColumn(
            "cb", hash60(F.col("cluster_id").cast("string")) % 10
        )
        .withColumn("nb", hash60(F.col("doc_id").cast("string")) % 10)
    )

    def split_of(b):
        return (
            F.when(b <= 7, F.lit("train"))
            .when(b == 8, F.lit("val"))
            .otherwise(F.lit("test"))
        )

    ex = F.broadcast(
        assigned.select("doc_id", "cb", "nb")
    )
    leaks = F.broadcast(
        edges.join(
            ex.select(
                F.col("doc_id").alias("doc_a"),
                F.col("cb").alias("cb_a"),
                F.col("nb").alias("nb_a"),
            ),
            "doc_a",
        )
        .join(
            ex.select(
                F.col("doc_id").alias("doc_b"),
                F.col("cb").alias("cb_b"),
                F.col("nb").alias("nb_b"),
            ),
            "doc_b",
        )
        .agg(
            F.sum(
                (split_of(F.col("cb_a")) != split_of(F.col("cb_b"))).cast(
                    "int"
                )
            )
            .cast("bigint")
            .alias("leaked_dup_edges"),
            F.sum(
                (split_of(F.col("nb_a")) != split_of(F.col("nb_b"))).cast(
                    "int"
                )
            )
            .cast("bigint")
            .alias("naive_split_leaked_edges"),
        )
    )
    return (
        assigned.groupBy(split_of(F.col("cb")).alias("split"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.countDistinct("cluster_id").cast("bigint").alias("n_clusters"),
            F.sum("n_chars").cast("bigint").alias("n_chars"),
        )
        .crossJoin(leaks)
        .orderBy("split")
    )


_BOOTSTRAP_ORACLE = """
WITH purchases AS (
  SELECT row_number() OVER (ORDER BY event_id) AS rid,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
), expanded AS (
  SELECT b, cents FROM purchases,
       unnest(range(0, 200)) AS t(b)
  WHERE CAST(('0x' || substr(md5(CAST(rid AS VARCHAR) || ':'
                                 || CAST(b AS VARCHAR)), 1, 15))
             AS BIGINT) % 2 = 0
), means AS (
  SELECT b, CAST((sum(cents) * 1000000) // count(*) AS BIGINT) AS m
  FROM expanded GROUP BY b
), packed AS (
  SELECT list_sort(list(m)) AS ms, CAST(count(*) AS BIGINT) AS nb
  FROM means
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM purchases) AS n_purchases,
       (SELECT CAST((sum(cents) * 1000000) // count(*) AS BIGINT)
        FROM purchases) AS mean_micro_cents,
       nb AS n_resamples,
       CAST(ms[CAST(ceil(nb * 0.025) AS BIGINT)] AS BIGINT)
         AS ci_lo_micro_cents,
       CAST(ms[CAST(ceil(nb * 0.975) AS BIGINT)] AS BIGINT)
         AS ci_hi_micro_cents
FROM packed
"""


@register("bootstrap_mean_purchase_ci", _BOOTSTRAP_ORACLE)
def q_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """95% CI for mean purchase value by DETERMINISTIC half-sample
    bootstrap: row r joins resample b iff hash60("r:b") is even (no RNG
    — replayable in any engine), each resample's mean is an exact
    integer in micro-cents via DIV, and the CI bounds are order
    statistics of the 200 sorted resample means. The expansion is
    |purchases| x 200 rows of two ints — map-side generated, aggregated
    with partial combine, no shuffle amplification.

    The global rid (row_number over event_id) is assigned scalably
    (guide §2.5): a single-partition Window would drag the entire x200
    expansion + hash into ONE task (profiled r12: one 5 s CPU task while
    31 cores idled; at 100 TB that task holds every purchase row — OOM).
    Instead: range-repartition by event_id, checkpoint so both the
    offset fold and the main pass see the SAME partitioning, then
    per-partition row_number + the partition's cumulative row offset
    (a bounded P-row driver fold). Identical rid values; the expansion
    runs on every core."""
    ev = load_table(spark, sf_dir, "events")
    pur_raw = ev.filter(F.col("event_type") == "purchase").select(
        "event_id",
        (F.col("value").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("cents"),
    )
    nparts = max(2, spark.sparkContext.defaultParallelism)
    ranged = materialize(
        pur_raw.repartitionByRange(nparts, "event_id").withColumn(
            "pid", F.spark_partition_id()
        )
    )
    counts = {
        r["pid"]: r["n"]
        for r in ranged.groupBy("pid").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    offsets, acc = [], 0
    for pid in sorted(counts):
        offsets.append((pid, acc))
        acc += counts[pid]
    off_df = local_rows_df(
        spark, offsets or [(0, 0)], "pid int, rid_off bigint"
    )
    purchases = ranged.join(F.broadcast(off_df), "pid").select(
        (
            F.row_number().over(
                Window.partitionBy("pid").orderBy("event_id")
            )
            + F.col("rid_off")
        ).alias("rid"),
        "cents",
    )
    # The x200 explode amplifies AFTER the window's exchange, so AQE's
    # byte-based coalescing (200 KB -> 1 partition) would serialize the
    # expensive hash expansion; an explicit repartition pins the fan-out
    # (user repartitions are exempt from AQE coalescing — guide §2.5)
    expanded = (
        purchases.repartition(nparts).select(
            "rid", "cents", F.explode(F.sequence(F.lit(0), F.lit(199))).alias("b")
        )
        .filter(
            hash60(
                F.concat_ws(":", F.col("rid").cast("string"), F.col("b").cast("string"))
            )
            % 2
            == 0
        )
    )
    means = expanded.groupBy("b").agg(
        F.expr("CAST((sum(cents) * 1000000) DIV count(1) AS BIGINT)").alias(
            "m"
        )
    )
    packed = means.agg(
        F.array_sort(F.collect_list("m")).alias("ms"),
        F.count(F.lit(1)).cast("bigint").alias("nb"),
    )
    # rid is irrelevant to the overall mean — aggregate the checkpointed
    # pre-window frame directly (no window, no offset join on this branch)
    overall = ranged.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_purchases"),
        F.expr(
            "CAST((sum(cents) * 1000000) DIV count(1) AS BIGINT)"
        ).alias("mean_micro_cents"),
    )
    return (
        F.broadcast(overall)
        .crossJoin(F.broadcast(packed))
        .select(
            "n_purchases",
            "mean_micro_cents",
            F.col("nb").alias("n_resamples"),
            F.expr(
                "CAST(element_at(ms, CAST(ceil(nb * 0.025) AS INT))"
                " AS BIGINT)"
            ).alias("ci_lo_micro_cents"),
            F.expr(
                "CAST(element_at(ms, CAST(ceil(nb * 0.975) AS INT))"
                " AS BIGINT)"
            ).alias("ci_hi_micro_cents"),
        )
    )
