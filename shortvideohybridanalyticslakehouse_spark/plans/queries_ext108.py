"""Extension queries, round 108: recommendation-table quality metrics
(catalog coverage / concentration of the ext106 rec table) and exact
third-moment inter-arrival statistics (the skewness companion to the
ext97 Fano factor — bursty traffic is right-skewed before it is
overdispersed).

Inter-arrival cubes can exceed int64 (gap^3 at day-scale gaps), so every
moment term is cast to DECIMAL(38,0)/HUGEINT before summing — the CUPED
rule — with one cast-divide-round per output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from shortvideohybridanalyticslakehouse_spark.plans.queries_ext106 import (
    _RECS_ORACLE,
    q_item_cf_recommendations,
)
from shortvideohybridanalyticslakehouse_spark.plans.registry import (
    materialize,
    register,
)
from shortvideohybridanalyticslakehouse_spark.sources.batch import load_table

_REC_QUALITY_ORACLE = f"""
WITH recs AS ({_RECS_ORACLE}
), catalog AS (
  SELECT CAST(count(DISTINCT CAST(json_extract(props, '$.k') AS BIGINT))
              AS BIGINT) AS n_items
  FROM events WHERE json_extract(props, '$.k') IS NOT NULL
), rec_counts AS (
  SELECT rec, CAST(count(*) AS BIGINT) AS n_slots FROM recs GROUP BY 1
)
SELECT c.n_items,
       CAST((SELECT count(DISTINCT item) FROM recs) AS BIGINT)
         AS items_with_recs,
       CAST((SELECT count(DISTINCT rec) FROM recs) AS BIGINT)
         AS items_recommended,
       CAST((SELECT count(DISTINCT rec) FROM recs) * 1000000 // c.n_items
            AS BIGINT) AS catalog_coverage_micro,
       CAST((SELECT count(*) FROM recs) AS BIGINT) AS n_slots,
       CAST((SELECT max(n_slots) FROM rec_counts) AS BIGINT)
         AS max_slots_per_item,
       CAST((SELECT sum(n_slots * n_slots) FROM rec_counts) * 1000000
            // ((SELECT count(*) FROM recs) * (SELECT count(*) FROM recs))
            AS BIGINT) AS rec_concentration_hhi_micro
FROM catalog c
"""


@register("rec_table_quality", _REC_QUALITY_ORACLE)
def q_rec_table_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Health metrics of the top-3 rec table: catalog coverage (what
    share of items ever get recommended), slot counts, and the HHI
    concentration of recommendation slots (popularity-bias tripwire:
    1e6/n_items = uniform, 1e6 = one item hogs every slot)."""
    recs = q_item_cf_recommendations(spark, sf_dir)
    # r13: the whole item-CF pipeline feeds BOTH the slot-count
    # aggregate and the broadcast stats aggregate — each re-ran it
    # (profiled: its 1-task cosine stages appear twice per trial).
    # Checkpoint the O(items x 3) rec table once (eager: the stats
    # broadcast races a lazy one).
    recs = materialize(recs)
    ev = load_table(spark, sf_dir, "events")
    catalog = F.broadcast(
        ev.select(
            F.get_json_object("props", "$.k").cast("bigint").alias("item")
        )
        .filter(F.col("item").isNotNull())
        .agg(F.countDistinct("item").cast("bigint").alias("n_items"))
    )
    rec_counts = recs.groupBy("rec").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_slots")
    )
    stats = F.broadcast(
        recs.agg(
            F.countDistinct("item").cast("bigint").alias("items_with_recs"),
            F.countDistinct("rec").cast("bigint").alias("items_recommended"),
            F.count(F.lit(1)).cast("bigint").alias("n_slots"),
        )
    )
    conc = rec_counts.agg(
        F.max("n_slots").cast("bigint").alias("max_slots_per_item"),
        F.sum(F.col("n_slots") * F.col("n_slots"))
        .cast("bigint")
        .alias("sum_sq"),
    )
    return (
        conc.crossJoin(stats)
        .crossJoin(catalog)
        .select(
            "n_items",
            "items_with_recs",
            "items_recommended",
            F.expr(
                "CAST((items_recommended * 1000000) DIV n_items AS BIGINT)"
            ).alias("catalog_coverage_micro"),
            "n_slots",
            "max_slots_per_item",
            F.expr(
                "CAST((sum_sq * 1000000) DIV (n_slots * n_slots) AS BIGINT)"
            ).alias("rec_concentration_hhi_micro"),
        )
    )


_INTERARRIVAL_ORACLE = """
WITH seq AS (
  SELECT event_type,
         date_diff('second', TIMESTAMP '1970-01-01', ts)
           - lag(date_diff('second', TIMESTAMP '1970-01-01', ts))
             OVER (PARTITION BY event_type ORDER BY ts, event_id) AS gap
  FROM events
), gaps AS (
  SELECT event_type, CAST(gap AS BIGINT) AS g FROM seq WHERE gap IS NOT NULL
), mom AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         sum(g) AS s1, sum(g * g) AS s2,
         sum(CAST(g AS HUGEINT) * g * g) AS s3,
         CAST(max(g) AS BIGINT) AS max_gap
  FROM gaps GROUP BY 1
)
SELECT event_type, n, CAST(s1 AS BIGINT) AS sum_gap, max_gap,
       round(CAST(s1 AS DOUBLE) / n, 6) AS mean_gap,
       round((CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
              - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
             / (CAST(n AS DOUBLE) * n), 6) AS var_gap,
       round((CAST(n AS DOUBLE) * n * CAST(s3 AS DOUBLE)
              - 3.0 * n * CAST(s1 AS DOUBLE) * CAST(s2 AS DOUBLE)
              + 2.0 * CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                * CAST(s1 AS DOUBLE))
             / (CAST(n AS DOUBLE) * n * n), 6) AS third_central_moment
FROM mom ORDER BY event_type
"""


@register("event_interarrival_moments", _INTERARRIVAL_ORACLE)
def q_interarrival_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type inter-arrival gap moments up to the exact THIRD central
    moment (m3 > 0 = right-skewed bursts): integer power sums in
    DECIMAL(38,0)/HUGEINT, the population-moment identities evaluated
    with identical double casts on both engines."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    sec = F.col("ts").cast("long")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    gaps = (
        ev.select("event_type", (sec - F.lag(sec).over(w)).alias("g"))
        .filter(F.col("g").isNotNull())
    )
    d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    mom = gaps.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(d38(F.col("g"))).alias("s1"),
        F.sum(d38(F.col("g") * F.col("g"))).alias("s2"),
        F.sum(d38(F.col("g")) * F.col("g") * F.col("g")).alias("s3"),
        F.max("g").cast("bigint").alias("max_gap"),
    )
    nd = F.col("n").cast("double")
    s1d = F.col("s1").cast("double")
    s2d = F.col("s2").cast("double")
    s3d = F.col("s3").cast("double")
    return mom.select(
        "event_type",
        "n",
        F.col("s1").cast("bigint").alias("sum_gap"),
        "max_gap",
        F.round(s1d / F.col("n"), 6).alias("mean_gap"),
        F.round((nd * s2d - s1d * s1d) / (nd * F.col("n")), 6).alias(
            "var_gap"
        ),
        F.round(
            (nd * F.col("n") * s3d - 3.0 * F.col("n") * s1d * s2d
             + 2.0 * s1d * s1d * s1d)
            / (nd * F.col("n") * F.col("n")),
            6,
        ).alias("third_central_moment"),
    ).orderBy("event_type")
