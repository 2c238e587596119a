"""Extension queries, round 66: customer-base analytics — RFM
segmentation, the Gini concentration coefficient, and first-path mining.
All three REUSE the distributed exact-rank machinery (operators/ranks):
no single-partition sort anywhere, which is precisely where naive
implementations of these queries fall over at scale.

- rfm_segments: classic Recency/Frequency/Monetary quintile labels.
  Each metric ranks through with_distributed_row_number (bucketed
  two-phase exact rank) + ntile_from_rank arithmetic; ties break by
  user_id so both engines agree. Output: per-segment user counts and
  exact monetary sums.

- user_spend_gini: Gini = (2*sum(i*x_i) - (n+1)*sum(x)) / (n*sum(x))
  over per-user spend in CENTS, with i the ascending exact spend rank.
  Numerator/denominator stay int64 (bounded: sum(i*x_i) <= n*sum(x));
  gini_micro is one IEEE division on exact operands.

- event_path_trigrams: the top opening event-type paths (first 3 events
  per user) — per-user windows on (ts, event_id), combinable counting,
  TakeOrderedAndProject top-10.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from shortvideohybridanalyticslakehouse_spark.operators.ranks import (
    ntile_from_rank,
    with_distributed_row_number,
)
from shortvideohybridanalyticslakehouse_spark.plans.money import (
    PURCHASE_CENTS_SQL as _CENTS,
    purchase_cents,
)
from shortvideohybridanalyticslakehouse_spark.plans.registry import (
    materialize,
    register,
)
from shortvideohybridanalyticslakehouse_spark.sources.batch import load_table

_RFM_ORACLE = f"""
WITH anchor AS (
  SELECT max(ts) AS t_max FROM events
), per_user AS (
  SELECT user_id,
    CAST(date_diff('day', max(ts), (SELECT t_max FROM anchor)) AS BIGINT)
      AS recency_days,
    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
      AS frequency,
    {_CENTS}
      AS monetary_cents
  FROM events GROUP BY user_id
), scored AS (
  SELECT user_id, monetary_cents,
    ntile(5) OVER (ORDER BY recency_days ASC, user_id ASC) AS r,
    ntile(5) OVER (ORDER BY frequency DESC, user_id ASC) AS f,
    ntile(5) OVER (ORDER BY monetary_cents DESC, user_id ASC) AS m
  FROM per_user
)
SELECT CAST(r AS INT) AS r, CAST(f AS INT) AS f, CAST(m AS INT) AS m,
       CAST(count(*) AS BIGINT) AS n_users,
       CAST(sum(monetary_cents) AS BIGINT) AS segment_cents
FROM scored GROUP BY 1, 2, 3
"""


@register("rfm_segments", _RFM_ORACLE)
def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM quintile segmentation (1 = best in each dimension: most
    recent, most frequent, highest spend), ranks computed with the
    distributed exact row number, ntile derived arithmetically."""
    ev = load_table(spark, sf_dir, "events")
    anchor = ev.agg(F.max("ts").alias("t_max"))
    per_user = (
        ev.groupBy("user_id")
        .agg(
            F.max("ts").alias("t_last"),
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            )
            .cast("bigint")
            .alias("frequency"),
            purchase_cents().alias("monetary_cents"),
        )
        .crossJoin(F.broadcast(anchor))
        .withColumn(
            "recency_days",
            F.datediff(F.col("t_max"), F.col("t_last")).cast("bigint"),
        )
        .drop("t_max", "t_last")
    )

    # Materialize the reduced per-user frame ONCE: each of the three rank
    # passes issues its own approx_percentile action, and chaining them
    # lazily would recompute the event aggregation ~6x (measured 14.7 s
    # -> ~6 s at sf0.01). The checkpointed relation is O(users) — the
    # already-reduced side, safe to persist at any scale.
    per_user = materialize(per_user)

    # ONE partitioned rank pass over the 3-way union (guide §1.2):
    # row_number partitioned by dim over (_key, user_id) == each dim's
    # global rank (approx cuts only balance buckets), so the three
    # dims share one approx_percentile action and one ranked join.
    dims = (
        per_user.select(
            "user_id",
            F.col("recency_days").alias("_key"),
            F.lit("r").alias("_dim"),
        )
        .unionByName(
            per_user.select(
                "user_id",
                (-F.col("frequency")).alias("_key"),
                F.lit("f").alias("_dim"),
            )
        )
        .unionByName(
            per_user.select(
                "user_id",
                (-F.col("monetary_cents")).alias("_key"),
                F.lit("m").alias("_dim"),
            )
        )
    )
    ranked = with_distributed_row_number(
        dims,
        ["_dim"],
        ["_key", "user_id"],
        n_buckets=16,
        rn_col="_rn",
        n_col="_n",
    )
    tiles = ranked.select(
        "user_id",
        "_dim",
        ntile_from_rank(F.col("_rn"), F.col("_n"), 5).alias("_tile"),
    )
    per_dim = tiles.groupBy("user_id").agg(
        F.max(F.when(F.col("_dim") == "r", F.col("_tile"))).alias("r"),
        F.max(F.when(F.col("_dim") == "f", F.col("_tile"))).alias("f"),
        F.max(F.when(F.col("_dim") == "m", F.col("_tile"))).alias("m"),
    )
    s = per_user.select("user_id", "monetary_cents").join(
        per_dim, "user_id"
    )
    return s.groupBy("r", "f", "m").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("monetary_cents").cast("bigint").alias("segment_cents"),
    )


_GINI_ORACLE = f"""
WITH per_user AS (
  SELECT user_id,
    {_CENTS}
      AS cents
  FROM events GROUP BY user_id
), ranked AS (
  SELECT cents,
         row_number() OVER (ORDER BY cents ASC, user_id ASC) AS i,
         count(*) OVER () AS n,
         sum(cents) OVER () AS tot
  FROM per_user
)
SELECT CAST(max(n) AS BIGINT) AS n_users,
       CAST(max(tot) AS BIGINT) AS total_cents,
       CAST(floor(
         CAST(2 * sum(i * cents) - (max(n) + 1) * max(tot) AS DOUBLE)
         * 1000000 / CAST(max(n) * max(tot) AS DOUBLE)) AS BIGINT)
         AS gini_micro
FROM ranked
"""


@register("user_spend_gini", _GINI_ORACLE)
def q_user_spend_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini concentration of purchase spend across all active users
    (0 = equal, ->1 = concentrated), exact integer numerator via the
    distributed ascending spend rank."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        purchase_cents().alias("cents")
    )
    ranked = with_distributed_row_number(
        per_user, [], ["cents", "user_id"], n_buckets=16, rn_col="_i",
        n_col="_n", single_pass=True,
    )
    return ranked.agg(
        F.max("_n").cast("bigint").alias("n_users"),
        F.sum("cents").cast("bigint").alias("total_cents"),
        F.floor(
            (
                2 * F.sum(F.col("_i") * F.col("cents"))
                - (F.max("_n") + 1) * F.sum("cents")
            ).cast("double")
            * 1000000
            / (F.max("_n") * F.sum("cents")).cast("double")
        )
        .cast("bigint")
        .alias("gini_micro"),
    )


_PATH_ORACLE = """
WITH ordered AS (
  SELECT user_id, event_type,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM events
), firsts AS (
  SELECT user_id,
         string_agg(event_type, '>' ORDER BY rn) AS path
  FROM ordered WHERE rn <= 3
  GROUP BY user_id
  HAVING count(*) = 3
)
SELECT path, CAST(count(*) AS BIGINT) AS n_users
FROM firsts GROUP BY 1
ORDER BY n_users DESC, path ASC
LIMIT 10
"""


@register("event_path_trigrams", _PATH_ORACLE)
def q_event_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 opening paths (first three event types per user) — the
    path-mining view growth teams use to see how journeys begin."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    firsts = (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("k"),
            F.concat_ws(
                ">",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("rn", "event_type"))),
                    lambda s: s["event_type"],
                ),
            ).alias("path"),
        )
        .filter(F.col("k") == 3)
    )
    return (
        firsts.groupBy("path")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
        .orderBy(F.col("n_users").desc(), F.col("path").asc())
        .limit(10)
    )
