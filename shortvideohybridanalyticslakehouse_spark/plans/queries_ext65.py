"""Extension queries, round 65: market-basket association and
multi-touch attribution — the two remaining "every commerce warehouse
runs this" families.

- market_basket_lift: co-purchase association over order baskets.
  Pair generation is the in-order self-join (lineitem x lineitem on
  orderkey, part_a < part_b) — candidate volume is sum over orders of
  C(items,2), bounded by basket size (~7 in TPC-H shapes), never |parts|^2.
  Support/lift stay exact: lift_micro = floor(1e6 * n_ab * N /
  (n_a * n_b)) is one IEEE division on exact BIGINT cross-products.
  Top-20 by (pair support, part keys) keeps the output driver-bounded
  with a deterministic tie-break.

- position_attribution_credit: U-shaped (40/20/40) multi-touch
  attribution of each purchase across the user's clicks in the
  preceding 7 days. Credits are exact micro-units with a deterministic
  remainder rule (floor split across middles, remainder to the LAST
  middle), so per-day credit sums are integers — no float allocation
  drift. Window functions rank touches per conversion; the heavy
  relation shuffles once on user_id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from shortvideohybridanalyticslakehouse_spark.plans.registry import (
    finalize_bounded,
    materialize,
    register,
)
from shortvideohybridanalyticslakehouse_spark.sources.batch import (
    load_table,
    scaled_shuffle_partitions,
)

_MAX_BASKET = 256  # pair blow-up bound: candidates <= orders * C(256,2)

_BASKET_ORACLE = f"""
WITH raw AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), sized AS (
  SELECT l_orderkey, CAST(count(*) AS BIGINT) AS bsize
  FROM raw GROUP BY 1
), baskets AS (
  -- basket-size cap is part of the CONTRACT, not an approximation both
  -- engines silently disagree on: megabaskets (carts above {_MAX_BASKET}
  -- items) carry no pairwise signal worth a quadratic blow-up and are
  -- excluded identically here and in the engine
  SELECT r.l_orderkey, r.l_partkey
  FROM raw r JOIN sized s ON s.l_orderkey = r.l_orderkey
  WHERE s.bsize <= {_MAX_BASKET}
), n_orders AS (
  SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n FROM baskets
), item_supp AS (
  SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_item FROM baskets GROUP BY 1
), pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
         CAST(count(*) AS BIGINT) AS n_ab
  FROM baskets a JOIN baskets b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
), scored AS (
  SELECT p.part_a, p.part_b, p.n_ab,
         ia.n_item AS n_a, ib.n_item AS n_b,
         CAST(floor(CAST(p.n_ab * o.n AS DOUBLE) * 1000000
              / CAST(ia.n_item * ib.n_item AS DOUBLE)) AS BIGINT) AS lift_micro
  FROM pairs p
  JOIN item_supp ia ON ia.l_partkey = p.part_a
  JOIN item_supp ib ON ib.l_partkey = p.part_b
  CROSS JOIN n_orders o
)
SELECT part_a, part_b, n_ab, n_a, n_b, lift_micro
FROM scored
ORDER BY n_ab DESC, part_a ASC, part_b ASC
LIMIT 20
"""


@register("market_basket_lift", _BASKET_ORACLE)
def q_market_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 co-purchased part pairs by support, with the exact
    integer-cross-multiplied lift statistic."""
    li = load_table(spark, sf_dir, "lineitem")
    # input-scaled SHJ build width (VERDICT r10 #1): metadata-fast count
    # of the pure lineitem scan; 250k source rows/partition keeps the
    # O(orders)/O(parts) count-frame builds far below the measured OOM
    # envelope (~356 MB/task) at any SF
    n_shuf = scaled_shuffle_partitions(
        load_table(spark, sf_dir, "lineitem", ensure_parallelism=False),
        rows_per_partition=250_000,
    )
    raw = li.select("l_orderkey", "l_partkey").distinct()
    sized = raw.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("bsize")
    )
    # enforce the basket-size contract: bounds the in-order self-join to
    # C(_MAX_BASKET, 2) pairs per order no matter how adversarial a cart.
    # The filter side is O(orders) — it grows with the data (the 10x AQE
    # probe caught it broadcast at 134 MB) — so the join is pinned to
    # shuffle-hash with an input-scaled build repartition; both sides
    # cluster on l_orderkey, and the downstream self-join reuses that
    # clustering.
    baskets = raw.join(
        sized.filter(F.col("bsize") <= _MAX_BASKET)
        .select("l_orderkey")
        .repartition(n_shuf, "l_orderkey")
        .hint("shuffle_hash"),
        "l_orderkey",
    )
    # baskets feeds FOUR consumers (order count, item support, both
    # self-join sides) — lazily each re-ran the distinct + size-filter
    # join (guide §1.2/§5). Materialize the skinny (orderkey, partkey)
    # frame once.
    baskets = materialize(baskets)
    n_orders = baskets.agg(
        F.countDistinct("l_orderkey").cast("bigint").alias("n")
    )
    item_supp = baskets.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_item")
    )
    a = baskets.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_a")
    )
    b = baskets.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_b")
    )
    pairs = (
        a.join(b, "ok")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_ab"))
    )
    # item_supp is O(|parts|) — it GROWS with the catalog. The 10x AQE
    # probe (tools/scale_probe_aqe.py, round 9) caught Catalyst still
    # broadcasting it at 134 MB, so these two joins are pinned to
    # shuffle-hash: both sides are already clustered on the part key
    # (pairs' groupBy provides the exchange), and a hash join avoids the
    # SMJ sort. Per-executor memory stays O(partition), not O(parts).
    scored = (
        pairs.join(
            item_supp.select(
                F.col("l_partkey").alias("part_a"), F.col("n_item").alias("n_a")
            ).repartition(n_shuf, "part_a").hint("shuffle_hash"),
            "part_a",
        )
        .join(
            item_supp.select(
                F.col("l_partkey").alias("part_b"), F.col("n_item").alias("n_b")
            ).repartition(n_shuf, "part_b").hint("shuffle_hash"),
            "part_b",
        )
        .crossJoin(F.broadcast(n_orders))
        .select(
            "part_a",
            "part_b",
            "n_ab",
            "n_a",
            "n_b",
            F.floor(
                (F.col("n_ab") * F.col("n")).cast("double")
                * 1000000
                / (F.col("n_a") * F.col("n_b")).cast("double")
            )
            .cast("bigint")
            .alias("lift_micro"),
        )
    )
    top = scored.orderBy(
        F.col("n_ab").desc(), F.col("part_a").asc(), F.col("part_b").asc()
    ).limit(20)
    return finalize_bounded(top)


_ATTR_ORACLE = """
WITH purchases AS (
  SELECT user_id, event_id AS conv_id, ts AS conv_ts
  FROM events WHERE event_type = 'purchase'
), clicks AS (
  SELECT user_id, event_id AS click_id, ts AS click_ts
  FROM events WHERE event_type = 'click'
), touches AS (
  SELECT p.user_id, p.conv_id, c.click_id, c.click_ts,
         row_number() OVER (PARTITION BY p.conv_id
                            ORDER BY c.click_ts, c.click_id) AS pos,
         count(*) OVER (PARTITION BY p.conv_id) AS k
  FROM purchases p
  JOIN clicks c
    ON c.user_id = p.user_id
   AND c.click_ts < p.conv_ts
   AND c.click_ts >= p.conv_ts - INTERVAL 7 DAY
), credited AS (
  SELECT user_id, conv_id, click_id, click_ts, pos, k,
    CASE
      WHEN k = 1 THEN 1000000
      WHEN k = 2 THEN 500000
      WHEN pos = 1 OR pos = k THEN 400000
      WHEN pos = k - 1
        THEN CAST(200000 // (k - 2) AS BIGINT)
             + 200000 - CAST(200000 // (k - 2) AS BIGINT) * (k - 2)
      ELSE CAST(200000 // (k - 2) AS BIGINT)
    END AS credit_micro
  FROM touches
)
SELECT CAST(strftime(date_trunc('day', click_ts), '%Y-%m-%d') AS VARCHAR)
         AS click_day,
       CAST(count(*) AS BIGINT) AS n_touches,
       CAST(sum(credit_micro) AS BIGINT) AS credit_micro_sum
FROM credited
GROUP BY 1
"""


@register("position_attribution_credit", _ATTR_ORACLE)
def q_position_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U-shaped multi-touch attribution: each purchase distributes
    1,000,000 micro-credits over the user's clicks in the prior 7 days
    (40% first / 40% last / 20% split over middles, floor split with the
    remainder pinned to the last middle — per-conversion credit sums are
    EXACTLY 1e6). Rolled up to credited clicks per day."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("conv_id"),
        F.col("ts").alias("conv_ts"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    touches = (
        purchases.join(clicks, "user_id")
        .filter(
            (F.col("click_ts") < F.col("conv_ts"))
            & (
                F.col("click_ts")
                >= F.col("conv_ts") - F.expr("INTERVAL 7 DAY")
            )
        )
        .withColumn(
            "pos",
            F.row_number().over(
                Window.partitionBy("conv_id").orderBy("click_ts", "click_id")
            ),
        )
        .withColumn(
            "k", F.count(F.lit(1)).over(Window.partitionBy("conv_id"))
        )
    )
    mid = F.floor(F.lit(200000) / (F.col("k") - 2)).cast("bigint")
    credited = touches.withColumn(
        "credit_micro",
        F.when(F.col("k") == 1, F.lit(1000000))
        .when(F.col("k") == 2, F.lit(500000))
        .when((F.col("pos") == 1) | (F.col("pos") == F.col("k")), F.lit(400000))
        .when(
            F.col("pos") == F.col("k") - 1,
            mid + F.lit(200000) - mid * (F.col("k") - 2),
        )
        .otherwise(mid)
        .cast("bigint"),
    )
    return credited.groupBy(
        F.date_format(F.date_trunc("day", F.col("click_ts")), "yyyy-MM-dd").alias(
            "click_day"
        )
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_touches"),
        F.sum("credit_micro").cast("bigint").alias("credit_micro_sum"),
    )
