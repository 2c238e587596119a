"""Extension queries, round 84: inventory-flow MAXIMUM DRAWDOWN — the
running-balance analytic (finance: peak-to-trough loss; operations:
deepest stock deficit) over each part's shipment ledger.

Ledger model on the fixture schema: returned lineitems (l_returnflag =
'R') are inflows (+quantity), everything else an outflow (-quantity),
netted per (part, ship day). balance = running sum over days; drawdown
at day t = running max(balance) - balance; a part's max drawdown is the
deepest such gap, reported with its (earliest) trough day, top-20 by
(drawdown DESC, partkey).

Determinism: quantities sum as DECIMAL(18,2) (exact, reassociative), so
running balance, running max, and the drawdown-equality used to locate
the trough day are all exact in BOTH engines; the only double appears in
the final output cast. Scale: every window partitions by l_partkey —
per-part ledgers are short and the shuffle is one exchange on the part
key; skewed parts salt like any per-key window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from shortvideohybridanalyticslakehouse_spark.plans.registry import register
from shortvideohybridanalyticslakehouse_spark.sources.batch import load_table

_TOP = 20

_DRAWDOWN_ORACLE = f"""
WITH flows AS (
  SELECT l_partkey, l_shipdate AS day,
         SUM(CASE WHEN l_returnflag = 'R'
                  THEN CAST(l_quantity AS DECIMAL(18,2))
                  ELSE -CAST(l_quantity AS DECIMAL(18,2)) END) AS net
  FROM lineitem GROUP BY 1, 2
), bal AS (
  SELECT l_partkey, day,
         SUM(net) OVER (PARTITION BY l_partkey ORDER BY day
                        ROWS UNBOUNDED PRECEDING) AS balance
  FROM flows
), dd AS (
  SELECT l_partkey, day,
         MAX(balance) OVER (PARTITION BY l_partkey ORDER BY day
                            ROWS UNBOUNDED PRECEDING) - balance AS drawdown
  FROM bal
), best AS (
  SELECT l_partkey, MAX(drawdown) AS max_dd FROM dd GROUP BY 1
), located AS (
  SELECT d.l_partkey, b.max_dd, MIN(d.day) AS trough_day
  FROM dd d JOIN best b
    ON b.l_partkey = d.l_partkey AND d.drawdown = b.max_dd
  GROUP BY 1, 2
)
SELECT l_partkey, CAST(max_dd AS DOUBLE) AS max_drawdown, trough_day
FROM located
ORDER BY max_dd DESC, l_partkey ASC
LIMIT {_TOP}
"""


@register("part_flow_max_drawdown", _DRAWDOWN_ORACLE)
def q_part_flow_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deepest running-balance deficit per part (exact DECIMAL ledger),
    with its earliest trough day; top-20 by (drawdown DESC, partkey)."""
    li = load_table(spark, sf_dir, "lineitem")
    flows = li.groupBy(
        F.col("l_partkey"), F.col("l_shipdate").alias("day")
    ).agg(
        F.sum(
            F.when(
                F.col("l_returnflag") == "R",
                F.col("l_quantity").cast("decimal(18,2)"),
            ).otherwise(-F.col("l_quantity").cast("decimal(18,2)"))
        ).alias("net")
    )
    w_run = (
        Window.partitionBy("l_partkey")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    bal = flows.withColumn("balance", F.sum("net").over(w_run))
    dd = bal.withColumn(
        "drawdown", F.max("balance").over(w_run) - F.col("balance")
    )
    # r13: the groupBy(max) + self-join consumed the window subtree
    # TWICE (profiled: the 9.4 MB ledger-window stage ran 2x per
    # trial). A whole-partition max window rides the SAME
    # l_partkey exchange + day sort the running windows already pay
    # for — one pass, no join; max OVER (PARTITION BY) equals the
    # grouped max on the identical exact decimals (guide §2.4:
    # window keyed like the aggregation needs no second shuffle).
    w_part = Window.partitionBy("l_partkey")
    located = (
        dd.withColumn("max_dd", F.max("drawdown").over(w_part))
        .filter(F.col("drawdown") == F.col("max_dd"))
        .groupBy("l_partkey", "max_dd")
        .agg(F.min("day").alias("trough_day"))
    )
    return (
        located.orderBy(F.col("max_dd").desc(), F.col("l_partkey").asc())
        .limit(_TOP)
        .select(
            "l_partkey",
            F.col("max_dd").cast("double").alias("max_drawdown"),
            "trough_day",
        )
    )
