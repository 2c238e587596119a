"""Extension queries, round 132: two more analytics lanes.

1. croston_intermittent_forecast — Croston's method (1972), the standard
   forecaster for INTERMITTENT demand (many zero periods — exactly what
   per-part weekly order quantities look like): separate EWMAs of
   demand size (z) and inter-demand interval (p), updated only on
   demand weeks; forecast = z / p. The weekly series is gap-filled with
   zero weeks from the global calendar (zeros are the point), and the
   fold is replayed operation-for-operation by DuckDB's list_reduce
   with a LIST accumulator ([z, p, q, started] — the ADPCM pattern;
   STRUCT accumulators are miscompiled in DuckDB 1.0) seeded via
   list_concat so both engines run the identical double chain
   bit-for-bit (the ext59 EWMA contract).
2. ljung_box_daily_q — the Ljung-Box portmanteau statistic over lags
   1..7 of the daily event-count series: Q = n(n+2) * sum r_k^2/(n-k).
   Autocovariances come from exact integer sums (counts), assembled in
   doubles with one identical expression per lag, each r_k^2/(n-k) term
   floored to micro before the exact integer total — the inferential
   companion to hourly_count_autocorr_periodicity.

Plan shapes at 100 TB: croston is one shuffle to (part, week) grain,
a calendar gap-fill join, then an O(parts) bounded fold; ljung-box is a
30-row driver-bounded series with 7 lag terms.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from shortvideohybridanalyticslakehouse_spark.plans.registry import (
    materialize,
    register,
)
from shortvideohybridanalyticslakehouse_spark.sources.batch import load_table

_N_PARTS = 8
_ALPHA = 0.125  # 1/8, exactly representable
_LB_LAGS = 7

# ---------------------------------------------------------------------------
# 1. Croston's intermittent-demand forecast
# ---------------------------------------------------------------------------

# fold state: [z, p, q, started]
#   z: demand-size EWMA   p: inter-demand-interval EWMA
#   q: periods since last demand   started: 0 until the first demand
_CROSTON_ORACLE = f"""
WITH li AS (
  SELECT l.l_partkey AS part,
         date_trunc('week', o.o_orderdate) AS wk,
         CAST(sum(l.l_quantity) AS BIGINT) AS qty
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
  GROUP BY 1, 2
), top_parts AS (
  SELECT part FROM li GROUP BY part
  ORDER BY sum(qty) DESC, part ASC LIMIT {_N_PARTS}
), cal AS (
  SELECT unnest(generate_series(
    (SELECT min(wk) FROM li), (SELECT max(wk) FROM li),
    INTERVAL 7 DAY)) AS wk
), grid AS (
  SELECT p.part, c.wk, CAST(coalesce(li.qty, 0) AS DOUBLE) AS d
  FROM top_parts p CROSS JOIN cal c
  LEFT JOIN li ON li.part = p.part AND li.wk = c.wk
), series AS (
  SELECT part,
         CAST(count(*) AS BIGINT) AS n_weeks,
         CAST(sum(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_demand_weeks,
         list([d] ORDER BY wk) AS xs
  FROM grid GROUP BY 1
), folded AS (
  SELECT part, n_weeks, n_demand_weeks,
         list_reduce(
           list_concat([[CAST(0 AS DOUBLE), CAST(0 AS DOUBLE),
                         CAST(0 AS DOUBLE), CAST(0 AS DOUBLE)]], xs),
           (acc, x) -> CASE
             WHEN x[1] <= 0 THEN
               [acc[1], acc[2], acc[3] + 1, acc[4]]
             WHEN acc[4] = 0 THEN
               [x[1], acc[3] + 1, CAST(0 AS DOUBLE), CAST(1 AS DOUBLE)]
             ELSE
               [acc[1] * {1 - _ALPHA} + x[1] * {_ALPHA},
                acc[2] * {1 - _ALPHA} + (acc[3] + 1) * {_ALPHA},
                CAST(0 AS DOUBLE), CAST(1 AS DOUBLE)]
           END
         ) AS st
  FROM series
)
SELECT part, n_weeks, n_demand_weeks,
       st[1] AS z_size, st[2] AS p_interval,
       CASE WHEN st[4] = 1 AND st[2] > 0 THEN st[1] / st[2]
            ELSE CAST(0 AS DOUBLE) END AS forecast_per_week
FROM folded
"""


@register("croston_intermittent_forecast", _CROSTON_ORACLE)
def q_croston_intermittent_forecast(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Croston forecast for the top-8 parts by quantity over the
    gap-filled weekly demand grid; fold replayed bit-for-bit by the
    oracle."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    weekly = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("l_partkey").alias("part"),
            F.date_trunc("week", F.col("o_orderdate")).alias("wk"),
        )
        .agg(F.sum("l_quantity").cast("bigint").alias("qty"))
    )
    # r13: the weekly demand aggregate feeds THREE consumers (the
    # top-parts cut, the calendar bounds, and the grid left join) —
    # each re-ran the lineitem x orders join+aggregate (the lane's
    # three ~7 MB-shuffle stages). Checkpoint the O(part x week)
    # frame once (eager: sibling branches race a lazy one).
    weekly = materialize(weekly)
    top_parts = (
        weekly.groupBy("part")
        .agg(F.sum("qty").alias("tq"))
        .orderBy(F.col("tq").desc(), F.col("part").asc())
        .limit(_N_PARTS)
        .select("part")
    )
    bounds = weekly.agg(
        F.min("wk").alias("lo"), F.max("wk").alias("hi")
    )
    cal = bounds.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 7 DAY"))
        ).alias("wk")
    )
    grid = (
        top_parts.crossJoin(F.broadcast(cal))
        .join(weekly, ["part", "wk"], "left")
        .select(
            "part",
            "wk",
            F.coalesce(F.col("qty"), F.lit(0)).cast("double").alias("d"),
        )
    )
    series = grid.groupBy("part").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_weeks"),
        F.sum(F.when(F.col("d") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_demand_weeks"),
        F.array_sort(F.collect_list(F.struct("wk", "d"))).alias("arr"),
    )
    xs = F.transform(F.col("arr"), lambda e: F.array(e["d"]))
    a, b = F.lit(1 - _ALPHA), F.lit(_ALPHA)
    zero, one = F.lit(0.0), F.lit(1.0)
    folded = series.select(
        "part",
        "n_weeks",
        "n_demand_weeks",
        F.aggregate(
            xs,
            F.array(zero, zero, zero, zero),
            lambda acc, x: F.when(
                x[0] <= 0,
                F.array(acc[0], acc[1], acc[2] + 1, acc[3]),
            )
            .when(
                acc[3] == 0,
                F.array(x[0], acc[2] + 1, zero, one),
            )
            .otherwise(
                F.array(
                    acc[0] * a + x[0] * b,
                    acc[1] * a + (acc[2] + 1) * b,
                    zero,
                    one,
                )
            ),
        ).alias("st"),
    )
    return folded.select(
        "part",
        "n_weeks",
        "n_demand_weeks",
        F.col("st")[0].alias("z_size"),
        F.col("st")[1].alias("p_interval"),
        F.when(
            (F.col("st")[3] == 1) & (F.col("st")[1] > 0),
            F.col("st")[0] / F.col("st")[1],
        )
        .otherwise(F.lit(0.0))
        .alias("forecast_per_week"),
    )


# ---------------------------------------------------------------------------
# 2. Ljung-Box portmanteau statistic
# ---------------------------------------------------------------------------

_LB_ORACLE = f"""
WITH daily AS (
  SELECT date_trunc('day', ts) AS day, CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1
), idxd AS (
  SELECT c, CAST(row_number() OVER (ORDER BY day ASC) AS BIGINT) AS idx
  FROM daily
), m AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(c) AS BIGINT) AS s,
         CAST(sum(CAST(c AS HUGEINT) * c) AS HUGEINT) AS sq
  FROM idxd
), lags AS (
  SELECT l.k,
         CAST(sum(CAST(a.c AS HUGEINT) * b.c) AS HUGEINT) AS cross_sum,
         CAST(sum(a.c) AS BIGINT) AS head_sum,
         CAST(sum(b.c) AS BIGINT) AS tail_sum,
         CAST(count(*) AS BIGINT) AS n_pairs
  FROM (SELECT unnest(range(1, {_LB_LAGS + 1})) AS k) l
  JOIN idxd a ON TRUE
  JOIN idxd b ON b.idx = a.idx + l.k
  GROUP BY 1
), rks AS (
  SELECT l.k,
         (CAST(l.cross_sum AS DOUBLE)
          - (CAST(m.s AS DOUBLE) / m.n) * (l.head_sum + l.tail_sum)
          + (CAST(m.s AS DOUBLE) / m.n)
            * (CAST(m.s AS DOUBLE) / m.n) * l.n_pairs)
           / (CAST(m.sq AS DOUBLE) - CAST(m.s AS DOUBLE) * m.s / m.n)
           AS r_k,
         m.n AS n
  FROM lags l CROSS JOIN m
), terms AS (
  SELECT k, n,
         CAST(floor(r_k * r_k / (n - k) * 1000000000.0) AS BIGINT)
           AS term_nano
  FROM rks
)
SELECT CAST(max(n) AS BIGINT) AS n_days,
       CAST({_LB_LAGS} AS BIGINT) AS n_lags,
       CAST(max(n) * (max(n) + 2) * sum(term_nano) // 1000
            AS BIGINT) AS q_micro
FROM terms
"""


@register("ljung_box_daily_q", _LB_ORACLE)
def q_ljung_box_daily_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box Q over lags 1..7 of daily event counts: exact integer
    cross-products per lag, one identical double expression per r_k,
    each r_k^2/(n-k) floored to nano before the exact integer total."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("day", F.col("ts")).alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    from pyspark.sql import Window

    idxd = daily.select(
        "c",
        F.row_number()
        .over(Window.orderBy(F.col("day").asc()))
        .cast("bigint")
        .alias("idx"),
    )
    d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    m = idxd.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("s"),
        F.sum(d38(F.col("c")) * F.col("c")).alias("sq"),
    )
    ks = spark.range(1, _LB_LAGS + 1).select(F.col("id").alias("k"))
    a = idxd.select(F.col("idx").alias("ia"), F.col("c").alias("ca"))
    b = idxd.select(F.col("idx").alias("ib"), F.col("c").alias("cb"))
    lags = (
        ks.crossJoin(a)
        .join(F.broadcast(b), F.col("ib") == F.col("ia") + F.col("k"))
        .groupBy("k")
        .agg(
            F.sum(d38(F.col("ca")) * F.col("cb")).alias("cross_sum"),
            F.sum("ca").cast("bigint").alias("head_sum"),
            F.sum("cb").cast("bigint").alias("tail_sum"),
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        )
    )
    mean = F.col("s").cast("double") / F.col("n")
    r_k = (
        F.col("cross_sum").cast("double")
        - mean * (F.col("head_sum") + F.col("tail_sum"))
        + mean * mean * F.col("n_pairs")
    ) / (
        F.col("sq").cast("double")
        - F.col("s").cast("double") * F.col("s") / F.col("n")
    )
    terms = lags.crossJoin(F.broadcast(m)).select(
        "k",
        "n",
        F.floor(r_k * r_k / (F.col("n") - F.col("k")) * F.lit(1e9))
        .cast("bigint")
        .alias("term_nano"),
    )
    return terms.agg(
        F.max("n").cast("bigint").alias("n_days"),
        F.lit(_LB_LAGS).cast("bigint").alias("n_lags"),
        F.expr(
            "CAST(max(n) * (max(n) + 2) * sum(term_nano) DIV 1000"
            " AS BIGINT)"
        ).alias("q_micro"),
    )
