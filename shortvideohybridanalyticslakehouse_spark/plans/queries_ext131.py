"""Extension queries, round 131: three more analytics lanes.

1. brier_decomposition — GENERALIZED Murphy decomposition of the Brier
   score (reliability - resolution + uncertainty + within-bin term) for
   the ext101 hash-contract propensity score vs realized purchase. The
   within-bin term (score variance minus 2x score-outcome covariance
   inside each decile) is what makes the identity close EXACTLY for
   continuous scores — the classic 3-term identity assumes constant
   forecasts per bin. EXACT INTEGERS throughout: milli-score differences
   square to micro units natively, so the total Brier is one integer
   DIV; per-bin terms are integer-DIV-floored then exactly summed
   (DECIMAL(38,0)/HUGEINT for the e^2*10^6 products); the identity is
   asserted to per-bin flooring slack in tests.
2. binseg_daily_changepoints — binary segmentation over the daily
   event-count series: split 1 minimizes two-segment SSE, split 2
   minimizes the three-segment SSE given split 1. Prefix sums are exact
   integers; each candidate's cost is ONE double expression floored to
   micro (ties -> earliest day). Completes the changepoint family
   (CUSUM / Page-Hinkley detect one shift; binseg localizes several).
3. gini_best_split — decision-stump split finder: for the 9 inner
   deciles of event value, the conversion-weighted Gini impurity of the
   <=threshold / >threshold split, exact cross-multiplied integers, with
   the argmin flagged (ties -> lower threshold).

Determinism ladder as ext129/ext130; the ext101 hash60 score contract is
imported, not duplicated.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from shortvideohybridanalyticslakehouse_spark.functions.dedupfns import hash60
from shortvideohybridanalyticslakehouse_spark.functions.localrel import (
    local_rows_df,
)
from shortvideohybridanalyticslakehouse_spark.plans.registry import (
    finalize_bounded,
    materialize,
    register,
)
from shortvideohybridanalyticslakehouse_spark.sources.batch import load_table

# ---------------------------------------------------------------------------
# 1. Brier decomposition
# ---------------------------------------------------------------------------

_BRIER_ORACLE = """
WITH per_user AS (
  SELECT user_id,
         CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
              AS BIGINT) % 1000 AS score_milli,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
           AS converted
  FROM events GROUP BY 1
), bins AS (
  SELECT score_milli // 100 AS bin,
         CAST(count(*) AS BIGINT) AS n_k,
         CAST(sum(score_milli) AS BIGINT) AS s_k,
         CAST(sum(CAST(score_milli AS HUGEINT) * score_milli) AS HUGEINT)
           AS q_k,
         CAST(sum(score_milli * converted) AS BIGINT) AS sp1_k,
         CAST(sum(converted) AS BIGINT) AS c_k
  FROM per_user GROUP BY 1
), tot AS (
  SELECT CAST(sum(n_k) AS BIGINT) AS n, CAST(sum(c_k) AS BIGINT) AS c
  FROM bins
), brier AS (
  SELECT CAST(sum(CAST(score_milli - 1000 * converted AS HUGEINT)
                  * (score_milli - 1000 * converted))
              // (SELECT n FROM tot) AS BIGINT) AS brier_micro
  FROM per_user
), terms AS (
  SELECT
    CAST(sum(CAST(s_k - 1000 * c_k AS HUGEINT) * (s_k - 1000 * c_k)
             // (n_k * (SELECT n FROM tot))) AS BIGINT)
      AS reliability_micro,
    CAST(sum(CAST(c_k * (SELECT n FROM tot)
                  - (SELECT c FROM tot) * n_k AS HUGEINT)
             * (c_k * (SELECT n FROM tot) - (SELECT c FROM tot) * n_k)
             * 1000000
             // (CAST(n_k AS HUGEINT) * (SELECT n FROM tot)
                 * (SELECT n FROM tot) * (SELECT n FROM tot)))
      AS BIGINT) AS resolution_micro,
    CAST(sum((n_k * q_k - CAST(s_k AS HUGEINT) * s_k
              - 2000 * (CAST(n_k AS HUGEINT) * sp1_k
                        - CAST(s_k AS HUGEINT) * c_k))
             // (n_k * (SELECT n FROM tot))) AS BIGINT)
      AS within_bin_term_micro
  FROM bins
)
SELECT t.n AS n_users, t.c AS n_converted, b.brier_micro,
       m.reliability_micro, m.resolution_micro,
       CAST(CAST(t.c AS HUGEINT) * (t.n - t.c) * 1000000
            // (CAST(t.n AS HUGEINT) * t.n) AS BIGINT)
         AS uncertainty_micro,
       m.within_bin_term_micro
FROM tot t CROSS JOIN brier b CROSS JOIN terms m
"""


@register("brier_decomposition", _BRIER_ORACLE)
def q_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy decomposition of the Brier score for the ext101 propensity
    contract: total Brier plus reliability / resolution / uncertainty,
    all exact integer micro (milli differences square to micro)."""
    ev = load_table(spark, sf_dir, "events")
    per_user = (
        ev.groupBy("user_id")
        .agg(
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("converted")
        )
        .select(
            (hash60(F.col("user_id").cast("string")) % 1000).alias(
                "score_milli"
            ),
            "converted",
        )
    )
    d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    bins = per_user.groupBy(
        (F.col("score_milli") / 100).cast("bigint").alias("bin")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_k"),
        F.sum("score_milli").cast("bigint").alias("s_k"),
        F.sum(d38(F.col("score_milli")) * F.col("score_milli")).alias("q_k"),
        F.sum(F.col("score_milli") * F.col("converted"))
        .cast("bigint")
        .alias("sp1_k"),
        F.sum("converted").cast("bigint").alias("c_k"),
    )
    tot = bins.agg(
        F.sum("n_k").cast("bigint").alias("n"),
        F.sum("c_k").cast("bigint").alias("c"),
    )
    brier = (
        per_user.crossJoin(F.broadcast(tot))
        .select(
            d38(
                (F.col("score_milli") - 1000 * F.col("converted"))
            ).alias("d"),
            "n",
        )
        .agg(
            F.expr("CAST(sum(d * d) DIV first(n) AS BIGINT)").alias(
                "brier_micro"
            )
        )
    )
    terms = (
        bins.crossJoin(F.broadcast(tot))
        .select(
            F.expr(
                "CAST(CAST(s_k - 1000 * c_k AS DECIMAL(38,0))"
                " * (s_k - 1000 * c_k) DIV (n_k * n) AS BIGINT)"
            ).alias("rel_term"),
            F.expr(
                "CAST(CAST(c_k * n - c * n_k AS DECIMAL(38,0))"
                " * (c_k * n - c * n_k) * 1000000"
                " DIV (CAST(n_k AS DECIMAL(38,0)) * n * n * n) AS BIGINT)"
            ).alias("res_term"),
            # generalized-decomposition residual: within-bin score
            # variance minus 2x within-bin score-outcome covariance —
            # with it the identity brier = rel - res + unc + wb closes
            # exactly (scores VARY inside deciles; the classic 3-term
            # Murphy identity assumes they don't)
            F.expr(
                "CAST((n_k * q_k - CAST(s_k AS DECIMAL(38,0)) * s_k"
                " - 2000 * (CAST(n_k AS DECIMAL(38,0)) * sp1_k"
                " - CAST(s_k AS DECIMAL(38,0)) * c_k))"
                " DIV (n_k * n) AS BIGINT)"
            ).alias("wb_term"),
        )
        .agg(
            F.sum("rel_term").cast("bigint").alias("reliability_micro"),
            F.sum("res_term").cast("bigint").alias("resolution_micro"),
            F.sum("wb_term").cast("bigint").alias("within_bin_term_micro"),
        )
    )
    return (
        tot.crossJoin(brier)
        .crossJoin(terms)
        .select(
            F.col("n").alias("n_users"),
            F.col("c").alias("n_converted"),
            "brier_micro",
            "reliability_micro",
            "resolution_micro",
            F.expr(
                "CAST(CAST(c AS DECIMAL(38,0)) * (n - c) * 1000000"
                " DIV (CAST(n AS DECIMAL(38,0)) * n) AS BIGINT)"
            ).alias("uncertainty_micro"),
            "within_bin_term_micro",
        )
    )


# ---------------------------------------------------------------------------
# 2. binary segmentation changepoints
# ---------------------------------------------------------------------------

_SSE = (
    "({sq_j} - {sq_i}) - ({s_j} - {s_i}) * ({s_j} - {s_i})"
    " / CAST({len} AS DOUBLE)"
)


def _binseg_oracle() -> str:
    sse = _SSE
    cost1 = (
        sse.format(sq_j="c.cum_sq", sq_i="0", s_j="CAST(c.cum_s AS DOUBLE)",
                   s_i="0", len="c.idx")
        + " + "
        + sse.format(sq_j="t.sq", sq_i="c.cum_sq",
                     s_j="CAST(t.s AS DOUBLE)",
                     s_i="CAST(c.cum_s AS DOUBLE)", len="t.n - c.idx")
    )
    # three segments induced by a = min(k, k1), b = max(k, k1)
    cost2 = (
        sse.format(sq_j="pa.cum_sq", sq_i="0",
                   s_j="CAST(pa.cum_s AS DOUBLE)", s_i="0", len="pa.idx")
        + " + "
        + sse.format(sq_j="pb.cum_sq", sq_i="pa.cum_sq",
                     s_j="CAST(pb.cum_s AS DOUBLE)",
                     s_i="CAST(pa.cum_s AS DOUBLE)",
                     len="pb.idx - pa.idx")
        + " + "
        + sse.format(sq_j="t.sq", sq_i="pb.cum_sq",
                     s_j="CAST(t.s AS DOUBLE)",
                     s_i="CAST(pb.cum_s AS DOUBLE)", len="t.n - pb.idx")
    )
    return f"""
WITH daily AS (
  SELECT date_trunc('day', ts) AS day, CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1
), pre AS (
  SELECT day, c,
         CAST(row_number() OVER (ORDER BY day ASC) AS BIGINT) AS idx,
         CAST(sum(c) OVER (ORDER BY day ASC) AS BIGINT) AS cum_s,
         CAST(sum(CAST(c AS HUGEINT) * c) OVER (ORDER BY day ASC)
              AS HUGEINT) AS cum_sq
  FROM daily
), t AS (
  SELECT max(idx) AS n, max(cum_s) AS s, max(cum_sq) AS sq FROM pre
), r1 AS (
  SELECT c.idx, c.day,
         CAST(floor(({cost1}) * 1000000.0) AS BIGINT) AS cost_micro
  FROM pre c CROSS JOIN t
  WHERE c.idx < t.n
  ORDER BY cost_micro ASC, c.idx ASC LIMIT 1
), r2 AS (
  SELECT k.idx, k.day,
         CAST(floor(({cost2}) * 1000000.0) AS BIGINT) AS cost_micro
  FROM pre k CROSS JOIN r1 CROSS JOIN t
  JOIN pre pa ON pa.idx = least(k.idx, r1.idx)
  JOIN pre pb ON pb.idx = greatest(k.idx, r1.idx)
  WHERE k.idx < t.n AND k.idx <> r1.idx
  ORDER BY cost_micro ASC, k.idx ASC LIMIT 1
)
SELECT CAST(1 AS BIGINT) AS split_rank, day, cost_micro FROM r1
UNION ALL
SELECT CAST(2 AS BIGINT), day, cost_micro FROM r2
"""


@register("binseg_daily_changepoints", _binseg_oracle())
def q_binseg_daily_changepoints(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Two binary-segmentation splits over daily event counts: exact
    integer prefix sums, one double SSE expression per candidate floored
    to micro, ties to the earlier day."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("day", F.col("ts")).alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    w = Window.orderBy(F.col("day").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    word = Window.orderBy(F.col("day").asc())
    pre = materialize(
        daily.select(
            "day",
            "c",
            F.row_number().over(word).cast("bigint").alias("idx"),
            F.sum("c").over(w).cast("bigint").alias("cum_s"),
            F.sum(F.col("c").cast("decimal(38,0)") * F.col("c"))
            .over(w)
            .alias("cum_sq"),
        )
    )
    t = pre.agg(
        F.max("idx").alias("n"),
        F.max("cum_s").alias("s"),
        F.max("cum_sq").alias("sq"),
    )

    def sse(sq_j, sq_i, s_j, s_i, ln):
        return (sq_j - sq_i).cast("double") - (
            (s_j - s_i).cast("double") * (s_j - s_i).cast("double")
        ) / ln.cast("double")

    out_rows: list[tuple] = []
    cost1 = sse(
        F.col("cum_sq"), F.lit(0), F.col("cum_s"), F.lit(0), F.col("idx")
    ) + sse(
        F.col("sq"),
        F.col("cum_sq"),
        F.col("s"),
        F.col("cum_s"),
        F.col("n") - F.col("idx"),
    )
    r1 = (
        pre.crossJoin(F.broadcast(t))
        .filter(F.col("idx") < F.col("n"))
        .select(
            "idx",
            "day",
            F.floor(cost1 * F.lit(1000000.0))
            .cast("bigint")
            .alias("cost_micro"),
        )
        .orderBy(F.col("cost_micro").asc(), F.col("idx").asc())
        .limit(1)
        .collect()
    )
    if r1:
        k1 = r1[0]
        out_rows.append((1, k1.day, k1.cost_micro))
        pa = pre.select(
            F.col("idx").alias("ia"),
            F.col("cum_s").alias("sa"),
            F.col("cum_sq").alias("qa"),
        )
        pb = pre.select(
            F.col("idx").alias("ib"),
            F.col("cum_s").alias("sb"),
            F.col("cum_sq").alias("qb"),
        )
        k = pre.crossJoin(F.broadcast(t)).filter(
            (F.col("idx") < F.col("n")) & (F.col("idx") != F.lit(k1.idx))
        )
        cand = k.join(
            F.broadcast(pa),
            F.col("ia") == F.least(F.col("idx"), F.lit(k1.idx)),
        ).join(
            F.broadcast(pb),
            F.col("ib") == F.greatest(F.col("idx"), F.lit(k1.idx)),
        )
        cost2 = (
            sse(F.col("qa"), F.lit(0), F.col("sa"), F.lit(0), F.col("ia"))
            + sse(
                F.col("qb"),
                F.col("qa"),
                F.col("sb"),
                F.col("sa"),
                F.col("ib") - F.col("ia"),
            )
            + sse(
                F.col("sq"),
                F.col("qb"),
                F.col("s"),
                F.col("sb"),
                F.col("n") - F.col("ib"),
            )
        )
        r2 = (
            cand.select(
                "idx",
                "day",
                F.floor(cost2 * F.lit(1000000.0))
                .cast("bigint")
                .alias("cost_micro"),
            )
            .orderBy(F.col("cost_micro").asc(), F.col("idx").asc())
            .limit(1)
            .collect()
        )
        if r2:
            out_rows.append((2, r2[0].day, r2[0].cost_micro))
    result = local_rows_df(
        spark, out_rows, "split_rank bigint, day timestamp, cost_micro bigint"
    )
    return finalize_bounded(result)


# ---------------------------------------------------------------------------
# 3. Gini best split
# ---------------------------------------------------------------------------

_GINI_ORACLE = """
WITH ev AS (
  SELECT CAST(floor(value * 1000000.0) AS BIGINT) AS v,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
  FROM events WHERE value IS NOT NULL
), qs AS (
  SELECT quantile_cont(CAST(v AS DOUBLE),
                       [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS q
  FROM ev
), cuts AS (
  SELECT DISTINCT CAST(d AS BIGINT) AS decile,
         CAST(floor(q[d]) AS BIGINT) AS thr
  FROM qs CROSS JOIN (SELECT unnest(range(1, 10)) AS d)
), stats AS (
  SELECT c.decile, c.thr,
         CAST(sum(CASE WHEN e.v <= c.thr THEN 1 ELSE 0 END) AS BIGINT)
           AS n_l,
         CAST(sum(CASE WHEN e.v <= c.thr THEN e.y ELSE 0 END) AS BIGINT)
           AS p_l,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(e.y) AS BIGINT) AS p
  FROM cuts c CROSS JOIN ev e
  GROUP BY 1, 2
), scored AS (
  SELECT decile, thr, n_l, n - n_l AS n_r,
         CASE WHEN n_l = 0 OR n_l = n THEN CAST(1000000 AS BIGINT)
         ELSE CAST(
           (CAST(n_l AS HUGEINT) * n_l - CAST(p_l AS HUGEINT) * p_l
            - CAST(n_l - p_l AS HUGEINT) * (n_l - p_l)) * 1000000
             // (CAST(n_l AS HUGEINT) * n_l * n)
           + (CAST(n - n_l AS HUGEINT) * (n - n_l)
              - CAST(p - p_l AS HUGEINT) * (p - p_l)
              - CAST((n - n_l) - (p - p_l) AS HUGEINT)
                * ((n - n_l) - (p - p_l))) * 1000000
             // (CAST(n - n_l AS HUGEINT) * (n - n_l) * n)
           AS BIGINT) END AS gini_micro
  FROM stats
)
, with_best AS (
  SELECT *, min(gini_micro) OVER () AS best_g FROM scored
)
SELECT decile, thr AS threshold_value_micro, n_l, n_r, gini_micro,
       gini_micro = best_g
         AND decile = min(CASE WHEN gini_micro = best_g
                          THEN decile END) OVER () AS is_best
FROM with_best
"""


@register("gini_best_split", _GINI_ORACLE)
def q_gini_best_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decision-stump split finder: conversion-weighted Gini impurity of
    the <=threshold / >threshold split at the 9 inner value deciles,
    exact cross-multiplied integers, argmin flagged (tie -> lower
    decile)."""
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            F.floor(F.col("value") * F.lit(1000000.0))
            .cast("bigint")
            .alias("v"),
            F.when(F.col("event_type") == "purchase", 1)
            .otherwise(0)
            .alias("y"),
        )
    )
    cuts = (
        ev.agg(
            *[
                F.floor(
                    F.expr(f"percentile(CAST(v AS DOUBLE), {d / 10.0}D)")
                )
                .cast("bigint")
                .alias(f"t{d}")
                for d in range(1, 10)
            ]
        )
        .select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(d).cast("bigint").alias("decile"),
                            F.col(f"t{d}").alias("thr"),
                        )
                        for d in range(1, 10)
                    ]
                )
            ).alias("c")
        )
        .select("c.decile", "c.thr")
        .distinct()
    )
    stats = (
        cuts.crossJoin(ev)
        .groupBy("decile", "thr")
        .agg(
            F.sum(F.when(F.col("v") <= F.col("thr"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_l"),
            F.sum(F.when(F.col("v") <= F.col("thr"), F.col("y")).otherwise(0))
            .cast("bigint")
            .alias("p_l"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("y").cast("bigint").alias("p"),
        )
    )
    gini = F.when(
        (F.col("n_l") == 0) | (F.col("n_l") == F.col("n")),
        F.lit(1_000_000).cast("bigint"),
    ).otherwise(
        F.expr(
            "CAST((CAST(n_l AS DECIMAL(38,0)) * n_l"
            " - CAST(p_l AS DECIMAL(38,0)) * p_l"
            " - CAST(n_l - p_l AS DECIMAL(38,0)) * (n_l - p_l)) * 1000000"
            " DIV (CAST(n_l AS DECIMAL(38,0)) * n_l * n)"
            " + (CAST(n - n_l AS DECIMAL(38,0)) * (n - n_l)"
            " - CAST(p - p_l AS DECIMAL(38,0)) * (p - p_l)"
            " - CAST((n - n_l) - (p - p_l) AS DECIMAL(38,0))"
            " * ((n - n_l) - (p - p_l))) * 1000000"
            " DIV (CAST(n - n_l AS DECIMAL(38,0)) * (n - n_l) * n)"
            " AS BIGINT)"
        )
    )
    scored = stats.select(
        "decile",
        F.col("thr").alias("threshold_value_micro"),
        "n_l",
        (F.col("n") - F.col("n_l")).alias("n_r"),
        gini.alias("gini_micro"),
    )
    wall = Window.partitionBy()
    best_g = F.min("gini_micro").over(wall)
    best_d = F.min(
        F.when(F.col("gini_micro") == best_g, F.col("decile"))
    ).over(wall)
    return scored.select(
        "*",
        (
            (F.col("gini_micro") == best_g) & (F.col("decile") == best_d)
        ).alias("is_best"),
    )
