"""Extension queries, round 130: five more analytics lanes.

1. esd_outlier_days — generalized-ESD style iterative outlier scan over
   the daily event-count series: 3 rounds of (recompute mean/std over
   the survivors, flag the max-|z| day, remove it). The classic
   many-outliers-mask-each-other fix that one-shot z-scores
   (events_zscore_outlier_minutes) can't provide; greedy replayed by the
   oracle via unrolled CTEs.
2. sprt_conversion_monitor — Wald's SPRT over daily purchase conversion:
   per-day log-likelihood-ratio increments (H1: rate = 1.2x global)
   micro-floored BEFORE the cumulative sum, so the running statistic is
   an exact integer cumsum; decision latched at the first +/- ln(19)
   boundary crossing (alpha = beta = 0.05).
3. seasonal_strength_by_type — STL-style seasonal-strength statistic
   F = max(0, 1 - Var(remainder)/Var(detrended)) per event_type, with
   hour-of-day means as the seasonal component; all variances from
   exact integer micro moments (Huygens on DECIMAL(38,0)/HUGEINT), one
   double divide floored to micro.
4. orders_column_profile — data-profiling scorecard over the orders
   categorical columns (status/priority): distinct count, null count,
   top-value share, Shannon entropy with per-value terms floored to
   micro then exactly summed.
5. good_turing_unseen_mass — Good-Turing estimate of the unseen-token
   probability mass per source (n1/N) plus the adjusted count for
   singletons (2*n2/n1), the classic corpus-coverage statistic for
   judging whether a source's vocabulary is exhausted.

Determinism: same ladder as ext129 — exact integer aggregation; each
log/sqrt evaluated once on identically-derived doubles, floored to micro
before any comparison or summation that must be order-free.

Plan shapes at 100 TB: all five are scan -> small-keyed aggregate ->
bounded post-processing (days, segments, columns, sources); ESD's greedy
iterates over a 30-row daily frame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from shortvideohybridanalyticslakehouse_spark.functions.localrel import (
    local_rows_df,
)
from shortvideohybridanalyticslakehouse_spark.plans.registry import (
    finalize_bounded,
    materialize,
    register,
)
from shortvideohybridanalyticslakehouse_spark.sources.batch import load_table

_ESD_K = 3
_SPRT_LLR_BOUND = 2_944_438  # floor(ln(19) * 1e6)


# --------------------------------------------------------------------------
# 1. generalized-ESD iterative outlier days
# --------------------------------------------------------------------------


def _esd_oracle() -> str:
    rounds = []
    union = []
    for r in range(1, _ESD_K + 1):
        removed = (
            "(" + " UNION ALL ".join(
                f"SELECT day FROM r{i}" for i in range(1, r)
            ) + ")"
            if r > 1
            else "(SELECT CAST(NULL AS TIMESTAMP) AS day WHERE 1 = 0)"
        )
        rounds.append(
            f"m{r} AS (\n"
            f"  SELECT CAST(count(*) AS BIGINT) AS n,\n"
            f"         CAST(sum(c) AS BIGINT) AS s,\n"
            f"         CAST(sum(CAST(c AS HUGEINT) * c) AS HUGEINT) AS sq\n"
            f"  FROM daily WHERE day NOT IN {removed}),\n"
            f"r{r} AS (\n"
            f"  SELECT d.day, d.c,\n"
            f"    CAST(floor(abs(d.c - CAST(m.s AS DOUBLE) / m.n)\n"
            f"      / sqrt((m.n * CAST(m.sq AS DOUBLE) -\n"
            f"              CAST(m.s AS DOUBLE) * m.s)\n"
            f"             / (CAST(m.n AS DOUBLE) * (m.n - 1)))\n"
            f"      * 1000000.0) AS BIGINT) AS z_micro\n"
            f"  FROM daily d CROSS JOIN m{r} m\n"
            f"  WHERE d.day NOT IN {removed}\n"
            f"  ORDER BY z_micro DESC, d.day ASC LIMIT 1)"
        )
        union.append(
            f"SELECT CAST({r} AS BIGINT) AS round, day, c AS n_events,"
            f" z_micro FROM r{r}"
        )
    return f"""
WITH daily AS (
  SELECT date_trunc('day', ts) AS day, CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1
), {", ".join(rounds)}
{" UNION ALL ".join(union)}
"""


@register("esd_outlier_days", _esd_oracle())
def q_esd_outlier_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3 ESD rounds over daily event counts: each round recomputes
    mean/std over the survivors and removes the max-|z| day (z floored
    to micro; ties to the earlier day)."""
    ev = load_table(spark, sf_dir, "events")
    daily = materialize(
        ev.groupBy(F.date_trunc("day", F.col("ts")).alias("day")).agg(
            F.count(F.lit(1)).cast("bigint").alias("c")
        )
    )
    removed: list = []
    out_rows: list[tuple] = []
    for rnd in range(1, _ESD_K + 1):
        rest = daily.filter(~F.col("day").isin(removed))
        m = rest.agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("c").cast("bigint").alias("s"),
            F.sum(F.col("c").cast("decimal(38,0)") * F.col("c")).alias(
                "sq"
            ),
        )
        mean = F.col("s").cast("double") / F.col("n")
        var = (
            F.col("n") * F.col("sq").cast("double")
            - F.col("s").cast("double") * F.col("s")
        ) / (F.col("n").cast("double") * (F.col("n") - 1))
        rows = (
            rest.crossJoin(F.broadcast(m))
            .select(
                "day",
                "c",
                F.floor(
                    F.abs(F.col("c") - mean)
                    / F.sqrt(var)
                    * F.lit(1000000.0)
                )
                .cast("bigint")
                .alias("z_micro"),
            )
            .orderBy(F.col("z_micro").desc(), F.col("day").asc())
            .limit(1)
            .collect()
        )
        if not rows:
            break
        removed.append(rows[0].day)
        out_rows.append((rnd, rows[0].day, rows[0].c, rows[0].z_micro))
    result = local_rows_df(
        spark,
        out_rows,
        "round bigint, day timestamp, n_events bigint, z_micro bigint",
    )
    return finalize_bounded(result)


# --------------------------------------------------------------------------
# 2. SPRT sequential conversion monitor
# --------------------------------------------------------------------------

_SPRT_ORACLE = f"""
WITH daily AS (
  SELECT date_trunc('day', ts) AS day,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS k
  FROM events GROUP BY 1
), g AS (
  SELECT CAST(sum(n) AS BIGINT) AS big_n, CAST(sum(k) AS BIGINT) AS big_k
  FROM daily
), inc AS (
  SELECT d.day, d.n, d.k,
         CAST(floor((d.k * ln(1.2)
            + (d.n - d.k) * ln((1.0 - 1.2 * CAST(g.big_k AS DOUBLE)
                                        / g.big_n)
                               / (1.0 - CAST(g.big_k AS DOUBLE) / g.big_n))
           ) * 1000000.0) AS BIGINT) AS llr_micro
  FROM daily d CROSS JOIN g
), cum AS (
  SELECT day, n, k, llr_micro,
         CAST(sum(llr_micro) OVER (ORDER BY day ASC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_llr_micro
  FROM inc
), crossing AS (
  SELECT *,
         CASE WHEN cum_llr_micro >= {_SPRT_LLR_BOUND} THEN 1
              WHEN cum_llr_micro <= -{_SPRT_LLR_BOUND} THEN -1
              ELSE 0 END AS cross_dir,
         CAST(row_number() OVER (ORDER BY day ASC) AS BIGINT) AS day_idx
  FROM cum
), first_cross AS (
  SELECT coalesce(min(day_idx), CAST(0 AS BIGINT)) AS idx
  FROM crossing WHERE cross_dir <> 0
)
SELECT c.day, c.n, c.k, c.llr_micro, c.cum_llr_micro,
       CASE WHEN f.idx = 0 OR c.day_idx < f.idx THEN 'continue'
            WHEN (SELECT cross_dir FROM crossing x
                  WHERE x.day_idx = f.idx) = 1 THEN 'reject_h0'
            ELSE 'accept_h0' END AS decision
FROM crossing c CROSS JOIN first_cross f
"""


@register("sprt_conversion_monitor", _SPRT_ORACLE)
def q_sprt_conversion_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald SPRT over daily purchase conversion vs H1 = 1.2x the global
    rate: per-day LLR increments micro-floored, exact integer cumsum,
    decision latched at the first +/- ln(19) crossing."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("day", F.col("ts")).alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        )
        .cast("bigint")
        .alias("k"),
    )
    g = daily.agg(
        F.sum("n").cast("bigint").alias("big_n"),
        F.sum("k").cast("bigint").alias("big_k"),
    )
    p0 = F.col("big_k").cast("double") / F.col("big_n")
    llr = (
        F.col("k") * F.log(F.lit(1.2))
        + (F.col("n") - F.col("k"))
        * F.log((F.lit(1.0) - F.lit(1.2) * p0) / (F.lit(1.0) - p0))
    )
    inc = daily.crossJoin(F.broadcast(g)).select(
        "day",
        "n",
        "k",
        F.floor(llr * F.lit(1000000.0)).cast("bigint").alias("llr_micro"),
    )
    wcum = Window.orderBy(F.col("day").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    word = Window.orderBy(F.col("day").asc())
    cum = inc.select(
        "*",
        F.sum("llr_micro").over(wcum).cast("bigint").alias("cum_llr_micro"),
        F.row_number().over(word).cast("bigint").alias("day_idx"),
    ).withColumn(
        "cross_dir",
        F.when(F.col("cum_llr_micro") >= _SPRT_LLR_BOUND, 1)
        .when(F.col("cum_llr_micro") <= -_SPRT_LLR_BOUND, -1)
        .otherwise(0),
    )
    wall = Window.partitionBy()
    first_idx = F.min(
        F.when(F.col("cross_dir") != 0, F.col("day_idx"))
    ).over(wall)
    # the FIRST crossing's direction: min-by via a struct ordered on
    # day_idx (struct min compares field-by-field, day_idx leads)
    first_cross = F.min(
        F.when(
            F.col("cross_dir") != 0,
            F.struct(
                F.col("day_idx").alias("i"), F.col("cross_dir").alias("d")
            ),
        )
    ).over(wall)
    return cum.select(
        "day",
        "n",
        "k",
        "llr_micro",
        "cum_llr_micro",
        F.when(
            first_idx.isNull() | (F.col("day_idx") < first_idx), "continue"
        )
        .when(first_cross.getField("d") == 1, "reject_h0")
        .otherwise("accept_h0")
        .alias("decision"),
    )


# --------------------------------------------------------------------------
# 3. seasonal strength by event type
# --------------------------------------------------------------------------

_SEASONAL_ORACLE = """
WITH ev AS (
  SELECT event_type, extract(hour FROM ts) AS hr,
         CAST(floor(value * 1000000.0) AS BIGINT) AS v
  FROM events WHERE value IS NOT NULL
), hourmean AS (
  SELECT event_type, hr, CAST(sum(v) // count(*) AS BIGINT) AS hm
  FROM ev GROUP BY 1, 2
), joined AS (
  SELECT e.event_type, e.v, e.v - h.hm AS r
  FROM ev e JOIN hourmean h
    ON h.event_type = e.event_type AND h.hr = e.hr
), moments AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(v) AS HUGEINT) AS sv,
         CAST(sum(CAST(v AS HUGEINT) * v) AS HUGEINT) AS svv,
         CAST(sum(r) AS HUGEINT) AS sr,
         CAST(sum(CAST(r AS HUGEINT) * r) AS HUGEINT) AS srr
  FROM joined GROUP BY 1
)
SELECT event_type, n,
       CAST(floor(greatest(0.0,
         1.0 - (n * CAST(srr AS DOUBLE) - CAST(sr AS DOUBLE) * sr)
             / (n * CAST(svv AS DOUBLE) - CAST(sv AS DOUBLE) * sv))
         * 1000000.0) AS BIGINT) AS seasonal_strength_micro
FROM moments
"""


@register("seasonal_strength_by_type", _SEASONAL_ORACLE)
def q_seasonal_strength_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STL-style seasonal strength per event_type with hour-of-day means
    as the seasonal component: 1 - Var(remainder)/Var(values), exact
    integer micro moments, one double divide floored to micro."""
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            F.hour("ts").alias("hr"),
            F.floor(F.col("value") * F.lit(1000000.0))
            .cast("bigint")
            .alias("v"),
        )
    )
    hourmean = ev.groupBy("event_type", "hr").agg(
        F.expr("CAST(sum(v) DIV count(1) AS BIGINT)").alias("hm")
    )
    joined = ev.join(F.broadcast(hourmean), ["event_type", "hr"]).select(
        "event_type", "v", (F.col("v") - F.col("hm")).alias("r")
    )
    d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    m = joined.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(d38(F.col("v"))).alias("sv"),
        F.sum(d38(F.col("v")) * F.col("v")).alias("svv"),
        F.sum(d38(F.col("r"))).alias("sr"),
        F.sum(d38(F.col("r")) * F.col("r")).alias("srr"),
    )
    strength = F.greatest(
        F.lit(0.0),
        F.lit(1.0)
        - (
            F.col("n") * F.col("srr").cast("double")
            - F.col("sr").cast("double") * F.col("sr").cast("double")
        )
        / (
            F.col("n") * F.col("svv").cast("double")
            - F.col("sv").cast("double") * F.col("sv").cast("double")
        ),
    )
    return m.select(
        "event_type",
        "n",
        F.floor(strength * F.lit(1000000.0))
        .cast("bigint")
        .alias("seasonal_strength_micro"),
    )


# --------------------------------------------------------------------------
# 4. orders categorical column profile
# --------------------------------------------------------------------------

_PROFILE_ORACLE = """
WITH unp AS (
  SELECT 'o_orderstatus' AS col_name, o_orderstatus AS val FROM orders
  UNION ALL
  SELECT 'o_orderpriority', o_orderpriority FROM orders
), vals AS (
  SELECT col_name, val, CAST(count(*) AS BIGINT) AS c
  FROM unp WHERE val IS NOT NULL GROUP BY 1, 2
), tot AS (
  SELECT col_name,
         CAST(sum(c) AS BIGINT) AS n,
         CAST(count(*) AS BIGINT) AS n_distinct,
         CAST(max(c) AS BIGINT) AS top_c
  FROM vals GROUP BY 1
), nulls AS (
  SELECT col_name, CAST(sum(CASE WHEN val IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_null
  FROM unp GROUP BY 1
), ent AS (
  SELECT v.col_name,
         CAST(sum(CAST(floor(-1.0 * (CAST(v.c AS DOUBLE) / t.n)
                  * ln(CAST(v.c AS DOUBLE) / t.n) * 1000000.0)
                  AS BIGINT)) AS BIGINT) AS entropy_micro
  FROM vals v JOIN tot t ON t.col_name = v.col_name
  GROUP BY 1
)
SELECT t.col_name, t.n, n.n_null, t.n_distinct,
       CAST(t.top_c * 1000000 // t.n AS BIGINT) AS top_share_micro,
       e.entropy_micro
FROM tot t JOIN nulls n ON n.col_name = t.col_name
JOIN ent e ON e.col_name = t.col_name
"""


@register("orders_column_profile", _PROFILE_ORACLE)
def q_orders_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Profiling scorecard for the orders categorical columns: counts,
    nulls, distincts, top-value share, Shannon entropy (per-value terms
    floored to micro, then exactly summed)."""
    o = load_table(spark, sf_dir, "orders")
    unp = o.select(
        F.expr(
            "stack(2, 'o_orderstatus', o_orderstatus,"
            " 'o_orderpriority', o_orderpriority) AS (col_name, val)"
        )
    )
    vals = (
        unp.filter(F.col("val").isNotNull())
        .groupBy("col_name", "val")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    tot = vals.groupBy("col_name").agg(
        F.sum("c").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
        F.max("c").cast("bigint").alias("top_c"),
    )
    nulls = unp.groupBy("col_name").agg(
        F.sum(F.when(F.col("val").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_null")
    )
    p = F.col("c").cast("double") / F.col("n")
    ent = (
        vals.join(F.broadcast(tot), "col_name")
        .select(
            "col_name",
            F.floor(F.lit(-1.0) * p * F.log(p) * F.lit(1000000.0))
            .cast("bigint")
            .alias("term"),
        )
        .groupBy("col_name")
        .agg(F.sum("term").cast("bigint").alias("entropy_micro"))
    )
    return (
        tot.join(nulls, "col_name")
        .join(ent, "col_name")
        .select(
            "col_name",
            "n",
            "n_null",
            "n_distinct",
            F.expr("CAST(top_c * 1000000 DIV n AS BIGINT)").alias(
                "top_share_micro"
            ),
            "entropy_micro",
        )
    )


# --------------------------------------------------------------------------
# 5. Good-Turing unseen mass per source
# --------------------------------------------------------------------------

_GT_ORACLE = """
WITH tok AS (
  SELECT source,
         unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
  FROM documents
), tc AS (
  SELECT source, term, CAST(count(*) AS BIGINT) AS c
  FROM tok GROUP BY 1, 2
)
SELECT source,
       CAST(sum(c) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS vocab,
       CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
       CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
       CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1000000
            // sum(c) AS BIGINT) AS unseen_mass_micro
FROM tc GROUP BY 1
"""


@register("good_turing_unseen_mass", _GT_ORACLE)
def q_good_turing_unseen_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good-Turing unseen-probability mass per source (n1/N in micro)
    with the singleton/doubleton counts that feed the adjusted-count
    estimate — the corpus-coverage exhaustion statistic."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "source",
        F.explode(
            F.split(F.lower(F.trim(F.col("text"))), r"\s+")
        ).alias("term"),
    )
    tc = tok.groupBy("source", "term").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    return tc.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("vocab"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n1"),
        F.sum(F.when(F.col("c") == 2, 1).otherwise(0))
        .cast("bigint")
        .alias("n2"),
        F.expr(
            "CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1000000"
            " DIV sum(c) AS BIGINT)"
        ).alias("unseen_mass_micro"),
    )
