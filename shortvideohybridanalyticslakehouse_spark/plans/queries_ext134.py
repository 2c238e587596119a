"""Extension queries, round 134: four distribution-monitoring lanes.

1. psi_value_drift_halves — Population Stability Index between the
   first and second calendar half of the events value distribution over
   10 fixed equal-width bins (the standard ML feature-drift monitor).
   Laplace-smoothed (+1) so empty bins are deterministic; per-bin terms
   nano-floored, summed as exact integers.
2. benford_cents_chi2_audit — first-digit distribution of order totals
   IN CENTS (distinct from ext24's whole-dollar benford_first_digit_audit)
   vs Benford's law with per-digit chi-square terms (the classic books-
   cooking tripwire; first digit extracted via string head, no float
   log in the digit path).
3. cochran_armitage_hour_trend — Cochran-Armitage test for a linear
   trend in purchase rate across the four 6-hour day buckets (ordered
   doses 0..3); all sums exact integers, one double z formula floored
   to micro.
4. ks_weekend_value_shift — two-sample Kolmogorov-Smirnov statistic
   between weekday and weekend value distributions over 100 fixed bins,
   computed ENTIRELY in integers: KS = max |cum_a*n_b - cum_b*n_a| *
   1e6 // (n_a*n_b) — no float ECDFs at all. The cumulative rides the
   bounded-bin range join (the gini/lorenz allow-listed grid shape).

Plan shapes at 100 TB: PSI/Benford/CA are single-scan integer
aggregations to O(bins) rows; KS adds one bounded 100-bin grid range
join — nothing grows with the corpus except the scans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from shortvideohybridanalyticslakehouse_spark.plans.registry import register
from shortvideohybridanalyticslakehouse_spark.sources.batch import load_table

_PSI_BINS = 10
_KS_BINS = 100

# ---------------------------------------------------------------------------
# 1. PSI between calendar halves
# ---------------------------------------------------------------------------

_PSI_ORACLE = f"""
WITH ev AS (
  SELECT date_diff('second', TIMESTAMP '1970-01-01', ts) AS sec,
         CAST(floor(CAST(value AS DECIMAL(18,2)) * 100) AS BIGINT) AS cents
  FROM events WHERE value IS NOT NULL
), bounds AS (
  SELECT min(sec) AS lo_s, max(sec) AS hi_s,
         min(cents) AS lo_c, max(cents) AS hi_c,
         (min(sec) + max(sec)) // 2 AS mid_s
  FROM ev
), binned AS (
  SELECT CASE WHEN e.sec <= b.mid_s THEN 0 ELSE 1 END AS half,
         least({_PSI_BINS - 1},
               (e.cents - b.lo_c) * {_PSI_BINS}
                 // (b.hi_c - b.lo_c + 1)) AS bin
  FROM ev e CROSS JOIN bounds b
), grid AS (
  SELECT unnest(generate_series(0, {_PSI_BINS - 1})) AS bin
), counts AS (
  SELECT g.bin,
         CAST(coalesce(sum(CASE WHEN half = 0 THEN 1 END), 0) AS BIGINT)
           AS n_first,
         CAST(coalesce(sum(CASE WHEN half = 1 THEN 1 END), 0) AS BIGINT)
           AS n_second
  FROM grid g LEFT JOIN binned x ON x.bin = g.bin
  GROUP BY 1
), tot AS (
  SELECT CAST(sum(n_first) AS BIGINT) AS na,
         CAST(sum(n_second) AS BIGINT) AS nb
  FROM counts
)
SELECT c.bin, c.n_first, c.n_second,
       CAST(floor(
         ((CAST(c.n_first + 1 AS DOUBLE) / (t.na + {_PSI_BINS}))
          - (CAST(c.n_second + 1 AS DOUBLE) / (t.nb + {_PSI_BINS})))
         * ln((CAST(c.n_first + 1 AS DOUBLE) / (t.na + {_PSI_BINS}))
              / (CAST(c.n_second + 1 AS DOUBLE) / (t.nb + {_PSI_BINS})))
         * 1000000000.0
       ) AS BIGINT) AS psi_term_nano
FROM counts c CROSS JOIN tot t
"""


@register("psi_value_drift_halves", _PSI_ORACLE)
def q_psi_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI terms per fixed equal-width value bin between the first and
    second calendar halves (Laplace +1, nano-floored terms)."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    ).select(
        F.col("ts").cast("long").alias("sec"),
        F.floor(F.col("value").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("cents"),
    )
    bounds = F.broadcast(
        ev.agg(
            F.min("sec").alias("lo_s"),
            F.max("sec").alias("hi_s"),
            F.min("cents").alias("lo_c"),
            F.max("cents").alias("hi_c"),
            ((F.min("sec") + F.max("sec")) / 2)
            .cast("bigint")
            .alias("mid_s"),
        )
    )
    binned = ev.crossJoin(bounds).select(
        F.when(F.col("sec") <= F.col("mid_s"), 0).otherwise(1).alias("half"),
        F.least(
            F.lit(_PSI_BINS - 1),
            (F.col("cents") - F.col("lo_c"))
            * _PSI_BINS
            / (F.col("hi_c") - F.col("lo_c") + 1),
        )
        .cast("bigint")
        .alias("bin"),
    )
    grid = spark.range(_PSI_BINS).select(F.col("id").alias("bin"))
    counts = (
        grid.join(binned, "bin", "left")
        .groupBy("bin")
        .agg(
            F.sum(F.when(F.col("half") == 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_first"),
            F.sum(F.when(F.col("half") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_second"),
        )
    )
    tot = F.broadcast(
        counts.agg(
            F.sum("n_first").cast("bigint").alias("na"),
            F.sum("n_second").cast("bigint").alias("nb"),
        )
    )
    p = (F.col("n_first") + 1).cast("double") / (F.col("na") + _PSI_BINS)
    q = (F.col("n_second") + 1).cast("double") / (F.col("nb") + _PSI_BINS)
    return counts.crossJoin(tot).select(
        "bin",
        "n_first",
        "n_second",
        F.floor((p - q) * F.log(p / q) * 1_000_000_000.0)
        .cast("bigint")
        .alias("psi_term_nano"),
    )


# ---------------------------------------------------------------------------
# 2. Benford first-digit audit
# ---------------------------------------------------------------------------

_BENFORD_ORACLE = """
WITH cents AS (
  SELECT CAST(floor(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)
           AS c
  FROM orders WHERE o_totalprice > 0
), digits AS (
  SELECT CAST(substring(CAST(c AS VARCHAR), 1, 1) AS BIGINT) AS digit
  FROM cents
), obs AS (
  SELECT digit, CAST(count(*) AS BIGINT) AS n_obs
  FROM digits GROUP BY 1
), grid AS (
  SELECT unnest(generate_series(1, 9)) AS digit
), tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM digits)
SELECT g.digit,
       CAST(coalesce(o.n_obs, 0) AS BIGINT) AS n_obs,
       CAST(floor(t.n * log10(1.0 + 1.0 / g.digit) * 1000000.0)
            AS BIGINT) AS expected_micro,
       CAST(floor(
         (CAST(coalesce(o.n_obs, 0) AS DOUBLE)
          - t.n * log10(1.0 + 1.0 / g.digit))
         * (CAST(coalesce(o.n_obs, 0) AS DOUBLE)
            - t.n * log10(1.0 + 1.0 / g.digit))
         / (t.n * log10(1.0 + 1.0 / g.digit)) * 1000000.0
       ) AS BIGINT) AS chi2_term_micro
FROM grid g LEFT JOIN obs o ON o.digit = g.digit CROSS JOIN tot t
"""


@register("benford_cents_chi2_audit", _BENFORD_ORACLE)
def q_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Observed vs Benford-expected first-digit counts of order totals
    (in cents) with per-digit chi-square terms, micro-floored."""
    cents = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 0
    ).select(
        F.floor(F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("c")
    )
    digits = cents.select(
        F.substring(F.col("c").cast("string"), 1, 1)
        .cast("bigint")
        .alias("digit")
    )
    obs = digits.groupBy("digit").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_obs")
    )
    grid = spark.range(1, 10).select(F.col("id").alias("digit"))
    tot = F.broadcast(digits.agg(F.count(F.lit(1)).cast("bigint").alias("n")))
    exp = F.col("n") * F.log10(1.0 + 1.0 / F.col("digit"))
    n_obs = F.coalesce(F.col("n_obs"), F.lit(0)).cast("bigint")
    dev = n_obs.cast("double") - exp
    return (
        grid.join(obs, "digit", "left")
        .crossJoin(tot)
        .select(
            "digit",
            n_obs.alias("n_obs"),
            F.floor(exp * 1_000_000.0).cast("bigint").alias("expected_micro"),
            F.floor(dev * dev / exp * 1_000_000.0)
            .cast("bigint")
            .alias("chi2_term_micro"),
        )
    )


# ---------------------------------------------------------------------------
# 3. Cochran-Armitage trend over 6-hour dose buckets
# ---------------------------------------------------------------------------

_CA_ORACLE = """
WITH ev AS (
  SELECT CAST(extract(hour FROM ts) // 6 AS BIGINT) AS dose,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS conv
  FROM events
), seg AS (
  SELECT dose, CAST(count(*) AS BIGINT) AS n, CAST(sum(conv) AS BIGINT) AS k
  FROM ev GROUP BY 1
), tot AS (
  SELECT CAST(sum(n) AS BIGINT) AS big_n, CAST(sum(k) AS BIGINT) AS big_k,
         CAST(sum(dose * k) AS BIGINT) AS sk,
         CAST(sum(dose * n) AS BIGINT) AS sn,
         CAST(sum(dose * dose * n) AS BIGINT) AS s2n
  FROM seg
)
SELECT big_n AS n_total, big_k AS k_total,
       CAST(floor(
         (CAST(sk AS DOUBLE) - CAST(sn AS DOUBLE) * big_k / big_n)
         / sqrt(
             (CAST(big_k AS DOUBLE) / big_n)
             * (1.0 - CAST(big_k AS DOUBLE) / big_n)
             * (CAST(s2n AS DOUBLE)
                - CAST(sn AS DOUBLE) * sn / big_n)
         ) * 1000000.0
       ) AS BIGINT) AS ca_z_micro
FROM tot
"""


@register("cochran_armitage_hour_trend", _CA_ORACLE)
def q_cochran_armitage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Armitage linear-trend z over purchase rate by 6-hour dose
    bucket (scores 0..3); exact integer sums, one micro-floored z."""
    ev = load_table(spark, sf_dir, "events").select(
        (F.hour("ts") / 6).cast("bigint").alias("dose"),
        F.when(F.col("event_type") == "purchase", 1)
        .otherwise(0)
        .alias("conv"),
    )
    seg = ev.groupBy("dose").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("conv").cast("bigint").alias("k"),
    )
    tot = seg.agg(
        F.sum("n").cast("bigint").alias("big_n"),
        F.sum("k").cast("bigint").alias("big_k"),
        F.sum(F.col("dose") * F.col("k")).cast("bigint").alias("sk"),
        F.sum(F.col("dose") * F.col("n")).cast("bigint").alias("sn"),
        F.sum(F.col("dose") * F.col("dose") * F.col("n"))
        .cast("bigint")
        .alias("s2n"),
    )
    rate = F.col("big_k").cast("double") / F.col("big_n")
    t_num = F.col("sk").cast("double") - F.col("sn").cast(
        "double"
    ) * F.col("big_k") / F.col("big_n")
    var = (
        rate
        * (1.0 - rate)
        * (
            F.col("s2n").cast("double")
            - F.col("sn").cast("double") * F.col("sn") / F.col("big_n")
        )
    )
    return tot.select(
        F.col("big_n").alias("n_total"),
        F.col("big_k").alias("k_total"),
        F.floor(t_num / F.sqrt(var) * 1_000_000.0)
        .cast("bigint")
        .alias("ca_z_micro"),
    )


# ---------------------------------------------------------------------------
# 4. binned two-sample KS, weekday vs weekend — all-integer
# ---------------------------------------------------------------------------

_KS_ORACLE = f"""
WITH ev AS (
  SELECT CAST(strftime(ts, '%w') AS BIGINT) IN (0, 6) AS weekend,
         CAST(floor(CAST(value AS DECIMAL(18,2)) * 100) AS BIGINT) AS cents
  FROM events WHERE value IS NOT NULL
), bounds AS (
  SELECT min(cents) AS lo, max(cents) AS hi FROM ev
), binned AS (
  SELECT weekend,
         least({_KS_BINS - 1},
               (e.cents - b.lo) * {_KS_BINS} // (b.hi - b.lo + 1)) AS bin
  FROM ev e CROSS JOIN bounds b
), counts AS (
  SELECT bin,
         CAST(coalesce(sum(CASE WHEN NOT weekend THEN 1 END), 0) AS BIGINT)
           AS ca,
         CAST(coalesce(sum(CASE WHEN weekend THEN 1 END), 0) AS BIGINT) AS cb
  FROM binned GROUP BY 1
), grid AS (
  SELECT unnest(generate_series(0, {_KS_BINS - 1})) AS bin
), cum AS (
  SELECT g.bin,
         CAST(coalesce(sum(c.ca), 0) AS BIGINT) AS cum_a,
         CAST(coalesce(sum(c.cb), 0) AS BIGINT) AS cum_b
  FROM grid g LEFT JOIN counts c ON c.bin <= g.bin
  GROUP BY 1
), tot AS (
  SELECT CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb
  FROM counts
), scored AS (
  SELECT c.bin,
         abs(CAST(c.cum_a AS HUGEINT) * t.nb
             - CAST(c.cum_b AS HUGEINT) * t.na) * 1000000
           // (CAST(t.na AS HUGEINT) * t.nb) AS d_micro
  FROM cum c CROSS JOIN tot t
)
SELECT t.na AS n_weekday, t.nb AS n_weekend,
       CAST((SELECT max(d_micro) FROM scored) AS BIGINT) AS ks_micro,
       CAST((SELECT min(bin) FROM scored
             WHERE d_micro = (SELECT max(d_micro) FROM scored))
            AS BIGINT) AS argmax_bin
FROM tot t
"""


@register("ks_weekend_value_shift", _KS_ORACLE)
def q_ks_weekend_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample KS between weekday and weekend value distributions
    over 100 fixed bins — ALL integer: KS = max |cum_a*nb - cum_b*na| *
    1e6 // (na*nb). The 100-bin cumulative rides the bounded grid range
    join (gini/lorenz family)."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    ).select(
        F.dayofweek("ts").isin(1, 7).alias("weekend"),
        F.floor(F.col("value").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("cents"),
    )
    bounds = F.broadcast(
        ev.agg(F.min("cents").alias("lo"), F.max("cents").alias("hi"))
    )
    binned = ev.crossJoin(bounds).select(
        "weekend",
        F.least(
            F.lit(_KS_BINS - 1),
            (F.col("cents") - F.col("lo"))
            * _KS_BINS
            / (F.col("hi") - F.col("lo") + 1),
        )
        .cast("bigint")
        .alias("bin"),
    )
    counts = binned.groupBy("bin").agg(
        F.sum(F.when(~F.col("weekend"), 1).otherwise(0))
        .cast("bigint")
        .alias("ca"),
        F.sum(F.when(F.col("weekend"), 1).otherwise(0))
        .cast("bigint")
        .alias("cb"),
    )
    grid = spark.range(_KS_BINS).select(F.col("id").alias("bin_g"))
    # bounded 100-bin grid range join (the allow-listed gini shape)
    cum = (
        grid.join(counts, F.col("bin") <= F.col("bin_g"), "left")
        .groupBy("bin_g")
        .agg(
            F.coalesce(F.sum("ca"), F.lit(0)).cast("bigint").alias("cum_a"),
            F.coalesce(F.sum("cb"), F.lit(0)).cast("bigint").alias("cum_b"),
        )
    )
    tot = F.broadcast(
        counts.agg(
            F.sum("ca").cast("bigint").alias("na"),
            F.sum("cb").cast("bigint").alias("nb"),
        )
    )
    scored = cum.crossJoin(tot).select(
        "bin_g",
        "na",
        "nb",
        # cum_a*nb wraps in int64 once both samples pass ~3e9 rows:
        # DECIMAL(38,0) cross-products (oracle: HUGEINT), exact at any
        # SF; d_micro <= 1e6 so the BIGINT cast is safe
        F.expr(
            "CAST(abs(CAST(cum_a AS DECIMAL(38,0)) * nb"
            " - CAST(cum_b AS DECIMAL(38,0)) * na) * 1000000"
            " DIV (CAST(na AS DECIMAL(38,0)) * nb) AS BIGINT)"
        ).alias("d_micro"),
    )
    best = F.broadcast(
        scored.agg(F.max("d_micro").alias("ks_micro"))
    )
    return (
        scored.crossJoin(best)
        .filter(F.col("d_micro") == F.col("ks_micro"))
        .groupBy("na", "nb", "ks_micro")
        .agg(F.min("bin_g").cast("bigint").alias("argmax_bin"))
        .select(
            F.col("na").alias("n_weekday"),
            F.col("nb").alias("n_weekend"),
            F.col("ks_micro").cast("bigint").alias("ks_micro"),
            "argmax_bin",
        )
    )
