"""Extension queries, round 135: three sequence/spectral lanes.

1. periodogram_fixed_periods — DFT power of the hourly event-count
   series at the four periods that matter for traffic (24 h, 12 h, 8 h,
   weekly): per-hour cos/sin terms come from LITERAL tables computed
   once in Python and embedded in BOTH engines (the _KNN_PLANES
   pattern) — zero engine trig, because sin() was measured to differ in
   the last ulp between Spark and DuckDB. Terms are milli-floored
   integers, summed exactly; power assembled from the exact sums.
2. kaplan_meier_signup_purchase — the product-limit survival estimate
   of days from a user's first signup to first purchase (censored at
   the corpus end): risk sets are exact integer counts over a bounded
   day grid; per-day ln(1 - d/n) is nano-floored and the cumulative sum
   rides the horizon grid join (Nelson-Aalen family), S = exp of the
   exact integer sum.
3. transition_entropy_by_state — conditional next-event entropy per
   current event_type from the per-user event chains (the sequence-
   predictability profile): all counts exact integers, per-transition
   terms nano-floored before the exact sum.

Plan shapes at 100 TB: periodogram is one shuffle to hour grain then
O(hours x 4) bounded terms; KM is one shuffle to user grain + a
bounded-horizon grid; entropy is one lead() window over (user) + a
K x K aggregate over the closed event_type alphabet.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from shortvideohybridanalyticslakehouse_spark.plans.registry import (
    materialize,
    register,
)
from shortvideohybridanalyticslakehouse_spark.sources.batch import load_table

_PERIODS = (24, 12, 8, 168)
_KM_HORIZON = 14

# literal cos/sin tables — repr() round-trips the exact double into both
# engines' parsers, so the per-term products are bit-identical
_COS = {T: [repr(math.cos(2.0 * math.pi * i / T)) for i in range(T)]
        for T in _PERIODS}
_SIN = {T: [repr(math.sin(2.0 * math.pi * i / T)) for i in range(T)]
        for T in _PERIODS}


def _duck_period_select(T: int) -> str:
    cos_lit = "[" + ", ".join(_COS[T]) + "]"
    sin_lit = "[" + ", ".join(_SIN[T]) + "]"
    return f"""
  SELECT CAST({T} AS BIGINT) AS period,
         CAST(sum(CAST(floor(x * ({cos_lit})[(t % {T}) + 1] * 1000.0)
                       AS BIGINT)) AS BIGINT) AS sa_milli,
         CAST(sum(CAST(floor(x * ({sin_lit})[(t % {T}) + 1] * 1000.0)
                       AS BIGINT)) AS BIGINT) AS sb_milli,
         CAST(count(*) AS BIGINT) AS n_hours
  FROM hourly"""


_PERIODOGRAM_ORACLE = (
    """
WITH anchor AS (
  SELECT min(date_diff('second', TIMESTAMP '1970-01-01', ts)) // 3600
           AS h0
  FROM events
), hourly AS (
  SELECT (date_diff('second', TIMESTAMP '1970-01-01', e.ts) // 3600) - a.h0
           AS t,
         CAST(count(*) AS DOUBLE) AS x
  FROM events e CROSS JOIN anchor a
  GROUP BY 1
)
"""
    + "\nUNION ALL\n".join(_duck_period_select(T) for T in _PERIODS)
)


@register("periodogram_fixed_periods", _PERIODOGRAM_ORACLE)
def q_periodogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DFT component sums of the hourly count series at 24/12/8/168-hour
    periods, from shared literal trig tables (exact integer sums)."""
    ev = load_table(spark, sf_dir, "events").select(
        (F.col("ts").cast("long") / 3600).cast("bigint").alias("h")
    )
    anchor = F.broadcast(ev.agg(F.min("h").alias("h0")))
    hourly = (
        ev.crossJoin(anchor)
        .groupBy((F.col("h") - F.col("h0")).alias("t"))
        .agg(F.count(F.lit(1)).cast("double").alias("x"))
    )
    parts = []
    for T in _PERIODS:
        cos_arr = F.array(*[F.lit(float(c)) for c in _COS[T]])
        sin_arr = F.array(*[F.lit(float(s)) for s in _SIN[T]])
        idx = (F.col("t") % T + 1).cast("int")
        parts.append(
            hourly.select(
                F.lit(T).cast("bigint").alias("period"),
                F.floor(F.col("x") * F.element_at(cos_arr, idx) * 1000.0)
                .cast("bigint")
                .alias("ca"),
                F.floor(F.col("x") * F.element_at(sin_arr, idx) * 1000.0)
                .cast("bigint")
                .alias("cb"),
            )
            .groupBy("period")
            .agg(
                F.sum("ca").cast("bigint").alias("sa_milli"),
                F.sum("cb").cast("bigint").alias("sb_milli"),
                F.count(F.lit(1)).cast("bigint").alias("n_hours"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# ---------------------------------------------------------------------------
# 2. Kaplan-Meier product-limit: signup -> purchase
# ---------------------------------------------------------------------------

_KM_ORACLE = f"""
WITH per_user AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'signup'
             THEN date_diff('second', TIMESTAMP '1970-01-01', ts) // 86400
             END) AS d0,
         min(CASE WHEN event_type = 'purchase'
             THEN date_diff('second', TIMESTAMP '1970-01-01', ts) // 86400
             END) AS dp
  FROM events GROUP BY 1
), horizon AS (
  SELECT max(date_diff('second', TIMESTAMP '1970-01-01', ts) // 86400)
           AS dmax
  FROM events
), subjects AS (
  SELECT u.user_id,
         CASE WHEN u.dp IS NOT NULL AND u.dp >= u.d0
              THEN least(u.dp - u.d0, {_KM_HORIZON})
              ELSE least(h.dmax - u.d0, {_KM_HORIZON}) END AS t,
         CASE WHEN u.dp IS NOT NULL AND u.dp >= u.d0
                   AND u.dp - u.d0 <= {_KM_HORIZON}
              THEN 1 ELSE 0 END AS converted
  FROM per_user u CROSS JOIN horizon h
  WHERE u.d0 IS NOT NULL
), days AS (
  SELECT t AS day,
         CAST(sum(converted) AS BIGINT) AS d_events,
         CAST(count(*) AS BIGINT) AS leaving
  FROM subjects GROUP BY 1
), grid AS (
  SELECT unnest(generate_series(0, {_KM_HORIZON})) AS day
), risk AS (
  SELECT g.day,
         CAST(coalesce((SELECT sum(leaving) FROM days x
                        WHERE x.day >= g.day), 0) AS BIGINT) AS n_risk,
         CAST(coalesce((SELECT d_events FROM days x
                        WHERE x.day = g.day), 0) AS BIGINT) AS d_events
  FROM grid g
), terms AS (
  SELECT day, n_risk, d_events,
         CASE WHEN n_risk = 0 OR d_events = 0 THEN CAST(0 AS BIGINT)
              WHEN d_events >= n_risk THEN CAST(-1000000000000000 AS BIGINT)
              ELSE CAST(floor(ln(1.0 - CAST(d_events AS DOUBLE) / n_risk)
                              * 1000000000.0) AS BIGINT)
         END AS term_nano
  FROM risk
)
SELECT a.day, a.n_risk, a.d_events,
       CAST(floor(exp(CAST((SELECT sum(b.term_nano) FROM terms b
                            WHERE b.day <= a.day) AS DOUBLE)
                      / 1000000000.0) * 1000000.0) AS BIGINT)
         AS km_survival_micro
FROM terms a
"""


@register("kaplan_meier_signup_purchase", _KM_ORACLE)
def q_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-limit survival of days from first signup to first
    purchase, censored at day 14 / corpus end; S from the exact integer
    sum of nano-floored ln(1 - d/n) terms over the bounded day grid."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        (F.col("ts").cast("long") / 86400).cast("bigint").alias("day"),
    )
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("day"))).alias(
            "d0"
        ),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("day"))
        ).alias("dp"),
        # per-user max day rides the same aggregate so the censoring
        # horizon is max-of-maxes over the checkpointed per-user frame —
        # without it the horizon broadcast re-scans and re-aggregates
        # the whole events table a second time (guide §2.4)
        F.max("day").alias("dmax_u"),
    )
    # lazy: the horizon broadcast's own (tiny) job materializes the
    # checkpoint blocks; the main query then reads them — one events
    # scan + one per-user aggregation total, no separate
    # materialization job
    per_user = materialize(per_user, eager=False)
    horizon = F.broadcast(
        per_user.agg(F.max("dmax_u").alias("dmax"))
    )
    conv = (
        F.col("dp").isNotNull()
        & (F.col("dp") >= F.col("d0"))
    )
    subjects = (
        per_user.filter(F.col("d0").isNotNull())
        .crossJoin(horizon)
        .select(
            F.when(
                conv, F.least(F.col("dp") - F.col("d0"), F.lit(_KM_HORIZON))
            )
            .otherwise(
                F.least(F.col("dmax") - F.col("d0"), F.lit(_KM_HORIZON))
            )
            .alias("t"),
            F.when(
                conv & (F.col("dp") - F.col("d0") <= _KM_HORIZON), 1
            )
            .otherwise(0)
            .alias("converted"),
        )
    )
    days = subjects.groupBy(F.col("t").alias("day")).agg(
        F.sum("converted").cast("bigint").alias("d_events"),
        F.count(F.lit(1)).cast("bigint").alias("leaving"),
    )
    grid = spark.range(_KM_HORIZON + 1).select(F.col("id").alias("day_g"))
    # bounded horizon grid range join (Nelson-Aalen allow-listed family)
    risk = (
        grid.join(days, F.col("day") >= F.col("day_g"), "left")
        .groupBy("day_g")
        .agg(
            F.coalesce(F.sum("leaving"), F.lit(0))
            .cast("bigint")
            .alias("n_risk"),
            F.coalesce(
                F.sum(
                    F.when(F.col("day") == F.col("day_g"), F.col("d_events"))
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("d_events"),
        )
    )
    term = (
        F.when(
            (F.col("n_risk") == 0) | (F.col("d_events") == 0), F.lit(0)
        )
        .when(
            F.col("d_events") >= F.col("n_risk"),
            F.lit(-1_000_000_000_000_000),
        )
        .otherwise(
            F.floor(
                F.log(
                    1.0
                    - F.col("d_events").cast("double") / F.col("n_risk")
                )
                * 1_000_000_000.0
            )
        )
        .cast("bigint")
    )
    terms = risk.select(
        F.col("day_g"), "n_risk", "d_events", term.alias("term_nano")
    )
    a = terms.alias("a")
    b = terms.select(
        F.col("day_g").alias("day_b"), F.col("term_nano").alias("tn_b")
    ).alias("b")
    # cumulative over the bounded 15-day grid (same family)
    return (
        a.join(b, F.col("b.day_b") <= F.col("a.day_g"), "left")
        .groupBy("a.day_g", "a.n_risk", "a.d_events")
        .agg(F.sum("b.tn_b").alias("cum_nano"))
        .select(
            F.col("day_g").alias("day"),
            "n_risk",
            "d_events",
            F.floor(
                F.exp(F.col("cum_nano").cast("double") / 1_000_000_000.0)
                * 1_000_000.0
            )
            .cast("bigint")
            .alias("km_survival_micro"),
        )
    )


# ---------------------------------------------------------------------------
# 3. conditional next-event entropy per state
# ---------------------------------------------------------------------------

_ENTROPY_ORACLE = """
WITH chains AS (
  SELECT event_type AS cur,
         lead(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS nxt
  FROM events
), trans AS (
  SELECT cur, nxt, CAST(count(*) AS BIGINT) AS c
  FROM chains WHERE nxt IS NOT NULL GROUP BY 1, 2
), row_tot AS (
  SELECT cur, CAST(sum(c) AS BIGINT) AS c_row FROM trans GROUP BY 1
)
SELECT t.cur AS state,
       r.c_row AS n_transitions,
       CAST(count(*) AS BIGINT) AS n_next_states,
       CAST(sum(CAST(floor(
         -(CAST(t.c AS DOUBLE) / r.c_row)
         * ln(CAST(t.c AS DOUBLE) / r.c_row) * 1000000000.0
       ) AS BIGINT)) AS BIGINT) AS entropy_nano
FROM trans t JOIN row_tot r ON r.cur = t.cur
GROUP BY 1, 2
"""


@register("transition_entropy_by_state", _ENTROPY_ORACLE)
def q_transition_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional entropy of the next event_type given the current one,
    from per-user event chains — nano-floored terms, exact sums."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    chains = ev.select(
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(w).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    trans = chains.groupBy("cur", "nxt").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    row_tot = trans.groupBy("cur").agg(
        F.sum("c").cast("bigint").alias("c_row")
    )
    p = F.col("c").cast("double") / F.col("c_row")
    term = F.floor(-p * F.log(p) * 1_000_000_000.0).cast("bigint")
    return (
        trans.join(row_tot, "cur")  # closed event_type alphabet
        .select("cur", "c_row", term.alias("term_nano"))
        .groupBy(F.col("cur").alias("state"), F.col("c_row").alias(
            "n_transitions"
        ))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_next_states"),
            F.sum("term_nano").cast("bigint").alias("entropy_nano"),
        )
        .select("state", "n_transitions", "n_next_states", "entropy_nano")
    )
