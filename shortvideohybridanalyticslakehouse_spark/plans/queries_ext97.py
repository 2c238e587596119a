"""Extension queries, round 97: behavioral sequence analytics — funnel
paths with exclusion steps, integer autocorrelation periodicity over
hourly traffic, Fano-factor burstiness, and the stationary distribution
of the event-type Markov chain via a power iteration over the
collected 25-cell transition matrix.

Determinism notes:
  - event ordering uses the packed key offset_sec * 2^24 + event_id
    (offsets from the broadcast min-ts anchor; both factors integer, both
    engines identical) so "between" and "first after" are total-order
    exact even when timestamps collide at second granularity,
  - autocorrelation and Fano moments are pure integer sums (counts and
    count products) with one final cast-divide-round,
  - the power iteration folds a 25-slot row-major transition array with
    per-step round-12 quantization in index order — the ext63/ext81 fold
    contract (DuckDB list accumulator, never struct: the 1.0 struct-fold
    miscompilation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from shortvideohybridanalyticslakehouse_spark.functions.driverfold import (
    spark_round,
    stationary_power_fold,
)
from shortvideohybridanalyticslakehouse_spark.functions.localrel import (
    local_rows_df,
)
from shortvideohybridanalyticslakehouse_spark.plans.registry import register
from shortvideohybridanalyticslakehouse_spark.sources.batch import load_table

_PACK = 16_777_216  # 2^24 > max event_id (documented contract)

_KEYED_CTE = """
WITH anchor AS (
  SELECT min(date_diff('second', TIMESTAMP '1970-01-01', ts)) AS t0
  FROM events
), keyed AS (
  SELECT e.user_id, e.event_type,
         (date_diff('second', TIMESTAMP '1970-01-01', e.ts) - a.t0)
           * 16777216 + e.event_id AS k
  FROM events e, anchor a
)
"""

_FUNNEL_EXCL_ORACLE = (
    _KEYED_CTE
    + """
, fv AS (
  SELECT user_id, min(CASE WHEN event_type = 'view' THEN k END) AS first_view
  FROM keyed GROUP BY 1
), fp AS (
  SELECT k.user_id,
         min(CASE WHEN k.event_type = 'purchase' AND k.k > f.first_view
             THEN k.k END) AS first_purchase,
         f.first_view
  FROM keyed k JOIN fv f USING (user_id)
  WHERE f.first_view IS NOT NULL
  GROUP BY 1, 3
), flagged AS (
  SELECT p.user_id,
         CAST(coalesce(sum(CASE WHEN k.event_type = 'error'
              AND k.k > p.first_view AND k.k < p.first_purchase
              THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_errors_between
  FROM fp p LEFT JOIN keyed k ON k.user_id = p.user_id
  WHERE p.first_purchase IS NOT NULL
  GROUP BY 1
)
SELECT CAST(count(*) AS BIGINT) AS n_funnel_users,
       CAST(sum(CASE WHEN n_errors_between = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_clean,
       CAST(sum(CASE WHEN n_errors_between > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dirty,
       CAST(sum(CASE WHEN n_errors_between = 0 THEN 1 ELSE 0 END) * 1000000
            // count(*) AS BIGINT) AS clean_rate_micro
FROM flagged
"""
)


def _keyed(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    sec = F.col("ts").cast("long")
    anchor = F.broadcast(ev.agg(F.min(sec).alias("t0")))
    return ev.crossJoin(anchor).select(
        "user_id",
        "event_type",
        ((sec - F.col("t0")) * _PACK + F.col("event_id")).alias("k"),
    )


@register("funnel_exclusion_paths", _FUNNEL_EXCL_ORACLE)
def q_funnel_exclusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """view -> purchase funnel with an EXCLUSION step: of users whose
    first purchase follows their first view, how many hit an 'error'
    strictly between the two (total-order packed keys, so same-second
    collisions break deterministically by event id)."""
    keyed = _keyed(spark, sf_dir)
    fv = keyed.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("k"))).alias(
            "first_view"
        )
    )
    fp = (
        keyed.join(fv, "user_id")
        .filter(F.col("first_view").isNotNull())
        .groupBy("user_id", "first_view")
        .agg(
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("k") > F.col("first_view")),
                    F.col("k"),
                )
            ).alias("first_purchase")
        )
        .filter(F.col("first_purchase").isNotNull())
    )
    flagged = (
        fp.join(keyed, "user_id", "left")
        .groupBy("user_id")
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        (F.col("event_type") == "error")
                        & (F.col("k") > F.col("first_view"))
                        & (F.col("k") < F.col("first_purchase")),
                        1,
                    ).otherwise(0)
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("n_errors_between")
        )
    )
    clean = F.sum(F.when(F.col("n_errors_between") == 0, 1).otherwise(0))
    return flagged.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_funnel_users"),
        clean.cast("bigint").alias("n_clean"),
        F.sum(F.when(F.col("n_errors_between") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_dirty"),
        F.expr(
            "CAST((sum(CASE WHEN n_errors_between = 0 THEN 1 ELSE 0 END)"
            " * 1000000) DIV count(1) AS BIGINT)"
        ).alias("clean_rate_micro"),
    )


_AUTOCORR_ORACLE = """
WITH anchor AS (
  SELECT min(date_trunc('hour', ts)) AS h0 FROM events
), hourly AS (
  SELECT CAST(date_diff('hour', a.h0, date_trunc('hour', e.ts)) AS BIGINT)
           AS h,
         CAST(count(*) AS BIGINT) AS c
  FROM events e, anchor a GROUP BY 1
), lags AS (
  SELECT l.lag_h,
         CAST(sum(x.c * y.c) AS BIGINT) AS dot,
         CAST(count(*) AS BIGINT) AS n_pairs
  FROM hourly x
  JOIN (SELECT unnest(generate_series(1, 48)) AS lag_h) l ON TRUE
  JOIN hourly y ON y.h = x.h + l.lag_h
  GROUP BY 1
), base AS (
  SELECT CAST(sum(c * c) AS BIGINT) AS energy FROM hourly
)
SELECT lag_h,
       dot, n_pairs,
       round(CAST(dot AS DOUBLE) / CAST(b.energy AS DOUBLE), 6) AS score
FROM lags, base b
ORDER BY score DESC, lag_h ASC
LIMIT 5
"""


@register("hourly_count_autocorr_periodicity", _AUTOCORR_ORACLE)
def q_hourly_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Traffic periodicity: raw integer autocorrelation of the hourly
    event-count series at lags 1..48 h, normalized by signal energy —
    the daily cycle surfaces as the lag-24 peak. The hour frame is
    calendar-bounded, so the lag join is a broadcast O(hours x 48)
    self-join, all moments exact integers."""
    ev = load_table(spark, sf_dir, "events")
    hr = F.date_trunc("hour", F.col("ts"))
    anchor = F.broadcast(ev.agg(F.min(hr).alias("h0")))
    hourly = (
        ev.crossJoin(anchor)
        .groupBy(
            ((hr.cast("long") - F.col("h0").cast("long")) / 3600)
            .cast("bigint")
            .alias("h")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    lags = spark.range(1, 49).select(F.col("id").alias("lag_h"))
    shifted = hourly.select(
        F.col("h").alias("h2"), F.col("c").alias("c2")
    )
    joined = (
        hourly.crossJoin(F.broadcast(lags))
        .join(
            F.broadcast(shifted),
            F.col("h2") == F.col("h") + F.col("lag_h"),
        )
        .groupBy("lag_h")
        .agg(
            F.sum(F.col("c") * F.col("c2")).cast("bigint").alias("dot"),
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        )
    )
    energy = F.broadcast(
        hourly.agg(F.sum(F.col("c") * F.col("c")).cast("bigint").alias("energy"))
    )
    return (
        joined.crossJoin(energy)
        .select(
            "lag_h",
            "dot",
            "n_pairs",
            F.round(
                F.col("dot").cast("double") / F.col("energy").cast("double"), 6
            ).alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col("lag_h").asc())
        .limit(5)
    )


_FANO_ORACLE = """
WITH minutes AS (
  SELECT event_type, date_trunc('minute', ts) AS m,
         CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
), span AS (
  SELECT CAST(date_diff('minute', min(date_trunc('minute', ts)),
                        max(date_trunc('minute', ts))) + 1 AS BIGINT)
           AS n_minutes
  FROM events
), mom AS (
  SELECT event_type,
         CAST(sum(c) AS BIGINT) AS s1,
         CAST(sum(c * c) AS BIGINT) AS s2,
         CAST(count(*) AS BIGINT) AS n_active
  FROM minutes GROUP BY 1
)
SELECT event_type, s1 AS n_events, n_active AS active_minutes,
       sp.n_minutes,
       round((CAST(sp.n_minutes AS DOUBLE) * s2 - CAST(s1 AS DOUBLE) * s1)
             / (CAST(sp.n_minutes AS DOUBLE) * s1), 6) AS fano_factor
FROM mom, span sp
ORDER BY event_type
"""


@register("event_type_burstiness_fano", _FANO_ORACLE)
def q_fano_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type burstiness via the Fano factor (variance/mean of
    per-minute counts over the FULL calendar span, empty minutes
    included via the moment identity — never materialized): 1.0 = Poisson,
    above = bursty. Exact integer moments, one final division."""
    ev = load_table(spark, sf_dir, "events")
    mn = F.date_trunc("minute", F.col("ts"))
    minutes = ev.groupBy("event_type", mn.alias("m")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    span = F.broadcast(
        ev.agg(
            (
                (F.max(mn).cast("long") - F.min(mn).cast("long")) / 60 + 1
            )
            .cast("bigint")
            .alias("n_minutes")
        )
    )
    mom = minutes.groupBy("event_type").agg(
        F.sum("c").cast("bigint").alias("s1"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("s2"),
        F.count(F.lit(1)).cast("bigint").alias("n_active"),
    )
    return (
        mom.crossJoin(span)
        .select(
            "event_type",
            F.col("s1").alias("n_events"),
            F.col("n_active").alias("active_minutes"),
            "n_minutes",
            F.round(
                (
                    F.col("n_minutes").cast("double") * F.col("s2")
                    - F.col("s1").cast("double") * F.col("s1")
                )
                / (F.col("n_minutes").cast("double") * F.col("s1")),
                6,
            ).alias("fano_factor"),
        )
        .orderBy("event_type")
    )


_N_STATES = 5
_N_ITER = 20

_MARKOV_ORACLE = f"""
WITH anchor AS (
  SELECT min(date_diff('second', TIMESTAMP '1970-01-01', ts)) AS t0
  FROM events
), keyed AS (
  SELECT e.user_id, e.event_type,
         (date_diff('second', TIMESTAMP '1970-01-01', e.ts) - a.t0)
           * 16777216 + e.event_id AS k
  FROM events e, anchor a
), seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY k) AS prev_type
  FROM keyed
), states AS (
  SELECT unnest(['click', 'error', 'purchase', 'signup', 'view']) AS s,
         unnest([1, 2, 3, 4, 5]) AS idx
), cnt AS (
  SELECT f.idx AS i, t.idx AS j,
         CAST(coalesce(c.n, 0) AS BIGINT) AS n
  FROM states f
  JOIN states t ON TRUE
  LEFT JOIN (SELECT prev_type, event_type, CAST(count(*) AS BIGINT) AS n
             FROM seq WHERE prev_type IS NOT NULL
             GROUP BY 1, 2) c
    ON c.prev_type = f.s AND c.event_type = t.s
), rowtot AS (
  SELECT i, CAST(sum(n) AS BIGINT) AS tot FROM cnt GROUP BY 1
), pmat AS (
  SELECT list(CASE WHEN r.tot > 0
                   THEN round(CAST(c.n AS DOUBLE) / CAST(r.tot AS DOUBLE), 12)
                   WHEN c.i = c.j THEN 1.0 ELSE 0.0 END
              ORDER BY c.i, c.j) AS p
  FROM cnt c JOIN rowtot r USING (i)
), folded AS (
  SELECT list_reduce(
           list_concat([[0.2, 0.2, 0.2, 0.2, 0.2]],
                       list_transform(range(1, {_N_ITER} + 1), x -> p)),
           (acc, pm) -> list_transform(range(1, {_N_STATES} + 1),
             j -> list_reduce(
                    list_concat([CAST(0.0 AS DOUBLE)],
                      list_transform(range(1, {_N_STATES} + 1),
                        i -> acc[i] * pm[({_N_STATES}) * (i - 1) + j])),
                    (a, b) -> round(a + b, 12)))
         ) AS pi
  FROM pmat
)
SELECT s.s AS state, round(f.pi[s.idx], 8) AS stationary_prob
FROM folded f, states s
ORDER BY state
"""


@register("markov_stationary_power", _MARKOV_ORACLE)
def q_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the user event-type Markov chain by 20
    power-iteration steps: transition counts -> row-normalized 25-slot
    row-major array (round-12 cells, self-loop backstop for empty rows)
    -> array fold pi' = pi P with round-12 index-order inner sums on the
    driver. SQL-replayable end to end (DuckDB LIST accumulator — the 1.0
    struct-fold bug never applies)."""
    keyed = _keyed(spark, sf_dir)
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("k")
    seq = keyed.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    cnt = seq.groupBy("prev_type", "event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    states = ["click", "error", "purchase", "signup", "view"]
    sdf = local_rows_df(
        spark, [(s, i + 1) for i, s in enumerate(states)], "s string, idx int"
    )
    f_s = F.broadcast(sdf).alias("f")
    t_s = F.broadcast(sdf.select(F.col("s").alias("s2"), F.col("idx").alias("idx2"))).alias("t")
    grid = f_s.crossJoin(t_s)
    full = (
        grid.join(
            cnt,
            (F.col("prev_type") == F.col("s")) & (F.col("event_type") == F.col("s2")),
            "left",
        )
        .select(
            F.col("idx").alias("i"),
            F.col("idx2").alias("j"),
            F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n"),
        )
    )
    rowtot = full.groupBy("i").agg(F.sum("n").cast("bigint").alias("tot"))
    cells = full.join(rowtot, "i").select(
        "i",
        "j",
        F.when(
            F.col("tot") > 0,
            F.round(F.col("n").cast("double") / F.col("tot").cast("double"), 12),
        )
        .when(F.col("i") == F.col("j"), F.lit(1.0))
        .otherwise(F.lit(0.0))
        .alias("p"),
    )
    pmat = cells.agg(
        F.array_sort(
            F.collect_list(F.struct((F.col("i") * _N_STATES + F.col("j")).alias("o"), F.col("p")))
        ).alias("cells")
    ).select(F.transform(F.col("cells"), lambda c: c["p"]).alias("p"))

    # The 20-iteration power fold over the collected 25-double matrix
    # is O(1) scalar work — folded on the driver with bit-identical
    # arithmetic (functions/driverfold.py, guide §1.2). The 5x5 grid
    # left join yields exactly one cell per (i, j).
    pm = list(pmat.collect()[0][0])
    if len(pm) != _N_STATES * _N_STATES:
        raise ValueError(f"transition matrix has {len(pm)} cells")
    pi = stationary_power_fold(pm, _N_STATES, _N_ITER)
    rows = [(s, spark_round(pi[i], 8)) for i, s in enumerate(states)]
    return local_rows_df(
        spark, rows, "state string, stationary_prob double"
    ).orderBy("state")
