"""Extension queries, round 122: Markov-chain removal-effect
attribution (Anderl et al. 2014 / 2016) — the data-driven attribution
model used alongside Shapley (ext118): model user journeys as a Markov
chain over touch channels with absorbing conversion/null states; a
channel's credit is its REMOVAL EFFECT, how much the start->conversion
absorption probability drops when every transition into that channel is
redirected to null.

Chain construction (deterministic, oracle-replayed):
  - journey = the user's non-purchase events STRICTLY before their
    first purchase (all of them for non-converters), ordered by the
    ext97 packed total-order key, consecutive same-channel runs
    collapsed (standard loop removal),
  - transitions: start -> first touch, touch -> next touch,
    last touch -> conv (converted) or null; touchless converters edge
    start -> conv directly,
  - row-normalized probabilities are round-12 doubles of exact integer
    ratios; an unreachable channel's row falls to null with prob 1.

Absorption probabilities come from K=60 value-iteration rounds folded
on the driver over the collected matrix (the ext97 power-iteration
contract: row-major 5x7 matrix list, round-12 index-order inner sums,
DuckDB LIST accumulator). Removing a
channel is algebraically forcing its value to zero inside the fold —
redirect-into-null needs no second matrix — so all five scenarios
(full + 4 removals) share one transition array.

Plan shape for 100 TB: O(events) work is the per-user sequence
reduction (one shuffle on user_id, the window's partition key); the
chain itself is a <=35-cell collected constant and the 5 value
iterations are bounded driver folds. Journey count never touches the
iteration cost."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from shortvideohybridanalyticslakehouse_spark.functions.driverfold import (
    spark_round,
    value_iteration_absorption,
)
from shortvideohybridanalyticslakehouse_spark.functions.localrel import (
    local_rows_df,
)
from shortvideohybridanalyticslakehouse_spark.plans.registry import register
from shortvideohybridanalyticslakehouse_spark.sources.batch import load_table

CHANNELS = ["click", "error", "signup", "view"]  # from/to idx 2..5
_NF = 5  # transient states: 1=start, 2..5 channels
_NT = 7  # to-states: 1..5 transient, 6=conv, 7=null
_K = 60  # value-iteration rounds

_CH_IDX_SQL = "CASE event_type " + " ".join(
    f"WHEN '{c}' THEN {i + 2}" for i, c in enumerate(CHANNELS)
) + " END"

_EDGES_CTE = f"""
WITH anchor AS (
  SELECT min(date_diff('second', TIMESTAMP '1970-01-01', ts)) AS t0
  FROM events
), keyed AS (
  SELECT e.user_id, e.event_type,
         (date_diff('second', TIMESTAMP '1970-01-01', e.ts) - a.t0)
           * 16777216 + e.event_id AS k
  FROM events e, anchor a
), fp AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'purchase' THEN k END) AS conv_k
  FROM keyed GROUP BY 1
), touches AS (
  SELECT k.user_id, {_CH_IDX_SQL} AS ch, k.k, f.conv_k
  FROM keyed k JOIN fp f USING (user_id)
  WHERE k.event_type <> 'purchase'
    AND (f.conv_k IS NULL OR k.k < f.conv_k)
), collapsed AS (
  SELECT user_id, ch, k, conv_k,
         lag(ch) OVER (PARTITION BY user_id ORDER BY k) AS prev_ch
  FROM touches
), journey AS (
  SELECT user_id, ch, k, conv_k,
         lag(ch) OVER (PARTITION BY user_id ORDER BY k) AS prev_ch,
         row_number() OVER (PARTITION BY user_id ORDER BY k) AS rn,
         row_number() OVER (PARTITION BY user_id ORDER BY k DESC) AS rrn
  FROM collapsed WHERE prev_ch IS NULL OR ch <> prev_ch
), edges_raw AS (
  SELECT CASE WHEN rn = 1 THEN 1 ELSE prev_ch END AS i, ch AS j
  FROM journey
  UNION ALL
  SELECT ch AS i, CASE WHEN conv_k IS NOT NULL THEN 6 ELSE 7 END AS j
  FROM journey WHERE rrn = 1
  UNION ALL
  SELECT 1 AS i, CASE WHEN f.conv_k IS NOT NULL THEN 6 ELSE 7 END AS j
  FROM fp f
  WHERE NOT EXISTS (SELECT 1 FROM touches t WHERE t.user_id = f.user_id)
), cnt AS (
  SELECT fi.i, tj.j, CAST(coalesce(c.n, 0) AS BIGINT) AS n
  FROM (SELECT unnest(range(1, {_NF + 1})) AS i) fi
  JOIN (SELECT unnest(range(1, {_NT + 1})) AS j) tj ON TRUE
  LEFT JOIN (SELECT i, j, CAST(count(*) AS BIGINT) AS n
             FROM edges_raw GROUP BY 1, 2) c USING (i, j)
), rowtot AS (
  SELECT i, CAST(sum(n) AS BIGINT) AS tot FROM cnt GROUP BY 1
), pmat AS (
  SELECT list(CASE WHEN r.tot > 0
                   THEN round(CAST(c.n AS DOUBLE) / CAST(r.tot AS DOUBLE), 12)
                   WHEN c.j = 7 THEN 1.0 ELSE 0.0 END
              ORDER BY c.i, c.j) AS p
  FROM cnt c JOIN rowtot r USING (i)
)
"""


def _duck_viter(rc: str) -> str:
    """K value-iteration rounds with channel index ``rc`` forced to 0;
    returns v(start)."""
    inner = (
        f"list_reduce(list_concat([p[(s - 1) * {_NT} + 6]],"
        f" list_transform(range(1, {_NF + 1}),"
        f" i -> p[(s - 1) * {_NT} + i]"
        f" * (CASE WHEN i = {rc} THEN 0.0 ELSE acc[i] END))),"
        " (a, b) -> round(a + b, 12))"
    )
    return (
        "list_reduce(list_concat("
        f"[[{', '.join(['0.0'] * _NF)}]],"
        f" list_transform(range(1, {_K} + 1), x -> p)),"
        f" (acc, p) -> list_transform(range(1, {_NF + 1}), s -> {inner})"
        ")[1]"
    )


_REMOVAL_ORACLE = (
    _EDGES_CTE
    + f""", scen AS (
  SELECT unnest(['{CHANNELS[0]}', '{CHANNELS[1]}', '{CHANNELS[2]}',
                 '{CHANNELS[3]}']) AS channel,
         unnest([2, 3, 4, 5]) AS rc
), vals AS (
  SELECT s.channel,
         {_duck_viter("s.rc")} AS p_removed,
         {_duck_viter("0")} AS p_full
  FROM scen s, pmat
), eff AS (
  SELECT channel, round(p_full, 6) AS conv_prob_full,
         round(p_removed, 6) AS conv_prob_removed,
         CASE WHEN p_full > 0
              THEN round(1.0 - p_removed / p_full, 6) END AS removal_effect
  FROM vals
)
SELECT channel, conv_prob_full, conv_prob_removed, removal_effect,
       CASE WHEN sum(removal_effect) OVER () > 0
            THEN round(removal_effect / sum(removal_effect) OVER (), 6)
       END AS attribution_share
FROM eff
"""
)


def transition_pmat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 5x7 row-major transition-probability array (one-row frame) —
    shared by the removal-effect and expected-steps queries."""
    ev = load_table(spark, sf_dir, "events")
    anchor = ev.agg(F.min(F.col("ts").cast("long")).alias("t0"))
    keyed = ev.crossJoin(F.broadcast(anchor)).select(
        "user_id",
        "event_type",
        (
            (F.col("ts").cast("long") - F.col("t0")) * F.lit(16777216)
            + F.col("event_id")
        ).alias("k"),
    )
    fp = keyed.groupBy("user_id").agg(
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("k"))
        ).alias("conv_k")
    )
    ch_idx = F.coalesce(
        *[
            F.when(F.col("event_type") == c, F.lit(i + 2))
            for i, c in enumerate(CHANNELS)
        ]
    )
    touches = (
        keyed.join(fp, "user_id")
        .filter(
            (F.col("event_type") != "purchase")
            & (F.col("conv_k").isNull() | (F.col("k") < F.col("conv_k")))
        )
        .select("user_id", ch_idx.alias("ch"), "k", "conv_k")
    )
    w = Window.partitionBy("user_id").orderBy("k")
    collapsed = touches.withColumn("prev_ch", F.lag("ch").over(w)).filter(
        F.col("prev_ch").isNull() | (F.col("ch") != F.col("prev_ch"))
    )
    wd = Window.partitionBy("user_id").orderBy(F.col("k").desc())
    journey = (
        collapsed.select("user_id", "ch", "k", "conv_k")
        .withColumn("prev_ch", F.lag("ch").over(w))
        .withColumn("rn", F.row_number().over(w))
        .withColumn("rrn", F.row_number().over(wd))
    )
    e1 = journey.select(
        F.when(F.col("rn") == 1, F.lit(1)).otherwise(F.col("prev_ch")).alias("i"),
        F.col("ch").alias("j"),
    )
    e2 = journey.filter(F.col("rrn") == 1).select(
        F.col("ch").alias("i"),
        F.when(F.col("conv_k").isNotNull(), F.lit(6)).otherwise(F.lit(7)).alias("j"),
    )
    e3 = (
        fp.join(
            touches.select("user_id").distinct(), "user_id", "left_anti"
        ).select(
            F.lit(1).alias("i"),
            F.when(F.col("conv_k").isNotNull(), F.lit(6))
            .otherwise(F.lit(7))
            .alias("j"),
        )
    )
    edges = e1.unionByName(e2).unionByName(e3)
    cnt = edges.groupBy("i", "j").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    fi = spark.range(1, _NF + 1).select(F.col("id").cast("int").alias("i"))
    tj = spark.range(1, _NT + 1).select(F.col("id").cast("int").alias("j"))
    grid = fi.crossJoin(F.broadcast(tj))
    full = grid.join(F.broadcast(cnt), ["i", "j"], "left").select(
        "i", "j", F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n")
    )
    rowtot = full.groupBy("i").agg(F.sum("n").cast("bigint").alias("tot"))
    cells = full.join(rowtot, "i").select(
        "i",
        "j",
        F.when(
            F.col("tot") > 0,
            F.round(
                F.col("n").cast("double") / F.col("tot").cast("double"), 12
            ),
        )
        .when(F.col("j") == 7, F.lit(1.0))
        .otherwise(F.lit(0.0))
        .alias("p"),
    )
    return cells.agg(
        F.array_sort(
            F.collect_list(
                F.struct((F.col("i") * _NT + F.col("j")).alias("o"), F.col("p"))
            )
        ).alias("cells")
    ).select(F.transform(F.col("cells"), lambda c: c["p"]).alias("p"))


@register("markov_removal_attribution", _REMOVAL_ORACLE)
def q_markov_removal_attribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per channel: full-chain and channel-removed start->conversion
    absorption probabilities (K=60 value iterations), the removal effect,
    and normalized attribution shares.

    r13: the K x NF x NF fold over the 35-double matrix is O(1) scalar
    work — as a Catalyst expression it cost seconds of codegen/planning
    per trial (r12 profile: run>>cpu stages on a 4-row frame) and gains
    nothing from the cluster. The matrix is collected once (the events
    scan/aggregation stays fully distributed) and folded on the driver
    with bit-identical arithmetic (functions/driverfold.py; guide §1.2).
    """
    pmat = transition_pmat(spark, sf_dir)
    p = list(pmat.collect()[0][0])
    if len(p) != _NF * _NT:  # the NF x NT grid left join: one cell each
        raise ValueError(f"transition matrix has {len(p)} cells")
    full = value_iteration_absorption(p, _NF, _NT, _K, 0)
    out = []
    for i, c in enumerate(CHANNELS):
        removed = value_iteration_absorption(p, _NF, _NT, _K, i + 2)
        re = spark_round(1.0 - removed / full, 6) if full > 0 else None
        out.append((c, spark_round(full, 6), spark_round(removed, 6), re))
    # F.sum over doubles: first non-null value, then += in row order
    re_tot = None
    for r in out:
        if r[3] is not None:
            re_tot = r[3] if re_tot is None else re_tot + r[3]
    rows = [
        (
            c,
            cf,
            cr,
            re,
            spark_round(re / re_tot, 6)
            if re_tot is not None and re_tot > 0 and re is not None
            else None,
        )
        for (c, cf, cr, re) in out
    ]
    return local_rows_df(
        spark,
        rows,
        "channel string, conv_prob_full double, "
        "conv_prob_removed double, removal_effect double, "
        "attribution_share double",
    )
