"""Extension queries, round 107: offline recommender backtest — train
co-visitation recommendations on the FIRST half of the event stream
(data-midpoint cut, the ext96 anchor idiom), then measure hit-rate@3 on
the sessions of the second half: for each (eval session, seed item)
probe, do the seed's top-3 trained recs contain ANY other item of that
session? The full candidates -> recs -> evaluation loop as one
oracle-checked query, all counts exact integers.

Train and eval halves are sessionized INDEPENDENTLY (a session spanning
the cut contributes its early events to training and its late events to
evaluation — the standard leakage-safe temporal split).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from shortvideohybridanalyticslakehouse_spark.plans.registry import (
    finalize_bounded,
    materialize,
    register,
)
from shortvideohybridanalyticslakehouse_spark.sources.batch import load_table

_TOP_RECS = 3
_MAX_SESSION_ITEMS = 32


def _sess_cte(name: str, pred: str) -> str:
    """Session-items CTE over events filtered by ``pred`` (references
    bounds.mid), µs-exact gaps, 32-item session cap — the ext106 shape
    parametrized by the temporal split."""
    return f"""
{name}_flagged AS (
  SELECT e.user_id, e.ts,
         CAST(json_extract(e.props, '$.k') AS BIGINT) AS item,
    CASE WHEN lag(e.ts) OVER w IS NULL
              OR epoch_us(e.ts) - epoch_us(lag(e.ts) OVER w) >= 1800000000
         THEN 1 ELSE 0 END AS new_sess
  FROM events e, bounds b
  WHERE {pred}
  WINDOW w AS (PARTITION BY e.user_id ORDER BY e.ts)
), {name}_numbered AS (
  SELECT *, sum(new_sess) OVER (
    PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sess_id
  FROM {name}_flagged
), {name} AS (
  SELECT user_id, sess_id, item
  FROM (SELECT DISTINCT user_id, sess_id, item
        FROM {name}_numbered WHERE item IS NOT NULL)
  QUALIFY count(*) OVER (PARTITION BY user_id, sess_id)
          <= {_MAX_SESSION_ITEMS}
)"""


_BACKTEST_ORACLE = f"""
WITH bounds AS (
  SELECT (min(date_diff('second', TIMESTAMP '1970-01-01', ts))
          + max(date_diff('second', TIMESTAMP '1970-01-01', ts))) // 2 AS mid
  FROM events
),
{_sess_cte("train_items",
           "date_diff('second', TIMESTAMP '1970-01-01', e.ts) <= b.mid")},
{_sess_cte("eval_items",
           "date_diff('second', TIMESTAMP '1970-01-01', e.ts) > b.mid")},
pairs AS (
  SELECT a.item AS item_a, b.item AS item_b,
         CAST(count(*) AS BIGINT) AS co
  FROM train_items a JOIN train_items b
    ON a.user_id = b.user_id AND a.sess_id = b.sess_id AND a.item < b.item
  GROUP BY 1, 2
), recs AS (
  SELECT item, rec FROM (
    SELECT item, rec,
           row_number() OVER (PARTITION BY item ORDER BY co DESC, rec ASC)
             AS rnk
    FROM (SELECT item_a AS item, item_b AS rec, co FROM pairs
          UNION ALL
          SELECT item_b AS item, item_a AS rec, co FROM pairs)
  ) WHERE rnk <= {_TOP_RECS}
), probes AS (
  SELECT s.user_id, s.sess_id, s.item,
         CAST(max(CASE WHEN o.item IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS hit
  FROM eval_items s
  LEFT JOIN recs r ON r.item = s.item
  LEFT JOIN eval_items o
    ON o.user_id = s.user_id AND o.sess_id = s.sess_id
   AND o.item = r.rec AND o.item <> s.item
   AND r.rec IS NOT NULL AND o.item IS NOT NULL
  GROUP BY 1, 2, 3
), multi AS (
  -- only sessions with >= 2 items can ever score a hit: restrict probes
  -- to them so the rate measures the recommender, not session length
  SELECT p.* FROM probes p
  QUALIFY count(*) OVER (PARTITION BY p.user_id, p.sess_id) >= 2
)
SELECT (SELECT CAST(count(DISTINCT (user_id, sess_id)) AS BIGINT)
        FROM train_items) AS n_train_sessions,
       CAST(count(*) AS BIGINT) AS n_eval_probes,
       CAST(sum(hit) AS BIGINT) AS n_hits,
       CAST(sum(hit) * 1000000 // count(*) AS BIGINT) AS hit_rate_micro
FROM multi
"""


def _session_items(ev: DataFrame) -> DataFrame:
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts")
    flagged = ev.select(
        "user_id",
        "ts",
        F.get_json_object("props", "$.k").cast("bigint").alias("item"),
    ).withColumn(
        "new_sess",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.unix_micros(F.col("ts"))
                - F.unix_micros(F.lag("ts").over(w))
                >= 1_800_000_000
            ),
            1,
        ).otherwise(0),
    )
    numbered = flagged.withColumn(
        "sess_id",
        F.sum("new_sess").over(
            Window.partitionBy("user_id")
            .orderBy("ts")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    sess_items = (
        numbered.filter(F.col("item").isNotNull())
        .select("user_id", "sess_id", "item")
        .distinct()
    )
    cnt = Window.partitionBy("user_id", "sess_id")
    return (
        sess_items.withColumn("_n", F.count(F.lit(1)).over(cnt))
        .filter(F.col("_n") <= _MAX_SESSION_ITEMS)
        .drop("_n")
    )


def covis_candidates(train: DataFrame) -> DataFrame:
    """Top-``_TOP_RECS`` co-visitation candidates (item, rec) built from
    TRAIN sessions only — the no-temporal-leakage boundary: an eval
    session's item pairs must never reach this function (property-tested
    in tests/test_backtest_leakage.py with a planted-leak fixture)."""
    from pyspark.sql import Window

    a = train.alias("a")
    b = train.select(
        "user_id", "sess_id", F.col("item").alias("item_b")
    ).alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.sess_id") == F.col("b.sess_id"))
            & (F.col("a.item") < F.col("item_b")),
        )
        .groupBy(F.col("a.item").alias("item_a"), "item_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("co"))
    )
    directed = pairs.select(
        F.col("item_a").alias("item"), F.col("item_b").alias("rec"), "co"
    ).unionByName(
        pairs.select(
            F.col("item_b").alias("item"), F.col("item_a").alias("rec"), "co"
        )
    )
    wr = Window.partitionBy("item").orderBy(F.desc("co"), F.asc("rec"))
    return (
        directed.withColumn("rnk", F.row_number().over(wr))
        .filter(F.col("rnk") <= _TOP_RECS)
        .select("item", "rec")
    )


@register("covisitation_backtest_hit_rate", _BACKTEST_ORACLE)
def q_covisitation_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal-split hit-rate@3 of the co-visitation recommender:
    candidates trained on the first half, probed against multi-item
    sessions of the second half."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    sec = F.col("ts").cast("long")
    anchor = F.broadcast(
        ev.agg(((F.min(sec) + F.max(sec)) / 2).cast("bigint").alias("mid"))
    )
    ev_m = ev.crossJoin(anchor)

    # train feeds BOTH the candidate miner and the session count, evale
    # BOTH probe sides — eagerly materialize each once (guide §1.2/§5)
    train = materialize(_session_items(ev_m.filter(sec <= F.col("mid"))))
    evale = materialize(_session_items(ev_m.filter(sec > F.col("mid"))))

    recs = covis_candidates(train)

    other = evale.select(
        F.col("user_id").alias("o_user"),
        F.col("sess_id").alias("o_sess"),
        F.col("item").alias("o_item"),
    )
    probes = (
        # recs is O(catalog) (top-3 per distinct item): no forced
        # broadcast — AQE decides, so a 100x catalog degrades to a
        # shuffle join instead of a driver OOM (VERDICT r7 #1)
        evale.join(recs, "item", "left")
        .join(
            other,
            (F.col("o_user") == F.col("user_id"))
            & (F.col("o_sess") == F.col("sess_id"))
            & (F.col("o_item") == F.col("rec"))
            & (F.col("o_item") != F.col("item")),
            "left",
        )
        .groupBy("user_id", "sess_id", "item")
        .agg(
            F.max(
                F.when(F.col("o_item").isNotNull(), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("hit")
        )
    )
    cnt = Window.partitionBy("user_id", "sess_id")
    multi = probes.withColumn("_n", F.count(F.lit(1)).over(cnt)).filter(
        F.col("_n") >= 2
    )
    n_train = F.broadcast(
        train.select("user_id", "sess_id")
        .distinct()
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_train_sessions"))
    )
    result = multi.crossJoin(n_train).groupBy("n_train_sessions").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_eval_probes"),
        F.sum("hit").cast("bigint").alias("n_hits"),
        F.expr(
            "CAST((sum(hit) * 1000000) DIV count(1) AS BIGINT)"
        ).alias("hit_rate_micro"),
    ).select("n_train_sessions", "n_eval_probes", "n_hits", "hit_rate_micro")
    return finalize_bounded(result)
