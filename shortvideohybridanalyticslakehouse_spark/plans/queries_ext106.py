"""Extension queries, round 106: co-visitation candidate generation —
the item-item collaborative-filtering baseline every recommender's
retrieval stage starts from (items = the props.k id, sessions = the
µs-exact 30-minute-gap islands shared with ext102).

Scale shape: the pair space is bounded by ITEMS^2 (items are a closed
small id space here; at 100 TB the same query runs per item-bucket with
the hot-session cap below), and the per-session pair explosion is capped
at ``_MAX_SESSION_ITEMS`` distinct items — the standard guard against a
crawler session turning the pair join quadratic. Lift uses exact integer
cross-multiplication, no float rates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
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

_MAX_SESSION_ITEMS = 32

_SESS_ITEMS_CTE = """
WITH flagged AS (
  SELECT user_id, ts,
         CAST(json_extract(props, '$.k') AS BIGINT) AS item,
    CASE WHEN lag(ts) OVER w IS NULL
              OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
         THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), numbered AS (
  SELECT *, sum(new_sess) OVER (
    PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sess_id
  FROM flagged
), sess_items AS (
  SELECT DISTINCT user_id, sess_id, item
  FROM numbered WHERE item IS NOT NULL
), bounded AS (
  SELECT user_id, sess_id, item
  FROM sess_items
  QUALIFY count(*) OVER (PARTITION BY user_id, sess_id) <= 32
), n_sessions AS (
  SELECT CAST(count(DISTINCT (user_id, sess_id)) AS BIGINT) AS n
  FROM bounded
), item_sessions AS (
  SELECT item, CAST(count(*) AS BIGINT) AS n_sess FROM bounded GROUP BY 1
), pairs AS (
  SELECT a.item AS item_a, b.item AS item_b,
         CAST(count(*) AS BIGINT) AS co_sessions
  FROM bounded a JOIN bounded b
    ON a.user_id = b.user_id AND a.sess_id = b.sess_id
   AND a.item < b.item
  GROUP BY 1, 2
)
"""

_COVIS_ORACLE = (
    _SESS_ITEMS_CTE
    + """
SELECT p.item_a, p.item_b, p.co_sessions,
       ia.n_sess AS sessions_a, ib.n_sess AS sessions_b,
       CAST(CAST(p.co_sessions AS HUGEINT) * ns.n * 1000000
            // (CAST(ia.n_sess AS HUGEINT) * ib.n_sess) AS BIGINT)
         AS lift_micro
FROM pairs p
JOIN item_sessions ia ON ia.item = p.item_a
JOIN item_sessions ib ON ib.item = p.item_b
CROSS JOIN n_sessions ns
ORDER BY p.co_sessions DESC, p.item_a ASC, p.item_b ASC
LIMIT 50
"""
)

_RECS_ORACLE = (
    _SESS_ITEMS_CTE
    + """
, directed AS (
  SELECT item_a AS item, item_b AS rec, co_sessions FROM pairs
  UNION ALL
  SELECT item_b AS item, item_a AS rec, co_sessions FROM pairs
), ranked AS (
  SELECT item, rec, co_sessions,
         row_number() OVER (
           PARTITION BY item
           ORDER BY co_sessions DESC, rec ASC) AS rnk
  FROM directed
)
SELECT item, CAST(rnk AS INT) AS rnk, rec, co_sessions
FROM ranked WHERE rnk <= 3
ORDER BY item, rnk
"""
)


def _bounded_session_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
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


def _pairs(bounded: DataFrame, n_shuf: int | None = None) -> DataFrame:
    a = bounded.alias("a")
    b = bounded.select(
        F.col("user_id").alias("user_id"),
        F.col("sess_id").alias("sess_id"),
        F.col("item").alias("item_b"),
    )
    if n_shuf is not None:
        # input-scaled SHJ build width (VERDICT r10 #1); probe side
        # aligned by EnsureRequirements (tests/test_scaled_shuffle.py)
        b = b.repartition(n_shuf, "user_id", "sess_id")
    b = b.alias("b")
    return (
        # Both sides of the session self-join are O(events) — they GROW
        # with the corpus, and round 9's 10x AQE probe proved Catalyst
        # never demotes an already-planned broadcast (bigram clone kept a
        # 419 MB build). Pin shuffle-hash: per-executor memory stays
        # O(partition) and both sides hash-cluster on the same
        # (user_id, sess_id) keys.
        a.join(
            b.hint("shuffle_hash"),
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.sess_id") == F.col("b.sess_id"))
            & (F.col("a.item") < F.col("item_b")),
        )
        .groupBy(F.col("a.item").alias("item_a"), "item_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("co_sessions"))
    )


@register("item_covisitation_topk", _COVIS_ORACLE)
def q_item_covisitation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 co-visited item pairs across sessions with exact integer
    lift (co * N * 1e6 // (n_a * n_b)) — the retrieval-stage candidate
    table, session-capped against quadratic blowup."""
    ev_scan = load_table(spark, sf_dir, "events", ensure_parallelism=False)
    n_shuf = scaled_shuffle_partitions(ev_scan, rows_per_partition=250_000)
    # the sessionization (events scan + two windows + distinct) feeds
    # three consumers (pairs, per-item counts, session count):
    # materialize it once (guide §1.2/§5)
    bounded = materialize(_bounded_session_items(spark, sf_dir))
    pairs = _pairs(bounded, n_shuf)
    item_sessions = bounded.groupBy("item").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sess")
    )
    n_sessions = F.broadcast(
        bounded.select("user_id", "sess_id")
        .distinct()
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    ia = item_sessions.select(
        F.col("item").alias("item_a"), F.col("n_sess").alias("sessions_a")
    ).repartition(n_shuf, "item_a")
    ib = item_sessions.select(
        F.col("item").alias("item_b"), F.col("n_sess").alias("sessions_b")
    ).repartition(n_shuf, "item_b")
    result = (
        # per-item stats are O(catalog) — they grow with the data, and
        # the round-9 10x AQE probe disproved the old "AQE will demote"
        # assumption (it only promotes SMJ->broadcast, never the
        # reverse), so both catalog joins are pinned shuffle-hash with
        # input-scaled build widths.
        pairs.join(ia.hint("shuffle_hash"), "item_a")
        .join(ib.hint("shuffle_hash"), "item_b")
        .crossJoin(n_sessions)
        .select(
            "item_a",
            "item_b",
            "co_sessions",
            "sessions_a",
            "sessions_b",
            # co*N*1e6 wraps in int64 at web-scale session counts (the
            # ADVICE r10 overflow class): DECIMAL(38,0) cross-products
            # (oracle: HUGEINT), exact at any SF
            F.expr(
                "CAST(CAST(co_sessions AS DECIMAL(38,0)) * n * 1000000"
                " DIV (CAST(sessions_a AS DECIMAL(38,0)) * sessions_b)"
                " AS BIGINT)"
            ).alias("lift_micro"),
        )
        .orderBy(
            F.desc("co_sessions"), F.asc("item_a"), F.asc("item_b")
        )
        .limit(50)
    )
    return finalize_bounded(result)


@register("item_cf_recommendations", _RECS_ORACLE)
def q_item_cf_recommendations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-item top-3 "users also engaged with" recommendations from the
    symmetric co-visitation counts — row_number over the item key (a
    closed small id space, so the window partitions are bounded)."""
    from pyspark.sql import Window

    pairs = _pairs(
        _bounded_session_items(spark, sf_dir),
        scaled_shuffle_partitions(
            load_table(spark, sf_dir, "events", ensure_parallelism=False),
            rows_per_partition=250_000,
        ),
    )
    directed = pairs.select(
        F.col("item_a").alias("item"),
        F.col("item_b").alias("rec"),
        "co_sessions",
    ).unionByName(
        pairs.select(
            F.col("item_b").alias("item"),
            F.col("item_a").alias("rec"),
            "co_sessions",
        )
    )
    w = Window.partitionBy("item").orderBy(
        F.desc("co_sessions"), F.asc("rec")
    )
    return (
        directed.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("item", F.col("rnk").cast("int"), "rec", "co_sessions")
        .orderBy("item", "rnk")
    )


_NEXT_ITEM_ORACLE = """
WITH anchor AS (
  SELECT min(date_diff('second', TIMESTAMP '1970-01-01', ts)) AS t0
  FROM events
), keyed AS (
  SELECT e.user_id, e.ts,
         CAST(json_extract(e.props, '$.k') AS BIGINT) AS item,
         (date_diff('second', TIMESTAMP '1970-01-01', e.ts) - a.t0)
           * 16777216 + e.event_id AS k
  FROM events e, anchor a
), flagged AS (
  SELECT user_id, ts, item, k,
    CASE WHEN lag(ts) OVER w IS NULL
              OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
         THEN 1 ELSE 0 END AS new_sess
  FROM keyed
  WINDOW w AS (PARTITION BY user_id ORDER BY k)
), numbered AS (
  SELECT *, sum(new_sess) OVER (
    PARTITION BY user_id ORDER BY k ROWS UNBOUNDED PRECEDING) AS sess_id
  FROM flagged
), transitions AS (
  SELECT item, next_item, CAST(count(*) AS BIGINT) AS n
  FROM (
    SELECT item,
           lead(item) OVER (PARTITION BY user_id, sess_id ORDER BY k)
             AS next_item
    FROM numbered WHERE item IS NOT NULL
  )
  WHERE next_item IS NOT NULL AND next_item <> item
  GROUP BY 1, 2
), ranked AS (
  SELECT item, next_item, n,
         row_number() OVER (PARTITION BY item ORDER BY n DESC, next_item ASC)
           AS rnk
  FROM transitions
)
SELECT item, CAST(rnk AS INT) AS rnk, next_item, n AS n_transitions
FROM ranked WHERE rnk <= 3
ORDER BY item, rnk
"""


@register("next_item_transition_recs", _NEXT_ITEM_ORACLE)
def q_next_item_recs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIRECTIONAL sequence recommendations: per item, the top-3 items
    that immediately FOLLOW it within a session (self-loops dropped) —
    order-aware where co-visitation is set-based; consecutive order is
    total via the packed (seconds, event_id) key shared with ext97."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    sec = F.col("ts").cast("long")
    anchor = F.broadcast(ev.agg(F.min(sec).alias("t0")))
    keyed = ev.crossJoin(anchor).select(
        "user_id",
        "ts",
        F.get_json_object("props", "$.k").cast("bigint").alias("item"),
        ((sec - F.col("t0")) * 16_777_216 + F.col("event_id")).alias("k"),
    )
    w = Window.partitionBy("user_id").orderBy("k")
    flagged = keyed.withColumn(
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
            .orderBy("k")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    ws = Window.partitionBy("user_id", "sess_id").orderBy("k")
    transitions = (
        numbered.filter(F.col("item").isNotNull())
        .select("item", F.lead("item").over(ws).alias("next_item"))
        .filter(
            F.col("next_item").isNotNull()
            & (F.col("next_item") != F.col("item"))
        )
        .groupBy("item", "next_item")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    wr = Window.partitionBy("item").orderBy(F.desc("n"), F.asc("next_item"))
    return (
        transitions.withColumn("rnk", F.row_number().over(wr))
        .filter(F.col("rnk") <= 3)
        .select(
            "item",
            F.col("rnk").cast("int"),
            "next_item",
            F.col("n").alias("n_transitions"),
        )
        .orderBy("item", "rnk")
    )
