"""Extension queries, round 133: four training-data curation lanes.

1. kl_source_drift — per-source KL divergence of the source's unigram
   distribution from the corpus distribution (corpus-drift monitor; the
   data-mixture health check DSIR-style pipelines watch). Exact integer
   counts; each per-token term evaluated once in doubles and floored to
   NANO before an exact integer sum (no float-sum order dependence).
2. shingle_contamination_audit — benchmark-contamination check: docs
   split train/test by md5(doc_id) (hash split — uncorrelated with the
   synthetic source = f(doc_id) assignment, unlike a modulo), a test doc is CONTAMINATED iff any
   of its 8-token shingles appears verbatim in the train split (the
   n-gram overlap audit every eval-set curation runs). Shingle
   equi-join, shuffle_hash-pinned — no pair blow-up.
3. weighted_sample_es_topk — deterministic weighted sampling without
   replacement (Efraimidis-Spirakis 2006): key = ln(u)/w with u derived
   from md5(doc_id) (verified engine-identical: Spark conv(md5) ==
   DuckDB '0x'||md5 cast), w = token count; top-20 keys = the sample.
   The distributed form of "sample the corpus proportional to length".
4. covis_rule_quality — association-rule strength for the top
   co-visitation pairs: confidence / leverage / conviction in exact
   integer micro units (extends ext106's lift with the full rule
   scorecard).

Determinism ladder: integer counts everywhere; ln() evaluated once per
row on identically-derived doubles (ln parity verified against DuckDB),
floored to nano/micro before any sum or comparison.

Plan shapes at 100 TB: KL is two token-grain aggregations + one
shuffle-hash join on tok; contamination is a distinct-shingle semi-join
(shuffle ∝ shingles, banded by the join key); ES sampling is one scan +
TakeOrderedAndProject top-k; rule quality rides ext106's capped session
self-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from shortvideohybridanalyticslakehouse_spark.plans.queries_ext106 import (
    _SESS_ITEMS_CTE,
    _bounded_session_items,
    _pairs,
)
from shortvideohybridanalyticslakehouse_spark.plans.registry import (
    finalize_bounded,
    materialize,
    register,
)
from shortvideohybridanalyticslakehouse_spark.sources.batch import (
    load_table,
    scaled_shuffle_partitions,
)

_SHINGLE_N = 8
_ES_K = 20
_RULE_MIN_CO = 2
_RULE_TOP = 30


def _occ(docs: DataFrame, *extra: str) -> DataFrame:
    text = F.trim(F.lower(F.coalesce(F.col("text"), F.lit(""))))
    return docs.filter(F.length(text) > 0).select(
        *extra, F.explode(F.split(text, " ", -1)).alias("tok")
    )


# ---------------------------------------------------------------------------
# 1. per-source KL drift from the corpus unigram distribution
# ---------------------------------------------------------------------------

_KL_ORACLE = """
WITH occ AS (
  SELECT source, unnest(string_split(trim(lower(coalesce(text, ''))), ' '))
           AS tok
  FROM documents WHERE length(trim(lower(coalesce(text, '')))) > 0
), sc AS (
  SELECT source, tok, CAST(count(*) AS BIGINT) AS cs
  FROM occ GROUP BY 1, 2
), ct AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS ctok FROM occ GROUP BY 1
), totals AS (
  SELECT CAST(count(*) AS BIGINT) AS big_n FROM occ
), ns AS (
  SELECT source, CAST(sum(cs) AS BIGINT) AS n_src FROM sc GROUP BY 1
), terms AS (
  SELECT s.source,
         CAST(floor(
           (CAST(s.cs AS DOUBLE) / n.n_src)
           * ln((CAST(s.cs AS DOUBLE) / n.n_src)
                / (CAST(c.ctok AS DOUBLE) / t.big_n))
           * 1000000000.0
         ) AS BIGINT) AS term_nano,
         s.cs
  FROM sc s
  JOIN ct c ON c.tok = s.tok
  JOIN ns n ON n.source = s.source
  CROSS JOIN totals t
)
SELECT source,
       CAST(sum(cs) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS n_distinct,
       CAST(sum(term_nano) AS BIGINT) AS kl_nano
FROM terms GROUP BY 1
"""


@register("kl_source_drift", _KL_ORACLE)
def q_kl_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KL(source || corpus) per source over unigram distributions, as an
    exact integer sum of nano-floored per-token terms."""
    docs = load_table(spark, sf_dir, "documents")
    occ = _occ(docs, "source")
    sc = occ.groupBy("source", "tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("cs")
    )
    ct = occ.groupBy("tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("ctok")
    )
    ns = sc.groupBy("source").agg(F.sum("cs").cast("bigint").alias("n_src"))
    totals = occ.agg(F.count(F.lit(1)).cast("bigint").alias("big_n"))
    p = F.col("cs").cast("double") / F.col("n_src")
    q = F.col("ctok").cast("double") / F.col("big_n")
    term = F.floor(p * F.log(p / q) * 1_000_000_000.0).cast("bigint")
    # ct is O(vocab) — grows with the corpus; the round-9 probe proved
    # AQE keeps broadcasting this count-join shape, so pin shuffle_hash
    # (build already clustered on tok by its own groupBy)
    terms = (
        sc.join(ct.hint("shuffle_hash"), "tok")
        .join(ns, "source")  # bounded source alphabet
        .crossJoin(F.broadcast(totals))
        .select("source", "cs", term.alias("term_nano"))
    )
    return terms.groupBy("source").agg(
        F.sum("cs").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
        F.sum("term_nano").cast("bigint").alias("kl_nano"),
    )


# ---------------------------------------------------------------------------
# 2. 8-gram train/test contamination audit
# ---------------------------------------------------------------------------

_CONTAM_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, source,
         string_split(trim(lower(coalesce(text, ''))), ' ') AS ts
  FROM documents WHERE length(trim(lower(coalesce(text, '')))) > 0
), sh AS (
  SELECT doc_id, source,
         array_to_string(
           list_slice(ts, i, i + {_SHINGLE_N - 1}), ' ') AS shingle
  FROM (
    SELECT doc_id, source, ts,
           unnest(generate_series(1, len(ts) - {_SHINGLE_N - 1})) AS i
    FROM toks WHERE len(ts) >= {_SHINGLE_N}
  )
), split AS (
  SELECT *, CAST(concat('0x',
           substring(md5(CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT)
           % 10 = 0 AS is_test
  FROM sh
), train_sh AS (
  SELECT DISTINCT shingle FROM split WHERE NOT is_test
), test_docs AS (
  SELECT DISTINCT doc_id, source FROM split WHERE is_test
), contaminated AS (
  SELECT DISTINCT s.doc_id
  FROM split s JOIN train_sh t ON s.shingle = t.shingle
  WHERE s.is_test
)
SELECT td.source,
       CAST(count(*) AS BIGINT) AS n_test_docs,
       CAST(sum(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_contaminated,
       CAST(sum(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END)
            * 1000000 // count(*) AS BIGINT) AS contamination_micro
FROM test_docs td LEFT JOIN contaminated c ON c.doc_id = td.doc_id
GROUP BY 1
"""


@register("shingle_contamination_audit", _CONTAM_ORACLE)
def q_shingle_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source share of test-split docs (md5-hash split, 10% test)
    sharing at least one verbatim 8-token shingle with the train
    split."""
    docs = load_table(spark, sf_dir, "documents")
    text = F.trim(F.lower(F.coalesce(F.col("text"), F.lit(""))))
    toks = docs.filter(F.length(text) > 0).select(
        "doc_id", "source", F.split(text, " ", -1).alias("ts")
    )
    n = _SHINGLE_N
    sh = (
        toks.filter(F.size("ts") >= n)
        .select(
            "doc_id",
            "source",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("ts") - (n - 1)),
                    lambda i: F.array_join(
                        F.slice(F.col("ts"), i, n), " "
                    ),
                )
            ).alias("shingle"),
        )
    )
    is_test = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 12),
            16,
            10,
        ).cast("bigint")
        % 10
        == 0
    )
    train_sh = sh.filter(~is_test).select("shingle").distinct()
    test_sh = sh.filter(is_test)
    test_docs = test_sh.select("doc_id", "source").distinct()
    # both sides grow with the corpus — and unlike the vocab COUNT
    # frames (tiny per partition), the distinct-shingle index is a
    # HIGH-VOLUME build side: the 10x Zipf probe OOM'd the spill-less
    # ShuffledHashJoin hash map at 36M shingles. Pin sort-merge: both
    # sides spill gracefully and the pin also forecloses the
    # misestimated-broadcast failure mode (r9 probe).
    contaminated = (
        test_sh.join(train_sh.hint("merge"), "shingle")
        .select("doc_id")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    return (
        test_docs.join(contaminated, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_test_docs"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0)))
            .cast("bigint")
            .alias("n_contaminated"),
        )
        .select(
            "source",
            "n_test_docs",
            "n_contaminated",
            F.expr(
                "CAST(n_contaminated * 1000000 DIV n_test_docs AS BIGINT)"
            ).alias("contamination_micro"),
        )
    )


# ---------------------------------------------------------------------------
# 3. Efraimidis-Spirakis deterministic weighted sample
# ---------------------------------------------------------------------------

_ES_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, source,
         len(string_split(trim(lower(coalesce(text, ''))), ' ')) AS w
  FROM documents WHERE length(trim(lower(coalesce(text, '')))) > 0
), keyed AS (
  SELECT doc_id, source, CAST(w AS BIGINT) AS w,
         ln((CAST(CAST(concat('0x',
               substring(md5(CAST(doc_id AS VARCHAR)), 1, 12))
             AS BIGINT) AS DOUBLE) + 1.0) / 281474976710657.0)
           / w AS es_key
  FROM toks WHERE w > 0
)
SELECT doc_id, source, w,
       CAST(floor(es_key * 1000000000.0) AS BIGINT) AS es_key_nano
FROM keyed
ORDER BY es_key DESC, doc_id ASC
LIMIT {_ES_K}
"""


@register("weighted_sample_es_topk", _ES_ORACLE)
def q_weighted_sample_es(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 docs by the Efraimidis-Spirakis key ln(u)/w — a
    length-weighted sample that is DETERMINISTIC (u from md5(doc_id))
    and identical across engines; u in (0,1) via (h+1)/(2^48+1)."""
    docs = load_table(spark, sf_dir, "documents")
    text = F.trim(F.lower(F.coalesce(F.col("text"), F.lit(""))))
    toks = docs.filter(F.length(text) > 0).select(
        "doc_id",
        "source",
        F.size(F.split(text, " ", -1)).cast("bigint").alias("w"),
    )
    h = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 12), 16, 10
    ).cast("bigint")
    u = (h.cast("double") + 1.0) / float((1 << 48) + 1)
    key = F.log(u) / F.col("w")
    return (
        toks.filter(F.col("w") > 0)
        .select(
            "doc_id",
            "source",
            "w",
            key.alias("_k"),
            F.floor(key * 1_000_000_000.0)
            .cast("bigint")
            .alias("es_key_nano"),
        )
        .orderBy(F.col("_k").desc(), F.col("doc_id").asc())
        .limit(_ES_K)
        .drop("_k")
    )


# ---------------------------------------------------------------------------
# 4. association-rule scorecard over co-visitation pairs
# ---------------------------------------------------------------------------

_RULE_ORACLE = (
    _SESS_ITEMS_CTE
    + f"""
, directed AS (
  SELECT item_a AS ante, item_b AS cons, co_sessions FROM pairs
  UNION ALL
  SELECT item_b AS ante, item_a AS cons, co_sessions FROM pairs
), scored AS (
  SELECT d.ante, d.cons, d.co_sessions,
         ia.n_sess AS sessions_ante, ib.n_sess AS sessions_cons,
         CAST(CAST(d.co_sessions AS HUGEINT) * 1000000 // ia.n_sess
              AS BIGINT) AS confidence_micro,
         CAST(CAST(d.co_sessions AS HUGEINT) * ns.n * 1000000
              // (CAST(ia.n_sess AS HUGEINT) * ib.n_sess) AS BIGINT)
           AS lift_micro,
         CAST((CAST(d.co_sessions AS HUGEINT) * ns.n
               - CAST(ia.n_sess AS HUGEINT) * ib.n_sess) * 1000000
              // (CAST(ns.n AS HUGEINT) * ns.n) AS BIGINT)
           AS leverage_micro
  FROM directed d
  JOIN item_sessions ia ON ia.item = d.ante
  JOIN item_sessions ib ON ib.item = d.cons
  CROSS JOIN n_sessions ns
  WHERE d.co_sessions >= {_RULE_MIN_CO}
)
SELECT * FROM scored
ORDER BY confidence_micro DESC, ante ASC, cons ASC
LIMIT {_RULE_TOP}
"""
)


@register("covis_rule_quality", _RULE_ORACLE)
def q_covis_rule_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-30 association rules (ante -> cons) from the session
    co-visitation pairs: confidence, lift and leverage in exact integer
    micro units (integer cross-multiplication, no float rates)."""
    n_shuf = scaled_shuffle_partitions(
        load_table(spark, sf_dir, "events", ensure_parallelism=False),
        rows_per_partition=250_000,
    )
    # multi-consumer sessionization: materialized once (ext106)
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
    directed = pairs.select(
        F.col("item_a").alias("ante"),
        F.col("item_b").alias("cons"),
        "co_sessions",
    ).unionByName(
        pairs.select(
            F.col("item_b").alias("ante"),
            F.col("item_a").alias("cons"),
            "co_sessions",
        )
    )
    ia = item_sessions.select(
        F.col("item").alias("ante"), F.col("n_sess").alias("sessions_ante")
    ).repartition(n_shuf, "ante")
    ib = item_sessions.select(
        F.col("item").alias("cons"), F.col("n_sess").alias("sessions_cons")
    ).repartition(n_shuf, "cons")
    result = (
        directed.filter(F.col("co_sessions") >= _RULE_MIN_CO)
        # O(catalog) build sides: shuffle_hash (ext106 r10 contract)
        .join(ia.hint("shuffle_hash"), "ante")
        .join(ib.hint("shuffle_hash"), "cons")
        .crossJoin(n_sessions)
        .select(
            "ante",
            "cons",
            "co_sessions",
            "sessions_ante",
            "sessions_cons",
            # co*n*1e6 wraps in int64 once n_sessions is web-scale:
            # DECIMAL(38,0) cross-products (oracle: HUGEINT) — exact at
            # any SF; quotients are bounded so the BIGINT cast is safe
            F.expr(
                "CAST(CAST(co_sessions AS DECIMAL(38,0)) * 1000000"
                " DIV sessions_ante AS BIGINT)"
            ).alias("confidence_micro"),
            F.expr(
                "CAST(CAST(co_sessions AS DECIMAL(38,0)) * n * 1000000"
                " DIV (CAST(sessions_ante AS DECIMAL(38,0))"
                " * sessions_cons) AS BIGINT)"
            ).alias("lift_micro"),
            F.expr(
                "CAST((CAST(co_sessions AS DECIMAL(38,0)) * n"
                " - CAST(sessions_ante AS DECIMAL(38,0)) * sessions_cons)"
                " * 1000000 DIV (CAST(n AS DECIMAL(38,0)) * n) AS BIGINT)"
            ).alias("leverage_micro"),
        )
        .orderBy(F.desc("confidence_micro"), F.asc("ante"), F.asc("cons"))
        .limit(_RULE_TOP)
    )
    return finalize_bounded(result)
