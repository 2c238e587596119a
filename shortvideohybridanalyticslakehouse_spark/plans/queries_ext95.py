"""Extension queries, round 95: winnowing document fingerprints — the
MOSS local-fingerprinting scheme (Schleimer, Wilkerson, Aiken, SIGMOD'03)
as an oracle-checked dedup lane.

Pipeline (bit-identical in both engines, pure integer arithmetic):
  1. normalize: lower + strip [^a-z0-9] (the winnowing paper's
     whitespace/punctuation insensitivity),
  2. k-gram hashes (k=5): polynomial base-257 mod M=536870909 (< 2^29),
     computed position-wise from ascii codes — NO float, NO engine hash
     builtin, so Spark and DuckDB produce the same integers,
  3. winnowing window w=4 over keys h*2^20+pos (tuple (h,pos) packed
     into one bigint so MIN() is the leftmost-min tuple rule): position
     p's key is a fingerprint iff it is the min of SOME full window —
     i.e. DISTINCT over per-window-start ROWS-frame minima,
  4. dup pairs: docs sharing >= 5 distinct fingerprint HASHES via a
     bucket join on the hash (shuffle ~ docs x fingerprints, never
     docs^2), hot hashes bounded at 64 docs like the LSH band-bucket
     lanes.

The guarantee winnowing adds over plain minhash: any shared substring of
length >= k + w - 1 = 8 produces at least one SHARED fingerprint
(window-coverage lemma), so near-dup detection has a deterministic
recall floor rather than a probabilistic one.

Scale: per-doc work is O(len) k-gram hashing + an O(len) per-doc window
(partitioned by doc_id — bounded by document length); the pair join is
bucket-bounded. Positions cap at 2^20 per doc by the key packing
(documented contract; corpus max len is far below).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from shortvideohybridanalyticslakehouse_spark.plans.registry import (
    materialize,
    register,
)
from shortvideohybridanalyticslakehouse_spark.sources.batch import load_table

_K = 5
_W = 4
_M = 536_870_909
_B = 257
_POS_PACK = 1_048_576  # 2^20
_PAIR_MIN_SHARED = 5
_HOT_HASH_CAP = 64

# polynomial 5-gram hash, mod after every step — identical text in both
# engines (ascii() of [a-z0-9] only, post-normalization)
_HASH_EXPR = (
    "((((((((CAST(ascii(substr(s, i, 1)) AS BIGINT) * 257 "
    "+ ascii(substr(s, i+1, 1))) "
    "% 536870909) * 257 + ascii(substr(s, i+2, 1))) % 536870909) * 257 "
    "+ ascii(substr(s, i+3, 1))) % 536870909) * 257 "
    "+ ascii(substr(s, i+4, 1))) % 536870909)"
)

_FPS_CTE = f"""
WITH t AS (
  SELECT doc_id,
         regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS s
  FROM documents
), d AS (
  SELECT doc_id, s, CAST(length(s) - {_K - 1} AS BIGINT) AS npos
  FROM t WHERE length(s) >= {_K + _W - 1}
), gpos AS (
  -- DuckDB 1.0: lateral generate_series(col) is unsupported; the
  -- list-returning scalar + unnest form is
  SELECT doc_id, npos, s, unnest(generate_series(1, npos)) AS i FROM d
), g AS (
  SELECT doc_id, npos, i, {_HASH_EXPR} AS h FROM gpos
), keyed AS (
  SELECT doc_id, npos, i, h * {_POS_PACK} + i AS key,
         min(h * {_POS_PACK} + i) OVER (
           PARTITION BY doc_id ORDER BY i
           ROWS BETWEEN CURRENT ROW AND {_W - 1} FOLLOWING) AS wmin
  FROM g
), fps AS (
  SELECT DISTINCT doc_id, npos, wmin
  FROM keyed WHERE i <= npos - {_W - 1}
)
"""

_FP_ORACLE = (
    _FPS_CTE
    + f"""
SELECT doc_id,
       CAST(npos AS BIGINT) AS n_grams,
       CAST(npos - {_W - 1} AS BIGINT) AS n_windows,
       CAST(count(*) AS BIGINT) AS n_fingerprints,
       CAST(count(DISTINCT wmin // {_POS_PACK}) AS BIGINT) AS n_distinct_hashes,
       CAST(count(*) * 1000000 // (npos - {_W - 1}) AS BIGINT) AS density_micro
FROM fps GROUP BY doc_id, npos
"""
)

_PAIR_ORACLE = (
    _FPS_CTE
    + f"""
, hashes AS (
  SELECT DISTINCT doc_id, wmin // {_POS_PACK} AS fph FROM fps
), buck AS (
  SELECT fph FROM hashes GROUP BY fph
  HAVING count(*) BETWEEN 2 AND {_HOT_HASH_CAP}
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.fph
  FROM hashes a JOIN hashes b USING (fph) JOIN buck USING (fph)
  WHERE a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, CAST(count(DISTINCT fph) AS BIGINT) AS shared_fps
FROM pairs GROUP BY 1, 2
HAVING count(DISTINCT fph) >= {_PAIR_MIN_SHARED}
ORDER BY shared_fps DESC, doc_a ASC, doc_b ASC
LIMIT 50
"""
)


def _fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, npos, wmin) distinct winnowing fingerprints."""
    return winnowing_fingerprints_df(load_table(spark, sf_dir, "documents"))


def winnowing_fingerprints_df(docs: DataFrame) -> DataFrame:
    """Winnowing fingerprint frame over any (doc_id, text) DataFrame —
    shared by the oracle queries and the scale probe."""
    d = docs.select(
        "doc_id",
        F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]", "").alias("s"),
    ).withColumn("npos", (F.length("s") - (_K - 1)).cast("bigint"))
    d = d.filter(F.length("s") >= _K + _W - 1)
    g = d.select(
        "doc_id",
        "npos",
        F.explode(F.expr("sequence(1, npos)")).alias("i"),
        F.col("s"),
    ).select(
        "doc_id", "npos", "i", F.expr(_HASH_EXPR).alias("h")
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("i")
        .rowsBetween(Window.currentRow, _W - 1)
    )
    keyed = g.select(
        "doc_id",
        "npos",
        "i",
        F.min(F.col("h") * _POS_PACK + F.col("i")).over(w).alias("wmin"),
    )
    return (
        keyed.filter(F.col("i") <= F.col("npos") - (_W - 1))
        .select("doc_id", "npos", "wmin")
        .distinct()
    )


@register("winnowing_fingerprints", _FP_ORACLE)
def q_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document winnowing fingerprint profile: k-gram count, full
    windows, selected fingerprints, distinct hashes, and density vs the
    2/(w+1) expectation (as integer micro-units)."""
    fps = _fingerprints(spark, sf_dir)
    return fps.groupBy("doc_id", "npos").agg(
        F.count(F.lit(1)).alias("n_fingerprints"),
        F.countDistinct((F.col("wmin") / _POS_PACK).cast("bigint")).alias(
            "n_distinct_hashes"
        ),
    ).select(
        "doc_id",
        F.col("npos").alias("n_grams"),
        (F.col("npos") - (_W - 1)).cast("bigint").alias("n_windows"),
        F.col("n_fingerprints").cast("bigint"),
        F.col("n_distinct_hashes").cast("bigint"),
        F.expr(
            f"CAST((n_fingerprints * 1000000) DIV (npos - {_W - 1})"
            " AS BIGINT)"
        ).alias("density_micro"),
    )


@register("winnowing_dup_pairs", _PAIR_ORACLE)
def q_winnowing_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document pairs sharing >= 5 distinct winnowing fingerprint hashes
    — deterministic-recall near-dup candidates (any shared run of >= 8
    normalized chars leaves a shared fingerprint) via a hash-bucket join
    with the standard hot-bucket cap."""
    fps = _fingerprints(spark, sf_dir)
    hashes = fps.select(
        "doc_id", (F.col("wmin") / _POS_PACK).cast("bigint").alias("fph")
    ).distinct()
    # the distinct hash frame feeds THREE consumers (the bucket
    # aggregate + both self-join sides); without materialization the
    # explode + window-min fingerprint subtree (the run's two
    # heaviest stages, ~20 s CPU each at sf0.1) executes twice.
    # Checkpoint it once and every consumer reads the blocks (guide §5).
    hashes = materialize(hashes)
    buck = (
        hashes.groupBy("fph")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter((F.col("n_docs") >= 2) & (F.col("n_docs") <= _HOT_HASH_CAP))
        .select("fph")
    )
    bounded = hashes.join(buck, "fph")
    pairs = bounded.alias("a").join(
        bounded.alias("b"),
        (F.col("a.fph") == F.col("b.fph"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    )
    return (
        pairs.select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.fph").alias("fph"),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.countDistinct("fph").cast("bigint").alias("shared_fps"))
        .filter(F.col("shared_fps") >= _PAIR_MIN_SHARED)
        .orderBy(F.col("shared_fps").desc(), F.col("doc_a").asc(), F.col("doc_b").asc())
        .limit(50)
    )
