"""Extension queries, round 141: exact-substring (span-maximal) dedup —
the Lee et al. ExactSubstr family (arXiv:2107.06499), the one public-
corpus dedup technique the engine still lacked (VERDICT r10 #6).
duplicate_ngram_spans (ext14) mines fixed 8-grams; this lane mines the
MAXIMAL cross-document repeated spans those 8-grams stitch into.

Definition (bounded, shared with the oracle): token position i of doc d
is COVERED iff the 8-gram starting at i occurs in a DIFFERENT document.
Maximal runs of consecutive covered positions are the spans; a run of R
positions is a repeated substring of R + 7 tokens. Output per doc:
n_spans, covered_positions (sum of run lengths), max_span_tokens.

Spark-first shape (the suffix-array construction):
1. winnowed anchors (k=4-gram hashes, window W=5; Schleimer et al.
   SIGMOD'03): any shared 8-gram (L = k + W - 1) contains one full
   winnow window in both docs, so both select the identical anchor
   VALUE inside the match — bucketing by anchor certifies every covered
   position in >=1 bucket (functions/suffixes.py docstring, proof).
2. snippet per anchor occurrence: tokens [a-4, a+7] (12 = L + W - 1) —
   shuffle is O(anchor occurrences x 12 tokens), never O(doc length x
   shared anchors), so a fully-duplicated million-token doc ships
   bounded pieces.
3. one hash shuffle on the anchor key: anchors whose value spans >=2
   distinct docs survive (merge-pinned semi-join — the build side is
   the shared-anchor vocabulary, a VOLUME build), and the surviving
   snippets flow straight into the partition-level mapInPandas kernel
   (the join's ahash partitioning co-locates every bucket's rows).
4. ONE prefix-doubling suffix array + Kasai LCP per PARTITION + the
   nearest-different-doc sweep emit covered (doc_id, pos); global
   distinct, then gaps-and-islands (pos - row_number) rebuilds the
   maximal spans.

The DuckDB oracle computes the identical definition the direct way
(8-gram join + islands) — bit-equal output, so the winnowing/suffix
machinery is oracle-GATED, not just unit-tested.

Plan shape at 100 TB: two shuffles (skinny anchor rows; snippet rows
~4x corpus tokens — same class as the contamination shingle join) plus
a per-doc window over covered positions only. Per-bucket memory is
O(occurrences_of_one_anchor x 12); a boilerplate anchor shared by M
docs costs O(M x 12 log) in ONE task — probed at 10x Zipf-with-copies
(tools/SKEW_PROBE_SHJ.json row exact_substring_spans).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from shortvideohybridanalyticslakehouse_spark.functions.suffixes import (
    partition_covered_positions_capped,
)
from shortvideohybridanalyticslakehouse_spark.plans.registry import (
    materialize,
    register,
)
from shortvideohybridanalyticslakehouse_spark.sources.batch import (
    load_table,
    scaled_shuffle_partitions,
)

_K = 4  # anchor k-gram
_W = 5  # winnow window (k-gram positions)
_L = _K + _W - 1  # = 8: minimum span length the anchors certify
_SNIP = _L + _W - 1  # = 12: snippet tokens per anchor occurrence

_SPANS_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, string_split(trim(lower(coalesce(text, ''))), ' ') AS ts
  FROM documents WHERE length(trim(lower(coalesce(text, '')))) > 0
), sh AS (
  SELECT doc_id, i AS pos,
         array_to_string(list_slice(ts, i, i + {_L - 1}), ' ') AS g
  FROM (
    SELECT doc_id, ts, unnest(generate_series(1, len(ts) - {_L - 1})) AS i
    FROM toks WHERE len(ts) >= {_L}
  )
), multi AS (
  SELECT g FROM sh GROUP BY g HAVING count(DISTINCT doc_id) >= 2
), cov AS (
  SELECT DISTINCT s.doc_id, s.pos FROM sh s JOIN multi m USING (g)
), isl AS (
  SELECT doc_id, pos,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM cov
), runs AS (
  SELECT doc_id, grp, CAST(count(*) AS BIGINT) AS run_len
  FROM isl GROUP BY 1, 2
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_spans,
       CAST(sum(run_len) AS BIGINT) AS covered_positions,
       CAST(max(run_len) + {_L - 1} AS BIGINT) AS max_span_tokens
FROM runs GROUP BY 1
"""


@register("exact_substring_spans", _SPANS_ORACLE)
def q_exact_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal cross-document repeated spans (>= 8 tokens) per doc via
    winnowed-anchor bucketing + per-bucket suffix arrays; oracle-equal
    to the direct 8-gram-join + islands definition."""
    docs = load_table(spark, sf_dir, "documents")
    text = F.trim(F.lower(F.coalesce(F.col("text"), F.lit(""))))
    toks = docs.filter(F.length(text) > 0).select(
        "doc_id", F.split(text, " ", -1).alias("ts")
    ).filter(F.size("ts") >= _L)
    # per-doc winnowed anchor occurrences with their snippets, one
    # explode — no doc re-join later (a fully-duplicated doc would ship
    # its text once per shared anchor through a re-join)
    m = F.size("ts") - (_K - 1)  # number of k-gram positions
    kh = F.transform(
        F.sequence(F.lit(1), m),
        lambda p: F.xxhash64(F.array_join(F.slice("ts", p, _K), " ")),
    )
    # window minima precomputed ONCE (O(m*W)); the per-position anchor
    # test then only compares against them (O(m*W) total) — inlining
    # array_min(slice(...)) inside the exists made the HOF O(m*W^2),
    # measured as the lane's dominant cost at sf0.1
    winmin = F.transform(
        F.sequence(F.lit(1), m - (_W - 1)),
        lambda j: F.array_min(F.slice("_kh", j, _W)),
    )
    anchors = F.filter(
        F.transform(F.sequence(F.lit(1), m), lambda p: p),
        # p is an anchor iff its k-gram hash is the min of SOME winnow
        # window containing p (value-based robust winnowing: identical
        # window content selects the identical anchor in both docs)
        lambda p: F.exists(
            F.sequence(
                F.greatest(F.lit(1), p - (_W - 1)),
                F.least(p, F.size("_wm")),
            ),
            lambda j: F.get(F.col("_wm"), j - 1)
            == F.get(F.col("_kh"), p - 1),
        ),
    )
    # one tokenize+anchor pass feeds BOTH the >=2-docs filter and the
    # probe side, sibling stages of one action (without it the anchor HOF
    # subtree executes once per branch)
    snip_rows = materialize(
        toks.withColumn("_kh", kh)
        .withColumn("_wm", winmin)
        .select(
            "doc_id",
            "ts",
            F.explode(anchors).alias("a"),
            F.col("_kh").alias("khs"),
        )
        .select(
            "doc_id",
            F.get(F.col("khs"), F.col("a") - 1).alias("ahash"),
            F.greatest(F.lit(1), F.col("a") - (_W - 1)).alias("start"),
            F.slice(
                "ts", F.greatest(F.lit(1), F.col("a") - (_W - 1)), _SNIP
            ).alias("snip"),
        )
    )
    # anchors whose VALUE spans >=2 distinct docs: the shared-anchor
    # vocabulary GROWS with the corpus (volume build) — merge pin, the
    # contamination-index doctrine. The semi-join and the partition
    # kernel both key on ahash, so the snippet frame shuffles once.
    multi = (
        snip_rows.groupBy("ahash")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("ahash")
    )
    # Pin the Python kernel's fan-out (guide §2.5/§4): AQE coalesces the
    # semi-join's post-shuffle partitions by BYTES (~10 MB -> 8 at
    # sf0.1), but the per-bucket suffix-array build is CPU-heavy per
    # byte, so byte-based coalescing starves cores (profiled r12: 8
    # tasks, run 39.6 s vs cpu 4.9 s — Python time on 8 of 32 cores).
    # Repartitioning the probe side BEFORE the join pins the exchange
    # (REPARTITION_BY_COL origin — exempt from AQE coalescing; a
    # repartition AFTER the join is pruned as redundant since the SMJ
    # output already hash-partitions on ahash); the kernel runs inside
    # the join stage at this width. Count is size-derived from the doc
    # scan (parquet metadata count), not a local constant.
    sa_parts = scaled_shuffle_partitions(docs, 2_000)
    joined = snip_rows.repartition(sa_parts, "ahash").join(
        multi.hint("merge"), "ahash", "left_semi"
    )
    # Per-task memory cap (VERDICT r12 #3): a skewed ahash distribution
    # can fatten one partition at 100 TB, and the un-capped kernel
    # concats the whole partition before building the suffix array.
    # Sorting within partitions makes anchor groups contiguous so the
    # capped kernel flushes whole-group chunks under SVH_SA_MAX_TOKENS
    # buffered tokens (output-identical; tests/test_ext141_sa_cap.py
    # proves equality on a planted-skew fixture).
    max_tok = int(os.environ.get("SVH_SA_MAX_TOKENS", "4000000"))
    cov = (
        joined.select("ahash", "doc_id", "start", "snip")
        .sortWithinPartitions("ahash")
        .mapInPandas(
            lambda it: partition_covered_positions_capped(
                it, _L, max_tok
            ),
            "doc_id long, pos long",
        )
        .distinct()
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    runs = (
        cov.withColumn("grp", F.col("pos") - F.row_number().over(w))
        .groupBy("doc_id", "grp")
        .agg(F.count(F.lit(1)).cast("bigint").alias("run_len"))
    )
    return runs.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_spans"),
        F.sum("run_len").cast("bigint").alias("covered_positions"),
        (F.max("run_len") + (_L - 1)).cast("bigint").alias(
            "max_span_tokens"
        ),
    )
