"""Extension queries, round 40: the CORPUS CURATION FUNNEL — the
training-data flagship. One query composes the package's curation
operators end-to-end over the documents table and reports per-stage
document/token attrition:

    raw -> language filter -> Gopher quality flags -> exact dedup
        -> near-dup prune (MinHash-LSH) -> decontamination vs holdout

Each stage reuses the EXACT predicates of its standalone query
(doc_quality_filter_funnel thresholds, dedup_exact min-id rule, the
2-shingle/16-hash/2-bit-band MinHash family, the 8-gram holdout screen of
split_contamination_8gram), so this is the composition story: a user runs
ONE query and gets the funnel a curation pipeline actually executes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from shortvideohybridanalyticslakehouse_spark.functions import dedupfns
from shortvideohybridanalyticslakehouse_spark.functions.dedupfns import hash60
from shortvideohybridanalyticslakehouse_spark.plans.queries_ext import (
    _DUCK_BASES,
    _duck_shingles,
)
from shortvideohybridanalyticslakehouse_spark.plans.queries_ext9 import (
    QF_MAX_TOP_FRACTION,
    QF_MEAN_WORD_LEN_HI,
    QF_MEAN_WORD_LEN_LO,
    QF_MIN_TOKENS,
    QF_MIN_TTR,
)
from shortvideohybridanalyticslakehouse_spark.plans.registry import (
    finalize_bounded,
    materialize,
    register,
)
from shortvideohybridanalyticslakehouse_spark.sources.batch import load_table

_FUNNEL_ORACLE = rf"""
WITH base AS (
  SELECT doc_id, lang, text,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
  FROM documents
), s1 AS (
  SELECT * FROM base WHERE lang = 'en'
), qtok AS (
  SELECT doc_id,
         unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
  FROM s1
), qper AS (
  SELECT doc_id, token, count(*) AS cnt FROM qtok GROUP BY 1, 2
), qdoc AS (
  SELECT doc_id,
         CAST(sum(cnt) AS BIGINT) AS q_n,
         CAST(count(*) AS BIGINT) AS n_distinct,
         CAST(max(cnt) AS BIGINT) AS top_cnt,
         CAST(sum(cnt * len(token)) AS BIGINT) AS sum_len
  FROM qper GROUP BY 1
), s2 AS (
  SELECT s1.* FROM s1 JOIN qdoc q ON q.doc_id = s1.doc_id
  WHERE q.q_n >= {QF_MIN_TOKENS}
    AND CAST(q.sum_len AS DOUBLE) / q.q_n >= {QF_MEAN_WORD_LEN_LO}
    AND CAST(q.sum_len AS DOUBLE) / q.q_n <= {QF_MEAN_WORD_LEN_HI}
    AND CAST(q.n_distinct AS DOUBLE) / q.q_n >= {QF_MIN_TTR}
    AND CAST(q.top_cnt AS DOUBLE) / q.q_n <= {QF_MAX_TOP_FRACTION}
), s3 AS (
  SELECT doc_id, lang, text, n_tok FROM (
    SELECT *, row_number() OVER (
      PARTITION BY md5(text) ORDER BY doc_id) AS rn
    FROM s2) WHERE rn = 1
), sh AS (
  SELECT doc_id, {_duck_shingles(2)} AS shs FROM s3
), bases AS (
  SELECT doc_id, {_DUCK_BASES.format(shs='shs')} AS hs FROM sh
), sig AS (
  SELECT doc_id,
    list_transform(range(0, 16),
      i -> list_min(list_transform(hs,
        h -> ((7919 * i + 1) * h + 104729 * i) % 1000000007))) AS sig
  FROM bases
), banded AS (
  SELECT doc_id, sig, b AS band_id,
         md5(CAST(sig[2*b + 1] AS VARCHAR) || '|'
             || CAST(sig[2*b + 2] AS VARCHAR)) AS band_hash
  FROM sig, range(0, 8) AS t(b)
), near_drop AS (
  SELECT DISTINCT b.doc_id
  FROM banded a JOIN banded b
    ON a.band_id = b.band_id AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id
  WHERE len(list_filter(range(1, 17),
        i -> a.sig[i] = b.sig[i])) >= 8
), s4 AS (
  SELECT * FROM s3 WHERE doc_id NOT IN (SELECT doc_id FROM near_drop)
), holdout AS (
  SELECT doc_id, text FROM base
  WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
        % 10 = 9
), hold_g AS (
  SELECT DISTINCT
    CAST(('0x' || substr(md5(unnest({_duck_shingles(8)})), 1, 15)) AS BIGINT)
      AS gh
  FROM holdout
), cand AS (
  SELECT * FROM s4
  WHERE doc_id NOT IN (SELECT doc_id FROM holdout)
), cand_g AS (
  SELECT doc_id,
    CAST(('0x' || substr(md5(unnest({_duck_shingles(8)})), 1, 15)) AS BIGINT)
      AS gh
  FROM cand
), contaminated AS (
  SELECT DISTINCT c.doc_id FROM cand_g c JOIN hold_g h ON c.gh = h.gh
), s5 AS (
  SELECT * FROM cand
  WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
)
SELECT * FROM (
  SELECT CAST(0 AS BIGINT) AS stage_no, 'raw' AS stage,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_tok) AS BIGINT) AS n_tokens FROM base
  UNION ALL SELECT 1, 'language', count(*), sum(n_tok) FROM s1
  UNION ALL SELECT 2, 'quality', count(*), sum(n_tok) FROM s2
  UNION ALL SELECT 3, 'exact_dedup', count(*), sum(n_tok) FROM s3
  UNION ALL SELECT 4, 'near_dedup', count(*), sum(n_tok) FROM s4
  UNION ALL SELECT 5, 'decontaminated', count(*), sum(n_tok) FROM s5
) ORDER BY stage_no
"""


@register("corpus_curation_funnel", _FUNNEL_ORACLE)
def q_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end curation funnel (see module docstring). Plan notes:
    every stage is a filter/anti-join against an O(survivors) key set —
    language is a scan predicate; quality is one explode + two
    map-side-combinable aggs; exact dedup is a window over md5(text)
    groups (group size = duplicate multiplicity); near-dup is the banded
    LSH candidate join at agreement >= 8/16 with the min-id one-hop drop
    rule; decontamination joins distinct 8-gram hashes. A production run
    persists each stage frame; here stages chain lazily (Catalyst shares
    the scans) since the funnel report is a one-shot aggregate.
    """
    docs = load_table(spark, sf_dir, "documents", ensure_parallelism=True)
    base = docs.select(
        "doc_id",
        "lang",
        "text",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_tok"),
    )
    s1 = base.filter(F.col("lang") == "en")

    qtok = s1.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("token"),
    )
    qper = qtok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("cnt"))
    qdoc = qper.groupBy("doc_id").agg(
        F.sum("cnt").alias("q_n"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.max("cnt").alias("top_cnt"),
        F.sum(F.col("cnt") * F.length("token")).alias("sum_len"),
    )
    pass_all = (
        (F.col("q_n") >= QF_MIN_TOKENS)
        & (F.col("sum_len").cast("double") / F.col("q_n") >= QF_MEAN_WORD_LEN_LO)
        & (F.col("sum_len").cast("double") / F.col("q_n") <= QF_MEAN_WORD_LEN_HI)
        & (F.col("n_distinct").cast("double") / F.col("q_n") >= QF_MIN_TTR)
        & (F.col("top_cnt").cast("double") / F.col("q_n") <= QF_MAX_TOP_FRACTION)
    )
    s2 = s1.join(qdoc.filter(pass_all).select("doc_id"), "doc_id", "left_semi")
    # r13: the quality semi-join subtree (the explode + two aggregates)
    # executed TWICE per run — once into s3's checkpoint and once for the
    # stage-2 report branch (profiled: the 887 KB quality stage appears
    # 2x per trial). Checkpointing s2 runs it once; s3's window and the
    # report branch both read the blocks.
    s2 = materialize(s2)

    # The six stage aggregates + the near-dup/contamination probes re-run
    # the funnel prefix wherever exchange reuse does not fire (guide
    # §1.2/§2.4). EAGER materialization of s3 (post exact-dedup) and s4
    # (post near-dedup) runs each funnel stage exactly once and truncates
    # every downstream branch's lineage.
    w = Window.partitionBy(F.md5(F.col("text"))).orderBy(F.col("doc_id").asc())
    s3 = (
        s2.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    s3 = materialize(s3)

    with_sig = dedupfns.minhash_signatures_df(
        s3, "doc_id", "text", k=2, num_hashes=16, out_col="minhash"
    )
    near_drop = (
        dedupfns.minhash_candidate_pairs(
            with_sig, id_col="doc_id", sig_col="minhash", num_hashes=16, band_size=2
        )
        .filter(F.col("est_jaccard") * 16 >= 8)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    s4 = s3.join(near_drop, "doc_id", "left_anti")
    s4 = materialize(s4)

    holdout = base.filter(hash60(F.col("doc_id").cast("string")) % 10 == 9)
    hold_g = (
        holdout.select(F.explode(dedupfns.shingles(F.col("text"), 8)).alias("g"))
        .select(hash60(F.col("g")).alias("gh"))
        .distinct()
    )
    cand = s4.join(holdout.select("doc_id"), "doc_id", "left_anti")
    cand_g = cand.select(
        "doc_id", F.explode(dedupfns.shingles(F.col("text"), 8)).alias("g")
    ).select("doc_id", hash60(F.col("g")).alias("gh"))
    contaminated = cand_g.join(hold_g, "gh", "left_semi").select("doc_id").distinct()
    s5 = cand.join(contaminated, "doc_id", "left_anti")

    def stage(df: DataFrame, no: int, name: str) -> DataFrame:
        return df.agg(
            F.lit(no).cast("bigint").alias("stage_no"),
            F.lit(name).alias("stage"),
            F.count(F.lit(1)).alias("n_docs"),
            F.coalesce(F.sum("n_tok"), F.lit(0)).alias("n_tokens"),
        ).select("stage_no", "stage", "n_docs", "n_tokens")

    report = (
        stage(base, 0, "raw")
        .unionByName(stage(s1, 1, "language"))
        .unionByName(stage(s2, 2, "quality"))
        .unionByName(stage(s3, 3, "exact_dedup"))
        .unionByName(stage(s4, 4, "near_dedup"))
        .unionByName(stage(s5, 5, "decontaminated"))
        .orderBy("stage_no")
    )
    # 6-row report: collect it and release the stage frames
    return finalize_bounded(report)
