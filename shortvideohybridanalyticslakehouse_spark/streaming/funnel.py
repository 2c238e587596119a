"""Incremental (streaming) curation funnel — the stream twin of the
batch corpus-curation flagship (plans/queries_ext40.py), shaped the way a
production training-data ingest actually runs: documents ARRIVE, and each
micro-batch is screened against the EXISTING corpus.

    raw -> language filter -> in-row quality flags -> state-backed exact
    dedup -> near-dup probe vs a static corpus index -> decontamination
    vs a static holdout-gram set

Design notes (why this shape, not a port of the batch plan):

- Quality metrics are IN-ROW higher-order functions here (size /
  array_distinct / aggregate / transform over the token array) instead of
  the batch plan's explode+groupBy: a streaming aggregation would demand
  a watermark and held-back output just to score a single document. The
  token multiset is identical, so the predicates accept exactly the same
  documents as the batch stage.
- Near-dup + decontamination share ONE probe relation: every document
  explodes to (band probes ++ gram probes) and left-joins a single static
  probe table on (ptype, pkey). One explode, one stream-static join, one
  downstream aggregation — instead of two joins and a self-union (which
  would duplicate the stateful-dedup subtree and its state store, and
  break DataFrame.observe's unique-name rule by cloning observation
  nodes).
- The per-document verdict (max corpus agreement, any contaminated gram)
  is a windowed streaming aggregation in append mode; the watermark both
  bounds the dedup/agg state AND is what releases verdicts downstream.
- Per-stage attrition is surfaced with ``DataFrame.observe`` counters —
  zero extra scans, visible per micro-batch in
  ``StreamingQueryProgress.observedMetrics`` (batch: ``Observation``).

Exact-dedup semantics differ between the twins BY DESIGN:
first-arrival-wins on the stream (``dropDuplicatesWithinWatermark``),
min-doc_id-wins in batch. When arrival order follows doc_id (the fixture
pins file mtimes; a production ingest's arrival order IS its identity)
the surviving sets coincide — the equality test asserts exactly that.

Reference parity: composes the reference's streaming contract
(validate -> window -> serve; src/spark/rt_content_events_aggregator.py)
with the beyond-reference LLM-data-pipeline surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from shortvideohybridanalyticslakehouse_spark.functions import dedupfns
from shortvideohybridanalyticslakehouse_spark.plans.queries_ext9 import (
    QF_MAX_TOP_FRACTION,
    QF_MEAN_WORD_LEN_HI,
    QF_MEAN_WORD_LEN_LO,
    QF_MIN_TOKENS,
    QF_MIN_TTR,
)

DEFAULT_NUM_HASHES = 16
DEFAULT_BAND_SIZE = 2
DEFAULT_GRAM_K = 8


def build_curation_probe_table(
    corpus: DataFrame,
    holdout: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = DEFAULT_NUM_HASHES,
    band_size: int = DEFAULT_BAND_SIZE,
    gram_k: int = DEFAULT_GRAM_K,
) -> DataFrame:
    """The unified STATIC side of the funnel's screening joins:

      - one row per corpus LSH band:  ('band', band_id:band_hash,
        corpus_id, sig_corpus)
      - one row per distinct holdout ``gram_k``-gram hash: ('gram', gh,
        null, null)

    Write it out bucketed on ('ptype', 'pkey') for the co-located
    join at scale — the bucketed scan's partitioning feeds the screening
    join with NO static-side Exchange (asserted in
    test_stream_curation_funnel.py) — and point the stream at the table:
    stream-static joins re-read the static plan every micro-batch, so an
    index refreshed on disk is picked up without a restart.
    """
    with_sig = dedupfns.minhash_signatures_df(
        corpus, id_col, text_col, k=2, num_hashes=num_hashes, out_col="minhash"
    )
    bands = with_sig.select(
        F.col(id_col).alias("corpus_id"),
        F.col("minhash").alias("sig_corpus"),
        F.explode(
            dedupfns.lsh_bands(F.col("minhash"), num_hashes, band_size)
        ).alias("band"),
    ).select(
        F.lit("band").alias("ptype"),
        F.concat_ws(
            ":", F.col("band.band_id"), F.col("band.band_hash")
        ).alias("pkey"),
        "corpus_id",
        "sig_corpus",
        # never-null on the static side: after the funnel's LEFT join this
        # is the unambiguous "probe matched" marker (corpus_id/sig_corpus
        # are legitimately null on gram rows, so they can't serve)
        F.lit(1).alias("_probe_hit"),
    )
    # distinct gram hash60s per doc from ONE Arrow batch kernel
    # (hashlib md5 == Spark md5 on UTF-8 bytes); the downstream
    # explode+distinct consumes a SET, so set equality of the hashes
    # is result equality (guide §4.2)
    _htoks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    gram_col = F.explode(dedupfns.gram_hash_udf(gram_k)(_htoks)).alias(
        "g"
    )
    grams_src = holdout.select(gram_col).select(
        F.col("g").cast("string").alias("pkey")
    )
    grams = (
        grams_src
        .distinct()
        .select(
            F.lit("gram").alias("ptype"),
            "pkey",
            F.lit(None).cast("long").alias("corpus_id"),
            F.lit(None).cast("array<long>").alias("sig_corpus"),
            F.lit(1).alias("_probe_hit"),
        )
    )
    return bands.unionByName(grams)


def ingest_curation_plan(
    docs: DataFrame,
    probe_table: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    ts_col: str = "ingest_ts",
    language: str = "en",
    watermark: str = "10 minutes",
    window_size: str = "1 hour",
    agree_threshold: int = 8,
    num_hashes: int = DEFAULT_NUM_HASHES,
    band_size: int = DEFAULT_BAND_SIZE,
    gram_k: int = DEFAULT_GRAM_K,
) -> DataFrame:
    """The funnel plan — works UNCHANGED on a streaming or batch ``docs``
    frame (only the exact-dedup operator switches: state-backed
    first-arrival on a stream, min-doc_id window in batch).

    Output (append mode): one verdict row per surviving document —
    (doc_id, fp, n_tok, corpus_agreement, contaminated=false). Attrition
    counters ride the SAME job via observe(): funnel_raw,
    funnel_language, funnel_quality, funnel_exact, and funnel_decision
    (docs_decided / near_dup_dropped / contaminated_dropped /
    survivors).
    """
    is_stream = docs.isStreaming

    base = docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(lang_col).alias("lang"),
        F.col(text_col).alias("text"),
        F.col(ts_col).alias("ingest_ts"),
    ).observe("funnel_raw", F.count(F.lit(1)).alias("n_docs"))

    s1 = base.filter(F.col("lang") == language).observe(
        "funnel_language", F.count(F.lit(1)).alias("n_docs")
    )

    # In-row quality metrics over the token array — the same token
    # multiset the batch stage aggregates via explode+groupBy, so the
    # predicates accept the same documents.
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    uniq = F.array_distinct(toks)
    q_n = F.size(toks).cast("bigint")
    n_distinct = F.size(uniq).cast("bigint")
    sum_len = F.aggregate(
        toks, F.lit(0).cast("bigint"), lambda acc, t: acc + F.length(t)
    )
    # max token multiplicity as the longest equal-run of the SORTED
    # token array — O(n log n) sort + one O(n) fold (guide §1.2):
    # runs of equal strings in a sorted array ARE the multiplicities,
    # and split() never yields NULL elements.
    run_max = F.aggregate(
        F.array_sort(toks),
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).cast("bigint").alias("run"),
            F.lit(0).cast("bigint").alias("best"),
        ),
        lambda a, t: F.struct(
            t.alias("prev"),
            F.when(a["prev"] == t, a["run"] + 1)
            .otherwise(F.lit(1).cast("bigint"))
            .alias("run"),
            F.greatest(
                a["best"],
                F.when(a["prev"] == t, a["run"] + 1).otherwise(
                    F.lit(1).cast("bigint")
                ),
            ).alias("best"),
        ),
        lambda a: a["best"],
    )
    # empty token array -> NULL top count, as the oracle's max(cnt)
    # over no tokens (the fold alone would return 0).
    top_cnt = F.when(F.size(toks) == 0, F.lit(None)).otherwise(
        run_max
    ).cast("bigint")
    scored = s1.withColumn("n_tok", q_n).withColumn(
        "_q",
        F.struct(
            n_distinct.alias("n_distinct"),
            sum_len.alias("sum_len"),
            top_cnt.alias("top_cnt"),
        ),
    )
    pass_all = (
        (F.col("n_tok") >= QF_MIN_TOKENS)
        & (F.col("_q.sum_len").cast("double") / F.col("n_tok") >= QF_MEAN_WORD_LEN_LO)
        & (F.col("_q.sum_len").cast("double") / F.col("n_tok") <= QF_MEAN_WORD_LEN_HI)
        & (F.col("_q.n_distinct").cast("double") / F.col("n_tok") >= QF_MIN_TTR)
        & (F.col("_q.top_cnt").cast("double") / F.col("n_tok") <= QF_MAX_TOP_FRACTION)
    )
    s2 = (
        scored.filter(pass_all)
        .drop("_q")
        .withColumn("fp", F.md5(F.col("text")))
        .observe("funnel_quality", F.count(F.lit(1)).alias("n_docs"))
    )

    if is_stream:
        s3 = s2.withWatermark(
            "ingest_ts", watermark
        ).dropDuplicatesWithinWatermark(["fp"])
    else:
        w = Window.partitionBy("fp").orderBy(F.col("doc_id").asc())
        s3 = (
            s2.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
    s3 = s3.observe("funnel_exact", F.count(F.lit(1)).alias("n_docs"))

    # One probe row per (band ++ gram): a single explode and a single
    # left join against the unified static table serve BOTH screens.
    _toks2 = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    # signature + gram hashes from Arrow batch kernels (exact-twin
    # md5/affine arithmetic in numpy) — the hottest CPU of this
    # plan's single pass (guide §4.2). Tokenization stays in
    # Catalyst so Java-regex split semantics are untouched.
    with_sig = s3.withColumn(
        "minhash", dedupfns.minhash_sig_udf(2, num_hashes)(_toks2)
    )
    band_probes = F.transform(
        dedupfns.lsh_bands(F.col("minhash"), num_hashes, band_size),
        lambda b: F.struct(
            F.lit("band").alias("ptype"),
            F.concat_ws(":", b["band_id"], b["band_hash"]).alias("pkey"),
        ),
    )
    gram_probes = F.transform(
        dedupfns.gram_hash_udf(gram_k)(_toks2),
        lambda h: F.struct(
            F.lit("gram").alias("ptype"),
            h.cast("string").alias("pkey"),
        ),
    )
    probes = with_sig.select(
        "doc_id",
        "ingest_ts",
        "fp",
        "n_tok",
        "minhash",
        F.explode(F.concat(band_probes, gram_probes)).alias("p"),
    ).select("doc_id", "ingest_ts", "fp", "n_tok", "minhash", "p.ptype", "p.pkey")

    joined = probes.join(probe_table, ["ptype", "pkey"], "left")
    agree = F.when(
        F.col("sig_corpus").isNull() | (F.col("corpus_id") == F.col("doc_id")),
        F.lit(0),
    ).otherwise(
        F.size(
            F.filter(
                F.zip_with(
                    F.col("minhash"), F.col("sig_corpus"), lambda x, y: x == y
                ),
                lambda v: v,
            )
        )
    )
    verdicts = joined.withColumn(
        "_agree", agree.cast("int")
    ).withColumn(
        "_contam",
        (
            (F.col("ptype") == "gram") & F.col("_probe_hit").isNotNull()
        ).cast("int"),
    )

    keys = [F.window("ingest_ts", window_size).alias("w"), "doc_id", "fp", "n_tok"]
    decided = (
        verdicts.groupBy(*keys)
        .agg(
            F.max("_agree").alias("max_agree"),
            F.max("_contam").alias("contaminated"),
        )
        .observe(
            "funnel_decision",
            F.count(F.lit(1)).alias("docs_decided"),
            F.count_if(F.col("max_agree") >= agree_threshold).alias(
                "near_dup_dropped"
            ),
            F.count_if(
                (F.col("max_agree") < agree_threshold)
                & (F.col("contaminated") > 0)
            ).alias("contaminated_dropped"),
            F.count_if(
                (F.col("max_agree") < agree_threshold)
                & (F.col("contaminated") == 0)
            ).alias("survivors"),
        )
    )
    return decided.filter(
        (F.col("max_agree") < agree_threshold) & (F.col("contaminated") == 0)
    ).select(
        "doc_id",
        "fp",
        "n_tok",
        F.round(
            F.col("max_agree").cast("double") / F.lit(float(num_hashes)), 6
        ).alias("corpus_agreement"),
    )
