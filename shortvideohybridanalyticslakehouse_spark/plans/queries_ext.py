"""Extension-operator queries: text analysis, dedup family, similarity
search — the training-data-pipeline surface (BASELINE.json north star),
each with a DuckDB oracle where SQL-expressible.

Determinism notes: all fingerprints are md5-based (identical across
engines); top-k outputs order by (score, id...) with full tie-breaks;
doubles derive from exact ints or are rounded to 5-6 decimals.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from shortvideohybridanalyticslakehouse_spark.functions import dedupfns, similarity, text
from shortvideohybridanalyticslakehouse_spark.plans.registry import (
    materialize,
    register,
)
from shortvideohybridanalyticslakehouse_spark.sources.batch import load_table

# ---------------------------------------------------------------------------
# Text analysis (documents table)
# ---------------------------------------------------------------------------

_TEXT_STATS_ORACLE = r"""
WITH t AS (
  SELECT
    doc_id, lang, n_chars,
    regexp_split_to_array(lower(trim(text)), '\s+') AS toks,
    text
  FROM documents
), s AS (
  SELECT
    doc_id, lang, n_chars,
    CAST(len(toks) AS BIGINT) AS n_tokens,
    CAST(length(text) AS BIGINT) AS n_chars_measured,
    CAST(len(regexp_extract_all(text, '[\.,;:!\?"''\(\)\[\]\{\}-]')) AS BIGINT) AS n_punct,
    CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','to'))) AS BIGINT) AS s_en,
    CAST(len(list_filter(toks, x -> x IN ('der','die','das','und','ein'))) AS BIGINT) AS s_de,
    CAST(len(list_filter(toks, x -> x IN ('el','la','de','y','que'))) AS BIGINT) AS s_es,
    CAST(len(list_filter(toks, x -> x IN ('le','la','et','les','des'))) AS BIGINT) AS s_fr,
    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint
  FROM t
)
SELECT
  doc_id, lang, n_tokens, n_chars_measured, n_punct,
  round(
    0.4 * least(1.0, n_tokens / 50.0)
    + 0.3 * (1.0 - least(1.0, (n_punct / greatest(n_chars_measured, 1.0)) * 5.0))
    + 0.3 * least(1.0, (s_en / greatest(n_tokens, 1.0)) * 5.0), 6) AS quality,
  CASE
    WHEN greatest(s_en, s_de, s_es, s_fr) = 0 THEN 'und'
    WHEN s_en >= greatest(s_de, s_es, s_fr) THEN 'en'
    WHEN s_de >= greatest(s_es, s_fr) THEN 'de'
    WHEN s_es >= s_fr THEN 'es'
    ELSE 'fr'
  END AS lang_guess,
  fingerprint
FROM s
"""


@register("text_stats", _TEXT_STATS_ORACLE)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text profile: token/char/punct counts, quality score, lang-ID,
    md5 fingerprint — all narrow Catalyst expressions."""
    docs = load_table(spark, sf_dir, "documents")
    c = F.col("text")
    return docs.select(
        "doc_id",
        "lang",
        text.token_count(c).cast("bigint").alias("n_tokens"),
        text.char_count(c).cast("bigint").alias("n_chars_measured"),
        text.punct_count(c).cast("bigint").alias("n_punct"),
        F.round(text.quality_score(c), 6).alias("quality"),
        text.lang_guess(c).alias("lang_guess"),
        text.doc_fingerprint(c).alias("fingerprint"),
    )


_TERM_STATS_ORACLE = r"""
WITH tok AS (
  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
  FROM documents
), stats AS (
  SELECT term,
    CAST(count(*) AS BIGINT) AS total_tf,
    CAST(count(DISTINCT doc_id) AS BIGINT) AS doc_freq
  FROM tok GROUP BY 1
), n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents)
SELECT
  term, total_tf, doc_freq,
  round(ln(n.n_docs / doc_freq), 6) AS idf,
  round(total_tf * ln(n.n_docs / doc_freq), 6) AS tfidf
FROM stats CROSS JOIN n
"""


@register("term_tfidf", _TERM_STATS_ORACLE)
def q_term_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize -> explode -> corpus TF/DF/IDF (the TF-IDF building block).

    At 100 TB: explode is map-side; the term groupBy is one shuffle with
    map-side partial aggregation — vocabulary-sized output.
    """
    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()  # scalar; on a cluster use a broadcast 1-row agg
    tok = docs.select(
        "doc_id", F.explode(text.tokens(F.col("text"))).alias("term")
    )
    stats = tok.groupBy("term").agg(
        F.count(F.lit(1)).alias("total_tf"),
        F.countDistinct("doc_id").alias("doc_freq"),
    )
    idf = F.log(F.lit(float(n_docs)) / F.col("doc_freq").cast("double"))
    return stats.select(
        "term",
        "total_tf",
        "doc_freq",
        F.round(idf, 6).alias("idf"),
        F.round(F.col("total_tf").cast("double") * idf, 6).alias("tfidf"),
    )


# ---------------------------------------------------------------------------
# Dedup family (documents table)
# ---------------------------------------------------------------------------

_EXACT_DEDUP_ORACLE = r"""
SELECT
  md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(min(doc_id) AS BIGINT) AS keep_doc_id
FROM documents
GROUP BY 1
"""


@register("dedup_exact_groups", _EXACT_DEDUP_ORACLE)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group by content fingerprint, keep min doc_id.

    Hash-shuffle on a 128-bit key — uniform, skew-free at any scale.
    """
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.withColumn("fingerprint", text.doc_fingerprint(F.col("text")))
        .groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keep_doc_id"),
        )
    )


def _duck_shingles(k: int = 3) -> str:
    """DuckDB expr mirroring dedupfns.shingles (distinct k-token shingles)."""
    return (
        rf"list_distinct(list_transform("
        rf"range(1, greatest(len(regexp_split_to_array(lower(trim(text)), '\s+')) - {k - 1}, 1) + 1), "
        rf"i -> array_to_string(list_slice(regexp_split_to_array(lower(trim(text)), '\s+'), i, i + {k - 1}), ' ')))"
    )


_NGRAM_JACCARD_ORACLE = rf"""
WITH sh AS (
  SELECT doc_id, {_duck_shingles(3)} AS shs FROM documents
), sized AS (
  SELECT doc_id, shs, len(shs) AS sh_size FROM sh
), ex AS (
  SELECT doc_id, sh_size,
         CAST(('0x' || substr(md5(unnest(shs)), 1, 15)) AS BIGINT) AS shingle_h
  FROM sized
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.sh_size AS size_a, b.sh_size AS size_b,
         CAST(count(*) AS BIGINT) AS n_inter
  FROM ex a JOIN ex b ON a.shingle_h = b.shingle_h AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4
)
SELECT doc_a, doc_b,
       round(n_inter / CAST(size_a + size_b - n_inter AS DOUBLE), 6) AS jaccard
FROM inter
ORDER BY jaccard DESC, doc_a ASC, doc_b ASC
LIMIT 20
"""


@register("ngram_jaccard_top_pairs", _NGRAM_JACCARD_ORACLE)
def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard, top-20 most-similar pairs.

    At corpus scale this runs on LSH candidates only; here the full corpus
    is the candidate set (shingle equi-join, not doc x doc).
    """
    docs = load_table(spark, sf_dir, "documents", ensure_parallelism=True)
    pairs = dedupfns.exact_jaccard_pairs(docs, "doc_id", "text", k=3)
    return (
        pairs.withColumn("jaccard", F.round(F.col("jaccard"), 6))
        .orderBy(F.col("jaccard").desc(), F.col("doc_a").asc(), F.col("doc_b").asc())
        .limit(20)
    )


# DuckDB twin of shingle_bases + affine minhash (A_i = 7919i+1, B_i = 104729i).
_DUCK_BASES = (
    "list_transform({shs}, s -> "
    "CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) % 1000000007)"
)

_MINHASH_ORACLE = rf"""
WITH sh AS (
  SELECT doc_id, {_duck_shingles(2)} AS shs FROM documents
), bases AS (
  SELECT doc_id, {_DUCK_BASES.format(shs='shs')} AS hs FROM sh
)
SELECT
  doc_id,
  list_min(list_transform(hs, h -> (1 * h + 0) % 1000000007)) AS sig_0,
  list_min(list_transform(hs, h -> (39596 * h + 523645) % 1000000007)) AS sig_5,
  list_min(list_transform(hs, h -> (79191 * h + 1047290) % 1000000007)) AS sig_10,
  list_min(list_transform(hs, h -> (118786 * h + 1570935) % 1000000007)) AS sig_15
FROM bases
"""


@register("minhash_signatures", _MINHASH_ORACLE)
def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signature spot-check columns (one md5 per shingle + affine
    derived hash family, 2-gram shingles)."""
    docs = load_table(spark, sf_dir, "documents", ensure_parallelism=True)
    df = dedupfns.minhash_signatures_df(docs, "doc_id", "text", k=2, num_hashes=16, out_col="sig")
    return df.select(
        "doc_id",
        F.element_at("sig", 1).alias("sig_0"),
        F.element_at("sig", 6).alias("sig_5"),
        F.element_at("sig", 11).alias("sig_10"),
        F.element_at("sig", 16).alias("sig_15"),
    )


_MINHASH_PAIRS_ORACLE = rf"""
WITH sh AS (
  SELECT doc_id, {_duck_shingles(2)} AS shs FROM documents
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
), pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.sig AS sig_a, b.sig AS sig_b
  FROM banded a JOIN banded b
    ON a.band_id = b.band_id AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
  round(len(list_filter(range(1, 17), i -> sig_a[i] = sig_b[i])) / 16.0, 6) AS est_jaccard
FROM pairs
"""


@register("minhash_lsh_candidates", _MINHASH_PAIRS_ORACLE)
def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup candidates: band -> bucket-join -> est Jaccard.

    Shuffle ∝ docs x bands (not docs²); md5 band hashes are skew-free.
    16 hashes, 8 bands of 2 (fixture-tuned for recall on a tiny vocab).
    """
    docs = load_table(spark, sf_dir, "documents", ensure_parallelism=True)
    with_sig = dedupfns.minhash_signatures_df(
        docs, "doc_id", "text", k=2, num_hashes=16, out_col="minhash"
    )
    pairs = dedupfns.minhash_candidate_pairs(
        with_sig, id_col="doc_id", sig_col="minhash", num_hashes=16, band_size=2
    )
    return pairs.withColumn("est_jaccard", F.round(F.col("est_jaccard"), 6))


_SIMHASH_ORACLE = r"""
WITH t AS (
  SELECT doc_id,
    list_transform(
      list_distinct(regexp_split_to_array(lower(trim(text)), '\s+')),
      tok -> CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT)) AS hs
  FROM documents
)
SELECT doc_id,
  CAST(list_sum(list_transform(range(0, 60),
    b -> CASE WHEN 2 * len(list_filter(hs, h -> (h >> b) & 1 = 1)) > len(hs)
              THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)) AS BIGINT) AS simhash
FROM t
"""


@register("simhash_fingerprints", _SIMHASH_ORACLE)
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash fingerprints (near-dup hamming space)."""
    docs = load_table(spark, sf_dir, "documents", ensure_parallelism=True)
    return dedupfns.simhash_df(docs, "doc_id", "text")


@register(
    "simhash_closest_pairs",
    r"""
WITH t AS (
  SELECT doc_id,
    list_transform(
      list_distinct(regexp_split_to_array(lower(trim(text)), '\s+')),
      tok -> CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT)) AS hs
  FROM documents
), f AS (
  SELECT doc_id,
    CAST(list_sum(list_transform(range(0, 60),
      b -> CASE WHEN 2 * len(list_filter(hs, h -> (h >> b) & 1 = 1)) > len(hs)
                THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)) AS BIGINT) AS simhash
  FROM t
), banded AS (
  SELECT doc_id, simhash, b AS band_id,
         (simhash >> (15 * b)) & 32767 AS band_val
  FROM f, range(0, 4) AS t2(b)
), pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS sh_a, b.simhash AS sh_b
  FROM banded a JOIN banded b
    ON a.band_id = b.band_id AND a.band_val = b.band_val
   AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       CAST(bit_count(xor(sh_a, sh_b)) AS BIGINT) AS hamming
FROM pairs
ORDER BY hamming ASC, doc_a ASC, doc_b ASC
LIMIT 20
""",
)
def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 closest doc pairs in SimHash hamming space, blocked by 4x15-bit
    band buckets: any pair within hamming <=3 shares an intact band
    (pigeonhole) and is guaranteed a candidate — exactly the radius near-dup
    detection cares about.

    Round-3 rework: was a brute-force `doc_a < doc_b` self-join (BNLJ,
    cartesian-shaped at 100x), then a banded pair equi-join — correct, but
    the synthetic corpus's band skew made the bucket join emit 2.3M pairs
    at sf0.1 (5.4 s). Now scored per band bucket by
    dedupfns.simhash_bucket_topk_pairs: numpy XOR + SWAR popcount per
    bucket, local top-20 only — no candidate materialization. The oracle
    replays the identical blocking, and the brute-force form survives as
    the small-N cross-check in tests/test_text_dedup_similarity.py.
    """
    docs = load_table(spark, sf_dir, "documents", ensure_parallelism=True)
    f = dedupfns.simhash_df(docs, "doc_id", "text")
    return dedupfns.simhash_bucket_topk_pairs(f, "doc_id", "simhash", k=20)


# ---------------------------------------------------------------------------
# Similarity search (embeddings table)
# ---------------------------------------------------------------------------

_DUCK_COSINE = (
    "round(list_sum(list_transform(range(1, 65), "
    "i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))) "
    "/ (sqrt(list_sum(list_transform(range(1, 65), i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)))) "
    "* sqrt(list_sum(list_transform(range(1, 65), i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))))), 6)"
)

_COSINE_TOPK_ORACLE = f"""
WITH a AS (SELECT embedding FROM embeddings WHERE vec_id = 0)
SELECT b.vec_id, {_DUCK_COSINE} AS cosine_sim
FROM embeddings b CROSS JOIN a
WHERE b.vec_id <> 0
ORDER BY cosine_sim DESC, b.vec_id ASC
LIMIT 10
"""


@register("embedding_cosine_topk", _COSINE_TOPK_ORACLE)
def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 for query vec_id=0 (ANN baseline)."""
    emb = load_table(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("query_vec")
    )
    corpus = emb.filter(F.col("vec_id") != 0).crossJoin(F.broadcast(query))
    scored = corpus.withColumn(
        "cosine_sim",
        F.round(similarity.cosine(F.col("embedding"), F.col("query_vec")), 6),
    )
    return (
        scored.orderBy(F.col("cosine_sim").desc(), F.col("vec_id").asc())
        .limit(10)
        .select("vec_id", "cosine_sim")
    )


_IVF_TOPK_ORACLE = f"""
WITH q AS (SELECT embedding, label FROM embeddings WHERE vec_id = 0)
SELECT b.vec_id, {_DUCK_COSINE.replace('a.embedding', 'q.embedding')} AS cosine_sim
FROM embeddings b JOIN q ON b.label = q.label
WHERE b.vec_id <> 0
ORDER BY cosine_sim DESC, b.vec_id ASC
LIMIT 10
"""


@register("embedding_ivf_label_topk", _IVF_TOPK_ORACLE)
def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: scan only the query's coarse cluster (label).

    With cluster-partitioned storage this filter is partition pruning —
    a 1/n_clusters scan instead of the full corpus.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("query_vec"), F.col("label").alias("query_label")
    )
    corpus = emb.filter(F.col("vec_id") != 0).crossJoin(F.broadcast(query))
    scored = corpus.filter(F.col("label") == F.col("query_label")).withColumn(
        "cosine_sim",
        F.round(similarity.cosine(F.col("embedding"), F.col("query_vec")), 6),
    )
    return (
        scored.orderBy(F.col("cosine_sim").desc(), F.col("vec_id").asc())
        .limit(10)
        .select("vec_id", "cosine_sim")
    )


def _pairs_topk_oracle() -> str:
    from shortvideohybridanalyticslakehouse_spark.plans.queries_ext3 import (
        lsh_pairs_oracle,
    )

    return lsh_pairs_oracle(band_size=2, limit=20)


@register("embedding_pairs_topk", _pairs_topk_oracle())
def q_pairs_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup: top-20 pairs by exact cosine over HIGH-RECALL
    LSH-blocked candidates (8 bands of 2 sketch bits — a pair is missed
    only if every one of 8 bands differs, so near-dup recall is ~1 at the
    cost of a larger candidate set than embedding_lsh_topk's 4-bit bands).

    Round-3 rework: was a brute-force `id_a < id_b` self-join — correct at
    fixture scale, cartesian-shaped at 100x. Now scored per LSH band
    bucket by similarity.lsh_bucket_topk_pairs: an Arrow GEMM per bucket
    emitting only local top-20s — no candidate-pair shuffle at all (the
    2-bit bands make the candidate set ~|pairs|, so materializing it was
    the 11.6 s cost center). The oracle replays the identical blocking;
    the brute-force form survives as the small-N recall cross-check in
    tests/test_text_dedup_similarity.py.
    """
    emb = load_table(spark, sf_dir, "embeddings", ensure_parallelism=True)
    return similarity.lsh_bucket_topk_pairs(emb, n_planes=16, band_size=2, k=20)


# ---------------------------------------------------------------------------
# Multimodal columns (binary payload plumbing over mapInPandas)
# ---------------------------------------------------------------------------

_MULTIMODAL_ORACLE = """
SELECT
  doc_id,
  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
  sha256(text) AS sha256,
  CAST(64 + CAST(('0x' || substr(sha256(text), 1, 2)) AS INT) % 192 AS INT) AS fake_width,
  CAST(64 + CAST(('0x' || substr(sha256(text), 3, 2)) AS INT) % 192 AS INT) AS fake_height
FROM documents
"""


@register("multimodal_decode_stats", _MULTIMODAL_ORACLE)
def q_multimodal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload decode plumbing: mapInPandas (Arrow batches) computing
    byte stats + stub-decoded dimensions; byte-exact vs the SQL oracle.

    Proves the pandas-UDF surface (schema, batching, binary transport) is
    real even though the codec itself is a deterministic stub.
    """
    from shortvideohybridanalyticslakehouse_spark.functions import multimodal

    # no repartition here: the pandas work is trivial per row, so Python
    # worker fan-out costs more than it buys at fixture scale
    docs = load_table(spark, sf_dir, "documents")
    return multimodal.decode_stats(multimodal.attach_binary_payload(docs))


_LSH_VERIFIED_ORACLE = rf"""
WITH sh AS (
  SELECT doc_id, {_duck_shingles(2)} AS shs FROM documents
), bases AS (
  SELECT doc_id, {_DUCK_BASES.format(shs='shs')} AS hs FROM sh
), sig AS (
  SELECT doc_id,
    list_transform(range(0, 16),
      i -> list_min(list_transform(hs,
        h -> ((7919 * i + 1) * h + 104729 * i) % 1000000007))) AS sig
  FROM bases
), banded AS (
  SELECT doc_id, b AS band_id,
         md5(CAST(sig[2*b + 1] AS VARCHAR) || '|'
             || CAST(sig[2*b + 2] AS VARCHAR)) AS band_hash
  FROM sig, range(0, 8) AS t(b)
), cand0 AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a JOIN banded b
    ON a.band_id = b.band_id AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id
), cand AS (
  -- est-Jaccard prefilter (signature agreement >= 4 of 16): drops
  -- candidates whose MinHash estimate is far below the 0.5 verify
  -- threshold BEFORE the exact-intersection join; identical integer
  -- agreement computed on the Spark side, so both engines keep the
  -- exact same pair set. Cut set at 4 (not 8 = the threshold's
  -- expectation): P[Binomial(16, 0.5) <= 3] ~ 1%, so a pair at the
  -- 0.5 verify boundary survives the prefilter w.p. ~99% — the ~2x
  -- candidate reduction costs ~1% recall at the boundary instead of
  -- the ~10% a >=6 cut would.
  SELECT c.doc_a, c.doc_b
  FROM cand0 c
  JOIN sig sa ON sa.doc_id = c.doc_a
  JOIN sig sb ON sb.doc_id = c.doc_b
  WHERE list_sum(list_transform(range(1, 17),
        i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END)) >= 4
), ex AS (
  SELECT doc_id, len(shs) AS sh_size,
         CAST(('0x' || substr(md5(unnest(shs)), 1, 15)) AS BIGINT) AS shingle_h
  FROM sh
), inter AS (
  SELECT c.doc_a, c.doc_b, a.sh_size AS size_a, b.sh_size AS size_b,
         CAST(count(*) AS BIGINT) AS n_inter
  FROM cand c
  JOIN ex a ON a.doc_id = c.doc_a
  JOIN ex b ON b.doc_id = c.doc_b AND b.shingle_h = a.shingle_h
  GROUP BY 1, 2, 3, 4
)
SELECT doc_a, doc_b,
       round(n_inter / CAST(size_a + size_b - n_inter AS DOUBLE), 6) AS jaccard
FROM inter
WHERE n_inter / CAST(size_a + size_b - n_inter AS DOUBLE) >= 0.5
"""


@register("near_dup_lsh_verified", _LSH_VERIFIED_ORACLE)
def q_near_dup_lsh_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE production near-dup pipeline: MinHash-LSH candidate generation,
    an est-Jaccard prefilter (signature agreement >= 4/16 — drops band
    collisions whose estimate sits far under the verify threshold), then
    exact Jaccard verification thresholded at 0.5. Exact-verify cost
    scales with |prefiltered candidates| (LSH- and estimate-bounded),
    never |docs|² — the composition the standalone queries document.
    The oracle applies the IDENTICAL integer agreement cut, so both
    engines verify the exact same pair set. The cut is 4/16, not the
    threshold's expectation 8/16: a true-Jaccard-0.5 pair fails a >=6
    cut with ~10% probability (Binomial(16, .5) tail) but a >=4 cut
    with only ~1% — recall at the verify boundary is the explicit
    trade against candidate volume.
    """
    docs = load_table(spark, sf_dir, "documents", ensure_parallelism=True)
    with_sig = dedupfns.minhash_signatures_df(
        docs, "doc_id", "text", k=2, num_hashes=16, out_col="minhash"
    )
    # r13: the signature frame feeds FOUR consumers inside
    # minhash_candidate_pairs (both band-join sides + both est-Jaccard
    # re-attach joins); checkpoint it once so the shingle+md5+16-min
    # aggregation subtree executes once, not per consumer (guide §5).
    with_sig = materialize(with_sig)
    cand = dedupfns.minhash_candidate_pairs(
        with_sig, id_col="doc_id", sig_col="minhash", num_hashes=16, band_size=2
    ).filter(F.col("est_jaccard") * 16 >= 4).select("doc_a", "doc_b")
    # Materialize the LSH-bounded candidate list once: it feeds the
    # broadcast, the semi-filter id list and the verify join.
    cand = materialize(cand)
    verified = dedupfns.verify_candidate_jaccard(
        docs, cand, "doc_id", "text", k=2
    )
    return verified.filter(F.col("jaccard") >= 0.5).withColumn(
        "jaccard", F.round(F.col("jaccard"), 6)
    )
