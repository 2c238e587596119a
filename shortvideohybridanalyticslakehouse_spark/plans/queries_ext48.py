"""Extension queries, round 48: cross-modal curation — the three REAL
decode lanes (audio, video, raster image) joined per document into one
relational quality verdict.

This is the composition story for multimodal curation: each lane's
mapInPandas black box ends at a typed stats frame; everything after —
the per-doc video rollup, the three-way join, the flag arithmetic, the
CASE decision — is ordinary codegen'd relational algebra, exactly how a
production pipeline fuses modality features. All features are
closed-form in doc_id, so the DuckDB oracle replays audio amplitude,
sampled-frame luma, AND image luma analytically and the full
decode -> fuse -> decide chain is hash-checked.

Flag semantics (thresholds chosen to split the fixture population, the
real-world analogs in parens):
  - audio_clipped: peak |sample| reaches the fixture's 2000 full-scale
    (ADC clipping detection);
  - video_dark: floor-scaled micro mean luma over the SAMPLED frames
    < 127000000 (black/dark clip screening);
  - image_bright: poster-frame luma > 128.0 (over-exposure screening).
DROP when clipped AND dark; REVIEW on any single flag; else KEEP.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from shortvideohybridanalyticslakehouse_spark.functions import multimodal
from shortvideohybridanalyticslakehouse_spark.plans.registry import (
    materialize,
    register,
)
from shortvideohybridanalyticslakehouse_spark.sources.batch import load_table

_CROSS_MODAL_ORACLE = """
WITH audio_idx AS (
  SELECT doc_id,
         unnest(range((400 + doc_id % 241) * (1 + doc_id % 2))) AS i
  FROM documents
), audio AS (
  SELECT doc_id,
         CAST(max(abs(((doc_id * 37 + i * 13) % 4001) - 2000)) AS BIGINT)
           AS audio_peak_abs
  FROM audio_idx GROUP BY doc_id
), vid_frames AS (
  SELECT doc_id, w, h, f FROM (
    SELECT doc_id, 6 + doc_id % 5 AS w, 4 + doc_id % 4 AS h,
           unnest(range(2 + doc_id % 3)) AS f
    FROM documents
  ) WHERE f % 2 = 0
), vid_px AS (
  SELECT doc_id, w, h, f, unnest(range(w * h)) AS i FROM vid_frames
), vid_luma AS (
  SELECT doc_id, f,
         round(SUM(
             299 * ((doc_id * 31 + f * 97 + 3 * i) % 256)
           + 587 * ((doc_id * 31 + f * 97 + 3 * i + 1) % 256)
           + 114 * ((doc_id * 31 + f * 97 + 3 * i + 2) % 256)
         ) / (1000.0 * w * h), 6) AS frame_luma
  FROM vid_px GROUP BY doc_id, f, w, h
), video AS (
  -- floor-scaled micro-luma, not round(avg, 6): the avg of two round-6
  -- doubles can land on a 7th-decimal rounding tie where engine round
  -- implementations disagree; floor is tie-free on identical doubles
  SELECT doc_id,
         CAST(floor(avg(frame_luma) * 1000000) AS BIGINT)
           AS video_avg_luma_micro
  FROM vid_luma GROUP BY doc_id
), img_px AS (
  SELECT doc_id, 8 + doc_id % 9 AS w, 6 + doc_id % 7 AS h,
         unnest(range((8 + doc_id % 9) * (6 + doc_id % 7))) AS i
  FROM documents
), image AS (
  SELECT doc_id,
         round(SUM(
             299 * ((doc_id * 31 + 3 * i) % 256)
           + 587 * ((doc_id * 31 + 3 * i + 1) % 256)
           + 114 * ((doc_id * 31 + 3 * i + 2) % 256)
         ) / (1000.0 * w * h), 6) AS image_luma
  FROM img_px GROUP BY doc_id, w, h
), fused AS (
  SELECT a.doc_id, a.audio_peak_abs, v.video_avg_luma_micro, i.image_luma,
         CAST(a.audio_peak_abs >= 2000 AS BOOLEAN) AS audio_clipped,
         CAST(v.video_avg_luma_micro < 127000000 AS BOOLEAN) AS video_dark,
         CAST(i.image_luma > 128.0 AS BOOLEAN) AS image_bright
  FROM audio a
  JOIN video v ON v.doc_id = a.doc_id
  JOIN image i ON i.doc_id = a.doc_id
)
SELECT doc_id, audio_peak_abs, video_avg_luma_micro, image_luma,
       audio_clipped, video_dark, image_bright,
       CASE
         WHEN audio_clipped AND video_dark THEN 'DROP'
         WHEN audio_clipped OR video_dark OR image_bright THEN 'REVIEW'
         ELSE 'KEEP'
       END AS decision
FROM fused
"""


@register("multimodal_curation_flags", _CROSS_MODAL_ORACLE)
def q_multimodal_curation_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode ALL THREE modalities per document (real WAV, real AVI
    frames, real BMP/PPM), fuse the features with two equi-joins, and
    derive the keep/review/drop verdict in a codegen'd CASE — the
    cross-modal curation shape, hash-checked end-to-end."""
    docs = load_table(spark, sf_dir, "documents")
    audio = multimodal.wav_decode_stats(
        multimodal.synthetic_wav_payloads(docs, "doc_id"), "doc_id"
    ).select("doc_id", F.col("peak_abs").alias("audio_peak_abs"))
    video = (
        multimodal.avi_frame_sample(
            multimodal.synthetic_avi_payloads(docs, "doc_id"),
            every=2,
            id_col="doc_id",
        )
        .groupBy("doc_id")
        .agg(
            F.floor(F.avg("mean_luma") * 1_000_000)
            .cast("bigint")
            .alias("video_avg_luma_micro")
        )
    )
    image = multimodal.raster_decode_stats(
        multimodal.synthetic_raster_payloads(docs, "doc_id"), "doc_id"
    ).select("doc_id", F.col("mean_luma").alias("image_luma"))
    fused = (
        audio.join(video, "doc_id")
        .join(image, "doc_id")
        .withColumn("audio_clipped", F.col("audio_peak_abs") >= 2000)
        .withColumn("video_dark", F.col("video_avg_luma_micro") < 127_000_000)
        .withColumn("image_bright", F.col("image_luma") > 128.0)
    )
    return fused.select(
        "doc_id",
        "audio_peak_abs",
        "video_avg_luma_micro",
        "image_luma",
        "audio_clipped",
        "video_dark",
        "image_bright",
        F.when(F.col("audio_clipped") & F.col("video_dark"), F.lit("DROP"))
        .when(
            F.col("audio_clipped") | F.col("video_dark") | F.col("image_bright"),
            F.lit("REVIEW"),
        )
        .otherwise(F.lit("KEEP"))
        .alias("decision"),
    )


# ---------------------------------------------------------------------------
# GIF lane: REAL LZW decompression (the dictionary-coding compression family)
# ---------------------------------------------------------------------------

_GIF_DECODE_ORACLE = """
WITH px AS (
  SELECT d.doc_id,
         10 + d.doc_id % 11 AS w,
         8 + d.doc_id % 9 AS h,
         unnest(range((10 + d.doc_id % 11) * (8 + d.doc_id % 9))) AS i
  FROM documents d
), mapped AS (
  SELECT doc_id, w, h,
         (doc_id * 13 + i * 11) % 256 AS pi
  FROM px
)
SELECT doc_id,
  CAST(w AS INT) AS width,
  CAST(h AS INT) AS height,
  ROUND(SUM(
      299 * ((doc_id * 7 + 3 * pi) % 256)
    + 587 * ((doc_id * 7 + 3 * pi + 1) % 256)
    + 114 * ((doc_id * 7 + 3 * pi + 2) % 256)
  ) / (1000.0 * w * h), 6) AS mean_luma
FROM mapped
GROUP BY doc_id, w, h
"""


@register("multimodal_gif_decode", _GIF_DECODE_ORACLE)
def q_gif_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL dictionary-coding decode: closed-form palette + pixel indices
    round-trip through genuine variable-width GIF-LZW (CLEAR/EOI codes,
    9->12-bit growth, 4096-entry resets, KwKwK case) plus the full GIF
    container walk (extension blocks spliced on every third fixture).
    With PNG's DEFLATE this covers both mainstream lossless compression
    families, dependency-free."""
    docs = load_table(spark, sf_dir, "documents")
    payloads = multimodal.synthetic_gif_payloads(docs, "doc_id")
    return multimodal.gif_decode_stats(payloads, "doc_id")


# ---------------------------------------------------------------------------
# Content-defined chunking (CDC) dedup — boundary-hash chunking, the
# shift-robust dedup family (fixed-stride chunking breaks on one inserted
# character; CDC boundaries re-synchronize)
# ---------------------------------------------------------------------------

_CDC_W = 16  # boundary window (chars)
_CDC_D = 64  # boundary divisor => expected chunk length ~64 chars

from shortvideohybridanalyticslakehouse_spark.functions.dedupfns import (  # noqa: E402
    hash60,
)

_CDC_ORACLE = f"""
WITH t AS (
  SELECT doc_id, lower(text) AS txt, length(lower(text)) AS n
  FROM documents WHERE length(text) > 0
), bnd AS (
  SELECT doc_id, txt, n,
         list_prepend(1, list_filter(
           range(2, greatest(n - {_CDC_W} + 1, 1) + 1),
           p -> CAST(('0x' || substr(md5(substr(txt, p, {_CDC_W})), 1, 15))
                     AS BIGINT) % {_CDC_D} = 0)) AS starts
  FROM t
), chunks AS (
  SELECT doc_id,
         md5(substr(txt, starts[k],
             coalesce(starts[k + 1], n + 1) - starts[k])) AS chunk_md5
  FROM bnd, unnest(range(1, len(starts) + 1)) AS u(k)
), freq AS (
  SELECT chunk_md5, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
  FROM chunks GROUP BY 1
)
SELECT c.doc_id,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(count_if(f.n_docs > 1) AS BIGINT) AS n_shared_chunks,
       round(CAST(count_if(f.n_docs > 1) AS DOUBLE) / count(*), 6)
         AS shared_ratio
FROM chunks c JOIN freq f ON f.chunk_md5 = c.chunk_md5
GROUP BY c.doc_id
"""


@register("cdc_chunk_dedup_stats", _CDC_ORACLE)
def q_cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking dedup: a chunk boundary sits BEFORE every
    position p whose 16-char window hashes to 0 mod 64 (_CDC_W/_CDC_D), so
    chunk boundaries depend only on LOCAL content — an insertion shifts
    at most the chunk it lands in and its neighbor, then boundaries
    re-synchronize (the property fixed-stride chunking lacks; compare
    chunk_dedup_stats' 64/48 token windows). Per doc: chunk count, chunks
    shared with ANY other doc, and the shared ratio — the
    copy-detection signal dataset dedup acts on. All boundary arithmetic
    is in-row HOFs (sequence/filter/transform + substr), shuffles only
    the O(chunks) md5 relation; the oracle replays the identical
    boundary function in SQL."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.length(F.col("text")) > 0
    )
    txt = F.lower(F.col("text"))
    n = F.length(txt)
    base = docs.select("doc_id", txt.alias("txt"), n.alias("n"))
    # candidate boundary positions 2..n-W+1 (a boundary at 1 is implicit)
    cand = F.sequence(F.lit(2), F.greatest(F.col("n") - _CDC_W + 1, F.lit(1)))
    is_bnd = lambda p: (  # noqa: E731
        hash60(F.col("txt").substr(p, F.lit(_CDC_W))) % _CDC_D == 0
    )
    starts = F.concat(F.array(F.lit(1)), F.filter(cand, is_bnd))
    with_starts = base.withColumn("starts", starts)
    ks = F.sequence(F.lit(1), F.size(F.col("starts")))
    chunk_md5 = lambda k: F.md5(  # noqa: E731
        F.col("txt").substr(
            F.element_at(F.col("starts"), k),
            F.coalesce(
                F.element_at(F.col("starts"), k + 1), F.col("n") + 1
            )
            - F.element_at(F.col("starts"), k),
        )
    )
    chunks = with_starts.select(
        "doc_id", F.explode(F.transform(ks, chunk_md5)).alias("chunk_md5")
    )
    # r13: the chunk relation feeds BOTH the frequency aggregate and
    # the join probe side — each re-ran the CDC boundary HOFs + md5
    # chunking over the corpus (the lane's two heaviest stages,
    # ~17 s + ~11 s CPU at sf0.1). Checkpoint the O(chunks) md5
    # relation once (eager: sibling consumers race a lazy one).
    chunks = materialize(chunks)
    freq = chunks.groupBy("chunk_md5").agg(
        F.countDistinct("doc_id").alias("n_docs")
    )
    return (
        chunks.join(freq, "chunk_md5")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.count_if(F.col("n_docs") > 1).alias("n_shared_chunks"),
            F.round(
                F.count_if(F.col("n_docs") > 1).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("shared_ratio"),
        )
    )
