"""Multimodal columns: opaque binary payloads + typed metadata, with
decode / feature-extract / resize / frame-sample as Arrow-batched pandas
UDFs over mapInPandas.

Storage model (the 100 TB design):
- media lives in a `payload BINARY` column (or object-store URIs for
  >~1 MB blobs) beside a typed `media STRUCT<media_type, width, height,
  duration_ms, sample_rate>` metadata column;
- parquet keeps binary columns page-compressed and column-pruned: metadata-
  only queries never touch payload bytes;
- decode runs in `mapInPandas` — Arrow moves whole batches zero-copy into
  pandas, the decode library runs per batch, and output schemas are fixed
  up front so Catalyst can plan around the black box;
- partitioning: payload rows are large — size `maxPartitionBytes` down (or
  repartition by a bucketed id) so a batch of decoded frames fits executor
  memory.

Codecs — the REAL-decode triad, all dependency-free numpy parsing:
- raster: 24-bit BI_RGB BMP and binary P6 PPM (`decode_raster` /
  `encode_bmp` / `encode_ppm`), mean-luma features verified against an
  analytic DuckDB oracle (`multimodal_raster_decode`);
- audio: RIFF/WAVE 16-bit PCM with a full subchunk walk (`decode_wav` /
  `encode_wav`), integer-exact amplitude + autocorrelation features
  (`multimodal_audio_decode` / `_profile` / `_autocorr`);
- video: uncompressed AVI with raw DIB frames (`decode_avi` /
  `encode_avi`), every-Nth frame sampling with exact offsets + per-frame
  luma (`multimodal_video_framesample`);
- COMPRESSED raster: real PNG (`decode_png` / `encode_png`) — stdlib
  zlib DEFLATE + CRC-verified chunks + all five scanline filters
  (`multimodal_png_decode`); real GIF (`decode_gif` / `encode_gif`) —
  variable-code-width LZW (`multimodal_gif_decode`); and real baseline
  JPEG (`decode_jpeg_gray` / `encode_jpeg_gray`) — T.81 SOF0 canonical
  Huffman entropy decode, dequant, zigzag, float IDCT, byte stuffing,
  restart markers (`multimodal_jpeg_decode`). All three mainstream
  image-compression families (DEFLATE / LZW / DCT+Huffman) decode for
  real with no external codec library.

Multi-component chroma-subsampled JPEG and the video/audio DCT codecs
(MP3/H.264) remain out of scope (the fixtures are grayscale-baseline);
`_decode_image` detects PNG/raster magic bytes for the real paths and
otherwise falls back to a deterministic byte-level fake so such payloads
still exercise the full plumbing with stable outputs.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_META_STRUCT = StructType(
    [
        StructField("media_type", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("duration_ms", LongType()),
        StructField("sample_rate", IntegerType()),
    ]
)

DECODE_STATS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("sha256", StringType()),
        StructField("fake_width", IntegerType()),
        StructField("fake_height", IntegerType()),
    ]
)

_MM_CHAIN_ATTR = "_svh_mm_chain"


def _prune_batches(it, cols):
    for pdf in it:
        yield pdf[cols]


def _compose_kernels(stages):
    """Compose batch-iterator transformers into one: each stage is a
    ``(kernel, in_cols)`` pair where the kernel is an
    ``Iterator[pd.DataFrame] -> Iterator[pd.DataFrame]`` generator, so
    composition streams batch-by-batch (memory stays one batch per
    stage, exactly as the chained mapInPandas would hold).

    Each stage's input is PRUNED to its declared ``in_cols`` (same
    columns, same order, as the un-fused ``df.select(in_cols)``) before
    the kernel runs — without this, a kernel that yields extra columns
    would silently feed them to its successor only under fusion
    (ADVICE r12 on _map_stage). dtype coercion of intermediate yields
    is NOT applied: kernels contractually yield schema-exact dtypes
    (asserted by the fusion bit-equality test), and the final stage's
    output still passes Arrow coercion to the declared out_schema."""

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        first = True
        for k, cols in stages:
            if not first and cols is not None:
                it = _prune_batches(it, cols)
            first = False
            it = k(it)
        yield from it

    return run


def _map_stage(
    df: DataFrame, in_cols, batches, out_schema: StructType
) -> DataFrame:
    """``df.select(in_cols).mapInPandas(batches, out_schema)`` with
    transparent stage FUSION (optimization guide §4: every Python stage
    pays a JVM->Arrow->Python->Arrow->JVM round-trip of all its columns —
    for chained payload transforms that ships the heavy binary column
    across the boundary 2x per stage for no reason).

    When ``df`` itself came from ``_map_stage`` (pipelines like
    synthetic payloads -> resize -> decode-stats), the kernels are
    composed into ONE mapInPandas over the ORIGINAL input: intermediate
    payload bytes never leave the Python worker. The composed kernels
    see the same pandas input as the un-fused plan (each stage's frames
    are pruned to its ``in_cols`` before its kernel runs), so results
    are unchanged; only the number of boundary crossings drops. Fusion
    only fires when the previous stage's declared output covers
    ``in_cols``.

    HARD REQUIREMENT: kernels must be DETERMINISTIC functions of their
    input batches. This already holds for re-execution under Spark task
    retries; fusion additionally re-composes the chain from its root for
    each downstream consumer, so a nondeterministic kernel (unseeded
    randomness, wall-clock reads) would produce inconsistent rows
    ACROSS CONSUMERS with no warning (ADVICE r12).
    """
    in_cols = list(in_cols)
    chain = getattr(df, _MM_CHAIN_ATTR, None)
    if chain is not None and set(in_cols) <= set(chain["out_names"]):
        stages = chain["stages"] + [(batches, in_cols)]
        out = chain["root"].select(*chain["root_cols"]).mapInPandas(
            _compose_kernels(stages), out_schema
        )
        object.__setattr__(
            out,
            _MM_CHAIN_ATTR,
            {
                "root": chain["root"],
                "root_cols": chain["root_cols"],
                "stages": stages,
                "out_names": [f.name for f in out_schema.fields],
            },
        )
        return out
    out = df.select(*in_cols).mapInPandas(batches, out_schema)
    object.__setattr__(
        out,
        _MM_CHAIN_ATTR,
        {
            "root": df,
            "root_cols": in_cols,
            "stages": [(batches, in_cols)],
            "out_names": [f.name for f in out_schema.fields],
        },
    )
    return out


def attach_binary_payload(
    df: DataFrame, text_col: str = "text", media_type: str = "image/fake"
) -> DataFrame:
    """Fixture adapter: treat document text bytes as an opaque media payload
    with typed metadata — the schema real media columns use."""
    return df.withColumn("payload", F.col(text_col).cast("binary")).withColumn(
        "media",
        F.struct(
            F.lit(media_type).alias("media_type"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("bigint").alias("duration_ms"),
            F.lit(None).cast("int").alias("sample_rate"),
        ),
    )


def encode_ppm(width: int, height: int, rgb: bytes) -> bytes:
    """Binary P6 PPM: ASCII header + raw top-down row-major RGB bytes."""
    if len(rgb) != 3 * width * height:
        raise ValueError("rgb length != 3*w*h")
    return f"P6\n{width} {height}\n255\n".encode() + rgb


def encode_bmp(width: int, height: int, rgb: bytes) -> bytes:
    """24-bit uncompressed (BI_RGB) BMP from top-down row-major RGB bytes:
    BITMAPFILEHEADER + BITMAPINFOHEADER, BOTTOM-UP rows, BGR byte order,
    rows padded to 4-byte boundaries — the real on-disk layout."""
    if len(rgb) != 3 * width * height:
        raise ValueError("rgb length != 3*w*h")
    import numpy as np

    px = np.frombuffer(rgb, dtype=np.uint8).reshape(height, width, 3)
    bgr = px[::-1, :, ::-1]  # bottom-up rows, BGR channels
    row_bytes = width * 3
    pad = (-row_bytes) % 4
    padded = np.zeros((height, row_bytes + pad), dtype=np.uint8)
    padded[:, :row_bytes] = bgr.reshape(height, row_bytes)
    body = padded.tobytes()
    pixel_offset = 14 + 40
    file_size = pixel_offset + len(body)

    def _le(v: int, n: int) -> bytes:
        return int(v).to_bytes(n, "little", signed=True)

    header = (
        b"BM"
        + _le(file_size, 4)
        + b"\x00\x00\x00\x00"
        + _le(pixel_offset, 4)
        + _le(40, 4)  # BITMAPINFOHEADER
        + _le(width, 4)
        + _le(height, 4)  # positive => bottom-up
        + _le(1, 2)  # planes
        + _le(24, 2)  # bpp
        + _le(0, 4)  # BI_RGB
        + _le(len(body), 4)
        + _le(2835, 4)  # 72 dpi
        + _le(2835, 4)
        + _le(0, 4)
        + _le(0, 4)
    )
    return header + body


def decode_raster(payload: bytes):
    """Parse a BMP (24-bit BI_RGB) or binary P6 PPM payload into
    (format, width, height, rgb ndarray (h, w, 3) uint8, top-down RGB).

    Pure numpy — no codec libraries. Raises ValueError on anything that is
    not one of the two supported raster layouts (truncated bodies, other
    bit depths, compressed BMPs), so callers can fall back explicitly.
    """
    import numpy as np

    if payload[:2] == b"P6":
        # header: magic, whitespace/comment-separated width height maxval
        fields: list[int] = []
        i = 2
        while len(fields) < 3:
            while i < len(payload) and payload[i : i + 1].isspace():
                i += 1
            if i < len(payload) and payload[i : i + 1] == b"#":
                while i < len(payload) and payload[i : i + 1] != b"\n":
                    i += 1
                continue
            j = i
            while j < len(payload) and not payload[j : j + 1].isspace():
                j += 1
            if j == i:
                raise ValueError("truncated PPM header")
            fields.append(int(payload[i:j]))
            i = j
        i += 1  # single whitespace after maxval
        w, h, maxval = fields
        if maxval != 255 or w <= 0 or h <= 0:
            raise ValueError("unsupported PPM")
        body = payload[i : i + 3 * w * h]
        if len(body) != 3 * w * h:
            raise ValueError("truncated PPM body")
        return "ppm", w, h, np.frombuffer(body, dtype=np.uint8).reshape(h, w, 3)
    if payload[:2] == b"BM":
        if len(payload) < 54:
            raise ValueError("truncated BMP header")

        def _le(lo: int, n: int, signed: bool = True) -> int:
            return int.from_bytes(payload[lo : lo + n], "little", signed=signed)

        pixel_offset = _le(10, 4)
        w = _le(18, 4)
        h = _le(22, 4)
        bpp = _le(28, 2)
        compression = _le(30, 4)
        if bpp != 24 or compression != 0 or w <= 0 or h == 0:
            raise ValueError("unsupported BMP variant")
        bottom_up = h > 0
        h = abs(h)
        row_bytes = w * 3
        stride = row_bytes + ((-row_bytes) % 4)
        body = payload[pixel_offset : pixel_offset + stride * h]
        if len(body) != stride * h:
            raise ValueError("truncated BMP body")
        rows = np.frombuffer(body, dtype=np.uint8).reshape(h, stride)[:, :row_bytes]
        bgr = rows.reshape(h, w, 3)
        if bottom_up:
            bgr = bgr[::-1]
        return "bmp", w, h, bgr[:, :, ::-1]
    raise ValueError("not a supported raster payload")


def mean_luma(rgb) -> float:
    """Integer-exact mean luma: sum(299R + 587G + 114B) / (1000 * n_pixels),
    rounded to 6 decimals — the int64 sum is exact, so the value is
    bit-reproducible by the analytic SQL oracle."""
    import numpy as np

    px = rgb.astype(np.int64)
    total = int((299 * px[:, :, 0] + 587 * px[:, :, 1] + 114 * px[:, :, 2]).sum())
    n = rgb.shape[0] * rgb.shape[1]
    return round(total / (1000.0 * n), 6)


def _decode_image(payload: bytes) -> tuple[int, int]:
    """Decode path: REAL raster parse for BMP/P6 payloads, REAL
    inflate+unfilter for PNG, and REAL baseline-JPEG decode for
    FFD8-magic payloads; deterministic byte-level fake (dimensions from
    the payload hash) for any other format so pipelines exercise the
    full plumbing with stable outputs."""
    if payload[:8] == _PNG_SIG:
        try:
            w, h, _ = decode_png(payload)
            return w, h
        except (ValueError, IndexError):
            pass
    if payload[:2] == b"\xff\xd8":
        try:
            w, h, _ = decode_jpeg_gray(payload)
            return w, h
        except (ValueError, IndexError):
            pass
    try:
        _, w, h, _ = decode_raster(payload)
        return w, h
    except (ValueError, IndexError):
        h = hashlib.sha256(payload).digest()
        return 64 + h[0] % 192, 64 + h[1] % 192


def decode_stats(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Decode/feature-extract over mapInPandas (Arrow-batched).

    Output: per-payload byte stats + (fake-)decoded dimensions. The sha256
    checksum doubles as an integrity/dedup key for binary payloads.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = pdf["payload"]
            dims = [_decode_image(bytes(p)) for p in payloads]
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "n_bytes": payloads.map(len).astype("int64"),
                    "sha256": payloads.map(
                        lambda p: hashlib.sha256(bytes(p)).hexdigest()
                    ),
                    "fake_width": pd.array([w for w, _ in dims], dtype="int32"),
                    "fake_height": pd.array([h for _, h in dims], dtype="int32"),
                }
            )

    return _map_stage(df, [id_col, "payload"], batches, DECODE_STATS_SCHEMA)


def resize(
    df: DataFrame,
    target_width: int = 224,
    target_height: int = 224,
    id_col: str = "doc_id",
) -> DataFrame:
    """Resize plumbing: binary-in -> binary-out transform over mapInPandas.

    Real codecs would decode, resample, re-encode; the stub emits a
    deterministic surrogate payload (sha256 of payload + target dims) with
    the typed metadata updated to the target dimensions — the exact schema
    contract a real resize kernel must satisfy.
    """
    out_schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("payload", BinaryType()),
            StructField("media", MEDIA_META_STRUCT),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        dims = target_width.to_bytes(4, "big") + target_height.to_bytes(4, "big")
        for pdf in it:
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "payload": pdf["payload"].map(
                        lambda p: hashlib.sha256(bytes(p) + dims).digest()
                    ),
                    "media": [
                        {
                            "media_type": "image/fake",
                            "width": target_width,
                            "height": target_height,
                            "duration_ms": None,
                            "sample_rate": None,
                        }
                        for _ in range(len(pdf))
                    ],
                }
            )

    return _map_stage(df, [id_col, "payload"], batches, out_schema)


def frame_sample(
    df: DataFrame,
    every_ms: int = 1000,
    id_col: str = "doc_id",
) -> DataFrame:
    """Frame-sampling plumbing: one output row per sampled frame offset.

    Real codecs would decode frames; the stub derives a deterministic
    per-frame checksum from (payload, offset). Output grain: payload x
    frame_offset — the explode pattern video pipelines use.
    """
    out_schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("frame_offset_ms", LongType()),
            StructField("frame_checksum", StringType()),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = {"doc_id": [], "frame_offset_ms": [], "frame_checksum": []}
            for doc_id, payload in zip(pdf[id_col], pdf["payload"]):
                payload = bytes(payload)
                # fake duration: 1 ms per byte
                for off in range(0, len(payload), every_ms):
                    rows["doc_id"].append(int(doc_id))
                    rows["frame_offset_ms"].append(off)
                    rows["frame_checksum"].append(
                        hashlib.sha256(payload + off.to_bytes(8, "big")).hexdigest()
                    )
            yield pd.DataFrame(rows)

    return _map_stage(df, [id_col, "payload"], batches, out_schema)


def synthetic_raster_payloads(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic raster fixture generator: per id, a small image whose
    dimensions and every pixel byte are closed-form functions of the id —
    w = 8 + id % 9, h = 6 + id % 7, byte i of the top-down RGB stream is
    (id*31 + i) % 256 — encoded as real BMP (odd ids) or P6 PPM (even ids).
    The closed form is what lets a SQL oracle verify the DECODED features
    analytically without itself parsing binaries.
    """
    out_schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("payload", BinaryType()),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in it:
            payloads = []
            ids = pdf[id_col].astype("int64")
            for d in ids:
                d = int(d)
                w, h = 8 + d % 9, 6 + d % 7
                rgb = ((d * 31 + np.arange(3 * w * h, dtype=np.int64)) % 256).astype(
                    np.uint8
                ).tobytes()
                payloads.append(
                    encode_bmp(w, h, rgb) if d % 2 else encode_ppm(w, h, rgb)
                )
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    return _map_stage(df, [id_col], batches, out_schema)


RASTER_STATS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("fmt", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("mean_luma", DoubleType()),
    ]
)


def raster_decode_stats(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """REAL decode + feature extraction over mapInPandas: parse each BMP/PPM
    payload (header, stride padding, row order, channel order) and emit
    width/height plus the integer-exact mean luma. Arrow moves payload
    batches zero-copy; numpy does the pixel math; the schema is fixed up
    front so Catalyst plans around the black box."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            fmts, ws, hs, lumas = [], [], [], []
            for p in pdf["payload"]:
                fmt, w, h, rgb = decode_raster(bytes(p))
                fmts.append(fmt)
                ws.append(w)
                hs.append(h)
                lumas.append(mean_luma(rgb))
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "fmt": fmts,
                    "width": pd.array(ws, dtype="int32"),
                    "height": pd.array(hs, dtype="int32"),
                    "mean_luma": pd.array(lumas, dtype="float64"),
                }
            )

    return _map_stage(df, [id_col, "payload"], batches, RASTER_STATS_SCHEMA)


# ---------------------------------------------------------------------------
# Audio lane: RIFF/WAVE 16-bit PCM — real header+frame parsing, no codec libs
# ---------------------------------------------------------------------------


def encode_wav(sample_rate: int, channels: int, samples) -> bytes:
    """Canonical RIFF/WAVE container around 16-bit little-endian PCM.

    ``samples`` is the INTERLEAVED int16 frame stream (frame-major:
    [ch0, ch1, ch0, ch1, ...]). Layout written: RIFF chunk + "WAVE" form,
    a 16-byte PCM "fmt " subchunk (audio_format=1, bits=16) and the "data"
    subchunk — the exact on-disk layout every WAV reader expects.
    """
    import numpy as np

    pcm = np.asarray(samples, dtype="<i2").tobytes()
    block_align = channels * 2
    byte_rate = sample_rate * block_align

    def _le(v: int, n: int) -> bytes:
        return int(v).to_bytes(n, "little")

    fmt = (
        b"fmt "
        + _le(16, 4)
        + _le(1, 2)  # PCM
        + _le(channels, 2)
        + _le(sample_rate, 4)
        + _le(byte_rate, 4)
        + _le(block_align, 2)
        + _le(16, 2)  # bits/sample
    )
    data = b"data" + _le(len(pcm), 4) + pcm + (b"\x00" if len(pcm) % 2 else b"")
    body = b"WAVE" + fmt + data
    return b"RIFF" + _le(len(body), 4) + body


def decode_wav(payload: bytes):
    """Parse a RIFF/WAVE payload into (sample_rate, channels, frames).

    Real container parsing: verifies the RIFF/WAVE magic, then WALKS the
    subchunk list (skipping unknown chunks like LIST/INFO and honoring the
    odd-size pad byte) to find "fmt " and "data" — not a fixed 44-byte
    offset, which breaks on any file with metadata chunks. Supports
    uncompressed 16-bit PCM (audio_format 1) and G.711 mu-law
    (audio_format 7, expanded to the quantized int16 samples via
    mulaw_expand); anything else raises ValueError so callers can fall
    back explicitly. Returns ``frames`` as an (n_frames, channels)
    int16 ndarray.
    """
    import numpy as np

    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    fmt = None
    data = None
    i = 12
    end = min(len(payload), 8 + int.from_bytes(payload[4:8], "little"))
    while i + 8 <= end:
        cid = payload[i : i + 4]
        size = int.from_bytes(payload[i + 4 : i + 8], "little")
        body = payload[i + 8 : i + 8 + size]
        if len(body) != size:
            raise ValueError("truncated WAV chunk")
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        i += 8 + size + (size % 2)  # chunks are word-aligned: pad byte
    if fmt is None or data is None:
        raise ValueError("WAV missing fmt/data chunk")
    if len(fmt) < 16:
        raise ValueError("truncated fmt chunk")
    audio_format = int.from_bytes(fmt[0:2], "little")
    channels = int.from_bytes(fmt[2:4], "little")
    sample_rate = int.from_bytes(fmt[4:8], "little")
    bits = int.from_bytes(fmt[14:16], "little")
    if channels < 1:
        raise ValueError("unsupported WAV variant (bad channel count)")
    if audio_format == 1 and bits == 16:
        n = len(data) // (2 * channels)
        frames = np.frombuffer(data[: n * 2 * channels], dtype="<i2").reshape(
            n, channels
        )
    elif audio_format == 7 and bits == 8:
        # WAVE_FORMAT_MULAW: expand each companded byte to its quantized
        # int16 sample (real G.711 decode, mulaw_expand below)
        n = len(data) // channels
        codes = np.frombuffer(data[: n * channels], dtype=np.uint8)
        frames = mulaw_expand(codes).reshape(n, channels)
    else:
        raise ValueError("unsupported WAV variant (need 16-bit PCM or mu-law)")
    return sample_rate, channels, frames


WAV_STATS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("channels", IntegerType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_frames", LongType()),
        StructField("duration_ms", LongType()),
        StructField("peak_abs", LongType()),
        StructField("sum_abs", LongType()),
        StructField("rms_micro", LongType()),
    ]
)


def wav_stats(sample_rate: int, channels: int, frames) -> dict:
    """Integer-exact amplitude features over decoded PCM frames.

    peak/sum of |sample| and the sum of squares accumulate in int64
    (exact); rms_micro = floor(sqrt(sum_sq / n) * 1e6) keeps the one
    floating step bit-reproducible cross-engine (exact int operands ->
    correctly-rounded IEEE divide/sqrt/multiply -> floor; no round-half
    semantics to disagree on). duration_ms is integer floor division.
    """
    import math

    import numpy as np

    s = frames.astype(np.int64).ravel()
    n = int(s.size)
    n_frames = int(frames.shape[0])
    sum_sq = int((s * s).sum())
    return {
        "channels": channels,
        "sample_rate": sample_rate,
        "n_frames": n_frames,
        "duration_ms": (n_frames * 1000) // sample_rate,
        "peak_abs": int(np.abs(s).max()) if n else 0,
        "sum_abs": int(np.abs(s).sum()),
        "rms_micro": int(math.floor(math.sqrt(sum_sq / n) * 1_000_000))
        if n
        else 0,
    }


def wav_decode_stats(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """REAL audio decode + feature extraction over mapInPandas: parse each
    RIFF/WAVE payload (chunk walk, PCM frame deinterleave) and emit the
    typed audio metadata plus integer-exact amplitude features. Arrow
    moves payload batches zero-copy; numpy does the sample math."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for p in pdf["payload"]:
                rate, ch, frames = decode_wav(bytes(p))
                rows.append(wav_stats(rate, ch, frames))
            out = pd.DataFrame(
                rows,
                columns=[
                    "channels",
                    "sample_rate",
                    "n_frames",
                    "duration_ms",
                    "peak_abs",
                    "sum_abs",
                    "rms_micro",
                ],
            )
            out.insert(0, "doc_id", pdf[id_col].astype("int64").to_numpy())
            yield out

    return _map_stage(df, [id_col, "payload"], batches, WAV_STATS_SCHEMA)


def synthetic_wav_payloads(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic audio fixture generator (the WAV twin of
    synthetic_raster_payloads): per id, a clip whose format fields and
    every PCM sample are closed-form functions of the id —

        channels     = 1 + id % 2
        sample_rate  = 8000 + (id % 3) * 4000
        n_frames     = 400 + id % 241
        interleaved sample i = ((id*37 + i*13) % 4001) - 2000

    encoded as a REAL RIFF/WAVE container. Every third id also gets a
    LIST/INFO metadata chunk BEFORE fmt/data, so decoders that assume the
    fixed 44-byte layout (instead of walking chunks) fail the oracle. The
    closed form lets a SQL oracle verify the DECODED features analytically
    without parsing binaries.
    """
    out_schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("payload", BinaryType()),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in it:
            payloads = []
            ids = pdf[id_col].astype("int64")
            for d in ids:
                d = int(d)
                channels = 1 + d % 2
                rate = 8000 + (d % 3) * 4000
                n_frames = 400 + d % 241
                i = np.arange(n_frames * channels, dtype=np.int64)
                samples = ((d * 37 + i * 13) % 4001) - 2000
                wav = encode_wav(rate, channels, samples)
                if d % 3 == 0:
                    # splice a metadata chunk between "WAVE" and "fmt " —
                    # ODD declared size + trailing pad byte, so a decoder
                    # that assumes the fixed 44-byte layout OR forgets
                    # word-alignment padding fails the oracle
                    info = b"INFOICMT" + (7).to_bytes(4, "little") + b"fixture"
                    lst = b"LIST" + len(info).to_bytes(4, "little") + info + b"\x00"
                    body = wav[12:]
                    wav = (
                        b"RIFF"
                        + (4 + len(lst) + len(body)).to_bytes(4, "little")
                        + b"WAVE"
                        + lst
                        + body
                    )
                payloads.append(wav)
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    return _map_stage(df, [id_col], batches, out_schema)


# ---------------------------------------------------------------------------
# Video lane: RIFF/AVI with uncompressed DIB frames — real container+frame
# parsing, no codec libs (AVI is RIFF, so the chunk discipline matches WAV)
# ---------------------------------------------------------------------------


def encode_avi(
    width: int, height: int, fps: int, frames_rgb: list[bytes]
) -> bytes:
    """Minimal-but-REAL uncompressed AVI: RIFF 'AVI ' form holding a
    LIST/hdrl (avih + one 'vids'/'DIB ' stream with its BITMAPINFOHEADER)
    and a LIST/movi of one '00db' chunk per frame. Frames are supplied as
    top-down row-major RGB and stored the way DIB frames really are:
    BOTTOM-UP rows, BGR byte order, rows padded to 4-byte boundaries —
    the same pixel layout as a 24-bit BMP body, without per-frame file
    headers.
    """
    import numpy as np

    def _le(v: int, n: int) -> bytes:
        return int(v).to_bytes(n, "little")

    row_bytes = width * 3
    stride = row_bytes + ((-row_bytes) % 4)

    def dib(rgb: bytes) -> bytes:
        if len(rgb) != 3 * width * height:
            raise ValueError("rgb length != 3*w*h")
        px = np.frombuffer(rgb, dtype=np.uint8).reshape(height, width, 3)
        bgr = px[::-1, :, ::-1]
        padded = np.zeros((height, stride), dtype=np.uint8)
        padded[:, :row_bytes] = bgr.reshape(height, row_bytes)
        return padded.tobytes()

    us_per_frame = 1_000_000 // fps
    n = len(frames_rgb)
    frame_size = stride * height

    avih = b"avih" + _le(56, 4) + (
        _le(us_per_frame, 4)
        + _le(frame_size * fps, 4)  # max bytes/sec
        + _le(0, 4)  # padding granularity
        + _le(0, 4)  # flags
        + _le(n, 4)  # total frames
        + _le(0, 4)  # initial frames
        + _le(1, 4)  # streams
        + _le(frame_size, 4)  # suggested buffer
        + _le(width, 4)
        + _le(height, 4)
        + b"\x00" * 16  # reserved
    )
    strh = b"strh" + _le(56, 4) + (
        b"vids"
        + b"DIB "
        + _le(0, 4)  # flags
        + _le(0, 2)  # priority
        + _le(0, 2)  # language
        + _le(0, 4)  # initial frames
        + _le(1, 4)  # scale
        + _le(fps, 4)  # rate (fps = rate/scale)
        + _le(0, 4)  # start
        + _le(n, 4)  # length (frames)
        + _le(frame_size, 4)
        + _le(0xFFFFFFFF, 4)  # quality (-1)
        + _le(0, 4)  # sample size
        + _le(0, 2) * 2  # rcFrame left/top
        + _le(width, 2)
        + _le(height, 2)
    )
    # BITMAPINFOHEADER for the stream format (same 40-byte layout as BMP)
    strf = b"strf" + _le(40, 4) + (
        _le(40, 4)
        + _le(width, 4)
        + _le(height, 4)  # positive => bottom-up DIB frames
        + _le(1, 2)
        + _le(24, 2)
        + _le(0, 4)  # BI_RGB
        + _le(frame_size, 4)
        + _le(2835, 4) * 2
        + _le(0, 4) * 2
    )
    strl_body = b"strl" + strh + strf
    strl = b"LIST" + _le(len(strl_body), 4) + strl_body
    hdrl_body = b"hdrl" + avih + strl
    hdrl = b"LIST" + _le(len(hdrl_body), 4) + hdrl_body

    movi_body = b"movi"
    for rgb in frames_rgb:
        body = dib(rgb)
        movi_body += b"00db" + _le(len(body), 4) + body
        if len(body) % 2:
            movi_body += b"\x00"
    movi = b"LIST" + _le(len(movi_body), 4) + movi_body

    riff_body = b"AVI " + hdrl + movi
    return b"RIFF" + _le(len(riff_body), 4) + riff_body


def decode_avi(payload: bytes):
    """Parse a RIFF/AVI payload into (width, height, us_per_frame, frames)
    where ``frames`` is an (n, h, w, 3) uint8 ndarray of top-down RGB.

    Real container parsing: walks the top-level RIFF chunks to find
    LIST/hdrl (dims + frame timing from avih) and LIST/movi, then walks
    the movi sub-chunks collecting '00db'/'00dc' DIB frames (bottom-up
    BGR rows with 4-byte stride padding — undone exactly like the BMP
    path). Raises ValueError on non-AVI payloads, missing headers, or
    frames that are not uncompressed 24-bit DIBs of the declared size.
    """
    import numpy as np

    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI payload")

    def walk(lo: int, hi: int):
        i = lo
        while i + 8 <= hi:
            cid = payload[i : i + 4]
            size = int.from_bytes(payload[i + 4 : i + 8], "little")
            if i + 8 + size > hi:
                raise ValueError("truncated AVI chunk")
            yield cid, i + 8, size
            i += 8 + size + (size % 2)

    end = min(len(payload), 8 + int.from_bytes(payload[4:8], "little"))
    width = height = us_per_frame = None
    frames: list[bytes] = []
    for cid, off, size in walk(12, end):
        if cid != b"LIST":
            continue
        kind = payload[off : off + 4]
        if kind == b"hdrl":
            for sid, soff, ssize in walk(off + 4, off + size):
                if sid == b"avih":
                    if ssize < 40:
                        raise ValueError("truncated avih")
                    us_per_frame = int.from_bytes(
                        payload[soff : soff + 4], "little"
                    )
                    width = int.from_bytes(
                        payload[soff + 32 : soff + 36], "little"
                    )
                    height = int.from_bytes(
                        payload[soff + 36 : soff + 40], "little"
                    )
        elif kind == b"movi":
            for sid, soff, ssize in walk(off + 4, off + size):
                if sid in (b"00db", b"00dc"):
                    frames.append(payload[soff : soff + ssize])
    if width is None or us_per_frame is None or not frames:
        raise ValueError("AVI missing hdrl/movi content")
    row_bytes = width * 3
    stride = row_bytes + ((-row_bytes) % 4)
    out = np.empty((len(frames), height, width, 3), dtype=np.uint8)
    for f, body in enumerate(frames):
        if len(body) != stride * height:
            raise ValueError("frame is not an uncompressed 24-bit DIB")
        rows = np.frombuffer(body, dtype=np.uint8).reshape(height, stride)[
            :, :row_bytes
        ]
        out[f] = rows.reshape(height, width, 3)[::-1, :, ::-1]
    return width, height, us_per_frame, out


VIDEO_FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_id", IntegerType()),
        StructField("frame_offset_ms", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("mean_luma", DoubleType()),
    ]
)


def avi_frame_sample(
    df: DataFrame, every: int = 2, id_col: str = "doc_id"
) -> DataFrame:
    """REAL frame sampling over mapInPandas: decode each AVI payload, keep
    every ``every``-th frame (0, every, 2*every, ...), and emit one row
    per sampled frame with its exact offset (frame_id * us_per_frame //
    1000) and integer-exact mean luma — the explode-shaped grain video
    preprocessing pipelines feed to captioning/embedding stages."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = {
                "doc_id": [],
                "frame_id": [],
                "frame_offset_ms": [],
                "width": [],
                "height": [],
                "mean_luma": [],
            }
            for doc_id, p in zip(pdf[id_col], pdf["payload"]):
                w, h, uspf, frames = decode_avi(bytes(p))
                for f in range(0, frames.shape[0], every):
                    rows["doc_id"].append(int(doc_id))
                    rows["frame_id"].append(f)
                    rows["frame_offset_ms"].append((f * uspf) // 1000)
                    rows["width"].append(w)
                    rows["height"].append(h)
                    rows["mean_luma"].append(mean_luma(frames[f]))
            out = pd.DataFrame(rows)
            out["frame_id"] = out["frame_id"].astype("int32")
            out["width"] = out["width"].astype("int32")
            out["height"] = out["height"].astype("int32")
            yield out

    return _map_stage(df, [id_col, "payload"], batches, VIDEO_FRAME_SCHEMA)


def synthetic_avi_payloads(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic video fixture generator (the AVI member of the
    raster/WAV family): per id, a clip whose geometry, frame rate, frame
    count and every pixel byte are closed-form functions of the id —

        width    = 6 + id % 5        height = 4 + id % 4
        fps      = 10 + id % 3       n_frames = 2 + id % 3
        frame f, top-down RGB byte i = (id*31 + f*97 + i) % 256

    encoded as a REAL uncompressed AVI. The closed form lets a SQL oracle
    verify the SAMPLED, DECODED frames analytically."""
    out_schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("payload", BinaryType()),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in it:
            payloads = []
            ids = pdf[id_col].astype("int64")
            for d in ids:
                d = int(d)
                w, h = 6 + d % 5, 4 + d % 4
                fps = 10 + d % 3
                n_frames = 2 + d % 3
                frames = [
                    (
                        (d * 31 + f * 97 + np.arange(3 * w * h, dtype=np.int64))
                        % 256
                    )
                    .astype(np.uint8)
                    .tobytes()
                    for f in range(n_frames)
                ]
                payloads.append(encode_avi(w, h, fps, frames))
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    return _map_stage(df, [id_col], batches, out_schema)


def wav_autocorr_stats(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Per-clip lag-1 (per-channel, i.e. lag = ``channels`` in the
    interleaved stream) autocorrelation over decoded PCM — the cheap
    periodicity/smoothness diagnostic audio curation uses to separate
    tonal content from noise. Integer-exact: ac = sum(s[i] * s[i+ch]) and
    sum_sq accumulate in int64; the normalized ratio is
    floor(ac / sum_sq * 1e6) (exact operands through correctly-rounded
    IEEE divide/multiply, then floor — negative values floor toward
    -inf identically in numpy/Python/DuckDB)."""
    import math

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("ac_lag1", LongType()),
            StructField("sum_sq", LongType()),
            StructField("ac_ratio_micro", LongType()),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in it:
            rows = {"doc_id": [], "ac_lag1": [], "sum_sq": [], "ac_ratio_micro": []}
            for doc_id, p in zip(pdf[id_col], pdf["payload"]):
                rate, ch, frames = decode_wav(bytes(p))
                s = frames.astype(np.int64).ravel()
                ac = int((s[:-ch] * s[ch:]).sum()) if s.size > ch else 0
                sum_sq = int((s * s).sum())
                rows["doc_id"].append(int(doc_id))
                rows["ac_lag1"].append(ac)
                rows["sum_sq"].append(sum_sq)
                rows["ac_ratio_micro"].append(
                    int(math.floor(ac / sum_sq * 1_000_000)) if sum_sq else 0
                )
            yield pd.DataFrame(rows)

    return _map_stage(df, [id_col, "payload"], batches, schema)


def resize_raster(
    df: DataFrame,
    target_width: int,
    target_height: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """REAL raster resize over mapInPandas: decode each BMP/PPM payload,
    nearest-neighbor resample to (target_width, target_height) — source
    index = (dst_index * src_dim) // dst_dim, the standard floor mapping —
    and RE-ENCODE in the payload's original format. Binary-in ->
    binary-out with the typed metadata updated, i.e. the contract the
    hash-fake `resize` stub documents, now executed for real on the
    raster lane (compressed formats still route through the stub).
    The floor mapping is closed-form, so a SQL oracle can verify features
    of the RESIZED image analytically (`multimodal_raster_resize`).
    """
    out_schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("payload", BinaryType()),
            StructField("media", MEDIA_META_STRUCT),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        xs = None
        for pdf in it:
            payloads, metas = [], []
            for p in pdf["payload"]:
                fmt, w, h, rgb = decode_raster(bytes(p))
                sx = (np.arange(target_width, dtype=np.int64) * w) // target_width
                sy = (np.arange(target_height, dtype=np.int64) * h) // target_height
                out = rgb[sy][:, sx]  # (th, tw, 3) nearest-neighbor
                body = out.tobytes()
                enc = (
                    encode_bmp(target_width, target_height, body)
                    if fmt == "bmp"
                    else encode_ppm(target_width, target_height, body)
                )
                payloads.append(enc)
                metas.append(
                    {
                        "media_type": f"image/{fmt}",
                        "width": target_width,
                        "height": target_height,
                        "duration_ms": None,
                        "sample_rate": None,
                    }
                )
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "payload": payloads,
                    "media": metas,
                }
            )

    return _map_stage(df, [id_col, "payload"], batches, out_schema)


# ---------------------------------------------------------------------------
# PNG lane: REAL compressed-format codec — stdlib zlib (DEFLATE) + the five
# PNG scanline filters, no external codec libraries
# ---------------------------------------------------------------------------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _paeth(a, b, c):
    """Paeth predictor (PNG spec 9.4), elementwise over int arrays."""
    import numpy as np

    p = a + b - c
    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
    return np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))


def encode_png(width: int, height: int, rgb: bytes) -> bytes:
    """REAL PNG: 8-bit truecolor (color type 2), zlib-compressed IDAT,
    CRC-checked chunks. Scanline filters CYCLE row % 5 through all five
    filter types (None/Sub/Up/Average/Paeth), so a decoder that handles
    only filter 0 — or gets any predictor wrong — cannot round-trip."""
    import zlib

    import numpy as np

    if len(rgb) != 3 * width * height:
        raise ValueError("rgb length != 3*w*h")
    px = (
        np.frombuffer(rgb, dtype=np.uint8)
        .reshape(height, width * 3)
        .astype(np.int64)
    )
    zero = np.zeros(width * 3, dtype=np.int64)
    lines = []
    for y in range(height):
        row = px[y]
        prior = px[y - 1] if y else zero
        left = np.concatenate(([0, 0, 0], row[:-3]))
        ul = np.concatenate(([0, 0, 0], prior[:-3]))
        f = y % 5
        if f == 0:
            filt = row
        elif f == 1:
            filt = row - left
        elif f == 2:
            filt = row - prior
        elif f == 3:
            filt = row - (left + prior) // 2
        else:
            filt = row - _paeth(left, prior, ul)
        lines.append(bytes([f]) + (filt % 256).astype(np.uint8).tobytes())
    idat = zlib.compress(b"".join(lines), 9)

    def chunk(ctype: bytes, data: bytes) -> bytes:
        crc = zlib.crc32(ctype + data) & 0xFFFFFFFF
        return (
            len(data).to_bytes(4, "big")
            + ctype
            + data
            + crc.to_bytes(4, "big")
        )

    ihdr = (
        width.to_bytes(4, "big")
        + height.to_bytes(4, "big")
        + bytes([8, 2, 0, 0, 0])  # 8-bit, truecolor RGB, deflate, adaptive, no interlace
    )
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", idat)
        + chunk(b"IEND", b"")
    )


def decode_png(payload: bytes):
    """Parse a REAL PNG (8-bit truecolor, non-interlaced) into
    (width, height, rgb ndarray (h, w, 3) uint8).

    Full pipeline: signature check, chunk walk with CRC32 verification,
    IDAT concatenation (multi-IDAT files are legal), zlib DEFLATE
    inflation, and sequential scanline UNFILTERING of all five filter
    types (Sub/Up/Average/Paeth carry byte-level recursion within and
    across rows). Raises ValueError on anything else — palette/alpha/
    interlaced variants, bad CRCs, truncated streams.
    """
    import zlib

    import numpy as np

    if payload[: len(_PNG_SIG)] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    i = len(_PNG_SIG)
    width = height = None
    idat = b""
    seen_end = False
    while i + 12 <= len(payload):
        size = int.from_bytes(payload[i : i + 4], "big")
        ctype = payload[i + 4 : i + 8]
        data = payload[i + 8 : i + 8 + size]
        if len(data) != size:
            raise ValueError("truncated PNG chunk")
        crc = int.from_bytes(payload[i + 8 + size : i + 12 + size], "big")
        if len(payload[i + 8 + size : i + 12 + size]) != 4 or crc != (
            zlib.crc32(ctype + data) & 0xFFFFFFFF
        ):
            raise ValueError("PNG chunk CRC mismatch")
        if ctype == b"IHDR":
            if size != 13:
                raise ValueError("bad IHDR")
            width = int.from_bytes(data[0:4], "big")
            height = int.from_bytes(data[4:8], "big")
            depth, color, comp, filt, interlace = data[8:13]
            if (depth, color, comp, filt, interlace) != (8, 2, 0, 0, 0):
                raise ValueError("unsupported PNG variant (need 8-bit RGB)")
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            seen_end = True
            break
        i += 12 + size
    if width is None or not idat or not seen_end:
        raise ValueError("PNG missing IHDR/IDAT/IEND")
    try:
        raw = zlib.decompress(idat)
    except zlib.error as e:  # corrupt DEFLATE stream
        raise ValueError(f"PNG inflate failed: {e}") from None
    stride = 1 + width * 3
    if len(raw) != stride * height:
        raise ValueError("PNG pixel stream length mismatch")
    out = np.zeros((height, width * 3), dtype=np.int64)
    zero = np.zeros(width * 3, dtype=np.int64)
    for y in range(height):
        f = raw[y * stride]
        line = np.frombuffer(
            raw[y * stride + 1 : (y + 1) * stride], dtype=np.uint8
        ).astype(np.int64)
        prior = out[y - 1] if y else zero
        if f == 0:
            out[y] = line
        elif f == 2:
            out[y] = (line + prior) % 256
        elif f == 1:
            # Sub unfilter is a per-channel prefix sum mod 256 — vector
            # cumsum instead of the per-pixel recursion (the int64
            # accumulator cannot overflow at any sane width)
            for c in range(3):
                out[y][c::3] = np.cumsum(line[c::3]) % 256
        elif f in (3, 4):
            # left-neighbor recursion: sequential per pixel, vector per channel
            rec = out[y]
            for x in range(width):
                sl = slice(3 * x, 3 * x + 3)
                left = rec[3 * (x - 1) : 3 * (x - 1) + 3] if x else zero[:3]
                up = prior[sl]
                ul = prior[3 * (x - 1) : 3 * (x - 1) + 3] if x else zero[:3]
                if f == 1:
                    pred = left
                elif f == 3:
                    pred = (left + up) // 2
                else:
                    pred = _paeth(left, up, ul)
                rec[sl] = (line[sl] + pred) % 256
        else:
            raise ValueError(f"unknown PNG filter {f}")
    return width, height, out.astype(np.uint8).reshape(height, width, 3)


def synthetic_png_payloads(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic PNG fixture generator: same closed-form pixel
    function as the BMP/PPM fixtures (w = 8 + id % 9, h = 6 + id % 7,
    byte i = (id*31 + i) % 256) but encoded through REAL zlib compression
    with all five scanline filters cycling per row — the oracle verifies
    the decoder undoes DEFLATE + filters exactly."""
    out_schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("payload", BinaryType()),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in it:
            payloads = []
            ids = pdf[id_col].astype("int64")
            for d in ids:
                d = int(d)
                w, h = 8 + d % 9, 6 + d % 7
                rgb = (
                    ((d * 31 + np.arange(3 * w * h, dtype=np.int64)) % 256)
                    .astype(np.uint8)
                    .tobytes()
                )
                payloads.append(encode_png(w, h, rgb))
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    return _map_stage(df, [id_col], batches, out_schema)


PNG_STATS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("mean_luma", DoubleType()),
    ]
)


def png_decode_stats(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """REAL compressed decode + feature extraction over mapInPandas:
    inflate + unfilter each PNG and emit dimensions plus the
    integer-exact mean luma. (Compressed payload size is deliberately NOT
    in the output contract: zlib's exact byte count is
    library-version-dependent, so it cannot sit under a cross-engine
    value-hash oracle.)"""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ws, hs, lumas = [], [], []
            for p in pdf["payload"]:
                w, h, rgb = decode_png(bytes(p))
                ws.append(w)
                hs.append(h)
                lumas.append(mean_luma(rgb))
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "width": pd.array(ws, dtype="int32"),
                    "height": pd.array(hs, dtype="int32"),
                    "mean_luma": pd.array(lumas, dtype="float64"),
                }
            )

    return _map_stage(df, [id_col, "payload"], batches, PNG_STATS_SCHEMA)


# ---------------------------------------------------------------------------
# GIF lane: REAL LZW codec — variable-code-width GIF-LZW (dictionary coding,
# the second compression family beside PNG's DEFLATE), pure Python/numpy
# ---------------------------------------------------------------------------


class _BitWriter:
    """LSB-first bit packer (GIF code stream order)."""

    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, width: int) -> None:
        self.acc |= code << self.nbits
        self.nbits += width
        while self.nbits >= 8:
            self.out.append(self.acc & 0xFF)
            self.acc >>= 8
            self.nbits -= 8

    def finish(self) -> bytes:
        if self.nbits:
            self.out.append(self.acc & 0xFF)
        return bytes(self.out)


def _lzw_compress(data: bytes, min_code_size: int = 8) -> bytes:
    """GIF-variant LZW: CLEAR/EOI codes, code width grows 9..12 bits,
    dictionary reset at 4096 entries. LSB-first packing."""
    clear = 1 << min_code_size
    eoi = clear + 1
    bw = _BitWriter()

    def reset():
        return {bytes([i]): i for i in range(clear)}, eoi + 1, min_code_size + 1

    table, nxt, width = reset()
    bw.write(clear, width)
    w = b""
    for byte in data:
        wk = w + bytes([byte])
        if wk in table:
            w = wk
            continue
        bw.write(table[w], width)
        if nxt < 4096:
            table[wk] = nxt
            nxt += 1
            # encoder leads the decoder's dictionary by one entry, so its
            # width boundary sits one code later: (1 << width) + 1
            if nxt == (1 << width) + 1 and width < 12:
                width += 1
        else:
            bw.write(clear, width)
            table, nxt, width = reset()
        w = bytes([byte])
    if w:
        bw.write(table[w], width)
    bw.write(eoi, width)
    return bw.finish()


def _lzw_decompress(blob: bytes, min_code_size: int = 8) -> bytes:
    """Inverse of _lzw_compress — full variable-width decode with the
    KwKwK (code == next) case, width bumps at (1 << width), and CLEAR
    resets."""
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    table: list[bytes] = []
    width = min_code_size + 1
    nxt = eoi + 1
    prev: bytes | None = None
    acc = 0
    nbits = 0
    pos = 0

    def reset_table():
        return [bytes([i]) for i in range(clear)] + [b"", b""]

    table = reset_table()
    while True:
        while nbits < width:
            if pos >= len(blob):
                raise ValueError("truncated LZW stream (no EOI)")
            acc |= blob[pos] << nbits
            nbits += 8
            pos += 1
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            table = reset_table()
            nxt = eoi + 1
            width = min_code_size + 1
            prev = None
            continue
        if code == eoi:
            return bytes(out)
        if prev is None:
            if code >= len(table) or code >= clear:
                raise ValueError("invalid first LZW code")
            entry = table[code]
        elif code < nxt and code < len(table):
            entry = table[code]
        elif code == nxt:
            entry = prev + prev[:1]  # KwKwK
        else:
            raise ValueError("LZW code out of range")
        out += entry
        if prev is not None and nxt < 4096:
            table.append(prev + entry[:1])
            nxt += 1
            if nxt == (1 << width) and width < 12:
                width += 1
        prev = entry


def encode_gif(width: int, height: int, indices: bytes, palette: bytes) -> bytes:
    """REAL single-frame GIF89a: logical screen descriptor, 256-entry
    global color table, image descriptor, and the pixel indices run
    through genuine variable-width GIF-LZW, split into <=255-byte data
    sub-blocks."""
    if len(indices) != width * height:
        raise ValueError("indices length != w*h")
    if len(palette) != 768:
        raise ValueError("palette must be 256 RGB entries (768 bytes)")

    def le16(v: int) -> bytes:
        return int(v).to_bytes(2, "little")

    head = (
        b"GIF89a"
        + le16(width)
        + le16(height)
        + bytes([0xF7, 0, 0])  # GCT present, 8-bit, 256 entries
        + palette
    )
    desc = b"\x2c" + le16(0) + le16(0) + le16(width) + le16(height) + b"\x00"
    lzw = _lzw_compress(indices, 8)
    blocks = bytearray([8])  # LZW minimum code size
    for i in range(0, len(lzw), 255):
        chunk = lzw[i : i + 255]
        blocks += bytes([len(chunk)]) + chunk
    blocks += b"\x00"  # block terminator
    return head + desc + bytes(blocks) + b"\x3b"


def decode_gif(payload: bytes):
    """Parse a single-frame non-interlaced GIF into (width, height,
    rgb ndarray (h, w, 3) uint8).

    Real container parsing: header version check, logical screen
    descriptor + global color table, extension blocks SKIPPED via their
    sub-block chain (so GIFs with graphic-control/comment extensions
    decode fine), image descriptor with optional local color table
    (taking precedence, per spec), sub-block reassembly, true LZW
    decompression, palette mapping. Raises ValueError on interlaced
    images or malformed structure.
    """
    import numpy as np

    if len(payload) < 13 or payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload")
    w_screen = int.from_bytes(payload[6:8], "little")
    h_screen = int.from_bytes(payload[8:10], "little")
    packed = payload[10]
    pos = 13
    palette = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        palette = payload[pos : pos + 3 * n]
        if len(palette) != 3 * n:
            raise ValueError("truncated global color table")
        pos += 3 * n

    def skip_subblocks(p: int) -> int:
        while True:
            if p >= len(payload):
                raise ValueError("truncated GIF sub-blocks")
            n = payload[p]
            p += 1
            if n == 0:
                return p
            p += n

    while pos < len(payload):
        b = payload[pos]
        if b == 0x21:  # extension: label + sub-blocks
            if pos + 2 > len(payload):
                raise ValueError("truncated GIF extension")
            pos = skip_subblocks(pos + 2)
        elif b == 0x2C:  # image descriptor
            if pos + 10 > len(payload):
                raise ValueError("truncated image descriptor")
            w = int.from_bytes(payload[pos + 5 : pos + 7], "little")
            h = int.from_bytes(payload[pos + 7 : pos + 9], "little")
            ipacked = payload[pos + 9]
            pos += 10
            if ipacked & 0x40:
                raise ValueError("interlaced GIF unsupported")
            local = None
            if ipacked & 0x80:
                n = 2 << (ipacked & 0x07)
                local = payload[pos : pos + 3 * n]
                if len(local) != 3 * n:
                    raise ValueError("truncated local color table")
                pos += 3 * n
            if pos >= len(payload):
                raise ValueError("missing LZW code size")
            min_code = payload[pos]
            pos += 1
            data = bytearray()
            while True:
                if pos >= len(payload):
                    raise ValueError("truncated GIF image data")
                n = payload[pos]
                pos += 1
                if n == 0:
                    break
                data += payload[pos : pos + n]
                if len(payload[pos : pos + n]) != n:
                    raise ValueError("truncated GIF data sub-block")
                pos += n
            pal = local or palette
            if pal is None:
                raise ValueError("GIF image without a color table")
            idx = _lzw_decompress(bytes(data), min_code)
            if len(idx) != w * h:
                raise ValueError("decoded pixel count mismatch")
            pal_arr = np.frombuffer(pal, dtype=np.uint8).reshape(-1, 3)
            iarr = np.frombuffer(idx, dtype=np.uint8)
            if iarr.max(initial=0) >= pal_arr.shape[0]:
                raise ValueError("palette index out of range")
            return w, h, pal_arr[iarr].reshape(h, w, 3)
        elif b == 0x3B:  # trailer
            break
        else:
            raise ValueError(f"unknown GIF block 0x{b:02x}")
    _ = (w_screen, h_screen)  # screen dims informational only
    raise ValueError("GIF contains no image data")


def synthetic_gif_payloads(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic GIF fixture generator: per id, a 256-color palette
    image whose palette bytes AND pixel indices are closed-form —

        w = 10 + id % 11, h = 8 + id % 9
        palette entry j = ((id*7 + 3j) % 256, ... +1, ... +2)
        pixel index i   = (id*13 + i*11) % 256

    encoded through REAL variable-width GIF-LZW. Every third id also
    carries a graphic-control extension block before the image, so
    decoders must walk the sub-block chain rather than assume a fixed
    layout."""
    out_schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("payload", BinaryType()),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in it:
            payloads = []
            ids = pdf[id_col].astype("int64")
            for d in ids:
                d = int(d)
                w, h = 10 + d % 11, 8 + d % 9
                pal = (
                    ((d * 7 + np.arange(768, dtype=np.int64)) % 256)
                    .astype(np.uint8)
                    .tobytes()
                )
                idx = (
                    ((d * 13 + np.arange(w * h, dtype=np.int64) * 11) % 256)
                    .astype(np.uint8)
                    .tobytes()
                )
                gif = encode_gif(w, h, idx, pal)
                if d % 3 == 0:
                    # splice a graphic-control extension before the image
                    head_end = 13 + 768
                    ext = b"\x21\xf9\x04\x00\x00\x00\x00\x00"
                    gif = gif[:head_end] + ext + gif[head_end:]
                payloads.append(gif)
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    return _map_stage(df, [id_col], batches, out_schema)


def gif_decode_stats(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """REAL LZW decode + feature extraction over mapInPandas: decompress
    + palette-map each GIF and emit dimensions plus integer-exact mean
    luma (same output contract as the PNG lane)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ws, hs, lumas = [], [], []
            for p in pdf["payload"]:
                w, h, rgb = decode_gif(bytes(p))
                ws.append(w)
                hs.append(h)
                lumas.append(mean_luma(rgb))
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "width": pd.array(ws, dtype="int32"),
                    "height": pd.array(hs, dtype="int32"),
                    "mean_luma": pd.array(lumas, dtype="float64"),
                }
            )

    return _map_stage(df, [id_col, "payload"], batches, PNG_STATS_SCHEMA)


# ---------------------------------------------------------------------------
# JPEG lane: REAL baseline DCT codec — ITU-T T.81 SOF0 grayscale with
# canonical Huffman entropy coding, dequantization, zigzag, float IDCT,
# byte stuffing, and restart markers. Dependency-free (numpy only).
# This closes the DCT-class compressed-format gap: with PNG (DEFLATE) and
# GIF (LZW) this covers all three mainstream image compression families.
# ---------------------------------------------------------------------------

# Zigzag scan order (T.81 Figure 5): entry t = raster index (u*8+v) of
# zigzag position t.
_JPEG_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10,
    17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
]

# Standard luminance Huffman tables (T.81 Annex K.3): BITS (codes per
# length 1..16) + HUFFVAL (symbols in code order).
_JPEG_DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_JPEG_DC_VALS = list(range(12))
_JPEG_AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_JPEG_AC_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
    0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
    0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
    0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
    0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
    0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
]


def _jpeg_canonical_codes(bits, vals):
    """Canonical Huffman assignment (T.81 Annex C): returns
    {symbol: (code, length)}."""
    out = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


def _jpeg_decode_map(bits, vals):
    """Inverse of _jpeg_canonical_codes: {(length, code): symbol}."""
    return {
        (length, code): sym
        for sym, (code, length) in _jpeg_canonical_codes(bits, vals).items()
    }


def _idct_matrix():
    """M[u, y] = C_u/2 * cos((2y+1)u*pi/16); pixels = M.T @ S @ M."""
    import numpy as np

    m = np.zeros((8, 8))
    for u in range(8):
        cu = (1.0 / np.sqrt(2.0)) if u == 0 else 1.0
        for y in range(8):
            m[u, y] = cu / 2.0 * np.cos((2 * y + 1) * u * np.pi / 16.0)
    return m


class _JpegBitWriter:
    """MSB-first bit accumulator with T.81 byte stuffing (0xFF -> 0xFF00)."""

    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, code: int, length: int) -> None:
        for i in range(length - 1, -1, -1):
            self.acc = (self.acc << 1) | ((code >> i) & 1)
            self.n += 1
            if self.n == 8:
                b = self.acc
                self.out.append(b)
                if b == 0xFF:
                    self.out.append(0x00)
                self.acc = 0
                self.n = 0

    def flush_ones(self) -> None:
        """Pad the final partial byte with 1-bits (T.81 F.1.2.3)."""
        if self.n:
            self.write((1 << (8 - self.n)) - 1, 8 - self.n)


def _jpeg_category(v: int) -> int:
    """Magnitude category SSSS: bit length of |v| (0 for v == 0)."""
    return 0 if v == 0 else int(abs(v)).bit_length()


def encode_jpeg_gray(width, height, block_coefs, dri: int = 0) -> bytes:
    """REAL baseline JPEG (ITU-T T.81 SOF0), single grayscale component,
    8x8-aligned dimensions. `block_coefs` is a list of 8x8 int arrays of
    UNQUANTIZED-but-integral DCT coefficients per block in raster MCU
    order (quant table is all ones, so quantized == given). Entropy-codes
    DC diffs + run-length AC with the Annex K luminance tables, inserts
    byte stuffing, and emits RSTn markers every `dri` MCUs when dri > 0
    (with DC-predictor reset), exercising the full marker layer."""
    import numpy as np

    if width % 8 or height % 8:
        raise ValueError("fixture JPEGs are 8x8-aligned")
    dc_codes = _jpeg_canonical_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_codes = _jpeg_canonical_codes(_JPEG_AC_BITS, _JPEG_AC_VALS)

    w = _JpegBitWriter()
    pred = 0
    n_since_rst = 0
    rst_idx = 0
    for bi, coefs in enumerate(block_coefs):
        if dri and bi and n_since_rst == dri:
            w.flush_ones()
            w.out += bytes([0xFF, 0xD0 + rst_idx])
            rst_idx = (rst_idx + 1) % 8
            n_since_rst = 0
            pred = 0
        n_since_rst += 1
        z = [int(np.asarray(coefs).reshape(64)[r]) for r in _JPEG_ZIGZAG]
        diff = z[0] - pred
        pred = z[0]
        s = _jpeg_category(diff)
        w.write(*dc_codes[s])
        if s:
            w.write(diff if diff >= 0 else diff + (1 << s) - 1, s)
        run = 0
        for t in range(1, 64):
            v = z[t]
            if v == 0:
                run += 1
                continue
            while run > 15:
                w.write(*ac_codes[0xF0])  # ZRL: 16 zeros
                run -= 16
            s = _jpeg_category(v)
            w.write(*ac_codes[(run << 4) | s])
            w.write(v if v >= 0 else v + (1 << s) - 1, s)
            run = 0
        if run:
            w.write(*ac_codes[0x00])  # EOB
    w.flush_ones()

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + (len(body) + 2).to_bytes(2, "big") + body

    dqt = seg(0xDB, bytes([0x00]) + bytes([1] * 64))  # Pq=0 Tq=0, all ones
    sof0 = seg(
        0xC0,
        bytes([8])
        + height.to_bytes(2, "big")
        + width.to_bytes(2, "big")
        + bytes([1, 1, 0x11, 0]),  # 1 component, id=1, 1x1 sampling, Tq=0
    )
    dht = seg(
        0xC4, bytes([0x00]) + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS)
    ) + seg(0xC4, bytes([0x10]) + bytes(_JPEG_AC_BITS) + bytes(_JPEG_AC_VALS))
    parts = [bytes([0xFF, 0xD8]), dqt, sof0, dht]
    if dri:
        parts.append(seg(0xDD, dri.to_bytes(2, "big")))
    parts.append(seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0])))
    parts.append(bytes(w.out))
    parts.append(bytes([0xFF, 0xD9]))
    return b"".join(parts)


class _JpegBitReader:
    """MSB-first entropy-segment reader: undoes byte stuffing and stops at
    any non-stuffing marker (restart markers are consumed explicitly by
    sync_restart between MCU groups)."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.acc = 0
        self.n = 0

    def read_bit(self) -> int:
        if self.n == 0:
            if self.pos >= len(self.data):
                raise ValueError("JPEG entropy stream truncated")
            b = self.data[self.pos]
            if b == 0xFF:
                if self.pos + 1 >= len(self.data):
                    raise ValueError("JPEG dangling 0xFF")
                nxt = self.data[self.pos + 1]
                if nxt != 0x00:
                    raise ValueError(
                        f"unexpected marker 0xFF{nxt:02X} inside entropy data"
                    )
                self.pos += 2
            else:
                self.pos += 1
            self.acc = b
            self.n = 8
        self.n -= 1
        return (self.acc >> self.n) & 1

    def read_bits(self, k: int) -> int:
        v = 0
        for _ in range(k):
            v = (v << 1) | self.read_bit()
        return v

    def read_symbol(self, table: dict) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.read_bit()
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid JPEG Huffman code")

    def sync_restart(self, expected: int) -> None:
        """Discard partial-byte padding, then consume RST(expected)."""
        self.n = 0
        if (
            self.pos + 1 >= len(self.data)
            or self.data[self.pos] != 0xFF
            or self.data[self.pos + 1] != 0xD0 + expected
        ):
            raise ValueError(f"expected RST{expected} marker")
        self.pos += 2


def _jpeg_extend(v: int, s: int) -> int:
    """T.81 F.2.2.1 EXTEND: map s low bits to the signed coefficient."""
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


def decode_jpeg_gray(payload: bytes):
    """Parse and FULLY decode a REAL baseline JPEG (SOF0, one grayscale
    component, 8x8-aligned, no subsampling) into (width, height,
    gray ndarray (h, w) uint8).

    Full pipeline: marker/segment walk (DQT/SOF0/DHT/DRI/SOS), canonical
    Huffman table reconstruction from the DHT BITS+HUFFVAL payload,
    MSB-first entropy decode with byte-unstuffing, DC prediction +
    EXTEND, ZRL/EOB run-length AC reconstruction, dequantization, inverse
    zigzag, float64 IDCT (basis-matrix form), level shift, round, clamp.
    Restart markers (when DRI is present) are verified to appear exactly
    on schedule with the right RSTn cycle and reset the DC predictor.
    Raises ValueError on anything unsupported or malformed."""
    import numpy as np

    if len(payload) < 4 or payload[0:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (no SOI)")
    pos = 2
    qt = {}
    dc_map = ac_map = None
    width = height = None
    dri = 0
    comp_tq = 0
    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError("JPEG marker misalignment")
        marker = payload[pos + 1]
        if marker == 0xD9:  # EOI before SOS
            raise ValueError("JPEG has no scan data")
        size = int.from_bytes(payload[pos + 2 : pos + 4], "big")
        body = payload[pos + 4 : pos + 2 + size]
        if len(body) != size - 2:
            raise ValueError("truncated JPEG segment")
        if marker == 0xDB:  # DQT (possibly several tables per segment)
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 0x0F
                if pq != 0:
                    raise ValueError("16-bit quant tables unsupported")
                if i + 65 > len(body):
                    raise ValueError("truncated DQT")
                qt[tq] = np.array(list(body[i + 1 : i + 65]), dtype=np.int64)
                i += 65
        elif marker == 0xC0:  # SOF0 baseline
            if body[0] != 8:
                raise ValueError("only 8-bit precision supported")
            height = int.from_bytes(body[1:3], "big")
            width = int.from_bytes(body[3:5], "big")
            if body[5] != 1:
                raise ValueError("only single-component (grayscale) JPEGs")
            if body[7] != 0x11:
                raise ValueError("subsampled JPEGs unsupported")
            comp_tq = body[8]
            if width % 8 or height % 8:
                raise ValueError("non-8x8-aligned JPEGs unsupported")
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7):
            raise ValueError("only baseline SOF0 supported")
        elif marker == 0xC4:  # DHT (possibly several tables per segment)
            i = 0
            while i < len(body):
                tc, th = body[i] >> 4, body[i] & 0x0F
                bits = list(body[i + 1 : i + 17])
                nv = sum(bits)
                vals = list(body[i + 17 : i + 17 + nv])
                if len(vals) != nv:
                    raise ValueError("truncated DHT")
                if th != 0:
                    raise ValueError("only table id 0 used by this lane")
                if tc == 0:
                    dc_map = _jpeg_decode_map(bits, vals)
                else:
                    ac_map = _jpeg_decode_map(bits, vals)
                i += 17 + nv
        elif marker == 0xDD:  # DRI
            dri = int.from_bytes(body[0:2], "big")
        elif marker == 0xDA:  # SOS -> entropy data follows
            pos += 2 + size
            break
        pos += 2 + size
    else:
        raise ValueError("JPEG missing SOS")
    if width is None or dc_map is None or ac_map is None or comp_tq not in qt:
        raise ValueError("JPEG missing SOF0/DHT/DQT before SOS")
    quant = qt[comp_tq]
    m = _idct_matrix()
    bw, bh = width // 8, height // 8
    out = np.zeros((height, width), dtype=np.uint8)
    rd = _JpegBitReader(payload, pos)
    pred = 0
    n_since_rst = 0
    rst_idx = 0
    for bi in range(bw * bh):
        if dri and bi and n_since_rst == dri:
            rd.sync_restart(rst_idx)
            rst_idx = (rst_idx + 1) % 8
            n_since_rst = 0
            pred = 0
        n_since_rst += 1
        z = np.zeros(64, dtype=np.int64)
        s = rd.read_symbol(dc_map)
        diff = _jpeg_extend(rd.read_bits(s), s) if s else 0
        pred += diff
        z[0] = pred
        t = 1
        while t < 64:
            rs = rd.read_symbol(ac_map)
            if rs == 0x00:  # EOB
                break
            run, s = rs >> 4, rs & 0x0F
            if s == 0:
                if run != 15:
                    raise ValueError("invalid AC symbol")
                t += 16  # ZRL
                continue
            t += run
            if t > 63:
                raise ValueError("AC run overflows block")
            z[t] = _jpeg_extend(rd.read_bits(s), s)
            t += 1
        coefs = np.zeros(64, dtype=np.int64)
        coefs[_JPEG_ZIGZAG] = z * quant[np.arange(64)]
        px = m.T @ coefs.reshape(8, 8).astype(np.float64) @ m + 128.0
        by, bx = divmod(bi, bw)
        out[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = np.clip(
            np.rint(px), 0, 255
        ).astype(np.uint8)
    return width, height, out


# Planted AC patterns for the JPEG fixtures: (u, v, coef). Pattern 0 is
# DC-only; (0,1)/(1,0) sit at zigzag positions 1/2 (short runs); (2,3)
# sits at zigzag position 17, forcing a ZRL (16-zero run) symbol through
# the entropy coder. Coefficients are chosen so every rounded IDCT pixel
# delta is >= 0.04 away from a .5 boundary (verified in tests), making
# the decoded integers exact and SQL-replayable.
JPEG_PATTERNS = [(0, 0, 0), (0, 1, 37), (1, 0, -29), (2, 3, 51)]


def jpeg_pattern_deltas():
    """Per-pattern decoded-pixel deltas: list of 64-int lists, index
    i = y*8 + x; decoded pixel = clamp(c + delta[i], 0, 255) for a block
    whose DC constant is c. This is the closed-form the DuckDB oracle
    replays — the decoder must recover it from real entropy-coded bytes."""
    import numpy as np

    m = _idct_matrix()
    out = []
    for u, v, coef in JPEG_PATTERNS:
        if coef == 0:
            out.append([0] * 64)
            continue
        grid = coef * np.outer(m[u], m[v])  # [y, x]
        out.append([int(r) for r in np.rint(grid).reshape(64)])
    return out


def _jpeg_fixture_dims(d: int) -> tuple[int, int]:
    return 16 + (d % 3) * 8, 16 + (d % 2) * 8


def _jpeg_fixture_payload(d: int) -> bytes:
    """One REAL baseline JPEG per doc_id: w in {16,24,32}, h in {16,24},
    block k carries DC constant (d*17 + k*29) % 256 and planted AC
    pattern (d + k) % 4; every third doc uses restart interval 4."""
    import numpy as np

    w, h = _jpeg_fixture_dims(d)
    bw, bh = w // 8, h // 8
    blocks = []
    for k in range(bw * bh):
        c = (d * 17 + k * 29) % 256
        u, v, coef = JPEG_PATTERNS[(d + k) % 4]
        coefs = np.zeros((8, 8), dtype=np.int64)
        coefs[0, 0] = 8 * (c - 128)
        if coef:
            coefs[u, v] = coef
        blocks.append(coefs)
    return encode_jpeg_gray(w, h, blocks, dri=4 if d % 3 == 0 else 0)


def synthetic_jpeg_payloads(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic REAL-JPEG fixture generator (see
    _jpeg_fixture_payload): payloads round-trip Huffman entropy coding,
    byte stuffing, and (on a third of docs) restart-marker scheduling."""
    out_schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("payload", BinaryType()),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids = pdf[id_col].astype("int64")
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "payload": [_jpeg_fixture_payload(int(d)) for d in ids],
                }
            )

    return _map_stage(df, [id_col], batches, out_schema)


JPEG_STATS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_blocks", IntegerType()),
        StructField("sum_px", LongType()),
        StructField("min_px", IntegerType()),
        StructField("max_px", IntegerType()),
    ]
)


def jpeg_decode_stats(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """REAL DCT-family decode + feature extraction over mapInPandas:
    full baseline JPEG decode per payload, then integer-exact pixel
    aggregates (sum/min/max) that any entropy-coding, dequant, zigzag,
    IDCT, rounding, or restart-handling slip would shift."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in it:
            ws, hs, nb, sums, mins, maxs = [], [], [], [], [], []
            for p in pdf["payload"]:
                w, h, px = decode_jpeg_gray(bytes(p))
                ws.append(w)
                hs.append(h)
                nb.append((w // 8) * (h // 8))
                sums.append(int(px.astype(np.int64).sum()))
                mins.append(int(px.min()))
                maxs.append(int(px.max()))
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "width": pd.array(ws, dtype="int32"),
                    "height": pd.array(hs, dtype="int32"),
                    "n_blocks": pd.array(nb, dtype="int32"),
                    "sum_px": pd.array(sums, dtype="int64"),
                    "min_px": pd.array(mins, dtype="int32"),
                    "max_px": pd.array(maxs, dtype="int32"),
                }
            )

    return _map_stage(df, [id_col, "payload"], batches, JPEG_STATS_SCHEMA)


# ---------------------------------------------------------------------------
# Color JPEG lane (round 6): 3-component YCbCr SOF0 with 4:2:0 chroma
# subsampling — the mainstream photographic-JPEG shape (VERDICT r5 #5).
# Adds on top of the grayscale lane: MCU interleaving (4 Y + Cb + Cr per
# 16x16 MCU), per-component DC predictors, the Annex K CHROMINANCE Huffman
# tables (ids 1), a second quant table, 2x2 replication chroma upsample,
# and libjpeg's integer fixed-point YCbCr->RGB (scale 2^16 — power-of-two
# denominator, so the oracle's FLOOR(x / 65536.0) replays it bit-exactly).
# ---------------------------------------------------------------------------

# Standard chrominance Huffman tables (T.81 Annex K.3.3.2).
_JPEG_DC_BITS_C = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
_JPEG_DC_VALS_C = list(range(12))
_JPEG_AC_BITS_C = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
_JPEG_AC_VALS_C = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
    0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
    0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
    0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
    0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
    0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
    0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
    0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
    0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
    0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
    0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
]
assert sum(_JPEG_AC_BITS_C) == len(_JPEG_AC_VALS_C)

# libjpeg fixed-point YCbCr->RGB constants: round(coef * 2^16). The
# divisor is a power of two, so floor((k*c' + 32768) / 65536) is exact in
# ANY engine's float division — the cross-engine determinism hinge.
_FIX_RCR = 91881  # 1.40200
_FIX_GCB = 22554  # 0.34414
_FIX_GCR = 46802  # 0.71414
_FIX_BCB = 116130  # 1.77200


def _jpeg_block_bits(w, coefs, pred, dc_codes, ac_codes):
    """Entropy-code one quantized 8x8 block (zigzag, DC diff, ZRL/EOB AC)
    into writer `w`; returns the new DC predictor."""
    import numpy as np

    z = [int(np.asarray(coefs).reshape(64)[r]) for r in _JPEG_ZIGZAG]
    diff = z[0] - pred
    s = _jpeg_category(diff)
    w.write(*dc_codes[s])
    if s:
        w.write(diff if diff >= 0 else diff + (1 << s) - 1, s)
    run = 0
    for t in range(1, 64):
        v = z[t]
        if v == 0:
            run += 1
            continue
        while run > 15:
            w.write(*ac_codes[0xF0])
            run -= 16
        s = _jpeg_category(v)
        w.write(*ac_codes[(run << 4) | s])
        w.write(v if v >= 0 else v + (1 << s) - 1, s)
        run = 0
    if run:
        w.write(*ac_codes[0x00])
    return z[0]


def encode_jpeg_color(
    width, height, y_blocks, cb_blocks, cr_blocks, dri: int = 0
) -> bytes:
    """REAL baseline color JPEG (T.81 SOF0, YCbCr 4:2:0): 16x16 MCUs of
    four Y blocks (luminance tables, Tq 0) + one Cb + one Cr (chrominance
    tables, Tq 1), interleaved Y00 Y01 Y10 Y11 Cb Cr with per-component
    DC predictors. `y_blocks` is raster-ordered over the full-res Y block
    grid; `cb_blocks`/`cr_blocks` raster-ordered over the half-res chroma
    grid (one block per MCU). `dri` is in MCUs. Quant tables are all ones
    (fixture exactness), both emitted in one DQT segment."""
    if width % 16 or height % 16:
        raise ValueError("fixture color JPEGs are 16x16-aligned")
    dc_y = _jpeg_canonical_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_y = _jpeg_canonical_codes(_JPEG_AC_BITS, _JPEG_AC_VALS)
    dc_c = _jpeg_canonical_codes(_JPEG_DC_BITS_C, _JPEG_DC_VALS_C)
    ac_c = _jpeg_canonical_codes(_JPEG_AC_BITS_C, _JPEG_AC_VALS_C)

    w = _JpegBitWriter()
    mx, my = width // 16, height // 16
    ybw = width // 8
    preds = [0, 0, 0]  # Y, Cb, Cr
    n_since_rst = 0
    rst_idx = 0
    for mi in range(mx * my):
        if dri and mi and n_since_rst == dri:
            w.flush_ones()
            w.out += bytes([0xFF, 0xD0 + rst_idx])
            rst_idx = (rst_idx + 1) % 8
            n_since_rst = 0
            preds = [0, 0, 0]
        n_since_rst += 1
        mrow, mcol = divmod(mi, mx)
        for dy in range(2):
            for dx in range(2):
                yb = y_blocks[(mrow * 2 + dy) * ybw + (mcol * 2 + dx)]
                preds[0] = _jpeg_block_bits(w, yb, preds[0], dc_y, ac_y)
        preds[1] = _jpeg_block_bits(w, cb_blocks[mi], preds[1], dc_c, ac_c)
        preds[2] = _jpeg_block_bits(w, cr_blocks[mi], preds[2], dc_c, ac_c)
    w.flush_ones()

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + (len(body) + 2).to_bytes(2, "big") + body

    dqt = seg(
        0xDB,
        bytes([0x00]) + bytes([1] * 64) + bytes([0x01]) + bytes([1] * 64),
    )
    sof0 = seg(
        0xC0,
        bytes([8])
        + height.to_bytes(2, "big")
        + width.to_bytes(2, "big")
        + bytes([3])
        + bytes([1, 0x22, 0])  # Y: 2x2 sampling, Tq 0
        + bytes([2, 0x11, 1])  # Cb: 1x1, Tq 1
        + bytes([3, 0x11, 1]),  # Cr: 1x1, Tq 1
    )
    dht = (
        seg(0xC4, bytes([0x00]) + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS))
        + seg(0xC4, bytes([0x10]) + bytes(_JPEG_AC_BITS) + bytes(_JPEG_AC_VALS))
        + seg(
            0xC4, bytes([0x01]) + bytes(_JPEG_DC_BITS_C) + bytes(_JPEG_DC_VALS_C)
        )
        + seg(
            0xC4, bytes([0x11]) + bytes(_JPEG_AC_BITS_C) + bytes(_JPEG_AC_VALS_C)
        )
    )
    parts = [bytes([0xFF, 0xD8]), dqt, sof0, dht]
    if dri:
        parts.append(seg(0xDD, dri.to_bytes(2, "big")))
    # SOS: 3 components; Y -> DC/AC table 0, Cb/Cr -> DC/AC table 1
    parts.append(seg(0xDA, bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0])))
    parts.append(bytes(w.out))
    parts.append(bytes([0xFF, 0xD9]))
    return b"".join(parts)


def decode_jpeg_color(payload: bytes):
    """Parse and FULLY decode a REAL baseline color JPEG (SOF0, YCbCr,
    4:2:0 — sampling 0x22/0x11/0x11, 16x16-aligned) into (width, height,
    rgb ndarray (h, w, 3) uint8).

    Pipeline beyond the grayscale decoder: multi-table DQT/DHT (luma ids
    0, chroma ids 1), SOS component->table selector map, MCU-interleaved
    entropy decode (Y00 Y01 Y10 Y11 Cb Cr) with per-COMPONENT DC
    predictors (all reset at restart markers), per-component dequant +
    IDCT, 2x replication chroma upsample, and libjpeg's integer
    fixed-point YCbCr->RGB (scale 2^16, floor((k*c'+32768)/65536) — exact
    in float because the divisor is a power of two). Raises ValueError on
    anything unsupported or malformed."""
    import numpy as np

    if len(payload) < 4 or payload[0:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (no SOI)")
    pos = 2
    qt = {}
    dc_maps: dict = {}
    ac_maps: dict = {}
    width = height = None
    dri = 0
    comp = []  # (id, h, v, tq) in SOF order
    scan_sel = {}  # component id -> (dc table id, ac table id)
    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError("JPEG marker misalignment")
        marker = payload[pos + 1]
        if marker == 0xD9:
            raise ValueError("JPEG has no scan data")
        size = int.from_bytes(payload[pos + 2 : pos + 4], "big")
        body = payload[pos + 4 : pos + 2 + size]
        if len(body) != size - 2:
            raise ValueError("truncated JPEG segment")
        if marker == 0xDB:
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 0x0F
                if pq != 0:
                    raise ValueError("16-bit quant tables unsupported")
                if i + 65 > len(body):
                    raise ValueError("truncated DQT")
                qt[tq] = np.array(list(body[i + 1 : i + 65]), dtype=np.int64)
                i += 65
        elif marker == 0xC0:
            if body[0] != 8:
                raise ValueError("only 8-bit precision supported")
            height = int.from_bytes(body[1:3], "big")
            width = int.from_bytes(body[3:5], "big")
            nc = body[5]
            if nc != 3:
                raise ValueError("color decoder needs exactly 3 components")
            for c in range(3):
                cid, hv, tq = body[6 + 3 * c], body[7 + 3 * c], body[8 + 3 * c]
                comp.append((cid, hv >> 4, hv & 0x0F, tq))
            if (comp[0][1], comp[0][2]) != (2, 2) or any(
                (c[1], c[2]) != (1, 1) for c in comp[1:]
            ):
                raise ValueError("only 4:2:0 (2x2 luma, 1x1 chroma) supported")
            if width % 16 or height % 16:
                raise ValueError("non-16x16-aligned color JPEGs unsupported")
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7):
            raise ValueError("only baseline SOF0 supported")
        elif marker == 0xC4:
            i = 0
            while i < len(body):
                tc, th = body[i] >> 4, body[i] & 0x0F
                bits = list(body[i + 1 : i + 17])
                nv = sum(bits)
                vals = list(body[i + 17 : i + 17 + nv])
                if len(vals) != nv:
                    raise ValueError("truncated DHT")
                (dc_maps if tc == 0 else ac_maps)[th] = _jpeg_decode_map(
                    bits, vals
                )
                i += 17 + nv
        elif marker == 0xDD:
            dri = int.from_bytes(body[0:2], "big")
        elif marker == 0xDA:
            ns = body[0]
            if ns != 3:
                raise ValueError("interleaved 3-component scan required")
            for c in range(ns):
                cid, tsel = body[1 + 2 * c], body[2 + 2 * c]
                scan_sel[cid] = (tsel >> 4, tsel & 0x0F)
            pos += 2 + size
            break
        pos += 2 + size
    else:
        raise ValueError("JPEG missing SOS")
    if width is None or not comp:
        raise ValueError("JPEG missing SOF0 before SOS")
    for cid, _h, _v, tq in comp:
        if cid not in scan_sel:
            raise ValueError("SOS missing a SOF component")
        td, ta = scan_sel[cid]
        if td not in dc_maps or ta not in ac_maps or tq not in qt:
            raise ValueError("JPEG missing DHT/DQT table for a component")

    m = _idct_matrix()
    mx, my = width // 16, height // 16
    ypl = np.zeros((height, width), dtype=np.int64)
    cbpl = np.zeros((height // 2, width // 2), dtype=np.int64)
    crpl = np.zeros((height // 2, width // 2), dtype=np.int64)
    rd = _JpegBitReader(payload, pos)
    preds = [0, 0, 0]
    n_since_rst = 0
    rst_idx = 0

    def read_block(ci: int):
        cid, _h, _v, tq = comp[ci]
        td, ta = scan_sel[cid]
        z = np.zeros(64, dtype=np.int64)
        s = rd.read_symbol(dc_maps[td])
        diff = _jpeg_extend(rd.read_bits(s), s) if s else 0
        preds[ci] += diff
        z[0] = preds[ci]
        t = 1
        while t < 64:
            rs = rd.read_symbol(ac_maps[ta])
            if rs == 0x00:
                break
            run, s = rs >> 4, rs & 0x0F
            if s == 0:
                if run != 15:
                    raise ValueError("invalid AC symbol")
                t += 16
                continue
            t += run
            if t > 63:
                raise ValueError("AC run overflows block")
            z[t] = _jpeg_extend(rd.read_bits(s), s)
            t += 1
        coefs = np.zeros(64, dtype=np.int64)
        coefs[_JPEG_ZIGZAG] = z * qt[tq][np.arange(64)]
        px = m.T @ coefs.reshape(8, 8).astype(np.float64) @ m + 128.0
        return np.clip(np.rint(px), 0, 255).astype(np.int64)

    for mi in range(mx * my):
        if dri and mi and n_since_rst == dri:
            rd.sync_restart(rst_idx)
            rst_idx = (rst_idx + 1) % 8
            n_since_rst = 0
            preds = [0, 0, 0]
        n_since_rst += 1
        mrow, mcol = divmod(mi, mx)
        for dy in range(2):
            for dx in range(2):
                blk = read_block(0)
                y0, x0 = mrow * 16 + dy * 8, mcol * 16 + dx * 8
                ypl[y0 : y0 + 8, x0 : x0 + 8] = blk
        cbpl[
            mrow * 8 : mrow * 8 + 8, mcol * 8 : mcol * 8 + 8
        ] = read_block(1)
        crpl[
            mrow * 8 : mrow * 8 + 8, mcol * 8 : mcol * 8 + 8
        ] = read_block(2)

    # 2x replication upsample (the classic fast path) then integer
    # fixed-point conversion; // on int64 ndarrays floors, matching the
    # oracle's FLOOR.
    cb = np.repeat(np.repeat(cbpl, 2, axis=0), 2, axis=1) - 128
    cr = np.repeat(np.repeat(crpl, 2, axis=0), 2, axis=1) - 128
    r = ypl + (_FIX_RCR * cr + 32768) // 65536
    g = ypl - (_FIX_GCB * cb + _FIX_GCR * cr + 32768) // 65536
    b = ypl + (_FIX_BCB * cb + 32768) // 65536
    rgb = np.stack(
        [np.clip(r, 0, 255), np.clip(g, 0, 255), np.clip(b, 0, 255)], axis=-1
    ).astype(np.uint8)
    return width, height, rgb


def _jpeg_color_fixture_dims(d: int) -> tuple[int, int]:
    return 16 + (d % 3) * 16, 16 + (d % 2) * 16


def _jpeg_color_fixture_payload(d: int) -> bytes:
    """One REAL 4:2:0 color JPEG per doc_id: w in {16,32,48}, h in
    {16,32}. MCU m's Y sub-block j carries DC constant
    (d*13 + m*41 + j*29) % 256 with planted AC pattern (d + m + j) % 4;
    the MCU's Cb/Cr blocks carry DC 64 + (d*7 + m*31) % 128 /
    64 + (d*11 + m*37) % 128 with patterns (d + m) % 4 / (d + m + 2) % 4
    (bases keep chroma clear of clamping so the closed form stays exact).
    Every third doc uses restart interval 1 MCU — d % 3 == 0 pins w = 16,
    so odd multiples of 3 (h = 32, 2 MCUs) genuinely emit an RST0 with a
    triple-predictor reset; DRI > n_mcus would never fire."""
    import numpy as np

    w, h = _jpeg_color_fixture_dims(d)
    mx, my = w // 16, h // 16
    ybw = w // 8
    y_blocks = [None] * (ybw * (h // 8))
    cb_blocks, cr_blocks = [], []

    def planted(base: int, pat: int):
        u, v, coef = JPEG_PATTERNS[pat]
        coefs = np.zeros((8, 8), dtype=np.int64)
        coefs[0, 0] = 8 * (base - 128)
        if coef:
            coefs[u, v] = coef
        return coefs

    for mi in range(mx * my):
        mrow, mcol = divmod(mi, mx)
        for j, (dy, dx) in enumerate(((0, 0), (0, 1), (1, 0), (1, 1))):
            yc = (d * 13 + mi * 41 + j * 29) % 256
            y_blocks[(mrow * 2 + dy) * ybw + (mcol * 2 + dx)] = planted(
                yc, (d + mi + j) % 4
            )
        cb_blocks.append(planted(64 + (d * 7 + mi * 31) % 128, (d + mi) % 4))
        cr_blocks.append(
            planted(64 + (d * 11 + mi * 37) % 128, (d + mi + 2) % 4)
        )
    return encode_jpeg_color(
        w, h, y_blocks, cb_blocks, cr_blocks, dri=1 if d % 3 == 0 else 0
    )


def synthetic_jpeg_color_payloads(
    df: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic REAL color-JPEG fixture generator (see
    _jpeg_color_fixture_payload): payloads round-trip MCU interleaving,
    dual Huffman table sets, chroma subsampling, and (on a third of docs)
    restart scheduling with triple-predictor resets."""
    out_schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("payload", BinaryType()),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids = pdf[id_col].astype("int64")
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "payload": [
                        _jpeg_color_fixture_payload(int(d)) for d in ids
                    ],
                }
            )

    return _map_stage(df, [id_col], batches, out_schema)


JPEG_COLOR_STATS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_mcus", IntegerType()),
        StructField("sum_r", LongType()),
        StructField("sum_g", LongType()),
        StructField("sum_b", LongType()),
        StructField("min_px", IntegerType()),
        StructField("max_px", IntegerType()),
    ]
)


def jpeg_color_decode_stats(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Full color decode + integer-exact per-channel aggregates: any slip
    in MCU interleave order, per-component prediction, chroma table
    selection, upsample alignment, or the fixed-point color transform
    shifts a channel sum and fails the value hash."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in it:
            ws, hs, nm = [], [], []
            sr, sg, sb, mn, mx = [], [], [], [], []
            for p in pdf["payload"]:
                w, h, rgb = decode_jpeg_color(bytes(p))
                ws.append(w)
                hs.append(h)
                nm.append((w // 16) * (h // 16))
                px = rgb.astype(np.int64)
                sr.append(int(px[:, :, 0].sum()))
                sg.append(int(px[:, :, 1].sum()))
                sb.append(int(px[:, :, 2].sum()))
                mn.append(int(px.min()))
                mx.append(int(px.max()))
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "width": pd.array(ws, dtype="int32"),
                    "height": pd.array(hs, dtype="int32"),
                    "n_mcus": pd.array(nm, dtype="int32"),
                    "sum_r": pd.array(sr, dtype="int64"),
                    "sum_g": pd.array(sg, dtype="int64"),
                    "sum_b": pd.array(sb, dtype="int64"),
                    "min_px": pd.array(mn, dtype="int32"),
                    "max_px": pd.array(mx, dtype="int32"),
                }
            )

    return _map_stage(df, [id_col, "payload"], batches, JPEG_COLOR_STATS_SCHEMA)


# ---------------------------------------------------------------------------
# G.711 mu-law: a REAL compressed-audio codec (logarithmic companding)
# ---------------------------------------------------------------------------

_MU_BIAS = 0x84  # 132
_MU_CLIP = 32635


def mulaw_compress(samples):
    """Vectorized G.711 mu-law encoder: int16 PCM -> uint8 codes.

    Public-spec algorithm (ITU-T G.711): sign bit from the sample, clip
    magnitude at 32635, add bias 0x84, segment (exponent) = position of
    the magnitude's top bit minus 7, 4-bit mantissa below it, then
    one's-complement the packed byte.
    """
    import numpy as np

    x = np.asarray(samples, dtype=np.int64)
    sign = np.where(x < 0, 0x80, 0)
    mag = np.minimum(np.abs(x), _MU_CLIP) + _MU_BIAS
    thresholds = 256 << np.arange(7, dtype=np.int64)  # 256 .. 16384
    e = (mag[:, None] >= thresholds[None, :]).sum(axis=1)
    mantissa = (mag >> (e + 3)) & 0x0F
    return (~(sign | (e << 4) | mantissa) & 0xFF).astype(np.uint8)


def mulaw_expand(codes):
    """Vectorized G.711 mu-law decoder: uint8 codes -> int16 PCM (the
    quantized magnitudes the encoder's segment/mantissa can represent)."""
    import numpy as np

    u = (~np.asarray(codes, dtype=np.int64)) & 0xFF
    sign = u & 0x80
    e = (u >> 4) & 0x07
    m = u & 0x0F
    mag = (((m << 3) + _MU_BIAS) << e) - _MU_BIAS
    return np.where(sign != 0, -mag, mag).astype(np.int16)


def encode_wav_mulaw(sample_rate: int, channels: int, samples) -> bytes:
    """RIFF/WAVE container holding G.711 mu-law (audio_format=7, 8 bits
    per sample) — the standard telephony WAV variant. ``samples`` is the
    interleaved int16 stream; it is companded here."""
    import numpy as np

    codes = mulaw_compress(np.asarray(samples, dtype=np.int64)).tobytes()
    block_align = channels  # 1 byte per sample
    byte_rate = sample_rate * block_align

    def _le(v: int, n: int) -> bytes:
        return int(v).to_bytes(n, "little")

    fmt = (
        b"fmt "
        + _le(16, 4)
        + _le(7, 2)  # WAVE_FORMAT_MULAW
        + _le(channels, 2)
        + _le(sample_rate, 4)
        + _le(byte_rate, 4)
        + _le(block_align, 2)
        + _le(8, 2)  # bits/sample
    )
    data = b"data" + _le(len(codes), 4) + codes + (
        b"\x00" if len(codes) % 2 else b""
    )
    body = b"WAVE" + fmt + data
    return b"RIFF" + _le(len(body), 4) + body


def synthetic_mulaw_payloads(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic mu-law fixture generator: same closed-form contract
    as synthetic_wav_payloads but companded through the REAL encoder —

        channels     = 1 + id % 2
        sample_rate  = 8000 + (id % 3) * 4000
        n_frames     = 300 + id % 201
        interleaved sample i = ((id*53 + i*29) % 8001) - 4000

    (the wider +-4000 range exercises exponent segments 0..5). The SQL
    oracle replays the ENCODE+DECODE quantization in closed form
    (clip/bias/segment/mantissa as integer CASE + bit ops), so a single
    wrong mantissa bit in either companding direction shifts the
    amplitude sums and fails the hash. Every third id carries the same
    odd-size LIST chunk splice as the PCM fixtures.
    """
    out_schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("payload", BinaryType()),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in it:
            payloads = []
            ids = pdf[id_col].astype("int64")
            for d in ids:
                d = int(d)
                channels = 1 + d % 2
                rate = 8000 + (d % 3) * 4000
                n_frames = 300 + d % 201
                i = np.arange(n_frames * channels, dtype=np.int64)
                samples = ((d * 53 + i * 29) % 8001) - 4000
                wav = encode_wav_mulaw(rate, channels, samples)
                if d % 3 == 0:
                    info = b"INFOICMT" + (7).to_bytes(4, "little") + b"fixture"
                    lst = b"LIST" + len(info).to_bytes(4, "little") + info + b"\x00"
                    body = wav[12:]
                    wav = (
                        b"RIFF"
                        + (4 + len(lst) + len(body)).to_bytes(4, "little")
                        + b"WAVE"
                        + lst
                        + body
                    )
                payloads.append(wav)
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    return _map_stage(df, [id_col], batches, out_schema)


WAV_SAMPLES_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("i", IntegerType()),
        StructField("dec", IntegerType()),
    ]
)


def wav_decoded_samples(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Explode each decoded WAV payload to (doc_id, interleaved sample
    index, decoded int16 value) rows — the per-sample view distortion
    audits join against. One Arrow batch in, one long frame out; the
    explode happens in numpy, not per-row Python."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in it:
            ids, idxs, vals = [], [], []
            for d, p in zip(pdf[id_col].astype("int64"), pdf["payload"]):
                _, _, frames = decode_wav(bytes(p))
                flat = frames.ravel().astype(np.int64)
                ids.append(np.full(flat.size, int(d), dtype=np.int64))
                idxs.append(np.arange(flat.size, dtype=np.int32))
                vals.append(flat.astype(np.int32))
            if not ids:
                yield pd.DataFrame({"doc_id": [], "i": [], "dec": []})
                continue
            yield pd.DataFrame(
                {
                    "doc_id": np.concatenate(ids),
                    "i": np.concatenate(idxs),
                    "dec": np.concatenate(vals),
                }
            )

    return _map_stage(df, [id_col, "payload"], batches, WAV_SAMPLES_SCHEMA)


# ---------------------------------------------------------------------------
# IMA ADPCM (DVI4 / WAVE_FORMAT_IMA_ADPCM 0x11) — round 7. A genuinely
# STATEFUL codec: every 4-bit nibble is quantized against a (predictor,
# step-index) pair that the previous nibble mutated, so one wrong bit
# anywhere corrupts the entire tail — exactly the property the SQL
# oracle exploits by replaying the whole encode+decode fold per doc
# (list-accumulator list_reduce; all integer arithmetic).
# ---------------------------------------------------------------------------

IMA_STEP_TABLE = [
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
]
IMA_INDEX_TABLE = [-1, -1, -1, -1, 2, 4, 6, 8]


def _ima_step(pred: int, idx: int, sample: int) -> tuple[int, int, int]:
    """One IMA ADPCM encode step: quantize (sample - pred) to a 4-bit
    code against step_table[idx], return (code, new_pred, new_idx) with
    the DECODER's reconstruction (so encoder and decoder predictors stay
    in lockstep — the spec's defining property)."""
    step = IMA_STEP_TABLE[idx]
    diff = sample - pred
    code = 0
    if diff < 0:
        code = 8
        diff = -diff
    if diff >= step:
        code |= 4
        diff -= step
    if diff >= step >> 1:
        code |= 2
        diff -= step >> 1
    if diff >= step >> 2:
        code |= 1
    diffq = step >> 3
    if code & 4:
        diffq += step
    if code & 2:
        diffq += step >> 1
    if code & 1:
        diffq += step >> 2
    pred = pred - diffq if code & 8 else pred + diffq
    pred = max(-32768, min(32767, pred))
    idx = max(0, min(88, idx + IMA_INDEX_TABLE[code & 7]))
    return code, pred, idx


def adpcm_encode(samples, start_idx: int = 0) -> tuple[int, bytes]:
    """Encode an int sequence as one IMA ADPCM block body: 4-byte header
    (predictor = exact first sample, step index, reserved) + low-first
    nibble pairs for samples[1:]. Returns (n_samples, block_bytes)."""
    n, block, _ = adpcm_encode_block(samples, start_idx)
    return n, block


def adpcm_encode_block(samples, start_idx: int = 0) -> tuple[int, bytes, int]:
    """One-block encode that also returns the END step index, so a
    multi-block encoder can carry the adapted step across block
    boundaries (each block header still stores its own predictor+index,
    keeping every block independently decodable — the spec's seekability
    property)."""
    import numpy as np

    s = [int(v) for v in np.asarray(samples, dtype=np.int64)]
    if not s:
        return 0, b"", start_idx
    pred = max(-32768, min(32767, s[0]))
    idx = max(0, min(88, int(start_idx)))
    out = bytearray()
    out += int(pred & 0xFFFF).to_bytes(2, "little")
    out.append(idx)
    out.append(0)
    nibbles = []
    for v in s[1:]:
        code, pred, idx = _ima_step(pred, idx, v)
        nibbles.append(code)
    if len(nibbles) % 2:
        nibbles.append(0)  # pad nibble, ignored via samples_per_block
    for lo, hi in zip(nibbles[::2], nibbles[1::2]):
        out.append(lo | (hi << 4))
    return len(s), bytes(out), idx


def adpcm_decode_block(block: bytes, n_samples: int):
    """Decode one IMA ADPCM block body back to int16 samples."""
    import numpy as np

    if n_samples == 0 or len(block) < 4:
        return np.zeros(0, dtype=np.int16)
    pred = int.from_bytes(block[0:2], "little", signed=False)
    if pred >= 32768:
        pred -= 65536
    idx = block[2]
    out = [pred]
    need = n_samples - 1
    for b in block[4:]:
        for code in (b & 0x0F, b >> 4):
            if need == 0:
                break
            step = IMA_STEP_TABLE[idx]
            diffq = step >> 3
            if code & 4:
                diffq += step
            if code & 2:
                diffq += step >> 1
            if code & 1:
                diffq += step >> 2
            pred = pred - diffq if code & 8 else pred + diffq
            pred = max(-32768, min(32767, pred))
            idx = max(0, min(88, idx + IMA_INDEX_TABLE[code & 7]))
            out.append(pred)
            need -= 1
    return np.asarray(out, dtype=np.int16)


_ADPCM_STD_BLOCK_SAMPLES = 505  # 256-byte mono blocks: 4 + 504/2


def encode_wav_adpcm(
    sample_rate: int, samples, block_samples: int | None = None
) -> bytes:
    """RIFF/WAVE container, WAVE_FORMAT_IMA_ADPCM (0x11), mono.

    Short inputs (and explicit ``block_samples`` >= n) emit the legacy
    ONE-block form byte-identically (no fact chunk — the committed
    fixture hashes stay valid). Longer inputs auto-block at the standard
    505 samples / 256 bytes: uniform block_align, each block's header
    re-seeds the predictor from its first sample while the adapted step
    index carries across blocks, and a ``fact`` chunk records the true
    total sample count (the spec's way to drop the final block's pad)."""
    import numpy as np

    s = np.asarray(samples, dtype=np.int64)
    n_total = len(s)
    if block_samples is not None and not 1 <= block_samples <= 0xFFFF:
        # samples-per-block is a 2-byte field; silently wrapping it would
        # make decode return a truncated array with no error.
        raise ValueError(
            f"samples per block must be in [1, 65535], got {block_samples}"
        )

    def _le(v: int, nb: int) -> bytes:
        return int(v).to_bytes(nb, "little")

    single = block_samples is None and n_total <= 0xFFFF
    if block_samples is None:
        block_samples = n_total if single else _ADPCM_STD_BLOCK_SAMPLES
    single = single or n_total <= block_samples

    if single:
        n, block = adpcm_encode(s)
        block_align, spb, data_body, fact = len(block), n, block, b""
    else:
        spb = block_samples
        block_align = 4 + (spb - 1 + 1) // 2
        idx = 0
        chunks = []
        for off in range(0, n_total, spb):
            _, block, idx = adpcm_encode_block(s[off : off + spb], idx)
            chunks.append(block.ljust(block_align, b"\x00"))
        data_body = b"".join(chunks)
        fact = b"fact" + _le(4, 4) + _le(n_total, 4)

    fmt = (
        b"fmt "
        + _le(20, 4)
        + _le(0x11, 2)  # WAVE_FORMAT_IMA_ADPCM
        + _le(1, 2)  # mono
        + _le(sample_rate, 4)
        + _le(max(1, (sample_rate * block_align) // max(spb, 1)), 4)
        + _le(block_align, 2)
        + _le(4, 2)  # bits per (encoded) sample
        + _le(2, 2)  # cbSize
        + _le(spb, 2)  # samples per block
    )
    data = b"data" + _le(len(data_body), 4) + data_body + (
        b"\x00" if len(data_body) % 2 else b""
    )
    body = b"WAVE" + fmt + fact + data
    return b"RIFF" + _le(len(body), 4) + body


def decode_wav_adpcm(payload: bytes):
    """Parse + decode a mono IMA ADPCM WAV produced by encode_wav_adpcm.
    Without a ``fact`` chunk the data is one block of samples_per_block
    samples (the legacy form); with one, the data is split at
    block_align strides and the fact chunk's total sample count trims
    the final block's padding. Returns (sample_rate, n_samples,
    int16 samples)."""
    import numpy as np

    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    fmt = data = fact = None
    i = 12
    end = min(len(payload), 8 + int.from_bytes(payload[4:8], "little"))
    while i + 8 <= end:
        cid = payload[i : i + 4]
        size = int.from_bytes(payload[i + 4 : i + 8], "little")
        body = payload[i + 8 : i + 8 + size]
        if len(body) != size:
            raise ValueError("truncated WAV chunk")
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        elif cid == b"fact" and size >= 4:
            fact = int.from_bytes(body[0:4], "little")
        i += 8 + size + (size % 2)
    if fmt is None or data is None or len(fmt) < 20:
        raise ValueError("WAV missing fmt/data chunk")
    if int.from_bytes(fmt[0:2], "little") != 0x11:
        raise ValueError("not IMA ADPCM")
    if int.from_bytes(fmt[2:4], "little") != 1:
        raise ValueError("only mono IMA ADPCM supported here")
    sample_rate = int.from_bytes(fmt[4:8], "little")
    spb = int.from_bytes(fmt[18:20], "little")
    if fact is None:
        return sample_rate, spb, adpcm_decode_block(data, spb)
    block_align = int.from_bytes(fmt[12:14], "little")
    if block_align < 4:
        raise ValueError("IMA ADPCM block_align must be >= 4")
    parts = []
    remaining = fact
    for off in range(0, len(data), block_align):
        if remaining <= 0:
            break
        take = min(spb, remaining)
        parts.append(adpcm_decode_block(data[off : off + block_align], take))
        remaining -= take
    if remaining > 0:
        raise ValueError("fact count exceeds decodable blocks")
    samples = (
        np.concatenate(parts) if parts else np.zeros(0, dtype=np.int16)
    )
    return sample_rate, fact, samples


def synthetic_adpcm_payloads(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic IMA ADPCM fixtures (mono):

        sample_rate = 8000 + (id % 3) * 4000
        n_samples   = 240 + id % 161
        sample i    = ((id * 53 + i * 29) % 8001) - 4000

    — the mu-law fixture contract with a stateful codec behind it. The
    SQL oracle replays the full encode+decode fold from the closed-form
    samples, so the actual bytes and the analytic replay must agree on
    every reconstructed sample."""
    out_schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("payload", BinaryType()),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in it:
            ids = pdf[id_col].astype("int64")
            payloads = []
            for d in ids:
                d = int(d)
                rate = 8000 + (d % 3) * 4000
                n = 240 + d % 161
                i = np.arange(n, dtype=np.int64)
                samples = ((d * 53 + i * 29) % 8001) - 4000
                payloads.append(encode_wav_adpcm(rate, samples))
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    return _map_stage(df, [id_col], batches, out_schema)


def synthetic_adpcm_multiblock_payloads(
    df: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Multi-block IMA ADPCM fixtures (round 8): 2-3 standard 505-sample
    blocks per doc, same closed-form sample contract as the single-block
    fixture —

        sample_rate = 8000
        n_samples   = 900 + id % 300     (always > 505: >= 2 blocks)
        sample i    = ((id * 53 + i * 29) % 8001) - 4000

    so the SQL oracle can replay the encode+decode fold WITH the
    block-boundary semantics: predictor re-seeds from the block's first
    sample (stored exactly), the adapted step index carries across."""
    out_schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("payload", BinaryType()),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in it:
            ids = pdf[id_col].astype("int64")
            payloads = []
            for d in ids:
                d = int(d)
                n = 900 + d % 300
                i = np.arange(n, dtype=np.int64)
                samples = ((d * 53 + i * 29) % 8001) - 4000
                payloads.append(
                    encode_wav_adpcm(8000, samples, block_samples=505)
                )
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    return _map_stage(df, [id_col], batches, out_schema)


ADPCM_SAMPLES_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("i", IntegerType()),
        StructField("dec", IntegerType()),
    ]
)


def adpcm_decoded_samples(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(doc_id, sample index, reconstructed int16) rows from real ADPCM
    bytes — numpy explode inside the Arrow lane, same shape as
    wav_decoded_samples."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in it:
            ids, idxs, vals = [], [], []
            for d, p in zip(pdf[id_col].astype("int64"), pdf["payload"]):
                _, _, dec = decode_wav_adpcm(bytes(p))
                flat = dec.astype(np.int64)
                ids.append(np.full(flat.size, int(d), dtype=np.int64))
                idxs.append(np.arange(flat.size, dtype=np.int32))
                vals.append(flat.astype(np.int32))
            if not ids:
                yield pd.DataFrame({"doc_id": [], "i": [], "dec": []})
                continue
            yield pd.DataFrame(
                {
                    "doc_id": np.concatenate(ids),
                    "i": np.concatenate(idxs),
                    "dec": np.concatenate(vals),
                }
            )

    return _map_stage(df, [id_col, "payload"], batches, ADPCM_SAMPLES_SCHEMA)


# ---------------------------------------------------------------------------
# Perceptual-hash image near-dup (round 11): dHash over REAL decodes
# ---------------------------------------------------------------------------


def synthetic_raster_payloads_with_dups(
    df: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """synthetic_raster_payloads variant with PLANTED cross-format
    duplicates: ids with ``id % 10 == 7`` re-encode the PREVIOUS id's
    image (identical dimensions and pixel bytes, the other container
    format) — the classic "same image, different file" dup a byte-hash
    can never catch and a perceptual hash must (hamming 0)."""
    out_schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("payload", BinaryType()),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in it:
            payloads = []
            ids = pdf[id_col].astype("int64")
            for d in ids:
                d = int(d)
                e = d - 1 if d % 10 == 7 else d  # planted re-encode
                w, h = 8 + e % 9, 6 + e % 7
                # NONLINEAR pixel function (quadratic in the byte index,
                # multiplicative in the id): a linear ramp makes every
                # image's gradient signs near-identical, collapsing the
                # perceptual-hash space (first cut measured 45k collided
                # pairs at sf0.01). Values stay < ~2^48 so the SQL
                # oracle replays the identical arithmetic in BIGINT.
                # the (e // 256) term extends the pixel period past
                # mod-256 residues of e: without it, ids congruent mod
                # lcm(256, dims) share EXACT hashes and the 10x probe's
                # 500k-id corpus forms identical-hash classes whose
                # quadratic PAIR OUTPUT dominates the wall (a fixture
                # artifact, not a lane property)
                i = np.arange(3 * w * h, dtype=np.int64)
                rgb = (
                    (
                        (e + 1) * 7919 * (i + 1) * (i + 3)
                        + (e // 256 + 1) * 104729 * (i + 5)
                    )
                    % 256
                ).astype(np.uint8).tobytes()
                payloads.append(
                    encode_bmp(w, h, rgb) if d % 2 else encode_ppm(w, h, rgb)
                )
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    return _map_stage(df, [id_col], batches, out_schema)


DHASH_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("dhash", LongType()),
    ]
)


def raster_dhash(
    df: DataFrame, id_col: str = "doc_id", carry: tuple[str, ...] = ()
) -> DataFrame:
    """60-bit sampled-gradient perceptual hash over REAL raster decodes.

    ``carry`` names extra input columns passed through unchanged —
    the streaming firewall carries ``source`` this way instead of
    re-joining the stream to itself (a stream-stream join with
    unbounded state).

    Bit j (rows r = j // 8 of 8, columns c = j % 8 of 8) compares the
    integer luma (299R + 587G + 114B, exact) at nearest-sampled grid
    points x_c = c*w // 9 vs x_{c+1}, y_r = r*h // 8 — the dHash
    gradient sign. 60 bits (not 64) keeps the value positive in both
    engines' signed BIGINT, the simhash convention. Sampling instead of
    area-resize keeps the hash closed-form replayable by the SQL oracle
    while the Spark side still exercises the full binary decode path
    (header, stride, row order, channel order)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in it:
            hashes = []
            for p in pdf["payload"]:
                _fmt, w, h, rgb = decode_raster(bytes(p))
                # decode_raster may hand back a strided view (BMP
                # bottom-up row flip) — flatten contiguously first
                a = (
                    np.ascontiguousarray(np.asarray(rgb, dtype=np.uint8))
                    .reshape(-1)
                    .astype(np.int64)
                )
                val = 0
                for j in range(60):
                    r, c = j // 8, j % 8
                    y = r * h // 8
                    x0 = c * w // 9
                    x1 = (c + 1) * w // 9
                    i0 = 3 * (y * w + x0)
                    i1 = 3 * (y * w + x1)
                    l0 = 299 * a[i0] + 587 * a[i0 + 1] + 114 * a[i0 + 2]
                    l1 = 299 * a[i1] + 587 * a[i1 + 1] + 114 * a[i1 + 2]
                    if l0 < l1:
                        val |= 1 << j
                hashes.append(val)
            out = {"doc_id": pdf["doc_id"].astype("int64")}
            for c in carry:
                out[c] = pdf[c]
            out["dhash"] = pd.array(hashes, dtype="int64")
            yield pd.DataFrame(out)

    schema = StructType(
        [StructField("doc_id", LongType())]
        + [df.schema[c] for c in carry]
        + [StructField("dhash", LongType())]
    )
    return _map_stage(df, [id_col, *carry, "payload"], batches, schema)
