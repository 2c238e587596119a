"""Near-duplicate detection: shingles, MinHash + LSH banding, SimHash,
n-gram Jaccard.

Scale design (the 100 TB story):
- Shingling / MinHash signatures: narrow per-row higher-order expressions —
  no shuffle, embarrassingly parallel.
- LSH candidate generation: explode to (band_id, band_hash) keys and
  self-join — shuffle is proportional to docs x bands, NOT docs², and the
  band-hash join key is uniformly distributed (md5), so no skew.
- Exact n-gram Jaccard: explode distinct shingles and equi-join on shingle —
  at corpus scale you run it only on LSH candidates (candidate_pairs ->
  verify), which this module supports by composing the two.
- MinHash trick for cross-engine determinism: ONE md5 per shingle gives a
  30-bit base value; the k hash functions are affine transforms
  h_i(s) = (A_i * base(s) + B_i) mod P over it. One expensive hash per
  shingle instead of k — 16x less md5 work — and every constant is public
  arithmetic both engines compute bit-identically.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from shortvideohybridanalyticslakehouse_spark.functions.localrel import (
    local_rows_df,
)

DEFAULT_SHINGLE_K = 3
DEFAULT_NUM_HASHES = 16
DEFAULT_BAND_SIZE = 4  # 16 hashes -> 4 bands of 4

# Affine MinHash constants: P prime ~2^30 keeps (A_i * base + B_i) < 2^48 —
# no 64-bit overflow-semantics divergence between engines.
MINHASH_P = 1_000_000_007
MINHASH_A_STEP = 7919
MINHASH_B_STEP = 104_729


def hash60(col: Column) -> Column:
    """60-bit cross-engine hash: first 15 hex chars of md5 as BIGINT.

    THE determinism contract shared with every DuckDB oracle
    (CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT)) — change it here and
    in the oracles together, never in one place.
    """
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def shingles(col: Column, k: int = DEFAULT_SHINGLE_K) -> Column:
    """Distinct k-token shingles of lowercased whitespace-tokenized text.

    array<string>; shorter-than-k docs yield the full token string.
    """
    toks = F.split(F.lower(F.trim(col)), r"\s+")
    n = F.size(toks)
    idx = F.sequence(F.lit(1), F.greatest(n - F.lit(k - 1), F.lit(1)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, k)))
    )


def _py_grams(toks, k: int) -> list:
    """Python twin of ``shingles()`` applied to an already-split token
    array: k-token windows joined by a space, shorter-than-k docs yield
    the (up to k) leading tokens, de-duplicated. Order is NOT pinned to
    array_distinct's first-occurrence order — every consumer treats the
    grams as a SET (explode+distinct / hash-join / min-fold), so only
    set equality matters."""
    n = len(toks)
    out = []
    seen = set()
    for i in range(max(n - k + 1, 1)):
        g = " ".join(toks[i : i + k])
        if g not in seen:
            seen.add(g)
            out.append(g)
    return out


def _py_hash60(s: str) -> int:
    """Python twin of ``hash60``: first 15 hex chars of md5 as int.
    hashlib.md5 over UTF-8 bytes is bit-identical to Spark's md5()."""
    import hashlib  # noqa: PLC0415

    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


def minhash_sig_udf(k: int, num_hashes: int = DEFAULT_NUM_HASHES):
    """pandas UDF: token array -> 16-element MinHash signature, the
    vectorized twin of ``with_minhash`` (same distinct-shingle multiset,
    same md5-derived bases, same affine minima — exact int64 arithmetic,
    A_i * base < 2^47 so no overflow either engine). Replaces the 16
    INTERPRETED array_min(transform()) passes per row (guide §4.2);
    stream-safe (stateless projection). Tokenization stays in Catalyst
    so Java-regex split semantics are byte-identical.

    NULL token array (NULL text) -> [NULL x 16], matching the HOF path."""
    import pandas as pd  # noqa: PLC0415

    def _sig(toks_s):
        import numpy as np  # noqa: PLC0415

        a = np.array(
            [MINHASH_A_STEP * i + 1 for i in range(num_hashes)],
            dtype=np.int64,
        )
        b = np.array(
            [MINHASH_B_STEP * i for i in range(num_hashes)], dtype=np.int64
        )
        out = []
        for toks in toks_s:
            if toks is None:
                out.append([None] * num_hashes)
                continue
            bases = np.array(
                [_py_hash60(g) % MINHASH_P for g in _py_grams(toks, k)],
                dtype=np.int64,
            )
            sig = (
                (bases[:, None] * a[None, :] + b[None, :]) % MINHASH_P
            ).min(axis=0)
            out.append(sig.tolist())
        return pd.Series(out)

    return F.pandas_udf(_sig, "array<bigint>")


def gram_hash_udf(k: int):
    """pandas UDF: token array -> distinct k-gram hash60 values (the
    vectorized twin of ``transform(shingles(text, k), hash60)``); same
    set of 60-bit ints, computed per batch instead of per interpreted
    lambda. NULL token array -> NULL, matching the HOF path."""
    import pandas as pd  # noqa: PLC0415

    def _gh(toks_s):
        out = []
        for toks in toks_s:
            if toks is None:
                out.append(None)
                continue
            out.append([_py_hash60(g) for g in _py_grams(toks, k)])
        return pd.Series(out)

    return F.pandas_udf(_gh, "array<bigint>")


def shingle_bases(shingle_col: Column) -> Column:
    """Per-shingle 30-bit base hash: first 15 hex chars of md5 mod P.

    The ONE expensive hash per shingle; every MinHash function derives from
    it by cheap affine arithmetic.
    """
    return F.transform(shingle_col, lambda s: hash60(s) % F.lit(MINHASH_P))


def minhash_from_bases(
    bases_col: Column, num_hashes: int = DEFAULT_NUM_HASHES
) -> Column:
    """MinHash signature from precomputed base hashes (array<bigint>).

    sig[i] = min over shingles s of (A_i * base(s) + B_i) mod P.
    Callers should MATERIALIZE the bases into a column first (withColumn)
    so the md5 work runs once per row, not once per hash function.
    """
    minima = []
    for i in range(num_hashes):
        # bind constants OUTSIDE the lambda: a two-arg lambda would be
        # interpreted by F.transform as (element, index)
        a = F.lit(MINHASH_A_STEP * i + 1)
        b = F.lit(MINHASH_B_STEP * i)
        minima.append(
            F.array_min(
                F.transform(bases_col, lambda h: (a * h + b) % F.lit(MINHASH_P))
            )
        )
    return F.array(*minima)


def minhash_signature(
    shingle_col: Column, num_hashes: int = DEFAULT_NUM_HASHES
) -> Column:
    """MinHash signature (array<bigint>) straight from a shingle column.

    Convenience form; prefer with_minhash which materializes the base
    hashes so md5 is evaluated once per shingle.
    """
    return minhash_from_bases(shingle_bases(shingle_col), num_hashes)


def with_minhash(
    df: DataFrame,
    text_col: str = "text",
    k: int = DEFAULT_SHINGLE_K,
    num_hashes: int = DEFAULT_NUM_HASHES,
    out_col: str = "minhash",
) -> DataFrame:
    return (
        df.withColumn("_mh_bases", shingle_bases(shingles(F.col(text_col), k)))
        .withColumn(out_col, minhash_from_bases(F.col("_mh_bases"), num_hashes))
        .drop("_mh_bases")
    )


def lsh_bands(
    sig_col: Column,
    num_hashes: int = DEFAULT_NUM_HASHES,
    band_size: int = DEFAULT_BAND_SIZE,
) -> Column:
    """Band the signature: array of structs (band_id, band_hash).

    band_hash = md5 of the concatenated member hashes — the LSH bucket key.
    """
    n_bands = num_hashes // band_size
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.md5(
                    F.concat_ws(
                        "|", *[F.element_at(sig_col, b * band_size + j + 1) for j in range(band_size)]
                    )
                ).alias("band_hash"),
            )
            for b in range(n_bands)
        ]
    )


def minhash_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    sig_col: str = "minhash",
    num_hashes: int = DEFAULT_NUM_HASHES,
    band_size: int = DEFAULT_BAND_SIZE,
) -> DataFrame:
    """LSH candidate pairs (doc_a < doc_b) + MinHash-estimated Jaccard.

    Shuffle cost: |docs| x n_bands rows joined on (band_id, band_hash).
    Estimated Jaccard = fraction of agreeing signature positions.
    """
    # The band self-join runs on SKINNY (id, band) rows — a pair colliding
    # in several bands is emitted once per band, so carrying the signature
    # arrays through that multiplied shuffle is pure waste (measured 6.4M
    # pair rows x 2x16 bigints at sf0.1 before the dedup). Signatures are
    # re-attached AFTER the (doc_a, doc_b) dedup, joining the O(|docs|)
    # signature relation twice.
    banded = df.select(
        F.col(id_col),
        F.explode(lsh_bands(F.col(sig_col), num_hashes, band_size)).alias("band"),
    ).select(id_col, "band.band_id", "band.band_hash")
    a = banded.alias("a")
    # shuffle_hash: `banded` is |docs| x n_bands rows and GROWS with the
    # corpus — left to stats Spark broadcasts one side (driver collect +
    # single-threaded HashedRelation build; OOM at scale). Shuffling on
    # the band key is the plan that survives 100 TB, and AQE still splits
    # hot buckets (skew-join handles SHJ in Spark 4).
    b = banded.hint("shuffle_hash").alias("b")
    pair_ids = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    sigs = df.select(F.col(id_col), F.col(sig_col))
    pairs = (
        pair_ids.join(
            sigs.select(
                F.col(id_col).alias("doc_a"), F.col(sig_col).alias("sig_a")
            ),
            "doc_a",
        )
        .join(
            sigs.select(
                F.col(id_col).alias("doc_b"), F.col(sig_col).alias("sig_b")
            ),
            "doc_b",
        )
    )
    # (r13: an unrolled codegen sum of element_at comparisons was
    # measured against this HOF and was NEUTRAL at sf0.1 — 1.00 on
    # near_dup_lsh_verified, 1.10 on minhash_lsh_candidates — the
    # 16-element lambda loop is not this plan's bottleneck; reverted.)
    agree = F.size(
        F.filter(
            F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: x == y),
            lambda v: v,
        )
    )
    return pairs.withColumn(
        "est_jaccard", agree.cast("double") / F.lit(float(num_hashes))
    ).select("doc_a", "doc_b", "est_jaccard")


def exact_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = DEFAULT_SHINGLE_K,
    min_jaccard: float = 0.0,
) -> DataFrame:
    """Exact n-gram (shingle-set) Jaccard for all co-shingled pairs.

    Explode distinct shingles, equi-join on shingle, count intersections;
    |union| = |A| + |B| - |A∩B|. Jaccard from exact ints -> deterministic.
    At corpus scale, feed LSH candidates instead of the full corpus.
    """
    sh = df.select(
        F.col(id_col), shingles(F.col(text_col), k).alias("sh")
    ).withColumn("sh_size", F.size("sh"))
    # join on a 60-bit hash of the shingle, not the string: the shuffle
    # carries 8-byte keys and the join compares longs (collision odds for a
    # corpus-scale shingle set are ~|shingles|^2 / 2^61 — negligible, and
    # the oracle hashes identically so both engines agree).
    exploded = (
        sh.select(id_col, "sh_size", F.explode("sh").alias("shingle"))
        .withColumn("shingle_h", hash60(F.col("shingle")))
        .drop("shingle")
    )
    a = exploded.alias("a")
    # shuffle_hash, same rationale as minhash_candidate_pairs: the
    # exploded-shingle relation scales with the corpus; broadcasting it
    # (Spark's stats-driven pick at fixture scale) serializes the join
    # into the driver and cannot survive real volume.
    b = exploded.hint("shuffle_hash").alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle_h") == F.col("b.shingle_h"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            F.col("a.sh_size").alias("size_a"),
            F.col("b.sh_size").alias("size_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    jac = F.col("n_inter").cast("double") / (
        F.col("size_a") + F.col("size_b") - F.col("n_inter")
    ).cast("double")
    return (
        inter.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= F.lit(min_jaccard))
        .select("doc_a", "doc_b", "jaccard")
    )


def simhash64(col: Column, prefix_hex: int = 15) -> Column:
    """60-bit SimHash over whitespace tokens (weight 1 per distinct token).

    Per-token hash = first 15 hex chars of md5 -> 60-bit int. Bit b of the
    fingerprint is 1 iff more token-hashes have bit b set than unset.
    Pure higher-order expressions (aggregate over bit positions).
    """
    toks = F.array_distinct(F.split(F.lower(F.trim(col)), r"\s+"))
    hashes = F.transform(
        toks, lambda t: F.conv(F.substring(F.md5(t), 1, prefix_hex), 16, 10).cast("bigint")
    )
    n_tokens = F.size(toks)
    bits = []
    for b in range(prefix_hex * 4):
        # NB: bind the mask OUTSIDE the lambda — a two-arg lambda would be
        # interpreted by F.filter as (element, index).
        mask = F.lit(2 ** b).cast("bigint")
        ones = F.size(F.filter(hashes, lambda h: h.bitwiseAND(mask) != 0))
        bit_set = (ones * 2) > n_tokens
        bits.append(F.when(bit_set, F.lit(2 ** b)).otherwise(F.lit(0)).cast("bigint"))
    total = bits[0]
    for extra in bits[1:]:
        total = total + extra
    return total


def hamming_distance64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit fingerprints (bit_count of XOR)."""
    return F.bit_count(a.bitwiseXOR(b))


# ---------------------------------------------------------------------------
# Explode + codegen-aggregate forms (the fast path)
#
# Spark evaluates higher-order-function lambdas INTERPRETED, element by
# element; groupBy().agg() runs whole-stage-codegen'd JVM code. For
# signature computation over many small arrays, exploding to rows and
# aggregating is several times faster AND is the shape that scales: the
# explode is map-side, the aggregation gets map-side partial combine, and
# the shuffled payload is (id, hash) pairs, not documents.
# ---------------------------------------------------------------------------


def minhash_signatures_df(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = DEFAULT_SHINGLE_K,
    num_hashes: int = DEFAULT_NUM_HASHES,
    out_col: str = "minhash",
) -> DataFrame:
    """(id, minhash array<bigint>) via explode + 16 codegen min-aggregates.

    Same values as with_minhash (min over the same shingle multiset).
    """
    # explode_outer: a NULL text yields a NULL shingle array; plain explode
    # would DROP the row, while the DuckDB oracles keep it (NULL signature)
    #
    # The md5-derived base hash is MATERIALIZED as a projected column
    # before the aggregate: inlining it into the 16 min() functions makes
    # codegen evaluate md5 16x per shingle (no CSE across aggregate
    # buffers — measured 73 s vs ~5 s of executor time on the sf0.1
    # signature stage).
    ex = df.select(
        id_col, F.explode_outer(shingles(F.col(text_col), k)).alias("_sh")
    ).select(id_col, (hash60(F.col("_sh")) % F.lit(MINHASH_P)).alias("_base"))
    aggs = [
        F.min(
            (F.lit(MINHASH_A_STEP * i + 1) * F.col("_base") + F.lit(MINHASH_B_STEP * i))
            % F.lit(MINHASH_P)
        ).alias(f"_m{i}")
        for i in range(num_hashes)
    ]
    sig = ex.groupBy(id_col).agg(*aggs)
    return sig.select(
        id_col, F.array(*[F.col(f"_m{i}") for i in range(num_hashes)]).alias(out_col)
    )


def simhash_df(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    prefix_hex: int = 15,
    out_col: str = "simhash",
) -> DataFrame:
    """(id, simhash bigint) via explode + 60 codegen bit-count aggregates.

    Same values as simhash64: bit b set iff more distinct-token hashes have
    bit b set than unset.
    """
    n_bits = prefix_hex * 4
    toks = F.array_distinct(F.split(F.lower(F.trim(F.col(text_col))), r"\s+"))
    # Project the md5-derived token hash ONCE before the aggregate — inlined
    # into the 60 per-bit sums, codegen would re-evaluate md5 60x per token
    # (no CSE across aggregate buffers; same finding as minhash_signatures_df).
    ex = df.select(id_col, F.explode_outer(toks).alias("_tok")).select(
        id_col,
        F.conv(F.substring(F.md5(F.col("_tok")), 1, prefix_hex), 16, 10)
        .cast("bigint")
        .alias("_h"),
    )
    aggs = [F.count(F.lit(1)).alias("_n")] + [
        F.sum(F.shiftright(F.col("_h"), b).bitwiseAND(F.lit(1))).alias(f"_b{b}")
        for b in range(n_bits)
    ]
    counts = ex.groupBy(id_col).agg(*aggs)
    fp = None
    for b in range(n_bits):
        term = (
            F.when(F.col(f"_b{b}") * 2 > F.col("_n"), F.lit(2**b))
            .otherwise(F.lit(0))
            .cast("bigint")
        )
        fp = term if fp is None else fp + term
    return counts.select(id_col, fp.alias(out_col))


def simhash_banded_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    sim_col: str = "simhash",
    n_bits: int = 60,
    n_bands: int = 4,
) -> DataFrame:
    """Hamming-space candidate pairs via simhash band blocking.

    Splits the fingerprint into ``n_bands`` contiguous bit bands (4x15 by
    default) and equi-joins on (band_id, band_val): by pigeonhole, any pair
    within hamming distance ``n_bands - 1`` (<=3 here) shares at least one
    intact band and is guaranteed a candidate; farther pairs surface only
    on chance collisions. Shuffle ∝ docs x bands on uniform band keys —
    never docs² — the same blocking shape as MinHash-LSH banding.
    """
    band_bits = n_bits // n_bands
    mask = (1 << band_bits) - 1
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.shiftright(F.col(sim_col), b * band_bits)
                .bitwiseAND(F.lit(mask))
                .alias("band_val"),
            )
            for b in range(n_bands)
        ]
    )
    banded = df.select(
        F.col(id_col), F.col(sim_col), F.explode(bands).alias("band")
    ).select(id_col, sim_col, "band.band_id", "band.band_val")
    a = banded.select(
        F.col(id_col).alias("doc_a"),
        F.col(sim_col).alias("sh_a"),
        "band_id",
        "band_val",
    )
    b = banded.select(
        F.col(id_col).alias("doc_b"),
        F.col(sim_col).alias("sh_b"),
        "band_id",
        "band_val",
    )
    return (
        a.join(b, ["band_id", "band_val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sh_a", "sh_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )


def verify_candidate_jaccard(
    docs: DataFrame,
    candidates: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = DEFAULT_SHINGLE_K,
) -> DataFrame:
    """Exact Jaccard restricted to candidate (doc_a, doc_b) pairs.

    The verify stage of the LSH pipeline. Docs are semi-filtered to ids
    that appear in a candidate pair (the id list is at most 2x the
    LSH-bounded pair count), each doc's shingles are hashed once into a
    per-doc hash array, and that array is materialized in the query's
    scope. Both join sides explode from the
    materialized arrays, so the md5-per-shingle work runs once per
    candidate doc rather than once per join side over every doc. Two
    equi-joins then pin each exploded side to the candidate list before
    the intersection count — work scales with |candidates| x
    shingles-per-doc. ``candidates`` feeds the id list and the broadcast,
    so pass it materialized when it is expensive to recompute.
    """
    from shortvideohybridanalyticslakehouse_spark.plans.registry import (
        materialize,
    )

    ids = (
        candidates.select(F.col("doc_a").alias(id_col))
        .unionByName(candidates.select(F.col("doc_b").alias(id_col)))
        .distinct()
    )
    docs = docs.join(F.broadcast(ids), id_col, "semi")
    hs = docs.select(
        F.col(id_col),
        F.transform(shingles(F.col(text_col), k), lambda s: hash60(s)).alias(
            "hs"
        ),
    ).withColumn("sh_size", F.size("hs"))
    hs = materialize(hs)
    ex = hs.select(id_col, "sh_size", F.explode("hs").alias("shingle_h"))
    a = ex.select(
        F.col(id_col).alias("doc_a"),
        F.col("sh_size").alias("size_a"),
        F.col("shingle_h").alias("h_a"),
    )
    b = ex.select(
        F.col(id_col).alias("_b_id"),
        F.col("sh_size").alias("size_b"),
        F.col("shingle_h").alias("h_b"),
    )
    # Join shape for scale: the CANDIDATE list is the small side (LSH
    # bounds it) — broadcast it; the exploded-shingle sides grow with the
    # corpus and must shuffle. Without the hints Spark's size stats pick
    # the reverse (broadcast the 10-100x-exploded relations: driver
    # collect + 1-task HashedRelation builds — measured 8 s of serialized
    # time at sf0.1, OOM at real volume).
    inter = (
        F.broadcast(candidates).join(a, "doc_a")
        .join(
            b.hint("shuffle_hash"),
            (F.col("doc_b") == F.col("_b_id")) & (F.col("h_a") == F.col("h_b")),
        )
        .groupBy("doc_a", "doc_b", "size_a", "size_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    jac = F.col("n_inter").cast("double") / (
        F.col("size_a") + F.col("size_b") - F.col("n_inter")
    ).cast("double")
    return inter.withColumn("jaccard", jac).select("doc_a", "doc_b", "jaccard")


# ---------------------------------------------------------------------------
# Hot-bucket machinery shared by the banded pair scorers (simhash + LSH).
#
# A band bucket must fit one task; the synthetic corpus already shows one
# 15-bit band bucket holding 30% of sf0.1 docs, and a boilerplate-heavy crawl
# makes that arbitrarily worse. Three independent bounds compose:
#   1. collapse_to_smallest_ids: global, LOSSLESS pre-shrink — for the
#      top-k-pairs total order (metric, id_a, id_b) only the k+1 smallest ids
#      per identical fingerprint can appear in the answer (any pair using a
#      later id is dominated by >=k pairs with the same metric and smaller
#      lexicographic ids), so mass-duplicate clusters reduce to k+1 rows
#      BEFORE banding ever sees them.
#   2. reband_hot_buckets: iterative Spark-side split — buckets whose
#      member count exceeds ``bucket_cap`` explode on an extra level of
#      fingerprint windows (a fresh partition of ALL fingerprint bits per
#      level), so a giant bucket becomes many tasks, not one. Pigeonhole is
#      preserved per level: a pair within hamming <= n_bands-1 keeps an
#      intact window at every level and stays co-bucketed; only pairs
#      ALREADY outside the banding guarantee can drop, and only once a
#      bucket is past the cap (never at oracle scale: cap 8192 > sf0.1).
#   3. blocked pair tiles in the Python scorer — a residual over-cap bucket
#      (adversarial fingerprints that agree on every window chain) is scored
#      in ``_PAIR_TILE``-sized blocks with a running top-k, so the m x m
#      distance tile never materializes; peak extra memory is one
#      tile^2 ndarray regardless of m.
# ---------------------------------------------------------------------------

_PAIR_TILE = 2048  # numpy block edge for the pair scorers (33 MB uint64 tile)


def wrapped_window_bits(col: Column, start: int, width: int, n_bits: int) -> Column:
    """``width`` bits of a non-negative ``n_bits``-wide BIGINT starting at
    bit ``start``, wrapping modulo ``n_bits`` — pure shift/mask codegen."""
    end = start + width
    if end <= n_bits:
        return F.shiftright(col, start).bitwiseAND(F.lit((1 << width) - 1))
    lo_w = n_bits - start
    hi_w = end - n_bits
    lo = F.shiftright(col, start).bitwiseAND(F.lit((1 << lo_w) - 1))
    hi = F.shiftleft(col.bitwiseAND(F.lit((1 << hi_w) - 1)), lo_w)
    return lo.bitwiseOR(hi)


def collapse_to_smallest_ids(
    df: DataFrame, group_key: Column, id_col: str, keep: int
) -> DataFrame:
    """Keep the ``keep`` smallest ids per identical ``group_key`` (lossless
    for any top-k pair list ordered (metric, id_a, id_b) when
    ``keep >= k + 1`` — see the block comment above)."""
    from pyspark.sql import Window

    w = Window.partitionBy(group_key).orderBy(F.col(id_col).asc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= keep)
        .drop("_rn")
    )


def reband_hot_buckets(
    banded: DataFrame,
    fp_col: str,
    subband_value,
    n_bands: int,
    bucket_cap: int,
    max_extra_levels: int,
) -> DataFrame:
    """Iteratively split buckets larger than ``bucket_cap`` on extra
    fingerprint windows.

    ``banded`` must carry a string ``bkey`` bucket-key column; members of a
    hot bucket are exploded over ``n_bands`` extra windows per level with
    ``bkey`` extended by (level, group, value) — ``subband_value(fp, lvl, g)``
    returns group ``g``'s window value at level ``lvl`` and MUST come from a
    partition of all fingerprint bits into ``n_bands`` groups (that is what
    preserves the pigeonhole radius). The loop is driver-bounded: one
    group-count job per level, at most ``max_extra_levels`` levels, early
    exit as soon as no bucket is hot (the only case the oracle scales ever
    see). The per-level collect is bounded by rows/bucket_cap keys.

    Each level's frontier is materialized (skinny id+fingerprint+key rows)
    so the next count and the final scorer reuse it instead of recomputing
    the fingerprint lineage; a superseded frontier is released as soon as
    the next one is in blocks, and the last one lives in the query's scope.
    """
    from shortvideohybridanalyticslakehouse_spark.plans.registry import (
        materialize,
        release_materialized,
    )

    def _hot_count(df: DataFrame) -> list:
        """One job: a full-pass bucket count that BOTH fills the lazily
        materialized frontier (groupBy consumes every row) and returns the
        next level's hot-bucket list — one pass per level (guide §1.2)."""
        return (
            df.groupBy("bkey")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") > bucket_cap)
            .collect()
        )

    banded = materialize(banded, eager=False)
    hot_rows = _hot_count(banded)
    for lvl in range(1, max_extra_levels + 1):
        if not hot_rows:
            break
        spark = banded.sparkSession
        hot_df = local_rows_df(
            spark, [(r["bkey"], r["_n"]) for r in hot_rows], "bkey string, _pn long"
        )
        flagged = banded.join(F.broadcast(hot_df), "bkey", "left")
        cold = flagged.filter(F.col("_pn").isNull()).drop("_pn")
        subs = F.array(
            *[
                F.struct(
                    F.lit(g).alias("g"),
                    subband_value(F.col(fp_col), lvl, g).alias("v"),
                )
                for g in range(n_bands)
            ]
        )
        hot_ext = (
            flagged.filter(F.col("_pn").isNotNull())
            .withColumn("_s", F.explode(subs))
            .withColumn("_parent", F.col("bkey"))
            .withColumn("_g", F.col("_s.g"))
            .withColumn(
                "bkey",
                F.concat_ws(
                    "",
                    F.col("bkey"),
                    F.lit(f"|L{lvl}G"),
                    F.col("_s.g"),
                    F.lit(":"),
                    F.col("_s.v"),
                ),
            )
            .drop("_s")
        )
        # Sterile-window dedup: a child bucket with the SAME count as its
        # parent is the identical member set (the window didn't split at
        # all — e.g. members sharing every fingerprint bit the level
        # inspects). All such full copies of one parent are equal sets, so
        # keep only the lowest-g one: without this, an unsplittable bucket
        # multiplies rows by n_bands^level for zero benefit.
        from pyspark.sql import Window as _W

        child_sizes = hot_ext.groupBy("_parent", "_g", "bkey").agg(
            F.count(F.lit(1)).alias("_cn")
        )
        drop = (
            child_sizes.join(
                F.broadcast(hot_df.withColumnRenamed("bkey", "_parent")),
                "_parent",
            )
            .filter(F.col("_cn") == F.col("_pn"))
            .withColumn("_ming", F.min("_g").over(_W.partitionBy("_parent")))
            .filter(F.col("_g") != F.col("_ming"))
            .select("bkey")
            .withColumn("_drop", F.lit(True))
        )
        hot_ext = (
            hot_ext.join(F.broadcast(drop), "bkey", "left")
            .filter(F.col("_drop").isNull())
            .drop("_drop", "_parent", "_g", "_pn")
        )
        nxt = materialize(cold.unionByName(hot_ext), eager=False)
        # Fill the new frontier BEFORE dropping the old one: its rows are
        # computed from the old frontier's blocks.
        hot_rows = _hot_count(nxt)
        release_materialized(banded)
        banded = nxt
    return banded


def simhash_rebanded_keys(
    df: DataFrame,
    id_col: str = "doc_id",
    sim_col: str = "simhash",
    n_bits: int = 60,
    n_bands: int = 4,
    k: int = 20,
    bucket_cap: int | None = 8192,
    max_extra_levels: int = 3,
) -> DataFrame:
    """(id, simhash, bkey) with every bucket bounded where the fingerprint
    entropy allows: duplicate-collapse, level-0 contiguous bands, then
    recursive hot-bucket re-band. Exposed separately so tests can assert
    the post-split bucket-size distribution directly."""
    band_bits = n_bits // n_bands
    mask = (1 << band_bits) - 1
    base = df.select(F.col(id_col), F.col(sim_col))
    if bucket_cap is not None:
        base = collapse_to_smallest_ids(base, F.col(sim_col), id_col, k + 1)
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.shiftright(F.col(sim_col), b * band_bits)
                .bitwiseAND(F.lit(mask))
                .alias("band_val"),
            )
            for b in range(n_bands)
        ]
    )
    banded = (
        base.select(F.col(id_col), F.col(sim_col), F.explode(bands).alias("band"))
        .withColumn(
            "bkey",
            F.concat_ws(
                "", F.lit("B"), F.col("band.band_id"), F.lit(":"), F.col("band.band_val")
            ),
        )
        .select(id_col, sim_col, "bkey")
    )
    if bucket_cap is None:
        return banded

    def sub_val(fp: Column, lvl: int, g: int) -> Column:
        # Level lvl re-partitions ALL n_bits into n_bands contiguous windows
        # rotated by 7*lvl bits — a fresh partition each level, so a chain
        # of levels constrains (mostly) fresh bits and distinct fingerprints
        # separate; pigeonhole holds per level because the windows partition
        # every bit.
        off = (7 * lvl) % band_bits
        start = (off + g * band_bits) % n_bits
        return wrapped_window_bits(fp, start, band_bits, n_bits)

    return reband_hot_buckets(
        banded, sim_col, sub_val, n_bands, bucket_cap, max_extra_levels
    )


def simhash_bucket_topk_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    sim_col: str = "simhash",
    n_bits: int = 60,
    n_bands: int = 4,
    k: int = 20,
    bucket_cap: int | None = 8192,
    max_extra_levels: int = 3,
) -> DataFrame:
    """Top-k closest fingerprint pairs in hamming space WITHOUT
    materializing the banded candidate set: one streaming mapInPandas walk
    over bucket-contiguous partitions XORs each bucket against itself in
    numpy (SWAR popcount — no Python per pair) and emits only its local
    top-k under the global total order (hamming ASC, doc_a, doc_b).

    Candidate SEMANTICS match simhash_banded_pairs below ``bucket_cap``
    (same pigeonhole guarantee: any pair within hamming <= n_bands-1 shares
    an intact band), and per-bucket top-k pruning is lossless — a
    global-top-k pair is inside the top-k of every bucket containing it.

    Hot buckets are bounded by three composed mechanisms (see the block
    comment above): a lossless global duplicate-collapse to the k+1
    smallest ids per fingerprint, a Spark-side recursive re-band of buckets
    past ``bucket_cap`` onto rotated fingerprint windows (pairs within the
    hamming <= n_bands-1 radius keep an intact window per level and stay
    candidates; the only semantic relaxation is for pairs BEYOND the
    radius inside an over-cap bucket — standard LSH behavior), and a
    blocked tile scorer so even a residual giant bucket never allocates an
    m x m array. ``bucket_cap=None`` disables all three (exact legacy
    behavior, used by the equivalence tests). Default cap 8192 > every
    oracle fixture, so driver-checked results are bit-identical to the
    un-capped plan.

    Plan shape: hash-repartition on bkey + in-partition sort makes every
    bucket CONTIGUOUS inside a partition, then ONE mapInPandas pass walks
    the Arrow batches bucket by bucket (buffering only a batch-straddling
    bucket tail) — Python is invoked per Arrow batch, not per bucket, so
    tiny buckets cost numpy slicing, not a pandas group materialization
    (measured: the applyInPandas-per-group form spent 26 s on group
    overhead at sf0.1; this form runs the same math in <1 s).
    """
    import numpy as np
    import pandas as pd

    banded = simhash_rebanded_keys(
        df, id_col, sim_col, n_bits, n_bands, k, bucket_cap, max_extra_levels
    )
    sess = df.sparkSession
    n_parts = sess.sparkContext.defaultParallelism
    parted = banded.repartition(n_parts, "bkey").sortWithinPartitions(
        "bkey", id_col
    )

    def _popcount64(v: "np.ndarray") -> "np.ndarray":
        m1 = np.uint64(0x5555555555555555)
        m2 = np.uint64(0x3333333333333333)
        m4 = np.uint64(0x0F0F0F0F0F0F0F0F)
        h01 = np.uint64(0x0101010101010101)
        v = v - ((v >> np.uint64(1)) & m1)
        v = (v & m2) + ((v >> np.uint64(2)) & m2)
        v = (v + (v >> np.uint64(4))) & m4
        return (v * h01) >> np.uint64(56)

    def partition_topk(batches):
        outs = []

        def emit(ham, a, b):
            top = np.lexsort((b, a, ham))[:k]
            outs.append(
                pd.DataFrame({"doc_a": a[top], "doc_b": b[top], "hamming": ham[top]})
            )

        def bucket(ids: "np.ndarray", h: "np.ndarray") -> None:
            m = len(ids)
            if m < 2:
                return
            if m <= _PAIR_TILE:
                ia, ib = np.triu_indices(m, 1)  # ids sorted asc => doc_a < doc_b
                emit(_popcount64(h[ia] ^ h[ib]).astype(np.int64), ids[ia], ids[ib])
                return
            # Residual over-cap bucket: blocked tiles, running top-k. Peak
            # extra memory = one _PAIR_TILE^2 uint64 tile however big m is.
            cand = []
            t = _PAIR_TILE
            nb = (m + t - 1) // t
            for bi in range(nb):
                si, ei = bi * t, min((bi + 1) * t, m)
                ia, ib = np.triu_indices(ei - si, 1)
                ham = _popcount64(h[si:ei][ia] ^ h[si:ei][ib]).astype(np.int64)
                top = np.lexsort((ids[si:ei][ib], ids[si:ei][ia], ham))[:k]
                cand.append((ham[top], ids[si:ei][ia][top], ids[si:ei][ib][top]))
                for bj in range(bi + 1, nb):
                    sj, ej = bj * t, min((bj + 1) * t, m)
                    tile = _popcount64(
                        h[si:ei, None] ^ h[None, sj:ej]
                    ).astype(np.int64)
                    flat = tile.ravel()
                    # ids sorted asc within bucket => block i ids < block j ids
                    a2 = np.repeat(ids[si:ei], ej - sj)
                    b2 = np.tile(ids[sj:ej], ei - si)
                    top = np.lexsort((b2, a2, flat))[:k]
                    cand.append((flat[top], a2[top], b2[top]))
            emit(
                np.concatenate([c[0] for c in cand]),
                np.concatenate([c[1] for c in cand]),
                np.concatenate([c[2] for c in cand]),
            )

        leftover = None
        for pdf in batches:
            if leftover is not None:
                pdf = pd.concat([leftover, pdf], ignore_index=True)
            if not len(pdf):
                leftover = None
                continue
            keys = pdf["bkey"].to_numpy()
            change = np.flatnonzero(keys[1:] != keys[:-1]) + 1
            starts = np.concatenate(([0], change))
            ids_all = pdf[id_col].to_numpy()
            h_all = pdf[sim_col].to_numpy().astype(np.uint64)
            # last group may continue in the next Arrow batch — hold it back
            for s, e in zip(starts[:-1], starts[1:]):
                bucket(ids_all[s:e], h_all[s:e])
            leftover = pdf.iloc[starts[-1] :]
        if leftover is not None and len(leftover):
            bucket(
                leftover[id_col].to_numpy(),
                leftover[sim_col].to_numpy().astype(np.uint64),
            )
        if outs:
            yield pd.concat(outs, ignore_index=True)
        else:
            yield pd.DataFrame({"doc_a": [], "doc_b": [], "hamming": []}).astype(
                {"doc_a": "int64", "doc_b": "int64", "hamming": "int64"}
            )

    local = parted.mapInPandas(partition_topk, "doc_a long, doc_b long, hamming long")
    return (
        local.dropDuplicates(["doc_a", "doc_b"])
        .orderBy(F.col("hamming").asc(), F.col("doc_a").asc(), F.col("doc_b").asc())
        .limit(k)
    )
