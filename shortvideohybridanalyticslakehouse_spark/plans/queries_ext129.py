"""Extension queries, round 129: five new analytics lanes.

1. knn_label_noise_audit — per-label count of embeddings whose 5-NN
   majority label disagrees with their own label (Confident-Learning-
   style training-data QA); 5-NN over deterministic sign-LSH band
   candidates (round-10 rework — recall floor vs the brute-force twin
   asserted in tests).
2. kcenter_coreset_greedy — Gonzalez greedy k-center over the integer-
   quantized embeddings (diverse coreset selection for data curation);
   greedy replayed round-for-round by the oracle; round-10 rework keeps
   one O(N) min-distance frame folded per round (no N^2 matrix).
3. bh_fdr_segment_lift — Benjamini-Hochberg FDR over 28 (dow x hour-
   bucket) purchase-rate lifts: two-sided normal p-values through the
   shared logistic CDF approximation, micro-floored before the BH rank
   comparison so both engines make identical reject decisions.
4. hits_hubs_authorities — 3 rounds of HITS over the customer->part
   bipartite purchase graph, ALL-INTEGER (max-normalized micro scores,
   no doubles anywhere), top-10 per role.
5. readability_by_source — Flesch-Kincaid grade per source from exact
   token/sentence/vowel-group counts, one double formula floored to
   micro at the end.

Determinism ladder as ext92/ext115/ext127: exact integer aggregation
wherever possible; where a transcendental is unavoidable (exp in the
CDF) it is evaluated ONCE on identically-derived doubles and floored to
micro before any comparison.

Plan shapes at 100 TB: kNN audit shuffles O(candidates) via banded
sign-LSH (shuffle_hash-pinned joins); k-center is O(N*K) with an O(N)
folded min-distance frame; BH is a 28-row post-aggregate; HITS is K
bounded join-aggregates over the distinct edge list; readability is one
scan + 4-row rollup.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from shortvideohybridanalyticslakehouse_spark.plans.queries_ext115 import (
    _int_dot,
    _int_vec,
)
from shortvideohybridanalyticslakehouse_spark.functions.localrel import (
    local_rows_df,
)
from shortvideohybridanalyticslakehouse_spark.plans.registry import (
    finalize_bounded,
    materialize,
    register,
)
from shortvideohybridanalyticslakehouse_spark.sources.batch import load_table

_QUANT = "CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)"
_KNN_K = 5
_KC_K = 6
_HITS_ROUNDS = 3
_HITS_TOP = 10
_BH_Q_MICRO = 100_000  # q = 0.10 in micro units


def _duck_dot(a: str, b: str) -> str:
    return (
        f"CAST(list_sum(list_transform(range(1, len({a}) + 1),"
        f" i -> {a}[i] * {b}[i])) AS BIGINT)"
    )


def _duck_sqdist(a: str, b: str) -> str:
    return (
        f"CAST(list_sum(list_transform(range(1, len({a}) + 1),"
        f" i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i]))) AS BIGINT)"
    )


# --------------------------------------------------------------------------
# 1. kNN label-noise audit
# --------------------------------------------------------------------------

_KNN_BANDS = 8
_KNN_BAND_BITS = 2
_KNN_DIM = 64

# Deterministic +-1 hyperplanes (SimHash for the dot-product metric),
# seeded once and embedded as LITERALS in both the Spark plan and the
# DuckDB oracle — the two engines band identically by construction.
import random as _random  # noqa: E402

_knn_rng = _random.Random(42)
_KNN_PLANES: list[list[int]] = [
    [1 if _knn_rng.random() < 0.5 else -1 for _ in range(_KNN_DIM)]
    for _ in range(_KNN_BANDS * _KNN_BAND_BITS)
]


def _duck_plane_bit(p: int) -> str:
    lit = "[" + ", ".join(str(h) for h in _KNN_PLANES[p]) + "]"
    return (
        f"CASE WHEN list_sum(list_transform(range(1, len(v) + 1),"
        f" i -> v[i] * ({lit})[i])) >= 0 THEN 1 ELSE 0 END AS b{p}"
    )


_KNN_ORACLE = f"""
WITH base AS (
  SELECT vec_id, CAST(label AS BIGINT) AS label,
         list_transform(embedding, x -> {_QUANT}) AS v
  FROM embeddings
), bits AS (
  SELECT vec_id,
         {", ".join(_duck_plane_bit(p) for p in range(_KNN_BANDS * _KNN_BAND_BITS))}
  FROM base
), keyed AS (
  SELECT vec_id,
         [{", ".join(f"{b} * 4 + b{2 * b} * 2 + b{2 * b + 1}" for b in range(_KNN_BANDS))}]
           AS bl
  FROM bits
), keys AS (
  SELECT vec_id, unnest(bl) AS bkey FROM keyed
), cands AS (
  SELECT DISTINCT a.vec_id AS ida, b.vec_id AS idb
  FROM keys a JOIN keys b ON a.bkey = b.bkey AND a.vec_id < b.vec_id
), half AS (
  SELECT c.ida, x.label AS la, c.idb, y.label AS lb,
         {_duck_dot("x.v", "y.v")} AS sim
  FROM cands c
  JOIN base x ON x.vec_id = c.ida
  JOIN base y ON y.vec_id = c.idb
), sims AS (
  SELECT ida, la, idb, lb, sim FROM half
  UNION ALL
  SELECT idb AS ida, lb AS la, ida AS idb, la AS lb, sim FROM half
), knn AS (
  SELECT ida, la, lb
  FROM (
    SELECT ida, la, lb,
           row_number() OVER (PARTITION BY ida
                              ORDER BY sim DESC, idb ASC) AS rn
    FROM sims
  ) WHERE rn <= {_KNN_K}
), votes AS (
  SELECT ida, la, lb, CAST(count(*) AS BIGINT) AS c FROM knn
  GROUP BY 1, 2, 3
), maj AS (
  SELECT ida, la, lb AS maj_label
  FROM (
    SELECT ida, la, lb,
           row_number() OVER (PARTITION BY ida
                              ORDER BY c DESC, lb ASC) AS rn
    FROM votes
  ) WHERE rn = 1
)
SELECT la AS label,
       CAST(count(*) AS BIGINT) AS n_vecs,
       CAST(sum(CASE WHEN maj_label <> la THEN 1 ELSE 0 END) AS BIGINT)
         AS n_flagged
FROM maj GROUP BY 1
"""


def _band_keys_kernel(it):
    """The 16 hyperplane sign bits + band-key explode as one numpy int64
    GEMM against the (16 x 64) plane matrix per batch (guide §4.2: the
    map stage feeding the bucket shuffle is the lane's hottest stage).
    Bit semantics are `dot >= 0 -> 1, else 0` with: NULL vector -> all
    bits 0; EMPTY vector -> dot 0 -> all bits 1; short vector -> plane
    sliced to len(v) (== zero-padded dot); v longer than the 64-entry
    plane -> bits 0. Emits the exploded (vec_id, label, v, bkey) rows the
    downstream per-bucket GEMM groups on."""
    import numpy as np  # noqa: PLC0415 — Arrow path only
    import pandas as pd  # noqa: PLC0415

    planes = np.array(_KNN_PLANES, dtype=np.int64)  # (16, dim)
    n_planes, dim = planes.shape
    for pdf in it:
        n = len(pdf)
        if n == 0:
            continue
        vs = pdf["v"]
        bits = np.zeros((n, n_planes), dtype=np.int64)
        by_len: dict[int, list[int]] = {}
        for i in range(n):
            v = vs.iloc[i]
            if v is None or len(v) > dim:
                continue  # NULL dot -> bits stay 0
            by_len.setdefault(len(v), []).append(i)
        for ln, idxs in by_len.items():
            ii = np.asarray(idxs)
            if ln == 0:
                bits[ii, :] = 1  # empty fold: s = 0 -> s >= 0
                continue
            mat = np.stack(
                [np.asarray(vs.iloc[i], dtype=np.int64) for i in idxs]
            )
            bits[ii, :] = (mat @ planes[:, :ln].T >= 0).astype(np.int64)
        keys = np.empty((n, _KNN_BANDS), dtype=np.int32)
        for b in range(_KNN_BANDS):
            keys[:, b] = b * 4 + bits[:, 2 * b] * 2 + bits[:, 2 * b + 1]
        rep = np.repeat(np.arange(n), _KNN_BANDS)
        yield pd.DataFrame(
            {
                "vec_id": pdf["vec_id"].to_numpy()[rep],
                "label": pdf["label"].to_numpy()[rep],
                "v": vs.to_numpy()[rep],
                "bkey": keys.ravel(),
            }
        )


def _bucket_top5(pdf, block_cap: int = 4096):
    """Per-LSH-bucket local top-5 neighbors via a BLOCK-chunked int64
    GEMM. A degenerate/hot band bucket would make the full m x m
    similarity matrix quadratic in bucket size (ADVICE r10): row blocks
    against the bucket matrix keep per-task extra memory at
    O(block x m) (~64 MB cap) while computing the identical per-row
    top-5 (total order sim DESC, idb ASC via lexsort on (-sim, id))."""
    import numpy as np  # noqa: PLC0415 — Arrow path only
    import pandas as pd  # noqa: PLC0415

    m = len(pdf)
    if m < 2:
        return pd.DataFrame(
            {c: pd.Series(dtype="int64")
             for c in ("ida", "la", "idb", "lb", "sim")}
        )
    ids = pdf["vec_id"].to_numpy()
    labels = pdf["label"].to_numpy()
    mat = np.stack(pdf["v"].to_numpy()).astype(np.int64)
    k = min(_KNN_K, m - 1)
    block = max(1, min(block_cap, (64 << 20) // (8 * m)))
    rows = {"ida": [], "la": [], "idb": [], "lb": [], "sim": []}
    idx_all = np.arange(m)
    for lo in range(0, m, block):
        hi = min(lo + block, m)
        sims_blk = mat[lo:hi] @ mat.T
        for i in range(lo, hi):
            others = idx_all[idx_all != i]  # exclude self BEFORE the
            # sort: negating a sentinel int64-min overflows and sorts
            # self FIRST, silently shaving the 5th neighbor
            s = sims_blk[i - lo][others]
            order = others[np.lexsort((ids[others], -s))[:k]]
            rows["ida"].extend([ids[i]] * len(order))
            rows["la"].extend([labels[i]] * len(order))
            rows["idb"].extend(ids[order])
            rows["lb"].extend(labels[order])
            rows["sim"].extend(sims_blk[i - lo][order])
    return pd.DataFrame(rows).astype("int64")


@register("knn_label_noise_audit", _KNN_ORACLE)
def q_knn_label_noise_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label count of vectors whose 5-NN majority label disagrees
    with their own (integer-dot similarity, vec_id tie-breaks), with the
    neighbor pool restricted to sign-LSH band candidates.

    Round-10 rework (VERDICT r9 #2): was an all-pairs
    BroadcastNestedLoopJoin over the full embeddings table — the "exact
    auditor" that could never run where it matters. Now kNN is computed
    over DETERMINISTIC SimHash candidates: 16 seeded +-1 hyperplane sign
    bits, banded 8 x 2; a pair is a candidate iff it shares at least one
    band key (missed only if all 8 bands differ — measured 5-NN recall
    0.977 on the sf0.001 fixture, whose random unit vectors are the
    adversarial worst case for locality hashing; floor asserted in
    tests/test_ext129_131.py against the brute-force twin). Shuffle is
    O(candidates) through equi-joins only — the band self-join and the
    two vector re-joins are shuffle_hash-pinned because every build side
    grows with the corpus, so the plan stays executor-bounded even when
    the candidate set degenerates. The oracle replays the identical
    hyperplanes (shared literals), so results stay hash-equal.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id",
        F.col("label").cast("bigint").alias("label"),
        _int_vec("embedding").alias("v"),
    )

    # One numpy GEMM per Arrow batch for the 16 plane bits, then a
    # WIDTH-PINNED repartition on the 32-value bucket key so the
    # CPU-heavy per-bucket Python GEMM stage keeps its parallelism —
    # AQE byte-coalesces the ~4 MB bucket shuffle down to 4 tasks
    # otherwise (the ext141 starvation, guide §2.5). The repartition's
    # hashpartitioning(bkey) satisfies applyInPandas's clustered
    # distribution, so no second exchange is planned.
    banded = base.mapInPandas(
        _band_keys_kernel,
        "vec_id long, label long, v array<long>, bkey int",
    ).repartition(32, "bkey")

    # Per-bucket Arrow GEMM with LOCAL per-ida top-5 (the
    # lsh_bucket_topk_pairs strategy): a global-5-NN neighbor of ida is
    # by definition inside ida's top-5 of EVERY bucket containing both
    # (any bucket where 5 members outrank it would put those 5 into the
    # candidate set, ejecting it from the global top-5) — so emitting
    # only 5 rows per (bucket, member) is lossless, the shuffle drops
    # from O(candidates) (3.6M pairs at sf0.1 on this near-degenerate
    # fixture) to O(n x bands x 5), and the 64-int dots run as one
    # numpy int64 GEMM per bucket instead of per-row HOF folds. The
    # oracle still scores the full candidate set — results identical.
    out_schema = "ida long, la long, idb long, lb long, sim long"

    # one-arg wrapper: applyInPandas passes (key, pdf) to TWO-parameter
    # functions, which would bind the frame to block_cap
    sims = (
        banded.groupBy("bkey")
        .applyInPandas(lambda pdf: _bucket_top5(pdf), out_schema)
        # a pair sharing several bands emits several identical rows
        .dropDuplicates(["ida", "idb"])
    )
    w = Window.partitionBy("ida").orderBy(
        F.col("sim").desc(), F.col("idb").asc()
    )
    knn = sims.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= _KNN_K
    )
    votes = knn.groupBy("ida", "la", "lb").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    wv = Window.partitionBy("ida").orderBy(
        F.col("c").desc(), F.col("lb").asc()
    )
    maj = (
        votes.withColumn("rn", F.row_number().over(wv))
        .filter(F.col("rn") == 1)
        .select("ida", "la", F.col("lb").alias("maj_label"))
    )
    return maj.groupBy(F.col("la").alias("label")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
        F.sum(
            F.when(F.col("maj_label") != F.col("la"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_flagged"),
    )


# --------------------------------------------------------------------------
# 2. Gonzalez greedy k-center coreset
# --------------------------------------------------------------------------


def _kcenter_oracle() -> str:
    rounds = [
        "s1 AS (SELECT vec_id, CAST(0 AS BIGINT) AS d"
        " FROM base ORDER BY vec_id ASC LIMIT 1)"
    ]
    union = [
        "SELECT CAST(1 AS BIGINT) AS round, vec_id,"
        " CAST(0 AS BIGINT) AS dist_sq FROM s1"
    ]
    for r in range(2, _KC_K + 1):
        prev = " UNION ALL ".join(
            f"SELECT vec_id FROM s{i}" for i in range(1, r)
        )
        rounds.append(
            f"s{r} AS (\n"
            f"  SELECT p.ida AS vec_id, min(p.d2) AS d\n"
            f"  FROM dists p\n"
            f"  WHERE p.idb IN ({prev}) AND p.ida NOT IN ({prev})\n"
            f"  GROUP BY p.ida\n"
            f"  ORDER BY min(p.d2) DESC, p.ida ASC LIMIT 1)"
        )
        union.append(
            f"SELECT CAST({r} AS BIGINT) AS round, vec_id,"
            f" d AS dist_sq FROM s{r}"
        )
    return f"""
WITH base AS (
  SELECT vec_id, list_transform(embedding, x -> {_QUANT}) AS v
  FROM embeddings
), dists AS (
  SELECT a.vec_id AS ida, b.vec_id AS idb,
         {_duck_sqdist("a.v", "b.v")} AS d2
  FROM base a JOIN base b ON a.vec_id <> b.vec_id
), {", ".join(rounds)}
{" UNION ALL ".join(union)}
"""


@register("kcenter_coreset_greedy", _kcenter_oracle())
def q_kcenter_coreset_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gonzalez greedy k-center: seed = min vec_id; each round adds the
    point with the LARGEST squared distance to its nearest selected
    center (tie: smaller vec_id). Returns (round, vec_id, dist_sq).

    Round-10 rework (VERDICT r9 #2): was a persisted N^2 all-pairs
    distance matrix probed K times — the registry's slowest query and a
    scale-killer. Gonzalez only ever needs the distance to the NEWEST
    center: the rework keeps one O(N) frame of (vec_id, v, dmin) and per
    round folds `least(dmin, d2(v, new_center))` with the new center as
    a LITERAL 64-int array (no join at all, so no broadcast and no
    shuffle in the fold), materializing each round to truncate
    lineage (the HITS pattern). O(N*K) total work, O(N) peak storage.
    The oracle is unchanged — it replays the same greedy rounds.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.select("vec_id", _int_vec("embedding").alias("v"))
    seed = base.orderBy(F.col("vec_id").asc()).limit(1).collect()
    out_rows: list[tuple[int, int, int]] = []
    # Lazy round checkpoints: the per-round TakeOrdered collect
    # materializes the checkpoint blocks as a side effect of its own
    # job, so each round runs ONE job instead of two (materialize +
    # collect). Numerically identical — the same plan computes the same
    # dmin either way. (A numpy mapInPandas distance kernel was measured
    # here and REVERTED: per-round Arrow round-trips of the v column
    # cost more than the 64-element fold saves — B/A 1.45 at sf0.1.)

    def _sqd_to(vec: list) -> F.Column:
        lit = F.array(*[F.lit(int(c)) for c in vec])
        return F.aggregate(
            F.zip_with(F.col("v"), lit, lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("bigint"),
            lambda acc, val: acc + val,
        )


    if seed:
        out_rows.append((1, seed[0].vec_id, 0))
        cur = materialize(
            base.filter(F.col("vec_id") != seed[0].vec_id).select(
                "vec_id", "v", _sqd_to(list(seed[0].v)).alias("dmin")
            ),
            eager=False,
        )
        for rnd in range(2, _KC_K + 1):
            rows = (
                cur.orderBy(F.col("dmin").desc(), F.col("vec_id").asc())
                .limit(1)
                .collect()
            )
            if not rows:
                break
            out_rows.append((rnd, rows[0].vec_id, rows[0].dmin))
            if rnd < _KC_K:
                cur = materialize(
                    cur.filter(F.col("vec_id") != rows[0].vec_id).select(
                        "vec_id",
                        "v",
                        F.least(
                            F.col("dmin"), _sqd_to(list(rows[0].v))
                        ).alias("dmin"),
                    ),
                    eager=False,
                )
    result = local_rows_df(
        spark, out_rows, "round bigint, vec_id bigint, dist_sq bigint"
    )
    return finalize_bounded(result)


# --------------------------------------------------------------------------
# 3. Benjamini-Hochberg FDR over segment purchase-rate lifts
# --------------------------------------------------------------------------

_BH_ORACLE = f"""
WITH ev AS (
  SELECT CAST(strftime(ts, '%w') AS BIGINT) + 1 AS dow,
         CAST(extract(hour FROM ts) // 6 AS BIGINT) AS hour_bucket,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS conv
  FROM events
), seg AS (
  SELECT dow, hour_bucket,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(conv) AS BIGINT) AS k
  FROM ev GROUP BY 1, 2
), g_tot AS (
  SELECT CAST(sum(n) AS BIGINT) AS big_n, CAST(sum(k) AS BIGINT) AS big_k
  FROM seg
), scored AS (
  SELECT s.dow, s.hour_bucket, s.n, s.k,
         (CAST(s.k AS DOUBLE) / s.n - CAST(g.big_k AS DOUBLE) / g.big_n)
           / sqrt((CAST(g.big_k AS DOUBLE) / g.big_n)
                  * (1.0 - CAST(g.big_k AS DOUBLE) / g.big_n) / s.n)
           AS z
  FROM seg s CROSS JOIN g_tot g
), pvals AS (
  SELECT dow, hour_bucket, n, k,
         CAST(floor(z * 1000000.0) AS BIGINT) AS z_micro,
         CAST(floor(2000000.0 / (1.0 + exp(1.702 * abs(z)))) AS BIGINT)
           AS p_micro
  FROM scored
), ranked AS (
  SELECT *,
         CAST(row_number() OVER (ORDER BY p_micro ASC, dow ASC,
                                 hour_bucket ASC) AS BIGINT) AS p_rank,
         CAST(count(*) OVER () AS BIGINT) AS m
  FROM pvals
), flagged AS (
  SELECT *,
         CASE WHEN p_micro <= p_rank * {_BH_Q_MICRO} // m
              THEN p_rank ELSE 0 END AS cand
  FROM ranked
)
SELECT dow, hour_bucket, n, k, z_micro, p_micro, p_rank,
       p_rank <= max(cand) OVER () AS rejected
FROM flagged
"""


@register("bh_fdr_segment_lift", _BH_ORACLE)
def q_bh_fdr_segment_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BH(q=0.10) over per-(dow, hour-bucket) purchase-rate z-tests.
    p-values via the logistic CDF approximation Phi(x) ~
    1/(1+exp(-1.702x)), micro-floored before the BH rank compare."""
    ev = load_table(spark, sf_dir, "events").select(
        F.dayofweek("ts").cast("bigint").alias("dow"),
        (F.hour("ts") / 6).cast("bigint").alias("hour_bucket"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias(
            "conv"
        ),
    )
    seg = ev.groupBy("dow", "hour_bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("conv").cast("bigint").alias("k"),
    )
    glob = seg.agg(
        F.sum("n").cast("bigint").alias("big_n"),
        F.sum("k").cast("bigint").alias("big_k"),
    )
    pg = F.col("big_k").cast("double") / F.col("big_n")
    z = (F.col("k").cast("double") / F.col("n") - pg) / F.sqrt(
        pg * (F.lit(1.0) - pg) / F.col("n")
    )
    pvals = seg.crossJoin(F.broadcast(glob)).select(
        "dow",
        "hour_bucket",
        "n",
        "k",
        F.floor(z * F.lit(1000000.0)).cast("bigint").alias("z_micro"),
        F.floor(
            F.lit(2000000.0)
            / (F.lit(1.0) + F.exp(F.lit(1.702) * F.abs(z)))
        )
        .cast("bigint")
        .alias("p_micro"),
    )
    wr = Window.orderBy(
        F.col("p_micro").asc(), F.col("dow").asc(), F.col("hour_bucket").asc()
    )
    wall = Window.partitionBy()
    ranked = pvals.select(
        "*",
        F.row_number().over(wr).cast("bigint").alias("p_rank"),
        F.count(F.lit(1)).over(wall).cast("bigint").alias("m"),
    )
    flagged = ranked.withColumn(
        "cand",
        F.when(
            F.col("p_micro")
            <= F.expr(f"p_rank * {_BH_Q_MICRO} DIV m"),
            F.col("p_rank"),
        ).otherwise(F.lit(0)),
    )
    return flagged.select(
        "dow",
        "hour_bucket",
        "n",
        "k",
        "z_micro",
        "p_micro",
        "p_rank",
        (F.col("p_rank") <= F.max("cand").over(wall)).alias("rejected"),
    )


# --------------------------------------------------------------------------
# 4. HITS hubs/authorities (all-integer, 3 rounds)
# --------------------------------------------------------------------------


def _hits_oracle() -> str:
    ctes = [
        """e AS (
  SELECT DISTINCT o.o_custkey AS cust, l.l_partkey AS part
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
)""",
        "a0 AS (SELECT part, CAST(1000000 AS BIGINT) AS s"
        " FROM (SELECT DISTINCT part FROM e))",
    ]
    prev_a = "a0"
    for r in range(1, _HITS_ROUNDS + 1):
        ctes.append(
            f"h{r}raw AS (SELECT e.cust, CAST(sum(s) AS BIGINT) AS s"
            f" FROM e JOIN {prev_a} ON {prev_a}.part = e.part"
            f" GROUP BY e.cust)"
        )
        ctes.append(
            f"h{r} AS (SELECT cust, CAST(s * 1000000 //"
            f" (SELECT max(s) FROM h{r}raw) AS BIGINT) AS s FROM h{r}raw)"
        )
        ctes.append(
            f"a{r}raw AS (SELECT e.part, CAST(sum(s) AS BIGINT) AS s"
            f" FROM e JOIN h{r} ON h{r}.cust = e.cust GROUP BY e.part)"
        )
        ctes.append(
            f"a{r} AS (SELECT part, CAST(s * 1000000 //"
            f" (SELECT max(s) FROM a{r}raw) AS BIGINT) AS s FROM a{r}raw)"
        )
        prev_a = f"a{r}"
    last = _HITS_ROUNDS
    return f"""
WITH {", ".join(ctes)},
tops AS (
  SELECT 'authority' AS role, part AS node_key, s AS score_micro,
         CAST(row_number() OVER (ORDER BY s DESC, part ASC) AS BIGINT)
           AS rank
  FROM a{last} QUALIFY rank <= {_HITS_TOP}
  UNION ALL
  SELECT 'hub' AS role, cust AS node_key, s AS score_micro,
         CAST(row_number() OVER (ORDER BY s DESC, cust ASC) AS BIGINT)
           AS rank
  FROM h{last} QUALIFY rank <= {_HITS_TOP}
)
SELECT role, node_key, score_micro, rank FROM tops
"""


@register("hits_hubs_authorities", _hits_oracle())
def q_hits_hubs_authorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3 HITS rounds over the customer->part purchase graph, max-
    normalized to micro each half-round — all-integer, no doubles."""
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey"), F.col("o_custkey").alias("cust")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey"), F.col("l_partkey").alias("part")
    )
    # Scale-adaptive edge-frame partitioning (guide §2.2/§2.5): the r11
    # shape persisted the distinct edge list at the session's 32 shuffle
    # partitions (~300 KB each at sf0.1) and every one of the ~20 stages
    # this lane runs paid 32-task scheduling overhead on a 9.6 MB frame
    # (profiled run/cpu ratio ~3x). Derive the partition count from the
    # INPUT size instead — a metadata-only parquet row count, no column
    # data read — so small graphs get few fat partitions and a 100 TB
    # edge list still fans out (capped; beyond the cap you scale
    # executors, not partitions).
    n_li = load_table(spark, sf_dir, "lineitem").count()
    nparts = int(max(1, min(4096, -(-n_li // 150_000))))
    e = materialize(
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select("cust", "part")
        .distinct()
        .coalesce(nparts)
    )
    # Join-strategy selection (guide §3.1): the score frames are
    # O(distinct nodes) <= O(lineitem rows); when that bound fits the
    # broadcast envelope, BHJ leaves the materialized edge list unshuffled
    # all K rounds (the big side never crosses an Exchange) and the
    # groupBy gets map-side partial aggregation. Past the envelope
    # (billions of nodes at 100 TB) fall back to the shuffle join —
    # identical results. Measured r12 at sf0.1: broadcast + size-derived
    # partitions 2.8 s vs 5.0 s for the r11 shape (query body,
    # median-of-3).
    bcast_scores = n_li <= int(
        os.environ.get("SVH_HITS_BCAST_MAX_NODES", "5000000")
    )

    def _scores_side(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if bcast_scores else df

    a = e.select("part").distinct().select(
        "part", F.lit(1_000_000).cast("bigint").alias("s")
    )
    h = None
    for _ in range(_HITS_ROUNDS):
        # materialize the RAW sums (one execution of the heavy
        # join+agg), fold the 1-row max to the driver from the
        # materialized frame, and normalize LAZILY on top of the
        # checkpoint. The previous shape (broadcast-max crossJoin, then
        # checkpoint the normalized frame) executed every join+agg
        # TWICE per half-round — once building the broadcast, once for
        # the checkpoint.
        hraw = materialize(
            e.join(_scores_side(a), "part")
            .groupBy("cust")
            .agg(F.sum("s").cast("bigint").alias("s"))
        )
        hmx = hraw.agg(F.max("s").alias("mx")).collect()[0][0] or 1
        h = hraw.select(
            "cust",
            F.expr(f"CAST(s * 1000000 DIV {int(hmx)} AS BIGINT)").alias("s"),
        )
        araw = materialize(
            e.join(_scores_side(h), "cust")
            .groupBy("part")
            .agg(F.sum("s").cast("bigint").alias("s"))
        )
        amx = araw.agg(F.max("s").alias("mx")).collect()[0][0] or 1
        a = araw.select(
            "part",
            F.expr(f"CAST(s * 1000000 DIV {int(amx)} AS BIGINT)").alias("s"),
        )
    wa = Window.orderBy(F.col("s").desc(), F.col("part").asc())
    wh = Window.orderBy(F.col("s").desc(), F.col("cust").asc())
    tops = (
        a.select(
            F.lit("authority").alias("role"),
            F.col("part").alias("node_key"),
            F.col("s").alias("score_micro"),
            F.row_number().over(wa).cast("bigint").alias("rank"),
        )
        .filter(F.col("rank") <= _HITS_TOP)
        .unionByName(
            h.select(
                F.lit("hub").alias("role"),
                F.col("cust").alias("node_key"),
                F.col("s").alias("score_micro"),
                F.row_number().over(wh).cast("bigint").alias("rank"),
            ).filter(F.col("rank") <= _HITS_TOP)
        )
    )
    return finalize_bounded(tops)


# --------------------------------------------------------------------------
# 5. Flesch-Kincaid readability per source
# --------------------------------------------------------------------------

_READ_ORACLE = """
WITH d AS (
  SELECT source,
         CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
           AS words,
         CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
              AS BIGINT) AS sentences,
         CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
              AS BIGINT) AS syllables
  FROM documents
), agg AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(words) AS BIGINT) AS words,
         CAST(sum(sentences) AS BIGINT) AS sentences,
         CAST(sum(syllables) AS BIGINT) AS syllables
  FROM d GROUP BY 1
)
SELECT source, n_docs, words, sentences, syllables,
       CAST(floor((0.39 * CAST(words AS DOUBLE) / sentences
                   + 11.8 * CAST(syllables AS DOUBLE) / words
                   - 15.59) * 1000000.0) AS BIGINT) AS fk_grade_micro
FROM agg
"""


@register("readability_by_source", _READ_ORACLE)
def q_readability_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch-Kincaid grade per source: exact token / sentence /
    vowel-group counts, one double formula floored to micro."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "source",
        F.size(F.split(F.trim(F.col("text")), r"\s+"))
        .cast("bigint")
        .alias("words"),
        F.greatest(
            F.expr("regexp_count(text, '[.!?]+')"), F.lit(1)
        )
        .cast("bigint")
        .alias("sentences"),
        F.expr("regexp_count(lower(text), '[aeiouy]+')")
        .cast("bigint")
        .alias("syllables"),
    )
    agg = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("words").cast("bigint").alias("words"),
        F.sum("sentences").cast("bigint").alias("sentences"),
        F.sum("syllables").cast("bigint").alias("syllables"),
    )
    fk = (
        F.lit(0.39) * F.col("words").cast("double") / F.col("sentences")
        + F.lit(11.8) * F.col("syllables").cast("double") / F.col("words")
        - F.lit(15.59)
    )
    return agg.select(
        "source",
        "n_docs",
        "words",
        "sentences",
        "syllables",
        F.floor(fk * F.lit(1000000.0)).cast("bigint").alias(
            "fk_grade_micro"
        ),
    )
