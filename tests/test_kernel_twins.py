"""Brute-force pure-python twins of the numpy/Arrow kernels that replaced
per-row Catalyst folds: the kNN band keys (ext129), and SemDeDup
(similarity) and the label-centroid lanes (ext136) on the sf0.001
embeddings; the streaming funnel's pandas UDFs against the Catalyst
expressions; and the empty-corpus answers against the DuckDB oracle."""

from __future__ import annotations

import hashlib
import math
import random

import pandas as pd
import pyarrow.parquet as pq
import pytest

from shortvideohybridanalyticslakehouse_spark.functions import similarity
from shortvideohybridanalyticslakehouse_spark.plans.registry import load_all

SF_DIR = "/root/testdata/sf0.001"


def _embeddings():
    t = pq.read_table(f"{SF_DIR}/embeddings.parquet").sort_by("vec_id")
    return list(
        zip(
            t.column("vec_id").to_pylist(),
            t.column("embedding").to_pylist(),
            t.column("label").to_pylist(),
        )
    )


def _quant(v):
    return [math.floor(x * 1_000_000.0 + 0.5) for x in v]


def _sqd(a, b):
    return sum((x - y) * (x - y) for x, y in zip(a, b))


def test_knn_band_keys_kernel_matches_per_row_fold():
    """Sign bit of each plane's dot with the vector sliced to len(v):
    NULL and longer-than-plane vectors give all bits 0, an empty vector
    dot 0 -> all bits 1."""
    from shortvideohybridanalyticslakehouse_spark.plans.queries_ext129 import (
        _KNN_BANDS,
        _KNN_PLANES,
        _band_keys_kernel,
    )

    rng = random.Random(5)
    vecs = [None, [], [3] * 65, [0] * 64]
    vecs += [[rng.randint(-9, 9) for _ in range(n)] for n in (1, 7, 63, 64)]
    vecs += [[rng.randint(-10**6, 10**6) for _ in range(64)] for _ in range(40)]
    pdf = pd.DataFrame(
        {"vec_id": range(len(vecs)), "label": [0] * len(vecs), "v": vecs}
    )
    got = {}
    for out in _band_keys_kernel(iter([pdf])):
        for vid, key in zip(out["vec_id"], out["bkey"]):
            got.setdefault(int(vid), []).append(int(key))

    def bit(v, plane):
        if v is None or len(v) > len(plane):
            return 0
        return int(sum(x * h for x, h in zip(v, plane)) >= 0)

    for vid, v in enumerate(vecs):
        bits = [bit(v, p) for p in _KNN_PLANES]
        want = [b * 4 + bits[2 * b] * 2 + bits[2 * b + 1] for b in range(_KNN_BANDS)]
        assert got[vid] == want, vid


def test_semdedup_matches_brute_force(spark):
    rows = _embeddings()
    n_cells, tau = 16, 0.30
    medoids = sorted(
        rows, key=lambda r: (hashlib.md5(str(r[0]).encode()).hexdigest(), r[0])
    )[:n_cells]
    medoids.sort()  # ascending cell_id: the first minimum wins
    cells = {}
    for vid, v, _ in rows:
        best = min(medoids, key=lambda m: _sqd(v, m[1]))
        cells.setdefault(best[0], []).append((vid, v))
    want = {}
    for cid, members in cells.items():
        members.sort()
        dropped = set()
        for i, (_, a) in enumerate(members):
            na = math.sqrt(sum(x * x for x in a))
            for vb, b in members[i + 1 :]:
                nb = math.sqrt(sum(x * x for x in b))
                if round(sum(x * y for x, y in zip(a, b)) / (na * nb), 6) >= tau:
                    dropped.add(vb)
        want[cid] = (len(members), len(members) - len(dropped), len(dropped))
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    got = {
        r.cell_id: (r.n_members, r.n_kept, r.n_dropped)
        for r in similarity.semdedup_prune(emb, n_cells=n_cells, tau=tau).collect()
    }
    assert got == want
    assert sum(d for _, _, d in want.values()) > 0


def _centroids(rows):
    by_label = {}
    for _, v, lab in rows:
        by_label.setdefault(lab, []).append(_quant(v))
    cents = {}
    for lab, qs in by_label.items():
        n = len(qs)
        cents[lab] = [math.floor(float(sum(col)) / float(n)) for col in zip(*qs)]
    return by_label, cents


def test_centroid_confusion_matches_brute_force(spark):
    rows = _embeddings()
    _, cents = _centroids(rows)
    want = {}
    for _, v, lab in rows:
        q = _quant(v)
        nearest = min(sorted(cents), key=lambda c: _sqd(q, cents[c]))
        want[(lab, nearest)] = want.get((lab, nearest), 0) + 1
    fn, _ = load_all()["centroid_label_confusion"]
    got = {(r.label, r.nearest_label): r.n_vecs for r in fn(spark, SF_DIR).collect()}
    assert got == want


def test_db_index_matches_brute_force(spark):
    rows = _embeddings()
    by_label, cents = _centroids(rows)
    s_milli = {
        lab: math.floor(
            float(sum(math.floor(math.sqrt(float(_sqd(q, cents[lab]))) * 1000.0)
                      for q in qs))
            / float(len(qs))
        )
        for lab, qs in by_label.items()
    }
    want = {}
    for lab in by_label:
        ratios = []
        for other in by_label:
            if other == lab:
                continue
            m = math.floor(math.sqrt(float(_sqd(cents[lab], cents[other]))) * 1000.0)
            ratios.append(
                2**63 - 1 if m == 0 else (s_milli[lab] + s_milli[other]) * 10**6 // m
            )
        want[lab] = (len(by_label[lab]), s_milli[lab], max(ratios))
    fn, _ = load_all()["label_centroid_db_index"]
    got = {
        r.label: (r.n_vecs, r.s_milli, r.worst_ratio_micro)
        for r in fn(spark, SF_DIR).collect()
    }
    assert got == want


def test_funnel_udfs_match_catalyst_forms(spark):
    """The streaming curation funnel's pandas UDFs against the Catalyst
    expressions they replace: minhash_sig_udf == with_minhash, and
    gram_hash_udf == the distinct hash60s of shingles(text, k)."""
    from pyspark.sql import functions as F

    from shortvideohybridanalyticslakehouse_spark.functions import dedupfns

    texts = [
        "a b c a b c d",
        "  The the THE cat sat on the mat  ",
        "x",
        "one two",
        "α β γ α β",
    ]
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    got = {
        r.doc_id: (r.sig, set(r.grams))
        for r in df.select(
            "doc_id",
            dedupfns.minhash_sig_udf(2, 16)(toks).alias("sig"),
            dedupfns.gram_hash_udf(3)(toks).alias("grams"),
        ).collect()
    }
    want = {
        r.doc_id: (r.sig, set(r.grams))
        for r in dedupfns.with_minhash(df, "text", k=2, num_hashes=16, out_col="sig")
        .select(
            "doc_id",
            "sig",
            F.transform(dedupfns.shingles(F.col("text"), 3), dedupfns.hash60).alias(
                "grams"
            ),
        )
        .collect()
    }
    assert got == want


@pytest.mark.parametrize(
    "lane",
    [
        "embedding_pca_power",
        "kmeans_lloyd_integer",
        "label_centroid_db_index",
        "centroid_label_confusion",
    ],
)
def test_empty_embeddings_match_oracle(spark, tmp_path, lane):
    """The driver folds and kernels handle an empty corpus explicitly,
    with the DuckDB oracle's answer."""
    import duckdb

    spark.createDataFrame(
        [], "vec_id long, embedding array<float>, label int"
    ).write.parquet(str(tmp_path / "embeddings.parquet"))
    fn, oracle = load_all()[lane]
    got = sorted(tuple(r) for r in fn(spark, str(tmp_path)).collect())
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{tmp_path}/embeddings.parquet/*.parquet')"
    )
    assert got == sorted(con.sql(oracle).fetchall())
