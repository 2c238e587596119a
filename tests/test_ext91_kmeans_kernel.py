"""kmeans_lloyd_integer: the numpy mapInPandas kernel path must replay
the pure-python Lloyd reference exactly on the sf0.001 embeddings
(all-integer arithmetic, so this is exact equality, not approx)."""

from __future__ import annotations

import numpy as np
import pyarrow.parquet as pq
from test_ext91_kmeans import _K, _py_lloyd

from shortvideohybridanalyticslakehouse_spark.plans.registry import load_all

SF_DIR = "/root/testdata/sf0.001"


def test_lane_matches_python_lloyd(spark):
    t = pq.read_table(f"{SF_DIR}/embeddings.parquet").sort_by("vec_id")
    ids = t.column("vec_id").to_pylist()
    assert ids[:_K] == list(range(_K))  # the lane seeds with vec_id < K
    mat = np.array(t.column("embedding").to_pylist(), dtype=np.float32)
    fn, _ = load_all()["kmeans_lloyd_integer"]
    got = {
        r.cluster: (r.n_members, r.inertia, r.centroid_abs_sum)
        for r in fn(spark, SF_DIR).collect()
    }
    want = {k: v for k, v in _py_lloyd(mat).items() if v[0] > 0}
    assert got == want
    assert len(got) > 0


def test_kernel_partials_exact_tiny():
    """Unit-level: kernel partials on a hand-built batch reproduce the
    brute-force assignment/sums/inertia, including the assign-vs-measure
    centroid split used by the final stats pass."""
    import pandas as pd

    from shortvideohybridanalyticslakehouse_spark.plans.queries_ext91 import (
        _kmeans_partials_kernel,
    )

    xs = [
        [0, 0, 0],
        [10, 0, 0],
        [9, 1, 0],
        [0, 0, 12],
        [5, 5, 5],  # equidistant-ish: ties must go to the lowest k
    ]
    assign_c = [[0, 0, 0], [10, 0, 0]]
    measure_c = [[1, 1, 1], [8, 0, 0]]
    pdf = pd.DataFrame({"xq": [list(map(int, x)) for x in xs]})
    out = pd.concat(list(_kmeans_partials_kernel(assign_c, measure_c)(iter([pdf]))))

    def d2(a, b):
        return sum((x - y) ** 2 for x, y in zip(a, b))

    # brute force
    exp_assign = []
    for x in xs:
        dists = [(d2(x, c), k) for k, c in enumerate(assign_c)]
        exp_assign.append(min(dists)[1])
    for k in set(exp_assign):
        members = [x for x, a in zip(xs, exp_assign) if a == k]
        sub = out[out.k == k]
        assert int(sub.n.iloc[0]) == len(members)
        for d in range(3):
            assert int(sub[sub.d == d].s.iloc[0]) == sum(m[d] for m in members)
        assert int(sub.inert.sum()) == sum(
            d2(m, measure_c[k]) for m in members
        )
