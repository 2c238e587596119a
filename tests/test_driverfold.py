"""driverfold.spark_round must be bit-identical to Spark SQL round() on
doubles, and the markov and PCA driver folds must reproduce hand-solved
chains and eigenpairs."""

from __future__ import annotations

import math
import random

from pyspark.sql import functions as F

from shortvideohybridanalyticslakehouse_spark.functions.driverfold import (
    expected_steps_fold,
    pca_power_fold,
    spark_round,
    stationary_power_fold,
    value_iteration_absorption,
)


def test_spark_round_bit_exact_grid(spark):
    rng = random.Random(7)
    vals = [
        0.0, -0.0, 1.0, -1.0, 0.5, -0.5,
        0.2999995, 0.30000049999, 123.4567890123449999,
        1e-13, 5e-13, -5e-13, 1.5e-12, 2.5e-12,
        0.1 + 0.2, 1.0 / 3.0, 2.0 / 3.0, math.pi, -math.e,
        59.9999999999995, 1e20,
    ]
    vals += [rng.uniform(-100, 100) for _ in range(500)]
    vals += [rng.uniform(-1, 1) * 10 ** rng.randint(-15, 3) for _ in range(500)]
    for scale in (6, 8, 12):
        df = spark.createDataFrame(
            [(i, v) for i, v in enumerate(vals)], "i int, x double"
        ).select("i", F.round("x", scale).alias("r"))
        got = {r.i: r.r for r in df.collect()}
        for i, v in enumerate(vals):
            mine = spark_round(v, scale)
            theirs = got[i]
            assert mine.hex() == theirs.hex(), (v, scale, mine, theirs)


# The ext122/ext128 planted journey chain (hand-solved there): from-states
# 1=start, 2..5 = click, error, signup, view; to-states add 6=conv, 7=null.
# start -> {click 1/2, view 1/4, conv 1/4}; click -> {conv 1/2, view 1/2};
# view -> {conv 1/2, null 1/2}; the unreached error/signup rows -> null.
_NF, _NT, _K = 5, 7, 60
_CHAIN = {
    (1, 2): 0.5, (1, 5): 0.25, (1, 6): 0.25,
    (2, 6): 0.5, (2, 5): 0.5,
    (3, 7): 1.0,
    (4, 7): 1.0,
    (5, 6): 0.5, (5, 7): 0.5,
}
_P = [
    _CHAIN.get((s, t), 0.0)
    for s in range(1, _NF + 1)
    for t in range(1, _NT + 1)
]


def test_value_iteration_absorption_hand_solved():
    """v_full(start) = 3/4; remove click -> 3/8; remove view -> 1/2;
    removing an unreached channel changes nothing."""

    def v(rc):
        return spark_round(value_iteration_absorption(_P, _NF, _NT, _K, rc), 6)

    assert v(0) == 0.75
    assert v(2) == 0.375
    assert v(5) == 0.5
    assert v(3) == v(4) == 0.75


def test_expected_steps_fold_hand_solved():
    """h(view) = 1, h(click) = 1.5, h(start) = 2; unreached channels
    absorb in one step."""
    h = [spark_round(x, 6) for x in expected_steps_fold(_P, _NF, _NT, _K)]
    assert h == [2.0, 1.5, 1.0, 1.0, 1.0]


def test_stationary_power_fold_hand_solved():
    """P = [[1/2, 1/2], [1/4, 3/4]] has pi = (1/3, 2/3); the second
    eigenvalue 1/4 leaves 20 power steps ~1e-12 from it."""
    pi = stationary_power_fold([0.5, 0.5, 0.25, 0.75], 2, 20)
    assert [spark_round(x, 8) for x in pi] == [0.33333333, 0.66666667]


def test_pca_power_fold_hand_solved():
    """Points (+-2, 0), (0, +-1): n = 4, zero marginals, covariance
    diag(2, 1/2) — top eigenpair (2, e1); 8 power steps from (1, 1)
    leave the e2 loading at 4**-8."""
    gram = {(0, 0): 8, (1, 1): 2, (0, 1): 0, (1, 0): 0}
    v, lam = pca_power_fold(4, gram, {0: 0, 1: 0}, 2, 8)
    assert lam == 2.0
    assert spark_round(v[0], 6) == 1.0
    assert abs(v[1] - 4.0**-8) < 1e-9
