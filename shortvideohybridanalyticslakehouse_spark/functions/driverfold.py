"""Driver-side replication of Spark expression arithmetic for bounded
matrix folds (guide §1.2/§5: the markov lanes' K=60 value iterations over
a 5x7 transition matrix are O(states^2) scalar work — evaluating them as
a giant Catalyst expression costs seconds of codegen/planning per trial
and scales with NOTHING; the matrix is collected once and folded here).

Exactness contract: ``spark_round`` must be bit-identical to Spark's
``round(x, scale)`` on DoubleType, which evaluates
``BigDecimal.valueOf(x).setScale(scale, HALF_UP).doubleValue()``.
``BigDecimal.valueOf(double)`` parses ``Double.toString(d)`` — the
shortest decimal string that round-trips — which is what CPython's
``repr(float)`` produces; quantize(HALF_UP) == setScale(HALF_UP); and
CPython's ``float(Decimal)`` conversion is correctly rounded like
``BigDecimal.doubleValue``. Verified against Spark over a value grid in
tests/test_driverfold.py; every consuming lane is additionally verified
by oracle hash equality at all three SFs.

All folds below add/multiply Python floats — IEEE-754 binary64 with
correctly rounded +/* on both the JVM and CPython, so the arithmetic
matches Spark's (and the DuckDB oracle's) fold bit for bit as long as
the OPERATION ORDER matches (each fold documents the order it uses).
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal, localcontext


def spark_round(x: float, scale: int) -> float:
    """Bit-exact twin of Spark SQL ``round(x, scale)`` for finite doubles."""
    if x != x or x in (float("inf"), float("-inf")):
        return x
    with localcontext() as ctx:
        ctx.prec = 500  # BigDecimal.setScale is unlimited-precision
        q = Decimal(repr(x)).quantize(
            Decimal(1).scaleb(-scale), rounding=ROUND_HALF_UP
        )
    f = float(q)
    # java.math.BigDecimal has no signed zero: round(-0.0) and any
    # negative value rounding to zero come back +0.0 from Spark, while
    # Python's Decimal preserves the sign — normalize to match.
    return 0.0 if f == 0.0 else f


def value_iteration_absorption(
    p: list[float], nf: int, nt: int, k: int, rc: int
) -> float:
    """queries_ext122's value iteration: K rounds of
    v'[s] = fold_{i=1..nf} round(acc + p[(s-1)nt+i] * (0 if i==rc else v[i]), 12)
    with init p[(s-1)nt+6], returning v[1] (start-state absorption)."""
    v = [0.0] * nf
    for _ in range(k):
        nxt = []
        for s in range(1, nf + 1):
            a = p[(s - 1) * nt + 5]  # element_at(p, (s-1)*nt + 6)
            for i in range(1, nf + 1):
                w = 0.0 if i == rc else v[i - 1]
                a = spark_round(a + p[(s - 1) * nt + i - 1] * w, 12)
            nxt.append(a)
        v = nxt
    return v[0]


def expected_steps_fold(
    p: list[float], nf: int, nt: int, k: int
) -> list[float]:
    """queries_ext128's expected-steps iteration: K rounds of
    h'[s] = fold_{i=1..nf} round(acc + p[(s-1)nt+i] * h[i], 12), init 1.0."""
    h = [0.0] * nf
    for _ in range(k):
        nxt = []
        for s in range(1, nf + 1):
            a = 1.0
            for i in range(1, nf + 1):
                a = spark_round(a + p[(s - 1) * nt + i - 1] * h[i - 1], 12)
            nxt.append(a)
        h = nxt
    return h


def pca_power_fold(
    n: int,
    gram: dict,
    marg: dict,
    dim: int,
    iters: int,
) -> tuple[list[float], float]:
    """queries_ext83's 8-round power iteration over the integer
    second-moment stats, with Spark's arithmetic bit for bit:

      mat[i][j] = double(n * gram[i,j] - marg[i] * marg[j]) / (n_d * n_d)
      u_i  = round(fold_j(acc + mat[i][j] * v_j, seed 0.0), 12)
      nrm  = round(sqrt(fold(acc + u_i * u_i, seed 0.0)), 12)
      v'_i = round(u_i / nrm, 12)
      lam  = round(fold(acc + v_i * u_i, seed 0.0), 6)   # u from final v

    int64 products/differences are exact; long->double casts and IEEE
    +,*,/ and Math.sqrt are correctly rounded identically on the JVM and
    CPython; round() goes through spark_round. Returns (v, lam)."""
    import math

    n_d = float(n)
    nsq = n_d * n_d
    mat = [
        [float(n * gram[(i, j)] - marg[i] * marg[j]) / nsq for j in range(dim)]
        for i in range(dim)
    ]

    def mv(v: list[float]) -> list[float]:
        out = []
        for i in range(dim):
            a = 0.0
            for j in range(dim):
                a = a + mat[i][j] * v[j]
            out.append(spark_round(a, 12))
        return out

    v = [0.125] * dim
    for _ in range(iters):
        u = mv(v)
        a = 0.0
        for x in u:
            a = a + x * x
        nrm = spark_round(math.sqrt(a), 12)
        v = [spark_round(x / nrm, 12) for x in u]
    u = mv(v)
    a = 0.0
    for x, y in zip(v, u):
        a = a + x * y
    return v, spark_round(a, 6)


def stationary_power_fold(
    pm: list[float], n: int, iters: int
) -> list[float]:
    """queries_ext97's power iteration: ITERS rounds of
    pi'[j] = fold_{i=1..n} round(acc + pi[i] * pm[n(i-1)+j], 12), init 0.0."""
    pi = [1.0 / n] * n
    for _ in range(iters):
        nxt = []
        for j in range(1, n + 1):
            a = 0.0
            for i in range(1, n + 1):
                a = spark_round(a + pi[i - 1] * pm[n * (i - 1) + j - 1], 12)
            nxt.append(a)
        pi = nxt
    return pi
