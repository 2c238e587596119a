"""Extension queries, round 128: expected journey length to absorption
— the second fundamental-matrix statistic of the ext122 touch-channel
chain (N = (I-Q)^-1; expected steps = N * 1). Where ext122 prices each
channel's conversion contribution, this prices the PATH LENGTH: how
many touches a journey starting at start (or stranded at a channel)
takes before it converts or dies.

Same chain, same contract: h(s) = 1 + sum over transient t of
P(s,t) * h(t), iterated K=60 rounds from h = 0 with round-12
quantization per write, index-order inner sums — the truncated
Neumann series for (I-Q)^-1 * 1, replayed bit-for-bit by the oracle
through the shared edge/pmat CTE (queries_ext122._EDGES_CTE). The
Spark side shares transition_pmat() with the removal-effect query, so
the two statistics cannot drift apart.

Plan shape: identical to ext122 — the O(events) journey reduction,
then a bounded driver fold over the collected 35-cell matrix."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from shortvideohybridanalyticslakehouse_spark.functions.driverfold import (
    expected_steps_fold,
    spark_round,
)

from shortvideohybridanalyticslakehouse_spark.plans.queries_ext122 import (
    _EDGES_CTE,
    _K,
    _NF,
    _NT,
    CHANNELS,
    transition_pmat,
)
from shortvideohybridanalyticslakehouse_spark.functions.localrel import (
    local_rows_df,
)
from shortvideohybridanalyticslakehouse_spark.plans.registry import register

_STATE_NAMES = ["start"] + CHANNELS  # from-state idx 1..5


def _duck_hiter() -> str:
    inner = (
        "list_reduce(list_concat([CAST(1.0 AS DOUBLE)],"
        f" list_transform(range(1, {_NF + 1}),"
        f" i -> p[(s - 1) * {_NT} + i] * acc[i])),"
        " (a, b) -> round(a + b, 12))"
    )
    return (
        "list_reduce(list_concat("
        f"[[{', '.join(['0.0'] * _NF)}]],"
        f" list_transform(range(1, {_K} + 1), x -> p)),"
        f" (acc, p) -> list_transform(range(1, {_NF + 1}), s -> {inner})"
        ")"
    )


_STEPS_ORACLE = (
    _EDGES_CTE
    + f""", states AS (
  SELECT unnest(['{_STATE_NAMES[0]}', '{_STATE_NAMES[1]}',
                 '{_STATE_NAMES[2]}', '{_STATE_NAMES[3]}',
                 '{_STATE_NAMES[4]}']) AS state,
         unnest([1, 2, 3, 4, 5]) AS sidx
), folded AS (
  SELECT {_duck_hiter()} AS h FROM pmat
)
SELECT s.state, round(f.h[s.sidx], 6) AS expected_steps
FROM folded f, states s
"""
)


@register("markov_expected_steps", _STEPS_ORACLE)
def q_markov_expected_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected touches to absorption (conversion or abandonment) from
    start and from each channel — K=60 truncated Neumann iterations of
    h = 1 + Q h over the shared journey chain.

    r13: the fold over the collected 35-double matrix runs on the driver
    (bit-identical arithmetic, functions/driverfold.py) — the in-plan
    Catalyst expression cost seconds of codegen on a 1-row frame and is
    O(1) work (guide §1.2).
    """
    p = list(transition_pmat(spark, sf_dir).collect()[0][0])
    if len(p) != _NF * _NT:  # the NF x NT grid left join: one cell each
        raise ValueError(f"transition matrix has {len(p)} cells")
    h = expected_steps_fold(p, _NF, _NT, _K)
    rows = [(n, spark_round(h[i], 6)) for i, n in enumerate(_STATE_NAMES)]
    return local_rows_df(spark, rows, "state string, expected_steps double")
