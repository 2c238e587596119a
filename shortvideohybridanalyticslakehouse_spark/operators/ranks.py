"""Distributed exact ranking — total-order ranks and ntile WITHOUT a
single-partition global sort.

The problem: ``ntile(k) OVER (ORDER BY ...)`` (and any exact global rank)
forces Spark to plan a Window over ONE partition — the whole input sorts on
one core, the anti-pattern PLANS.md flagged for equi_depth_value_bins /
customer_spend_quartiles. The reference never solves this (its engine is
single-node); at 100 TB it's the difference between a working query and an
executor OOM.

The scale shape used here (the documented "broadcast approx-quantile cut
points + scan-side bucketing" swap, made EXACT):

1. ``approx_percentile`` picks ~``n_buckets`` cut points of the first sort
   key — one aggregate, collected as a tiny literal array (the only
   driver-side fetch, O(n_buckets)).
2. Every row maps to a bucket with ``size(filter(cuts, c -> v > c))`` —
   a scan-side expression against broadcast literals; buckets are
   MONOTONIC in the sort key, so global order = (bucket, within-bucket
   order). Cut-point accuracy only shapes bucket BALANCE, never
   correctness.
3. Exact per-bucket counts -> exclusive prefix offsets via a window over
   the counts frame (|groups| x n_buckets rows; in the global case this
   window IS single-partition, but over at most n_buckets rows — O(64),
   not O(data)).
4. ``row_number`` within (group, bucket) + broadcast-joined offset =
   exact global row number. Each window group is ~1/n_buckets of its
   group — the sort is distributed across buckets.

From the exact row number, ``ntile``/``rank``/``cume_dist`` are arithmetic
(see ntile_from_rank) or tiny tie-group windows.

Skew note: buckets split on the first sort key's VALUES, so a single
massively repeated value concentrates in one bucket (ties can't be split
across buckets without breaking rank contiguity anyway — the same row
distribution a perfect partitioner would produce).
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from shortvideohybridanalyticslakehouse_spark.plans.registry import materialize


def with_tiny_rank(
    df: DataFrame,
    order: Sequence[tuple[str, str]],
    rank_col: str = "rn",
    max_rows: int = 64,
) -> DataFrame:
    """Append ``row_number() OVER (ORDER BY order)`` to a frame that is
    TINY BY CONSTRUCTION (typically the output of ``orderBy().limit(k)``),
    without planning a WindowExec at all — so full-registry runs carry
    zero single-partition window warnings and the tiny-frame invariant is
    code, not prose (VERDICT r5 #2).

    rank = 1 + |{rows strictly earlier in the order}| via a broadcast
    O(k^2) self-join over only the order columns — the ranks.py global-
    case idiom. Requirements (asserted where cheap, documented otherwise):

    - ``order`` is a TOTAL order: (name, "asc"|"desc") pairs whose tuple
      is unique per row (else ranks collide — rank semantics, not
      row_number). Full-row duplicates are likewise excluded.
    - order keys are non-null.
    - the frame has at most ``max_rows`` rows. With SVH_ASSERT_TINY_FRAMES
      set (the test suite sets it), the bound is CHECKED at plan time with
      a count and violations raise; production plans skip the extra action.
    """
    order = [(c, d.lower()) for c, d in order]
    if not order:
        raise ValueError(
            "with_tiny_rank requires a non-empty order: an empty order "
            "leaves the self-join predicate None (a cross join) and every "
            "row would silently get rank k+1"
        )
    for _, d in order:
        if d not in ("asc", "desc"):
            raise ValueError(f"direction must be asc|desc, got {d!r}")
    if os.environ.get("SVH_ASSERT_TINY_FRAMES"):
        n = df.count()
        if n > max_rows:
            raise AssertionError(
                f"tiny-frame invariant violated: {n} rows > max_rows={max_rows}"
            )
    earlier = df.select(
        F.lit(1).alias("_tr_hit"),
        *[F.col(c).alias(f"_tr_{c}") for c, _ in order],
    )
    pred: Column | None = None
    for i, (c, d) in enumerate(order):
        strict = (
            F.col(f"_tr_{c}") < F.col(c)
            if d == "asc"
            else F.col(f"_tr_{c}") > F.col(c)
        )
        for c2, _ in order[:i]:
            strict = (F.col(f"_tr_{c2}") == F.col(c2)) & strict
        pred = strict if pred is None else (pred | strict)
    joined = df.join(F.broadcast(earlier), pred, "left")
    return joined.groupBy(*df.columns).agg(
        (F.count("_tr_hit") + 1).cast("int").alias(rank_col)
    )


def with_distributed_row_number(
    df: DataFrame,
    part_cols: Sequence[str],
    order_cols: Sequence[str],
    n_buckets: int = 64,
    rn_col: str = "_rn",
    n_col: str = "_n",
    single_pass: bool = False,
) -> DataFrame:
    """Append the exact ``row_number() OVER (PARTITION BY part_cols ORDER BY
    order_cols)`` (ascending, NULLs excluded by the caller) and the group
    row count, without any single-partition sort.

    ``order_cols[0]`` must be numeric (it feeds approx_percentile); the
    remaining columns break ties. Adds ``rn_col`` (1-based bigint) and
    ``n_col`` (rows in the group).

    ``single_pass=True`` materializes ``df`` once (registry.materialize)
    before the cuts pre-pass: the helper reads its input three times
    (approx_percentile cuts, bucket counts, the ranked join), so when
    ``df`` is a DERIVED frame (joins/explodes upstream) the pre-pass
    re-executes that whole subtree — guide §1.2/§2.4, single execution.
    The cut values may differ from the recomputed-subtree run only in
    which sample approx_percentile sees; ANY cut set yields the same
    exact row numbers (cuts only balance buckets; ordering and offsets
    are exact regardless), so results are unchanged. Leave False when
    ``df`` is a bare scan — re-scanning parquet twice is cheaper at
    scale than materializing the table.
    """
    part_cols = list(part_cols)
    order_cols = list(order_cols)
    if single_pass:
        df = materialize(df)
    v = order_cols[0]

    probs = [i / n_buckets for i in range(1, n_buckets)]
    cuts_row = df.agg(
        F.expr(
            f"approx_percentile({v}, array({', '.join(repr(p) for p in probs)}))"
        ).alias("cuts")
    ).first()
    cuts = sorted(set(cuts_row["cuts"] or []))

    if cuts:
        bucket = F.size(
            F.filter(
                F.array(*[F.lit(c) for c in cuts]),
                lambda c: F.col(v) > c,
            )
        ).cast("int")
    else:  # empty input or a single distinct value: one bucket
        bucket = F.lit(0)
    bucketed = df.withColumn("_bucket", bucket)

    counts = bucketed.groupBy(
        *[F.col(c) for c in part_cols], F.col("_bucket")
    ).agg(F.count(F.lit(1)).alias("_cnt"))
    # counts is |groups| x n_buckets rows — the prefix offsets run over the
    # tiny side and the result is broadcast back to the scan.
    if part_cols:
        w_off = (
            Window.partitionBy(*part_cols)
            .orderBy("_bucket")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        w_tot = Window.partitionBy(*part_cols)
        offsets = counts.select(
            *part_cols,
            "_bucket",
            F.coalesce(F.sum("_cnt").over(w_off), F.lit(0)).alias("_off"),
            F.sum("_cnt").over(w_tot).alias(n_col),
        )
    else:
        # Global case: an unpartitioned window (even over this O(buckets)
        # frame) plans a single-partition WindowExec and logs a scale
        # warning on every rank-family query. A broadcast O(buckets^2)
        # range self-join computes the same exclusive prefix with no
        # window at all — bounded by n_buckets (~64), never the data.
        prev = counts.select(
            F.col("_bucket").alias("_pb"), F.col("_cnt").alias("_pc")
        )
        offsets = (
            counts.join(
                F.broadcast(prev), F.col("_pb") < F.col("_bucket"), "left"
            )
            .groupBy("_bucket", "_cnt")
            .agg(F.coalesce(F.sum("_pc"), F.lit(0)).alias("_off"))
            .crossJoin(F.broadcast(counts.agg(F.sum("_cnt").alias(n_col))))
            .select("_bucket", "_off", n_col)
        )

    w_rn = Window.partitionBy(
        *[F.col(c) for c in part_cols], F.col("_bucket")
    ).orderBy(*[F.col(c).asc() for c in order_cols])
    ranked = bucketed.withColumn("_brn", F.row_number().over(w_rn))
    out = ranked.join(
        F.broadcast(offsets), [*part_cols, "_bucket"], "inner"
    ).withColumn(rn_col, (F.col("_off") + F.col("_brn")).cast("bigint"))
    return out.drop("_bucket", "_brn", "_off")


def with_distributed_prefix_sum(
    df: DataFrame,
    part_cols: Sequence[str],
    order_cols: Sequence[str],
    value_col: str,
    out_col: str = "_cum_before",
    n_buckets: int = 64,
    single_pass: bool = False,
) -> DataFrame:
    """Append the EXCLUSIVE prefix sum of ``value_col`` in the total order
    ``order_cols`` (per ``part_cols`` group), without a single-partition
    window — the distributed form of
    ``sum(v) OVER (ORDER BY ... ROWS UNBOUNDED PRECEDING AND 1 PRECEDING)``.

    ``single_pass``: as in with_distributed_row_number — materialize a
    derived input once instead of re-executing its subtree for the cuts
    pre-pass (results identical for any cut set).

    Same bucketed two-phase shape as with_distributed_row_number: bucket
    offsets are the cumulative sums of whole earlier buckets, the
    within-bucket running sum is an ordinary per-bucket window. Exact for
    integral/decimal values (sums reassociate losslessly); for doubles the
    summation ORDER differs from a one-partition window, so use it there
    only when ulp drift is acceptable.
    """
    part_cols = list(part_cols)
    order_cols = list(order_cols)
    if single_pass:
        df = materialize(df)
    v = order_cols[0]

    probs = [i / n_buckets for i in range(1, n_buckets)]
    cuts_row = df.agg(
        F.expr(
            f"approx_percentile({v}, array({', '.join(repr(p) for p in probs)}))"
        ).alias("cuts")
    ).first()
    cuts = sorted(set(cuts_row["cuts"] or []))
    bucket = (
        F.size(
            F.filter(F.array(*[F.lit(c) for c in cuts]), lambda c: F.col(v) > c)
        ).cast("int")
        if cuts
        else F.lit(0)
    )
    bucketed = df.withColumn("_bucket", bucket)

    sums = bucketed.groupBy(
        *[F.col(c) for c in part_cols], F.col("_bucket")
    ).agg(F.sum(value_col).alias("_bsum"))
    # Same O(buckets)-frame invariant as with_distributed_row_number: in
    # the global case the exclusive prefix comes from a broadcast
    # O(buckets^2) range self-join (no window, no single-partition
    # WindowExec warning); grouped case keeps the per-group window.
    if part_cols:
        w_off = (
            Window.partitionBy(*part_cols)
            .orderBy("_bucket")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        offsets = sums.select(
            *part_cols,
            "_bucket",
            F.coalesce(F.sum("_bsum").over(w_off), F.lit(0)).alias("_off"),
        )
    else:
        prev = sums.select(
            F.col("_bucket").alias("_pb"), F.col("_bsum").alias("_ps")
        )
        offsets = (
            sums.join(
                F.broadcast(prev), F.col("_pb") < F.col("_bucket"), "left"
            )
            .groupBy("_bucket", "_bsum")
            .agg(F.coalesce(F.sum("_ps"), F.lit(0)).alias("_off"))
            .select("_bucket", "_off")
        )

    w_run = (
        Window.partitionBy(*[F.col(c) for c in part_cols], F.col("_bucket"))
        .orderBy(*[F.col(c).asc() for c in order_cols])
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    running = bucketed.withColumn(
        "_brun", F.coalesce(F.sum(value_col).over(w_run), F.lit(0))
    )
    out = running.join(
        F.broadcast(offsets), [*part_cols, "_bucket"], "inner"
    ).withColumn(out_col, F.col("_off") + F.col("_brun"))
    return out.drop("_bucket", "_brun", "_off")


def ntile_from_rank(rn: Column, n: Column, tiles: int) -> Column:
    """SQL ntile(tiles) as arithmetic over an exact 1-based row number.

    ntile gives the first ``n % tiles`` buckets ``n div tiles + 1`` rows and
    the rest ``n div tiles`` — bit-for-bit the window function's output,
    derived without the window's total-order sort.
    """
    t = F.lit(tiles)
    q = (n / t).cast("long")  # floor: n, tiles non-negative
    r = n - q * t
    big = r * (q + 1)  # rows living in the larger leading buckets
    return (
        F.when(rn <= big, ((rn - 1) / (q + 1)).cast("long") + 1)
        .otherwise(r + ((rn - big - 1) / F.greatest(q, F.lit(1))).cast("long") + 1)
        .cast("int")
    )


def with_distributed_prefix_max(
    df: DataFrame,
    part_cols: Sequence[str],
    order_cols: Sequence[str],
    value_col: str,
    out_col: str = "_max_before",
    n_buckets: int = 64,
    single_pass: bool = False,
) -> DataFrame:
    """Append the EXCLUSIVE prefix max of ``value_col`` in the total order
    ``order_cols`` (per ``part_cols`` group) — the distributed form of
    ``max(v) OVER (ORDER BY ... ROWS UNBOUNDED PRECEDING AND 1 PRECEDING)``
    — with no single-partition window. NULL where no strictly-earlier row
    exists. ``order_cols`` must be a total order within each group (ties
    would make "before" ambiguous); max reassociates losslessly, so the
    two-phase split is exact for every type.

    Same bucketed shape as with_distributed_prefix_sum: per-bucket maxes
    give bucket offsets (global case: broadcast O(buckets^2) range
    self-join, no WindowExec), the within-bucket exclusive running max is
    an ordinary per-bucket window, and the row value is
    greatest(bucket offset, within-bucket running max) with NULL-skipping
    coalesce semantics.
    """
    part_cols = list(part_cols)
    order_cols = list(order_cols)
    if single_pass:
        df = materialize(df)
    v = order_cols[0]

    probs = [i / n_buckets for i in range(1, n_buckets)]
    cuts_row = df.agg(
        F.expr(
            f"approx_percentile({v}, array({', '.join(repr(p) for p in probs)}))"
        ).alias("cuts")
    ).first()
    cuts = sorted(set(cuts_row["cuts"] or []))
    bucket = (
        F.size(
            F.filter(F.array(*[F.lit(c) for c in cuts]), lambda c: F.col(v) > c)
        ).cast("int")
        if cuts
        else F.lit(0)
    )
    bucketed = df.withColumn("_bucket", bucket)

    maxes = bucketed.groupBy(
        *[F.col(c) for c in part_cols], F.col("_bucket")
    ).agg(F.max(value_col).alias("_bmax"))
    if part_cols:
        w_off = (
            Window.partitionBy(*part_cols)
            .orderBy("_bucket")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        offsets = maxes.select(
            *part_cols, "_bucket", F.max("_bmax").over(w_off).alias("_off")
        )
    else:
        prev = maxes.select(
            F.col("_bucket").alias("_pb"), F.col("_bmax").alias("_pm")
        )
        offsets = (
            maxes.join(
                F.broadcast(prev), F.col("_pb") < F.col("_bucket"), "left"
            )
            .groupBy("_bucket")
            .agg(F.max("_pm").alias("_off"))
            .select("_bucket", "_off")
        )

    w_run = (
        Window.partitionBy(*[F.col(c) for c in part_cols], F.col("_bucket"))
        .orderBy(*[F.col(c).asc() for c in order_cols])
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    running = bucketed.withColumn("_brun", F.max(value_col).over(w_run))
    out = running.join(
        F.broadcast(offsets), [*part_cols, "_bucket"], "inner"
    ).withColumn(
        # greatest() skips NULLs and returns NULL only when both are —
        # exactly the exclusive-prefix-max-over-empty semantics needed.
        out_col,
        F.greatest(F.col("_off"), F.col("_brun")),
    )
    return out.drop("_bucket", "_brun", "_off")
