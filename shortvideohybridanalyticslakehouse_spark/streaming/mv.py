"""Generic incremental materialized-view maintenance (round 7): declare
a keyed set of RE-AGGREGABLE measures, and a foreachBatch maintainer
keeps a bucketed parquet MV current with per-batch cost
O(batch + touched buckets) — the framework generalization of the
specific maintainers the engine already ships (gold minute agg, SCD2
bands, sketch merges).

Algebra: every measure must be a commutative-monoid partial — count and
sum merge by SUM, min by MIN, max by MAX (sum-of-squares etc. are just
sums). The merge step is therefore UNION + re-aggregate, the same
decomposition Spark's own partial aggregation uses map-side, and the
same one the batch oracle replays — so stream==batch equality is a
theorem about the monoid, checked by the tests, not a coincidence of
scheduling. Non-decomposable measures (exact quantiles, distinct counts)
belong to the sketch lanes (functions/sketches.py), not here.

Store: ``bucket=N/`` dirs on pmod(xxhash64(keys...), n_buckets),
written by the shared bucket-store fold (streaming/markers.py:fold_batch:
staging, touched buckets only, per-bucket markers, swap and crash
recovery) over the micro-batch's partials; a touched bucket's rebuild is
UNION + re-aggregate. Replay of a committed batch is a per-bucket no-op;
a torn swap restores and re-applies.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from shortvideohybridanalyticslakehouse_spark.streaming.markers import fold_batch

DEFAULT_BUCKETS = 16

_MERGE_FNS = {"sum": F.sum, "min": F.min, "max": F.max}


@dataclass(frozen=True)
class Measure:
    """One MV column: ``agg`` computes the per-batch partial over raw
    rows; ``merge`` ('sum' | 'min' | 'max') folds partials together."""

    name: str
    agg: Column
    merge: str

    def __post_init__(self):
        if self.merge not in _MERGE_FNS:
            raise ValueError(
                f"measure {self.name!r}: merge must be one of "
                f"{sorted(_MERGE_FNS)}, got {self.merge!r}"
            )


def counting(name: str = "n") -> Measure:
    return Measure(name, F.count(F.lit(1)).cast("bigint"), "sum")


def summing(col: Column, name: str) -> Measure:
    return Measure(name, F.sum(col), "sum")


def minning(col: Column, name: str) -> Measure:
    return Measure(name, F.min(col), "min")


def maxing(col: Column, name: str) -> Measure:
    return Measure(name, F.max(col), "max")


@dataclass(frozen=True)
class MvSpec:
    key_cols: tuple[str, ...]
    measures: tuple[Measure, ...]

    def partials(self, df: DataFrame) -> DataFrame:
        return df.groupBy(*self.key_cols).agg(
            *[m.agg.alias(m.name) for m in self.measures]
        )

    def remerge(self, df: DataFrame) -> DataFrame:
        return df.groupBy(*self.key_cols).agg(
            *[
                _MERGE_FNS[m.merge](F.col(m.name)).alias(m.name)
                for m in self.measures
            ]
        )

    def bucket_expr(self, n_buckets: int) -> Column:
        return F.pmod(F.xxhash64(*self.key_cols), F.lit(n_buckets)).cast("int")


def merge_mv_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    store: str,
    batch_id: int,
    spec: MvSpec,
    n_buckets: int = DEFAULT_BUCKETS,
) -> None:
    """foreachBatch body: fold one micro-batch into the MV."""

    def rebuild(cur: DataFrame | None, delta: DataFrame) -> DataFrame:
        # partials of one batch are already merged
        return delta if cur is None else spec.remerge(cur.unionByName(delta))

    fold_batch(
        spark,
        spec.partials(batch_df),
        store,
        batch_id,
        spec.bucket_expr(n_buckets),
        rebuild,
    )


def read_mv(spark: SparkSession, store: str, spec: MvSpec) -> DataFrame:
    """Current MV contents (partition-discovery 'bucket' column dropped)."""
    return spark.read.parquet(store).select(
        *spec.key_cols, *[m.name for m in spec.measures]
    )


def start_mv_job(
    spark: SparkSession,
    source: DataFrame,
    store: str,
    checkpoint_dir: str,
    spec: MvSpec,
    trigger: dict | None = None,
    n_buckets: int = DEFAULT_BUCKETS,
) -> StreamingQuery:
    trigger = trigger or {"availableNow": True}

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        merge_mv_batch(spark, batch_df, store, batch_id, spec, n_buckets)

    return (
        source.writeStream.foreachBatch(fold)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(**trigger)
        .start()
    )
