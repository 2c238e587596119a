"""Batch sources (S1-S4 batch analogs, S10).

Batch mode replays the same logical plans the streaming jobs run; fixtures
are parquet directories (TESTDATA.md). Lineage columns replace Kafka
metadata (S3): in batch fixtures ``source_offset`` is a monotonically
increasing row index per input ordering — the contract tie-break analog
(ref: docs/architecture/streaming/spark-realtime-jobs-contract-m1.md:94-97).

Scale: `spark.read.parquet` gives vectorized columnar scans with predicate
pushdown and partition pruning for free; `with_lineage` is a narrow op
(`monotonically_increasing_id` is per-partition monotone, which is exactly
the per-partition-ordered offset semantics Kafka gives per partition).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Tables whose downstream pipelines are CPU-heavy narrow transforms
# (shingling, hashing, vector arithmetic): a single-file fixture scan
# arrives as ONE partition and would serialize all of it. Auto-apply the
# parallelism guard for these; at real scale the scan is already wide and
# the guard is a no-op.
_CPU_HEAVY_TABLES = frozenset({"documents", "embeddings"})


def load_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    ensure_parallelism: bool | None = None,
) -> DataFrame:
    if ensure_parallelism is None:
        ensure_parallelism = name in _CPU_HEAVY_TABLES
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # ns-precision parquet timestamp read as long (see session.py);
        # truncate to Spark's native microsecond precision — identical to
        # what DuckDB does when reading TIMESTAMP_NS, so oracles agree.
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    # A vanilla session (the driver's) reads parquet timestamps as
    # TIMESTAMP_NTZ, which rejects epoch casts (`cast(ts as long)`,
    # `unix_micros`) under Spark 4 ANSI rules. Normalize to TIMESTAMP here:
    # session tz is pinned UTC (session.py / __spark_entry__._ensure_confs),
    # so the cast preserves wall-clock values, and `toPandas`/collect yields
    # the same naive datetimes either way — oracle hashes are unaffected.
    for cname, dtype in df.dtypes:
        if dtype == "timestamp_ntz":
            df = df.withColumn(cname, F.col(cname).cast("timestamp"))
    return ensure_min_parallelism(df) if ensure_parallelism else df


def ensure_min_parallelism(
    df: DataFrame, min_partitions: int | None = None
) -> DataFrame:
    """Small-input guard for CPU-heavy narrow pipelines.

    A table small enough to arrive as one scan partition serializes every
    downstream per-row computation onto one core. Repartition up to the
    session's default parallelism ONLY in that case — at real scale the scan
    already has >= cores partitions and this is a no-op (no shuffle added).
    The round-robin repartition costs one tiny shuffle of the small input and
    buys cores× on the hash/HOF-heavy transforms above it.
    """
    spark = df.sparkSession
    target = min_partitions or spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def scaled_shuffle_partitions(
    df: DataFrame, rows_per_partition: int, cap: int = 32768
) -> int:
    """Shuffle-partition count for VOLUME-BUILD ShuffledHashJoin lanes,
    derived from the input size instead of a hand-set session constant
    (VERDICT r10 #1: the bigram count-join's spill-less SHJ build OOMed
    at the default 32 partitions on the 30x corpus — ~356 MB/partition —
    and ran clean at 128; partitions must scale with the data).

    ``df`` must be cheap to count by contract: a PURE parquet scan
    (empty-schema count reads only row-group metadata — no column data,
    no shuffle, fast at any SF) or a frame already in blocks
    (``plans.registry.materialize``). Do NOT pass a transformed frame whose
    count would execute real work twice.

    ``rows_per_partition`` is the lane's calibration: source rows whose
    derived count-frame build fits comfortably in one executor task
    (e.g. 10k documents/partition keeps the 30x bigram build at
    ~85 MB/partition, the measured-green figure). Floored at
    defaultParallelism so small fixtures keep every core busy; capped so
    a 100-TB input cannot demand millions of reducers (beyond the cap
    you scale executors, not partitions)."""
    spark = df.sparkSession
    floor = spark.sparkContext.defaultParallelism
    n_rows = df.count()
    return int(max(floor, min(cap, -(-n_rows // max(1, rows_per_partition)))))


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TPCH_TABLES
) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in names}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view for the SQL surface."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)


def with_lineage(
    df: DataFrame,
    topic: str = "batch_fixture",
    partition: int = 0,
) -> DataFrame:
    """S3 batch analog: synthesize source_* lineage columns.

    ``offset`` is per-partition monotone (Kafka offsets are only ordered
    within a partition too, so downstream tie-break semantics carry over).
    """
    return (
        df.withColumn("topic", F.lit(topic))
        .withColumn("partition", F.lit(partition))
        .withColumn("offset", F.monotonically_increasing_id())
        .withColumn("kafka_timestamp", F.current_timestamp())
    )


def jsonl_fixture_to_raw(df: DataFrame, value_col: str = "value") -> DataFrame:
    """Wrap a one-string-column DataFrame as the kafka-shaped raw contract."""
    return with_lineage(df.select(F.col(value_col).alias("raw_value")))
