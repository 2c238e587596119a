"""SparkSession factory tuned for this engine.

Scale stance: these configs are the local-mode analog of what we would set on
a 1000-executor cluster — AQE on for batch (runtime re-plan, skew-join
splitting, dynamic coalescing of shuffle partitions), explicit shuffle
partition count sized to cores locally (on a cluster: 2-3x total cores),
Arrow enabled so any unavoidable pandas-UDF exchange is vectorized, and
session timezone pinned to UTC so event-time semantics are deployment
independent (the reference pins UTC end-to-end, e.g. ISO-8601 `...Z`
timestamps in the kafka contract).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "svh-spark-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    Honors ``SPARK_GRAFT_CPUS`` for local parallelism (driver contract).
    Raises if a session is already running with a different value for any
    conf set here: ``getOrCreate`` would silently re-apply the SQL confs
    to it at runtime (and ignore the static ones), changing the session
    under every other user of it.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        try:
            shuffle_partitions = max(int(cpus), 4)
        except ValueError:
            shuffle_partitions = 32

    conf = {
        "spark.master": master,
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        # AQE: runtime shuffle-partition coalescing + skew-join handling.
        # (The reference disables AQE only because its jobs are pure
        # streaming, spark-defaults.conf:29; batch/serving mode wants it on.)
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # Arrow for any pandas interchange (toPandas, pandas UDFs).
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # InferFiltersFromGenerate turns every explode(f(x)) into a pushed
        # `size(f(x))>0` filter — duplicating the generator expression into
        # the scan stage, BELOW any parallelizing repartition. For this
        # engine's explode-heavy text/hash pipelines that serialized
        # seconds of md5/shingle work onto single-partition scans
        # (measured: ngram_jaccard_top_pairs 5.3 s -> 1.2 s at sf0.1 with
        # the rule off). The rule only saves skipping empty-array rows —
        # negligible here.
        "spark.sql.optimizer.excludedRules": (
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
        ),
        # ANSI off: the reference relies on permissive casts (bad timestamp
        # strings -> NULL -> quarantine row, never job failure).
        "spark.sql.ansi.enabled": "false",
        # Fixture parquet stores ns-precision timestamps (TIMESTAMP(NANOS))
        # which Spark has no native type for; read as long and convert in the
        # loader (sources/batch.py) via timestamp_micros(ns div 1000).
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.driver.memory": os.environ.get("SVH_DRIVER_MEMORY", "8g"),
        "spark.ui.enabled": "false",
        **(extra_conf or {}),
    }
    active = SparkSession.getActiveSession()
    if active is not None:
        differ = sorted(
            k for k, v in conf.items() if active.conf.get(k, None) != v
        )
        if differ:
            raise RuntimeError(
                "get_spark() would change the running session's confs "
                f"{differ}; use the running session instead"
            )
    builder = SparkSession.builder.appName(app_name)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
