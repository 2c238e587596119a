"""Physical layout: DDL builders and partitioned-parquet writers (S6/S8)."""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import functions as F

from shortvideohybridanalyticslakehouse_spark.plans import ddl


def test_ddl_statements_carry_partition_transforms():
    stmts = ddl.ddl_statements(fmt="iceberg")
    assert "PARTITIONED BY (hours(event_timestamp))" in stmts["bronze.raw_events"]
    assert "days(window_start)" in stmts["gold.rt_video_stats_1min"]
    assert "bucket(16, video_id)" in stmts["gold.rt_video_stats_1min"]
    assert "merge-on-read" in stmts["dims.dim_videos"]
    # delta does not support partition transforms: it must materialize
    # generated columns instead and never emit transform functions
    delta = ddl.ddl_statements(fmt="delta")
    assert "bucket(" not in delta["gold.rt_video_stats_1min"]
    assert "hours(" not in delta["bronze.raw_events"]
    assert "days(" not in delta["gold.rt_video_stats_1min"]
    assert "GENERATED ALWAYS AS" in delta["bronze.raw_events"]
    assert "PARTITIONED BY (window_day)" in delta["gold.rt_video_stats_1min"]


def test_write_gold_layout_and_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(
        [
            ("vid_1", "2026-01-01 00:05:00", 10),
            ("vid_2", "2026-01-02 00:05:00", 20),
        ],
        "video_id string, window_start string, impressions int",
    ).withColumn("window_start", F.to_timestamp("window_start"))
    path = os.path.join(str(tmp_path), "gold")
    ddl.write_gold(df, path)

    days = sorted(d for d in os.listdir(path) if d.startswith("window_day="))
    assert days == ["window_day=2026-01-01", "window_day=2026-01-02"]
    assert any(
        d.startswith("bucket=") for d in os.listdir(os.path.join(path, days[0]))
    )

    back = spark.read.parquet(path)
    got = {(r.video_id, r.impressions) for r in back.collect()}
    assert got == {("vid_1", 10), ("vid_2", 20)}
    # the bucket column is pmod(xxhash64(video_id), 16): deterministic, in range
    assert all(0 <= r.bucket < 16 for r in back.select("bucket").collect())


def test_write_bronze_hour_partitions(spark, tmp_path):
    df = spark.createDataFrame(
        [("e1", "2026-01-01 03:05:00", "vid_1"), ("e2", "2026-01-01 04:10:00", "vid_1")],
        "event_id string, event_timestamp string, video_id string",
    ).withColumn("event_timestamp", F.to_timestamp("event_timestamp"))
    path = os.path.join(str(tmp_path), "bronze")
    ddl.write_bronze(df, path)
    hours = sorted(d for d in os.listdir(path) if d.startswith("event_hour="))
    assert len(hours) == 2
    assert spark.read.parquet(path).count() == 2


def test_bucketed_tables_join_without_exchange(spark, tmp_path):
    # Two tables bucketed identically on the join key must sort-merge-join
    # with ZERO Exchange operators (the co-located join contract).
    from shortvideohybridanalyticslakehouse_spark.plans.ddl import (
        write_bucketed_sorted_table,
    )

    left = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("a")
    )
    right = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("b")
    )
    spark.sql("DROP TABLE IF EXISTS bkt_left")
    spark.sql("DROP TABLE IF EXISTS bkt_right")
    write_bucketed_sorted_table(left, "bkt_left", "k", [], n_buckets=8)
    write_bucketed_sorted_table(right, "bkt_right", "k", [], n_buckets=8)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("bkt_left").join(spark.table("bkt_right"), "k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # bucketing co-locates both sides
        assert joined.count() == 1000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bkt_left")
        spark.sql("DROP TABLE IF EXISTS bkt_right")


def test_multi_format_roundtrip_identical_rows(spark, tmp_path):
    # The engine's data model must survive every batch container format
    # available in-core (parquet / orc / json / csv): same rows back,
    # modulo each format's type fidelity (csv/json get explicit schemas
    # on read — inference is not part of the contract).
    src = spark.range(0, 100).select(
        F.col("id").alias("k"),
        (F.col("id") * 1.5).alias("v"),
        F.concat(F.lit("name_"), F.col("id")).alias("s"),
    )
    expected = sorted((r["k"], r["v"], r["s"]) for r in src.collect())
    schema = "k bigint, v double, s string"
    for fmt in ("parquet", "orc", "json", "csv"):
        path = str(tmp_path / f"rt_{fmt}")
        w = src.write.mode("overwrite").format(fmt)
        if fmt == "csv":
            w = w.option("header", "true")
        w.save(path)
        r = spark.read.format(fmt)
        if fmt in ("json", "csv"):
            r = r.schema(schema)
        if fmt == "csv":
            r = r.option("header", "true")
        got = sorted(
            (x["k"], x["v"], x["s"]) for x in r.load(path).collect()
        )
        assert got == expected, f"roundtrip mismatch for {fmt}"


def test_bronze_hour_filter_prunes_partitions(spark, tmp_path):
    # An event_hour predicate on the bronze layout must become a
    # PartitionFilter (metadata pruning), NOT a data filter: the plan
    # may not read the other hours' files at all.
    from shortvideohybridanalyticslakehouse_spark.plans.ddl import write_bronze

    rows = [
        (f"e{i}", dt.datetime(2026, 1, 1, h, 5, 0), f"vid_{i}")
        for i, h in enumerate([0, 1, 2, 3])
    ]
    df = spark.createDataFrame(
        rows, "event_id string, event_timestamp timestamp, video_id string"
    )
    path = str(tmp_path / "bronze_prune")
    write_bronze(df, path)
    read = spark.read.parquet(path).filter(
        F.col("event_hour") == dt.datetime(2026, 1, 1, 2, 0, 0)
    )
    plan = read._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "event_hour" in plan.split(
        "PartitionFilters"
    )[1].split("]")[0]
    assert read.count() == 1


def test_dynamic_partition_pruning_on_filtered_dim_join(spark, tmp_path):
    # Joining a day-partitioned fact to a FILTERED dim must inject a
    # dynamicpruning subquery on the fact's partition column — at scale
    # this skips every non-qualifying partition at runtime (the join-
    # driven analog of static partition pruning).
    fact = spark.range(0, 10000).select(
        F.col("id").alias("k"),
        F.date_add(
            F.lit("2026-01-01").cast("date"), (F.col("id") % 30).cast("int")
        ).alias("day"),
    )
    fpath = str(tmp_path / "dpp_fact")
    fact.write.mode("overwrite").partitionBy("day").parquet(fpath)
    dim_rows = [(f"2026-01-{d:02d}", "keep" if d == 5 else "drop") for d in range(1, 31)]
    dim = spark.createDataFrame(dim_rows, "day_s string, tag string").select(
        F.col("day_s").cast("date").alias("day"), "tag"
    )
    dpath = str(tmp_path / "dpp_dim")
    dim.write.mode("overwrite").parquet(dpath)
    f = spark.read.parquet(fpath)
    d = spark.read.parquet(dpath).filter(F.col("tag") == "keep")
    j = f.join(d, "day").groupBy("tag").count()
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower()
    assert j.collect()[0]["count"] == 334


def test_bucketed_gold_windows_without_exchange(spark, tmp_path):
    """VERDICT r6 #4: the 30-min rolling window over a gold minute grain
    published with write_bucketed_sorted_table(bucket key) must plan with
    ZERO Exchange — the bucketed layout, not a shuffle, provides the
    PARTITION BY clustering — and produce the identical result to the
    same window over the unbucketed frame."""
    from shortvideohybridanalyticslakehouse_spark.operators.rolling import (
        rolling_range_sums,
    )
    from shortvideohybridanalyticslakehouse_spark.plans.ddl import (
        write_bucketed_sorted_table,
    )

    gold = (
        spark.range(0, 5000)
        .select(
            F.pmod(F.col("id"), F.lit(50)).alias("video_id"),
            F.timestamp_seconds(
                F.lit(1_700_000_000) + (F.col("id") / 50).cast("long") * 60
            ).alias("minute"),
            (F.col("id") % 7).cast("double").alias("n"),
        )
    )
    spark.sql("DROP TABLE IF EXISTS gold_minute_bkt")
    try:
        write_bucketed_sorted_table(
            gold, "gold_minute_bkt", "video_id", ["minute"], n_buckets=8
        )
        rolled = rolling_range_sums(
            spark.table("gold_minute_bkt"),
            partition_cols=["video_id"],
            ts_col="minute",
            sum_cols=["n"],
            minutes=30,
        )
        plan = rolled._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        assert "Window" in plan
        want = sorted(
            (r.video_id, str(r.minute), r.n_30m)
            for r in rolling_range_sums(
                gold, ["video_id"], "minute", ["n"], minutes=30
            ).collect()
        )
        got = sorted(
            (r.video_id, str(r.minute), r.n_30m) for r in rolled.collect()
        )
        assert got == want
        # one file per bucket: the precondition for scan-reported ordering
        import os as _os

        wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        tdir = _os.path.join(wh, "gold_minute_bkt")
        data = [f for f in _os.listdir(tdir) if f.endswith(".parquet")]
        assert len(data) == 8
    finally:
        spark.sql("DROP TABLE IF EXISTS gold_minute_bkt")
