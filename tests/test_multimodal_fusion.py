"""Stage fusion in functions/multimodal.py (_map_stage): chained
payload transforms must collapse into ONE MapInPandas (payload bytes
never re-cross the JVM<->Python boundary) while producing bit-identical
results to the un-fused chain."""

from __future__ import annotations

from pyspark.sql import functions as F

from shortvideohybridanalyticslakehouse_spark.functions import multimodal


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _hashsum(df) -> tuple:
    h = df.select(
        F.sum(F.xxhash64(F.to_json(F.struct(*df.columns)))).alias("h")
    ).collect()[0][0]
    return h, df.count()


def test_raster_pipeline_fuses_to_one_mapinpandas(spark):  # noqa: F811
    docs = spark.range(0, 40).select(F.col("id").alias("doc_id"))
    payloads = multimodal.synthetic_raster_payloads(docs, "doc_id")
    resized = multimodal.resize_raster(payloads, 16, 12, "doc_id")
    stats = multimodal.raster_decode_stats(resized, "doc_id")
    assert _plan(stats).count("MapInPandas") == 1


def test_fused_results_equal_unfused(spark):  # noqa: F811
    docs = spark.range(0, 60).select(F.col("id").alias("doc_id"))

    def pipeline(between):
        payloads = between(multimodal.synthetic_raster_payloads(docs, "doc_id"))
        resized = between(multimodal.resize_raster(payloads, 16, 12, "doc_id"))
        return multimodal.raster_decode_stats(resized, "doc_id")

    # a JVM-side op between stages drops the chain attribute (see the
    # next test), so every stage keeps its own MapInPandas: the un-fused
    # reference
    unfused = pipeline(lambda df: df.select("*"))
    assert _plan(unfused).count("MapInPandas") == 3
    fused = pipeline(lambda df: df)
    assert _plan(fused).count("MapInPandas") == 1
    assert _hashsum(fused) == _hashsum(unfused)


def test_fusion_does_not_fire_across_jvm_ops(spark):  # noqa: F811
    """A JVM-side transform between stages (here a filter the kernel
    cannot see) drops the chain attribute, so the stages stay separate
    — fusing across it would change which rows the next kernel sees."""
    docs = spark.range(0, 40).select(F.col("id").alias("doc_id"))
    payloads = multimodal.synthetic_raster_payloads(docs, "doc_id").filter(
        F.col("doc_id") % 2 == 0
    )
    stats = multimodal.raster_decode_stats(payloads, "doc_id")
    assert _plan(stats).count("MapInPandas") == 2
    assert stats.count() == 20


def test_chain_metadata_tracks_declared_output(spark):  # noqa: F811
    """Fusion is gated on the previous stage's DECLARED output covering
    the next stage's input columns — the chain attribute must record the
    declared schema names."""
    docs = spark.range(0, 30).select(F.col("id").alias("doc_id"))
    payloads = multimodal.synthetic_raster_payloads(docs, "doc_id")
    chain = getattr(payloads, "_svh_mm_chain")
    assert chain["out_names"] == ["doc_id", "payload"]
    stats = multimodal.raster_decode_stats(payloads, "doc_id")
    assert stats.count() == 30
