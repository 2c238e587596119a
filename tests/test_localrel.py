"""localrel.local_rows_df: VALUES-backed tiny frames must be value- and
type-identical to createDataFrame, with a transparent fallback for
anything without an exact literal form (ADVICE r12)."""

from __future__ import annotations

import datetime
import math

from shortvideohybridanalyticslakehouse_spark.functions.localrel import (
    bounded_rows_df,
    local_rows_df,
)


def _assert_same(spark, rows, schema):
    a = spark.createDataFrame(rows, schema)
    b = local_rows_df(spark, rows, schema)
    assert [f.name for f in b.schema.fields] == [
        f.name for f in a.schema.fields
    ]
    assert [f.dataType for f in b.schema.fields] == [
        f.dataType for f in a.schema.fields
    ]
    ra, rb = a.collect(), b.collect()
    assert len(ra) == len(rb)
    for x, y in zip(ra, rb):
        for va, vb in zip(x, y):
            if isinstance(va, float) and isinstance(vb, float):
                if math.isnan(va):
                    assert math.isnan(vb)
                else:
                    # bit-exact, not approx
                    assert va.hex() == vb.hex()
            else:
                assert va == vb
    return b


def test_values_plan_used_for_simple_rows(spark):
    df = _assert_same(
        spark,
        [(1, "a"), (2, "b")],
        "k bigint, v string",
    )
    assert "LocalTableScan" in df._jdf.queryExecution().executedPlan().toString()


def test_awkward_strings_exact(spark):
    rows = [
        (1, "it's"),
        (2, "back\\slash"),
        (3, "new\nline and\ttab"),
        (4, ""),
        (5, "quote\"double'single"),
        (6, None),
        (7, "unicode: ünïcødé ✓"),
    ]
    _assert_same(spark, rows, "k bigint, v string")


def test_floats_exact_bits(spark):
    rows = [
        (1, 0.1),
        (2, 1.0 / 3.0),
        (3, float("nan")),
        (4, float("inf")),
        (5, float("-inf")),
        (6, -0.0),
        (7, 2.2250738585072014e-308),
        (8, 1.7976931348623157e308),
        (9, None),
        (10, 0.2999995),
    ]
    _assert_same(spark, rows, "k bigint, x double")


def test_timestamps_and_dates(spark):
    rows = [
        (1, datetime.datetime(2024, 2, 29, 23, 59, 59, 999999),
         datetime.date(2024, 2, 29)),
        (2, datetime.datetime(1970, 1, 1, 0, 0, 0),
         datetime.date(1970, 1, 1)),
        (3, None, None),
    ]
    _assert_same(spark, rows, "k bigint, ts timestamp, d date")


def test_ints_bools_nulls(spark):
    rows = [
        (1, True, 2**62, None),
        (2, False, -(2**62), 5),
        (3, None, None, -7),
    ]
    _assert_same(spark, rows, "k bigint, b boolean, big bigint, i int")


def test_fallback_on_unsupported_type(spark):
    # arrays have no literal rendering path: must silently fall back and
    # still produce the right values
    rows = [(1, [1, 2, 3]), (2, [4])]
    a = spark.createDataFrame(rows, "k bigint, xs array<bigint>")
    b = local_rows_df(spark, rows, "k bigint, xs array<bigint>")
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    plan = b._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" in plan or "LocalTableScan" not in plan


def test_bounded_rows_df_roundtrip(spark):
    src = spark.createDataFrame(
        [(1, "x", 1.5), (2, None, float("nan"))],
        "k bigint, v string, x double",
    )
    rows = src.collect()
    out = bounded_rows_df(rows, src.schema, spark)
    got = sorted(
        (r.k, r.v, None if r.x != r.x else r.x.hex()) for r in out.collect()
    )
    assert got == [(1, "x", (1.5).hex()), (2, None, None)]
