"""LocalTableScan-backed tiny frames from driver rows (guide §4/§5).

``spark.createDataFrame(small_list)`` parallelizes the rows through
``defaultParallelism`` (32) partitions of a Python RDD: EVERY action on
the frame — every plan branch, every bench trial — pays ~0.5 s of
Python-worker round-trips to deserialize a handful of pickled rows
(measured: count() of a 4-row frame = 0.47 s steady-state on local[32];
the same rows as a literal VALUES relation = 0.17 s, plan =
LocalTableScan, zero Python tasks, zero jobs for most operators). The
r12 profiles show this as the run>>cpu stage signature on e.g. the
markov scenario frames (7.5 s executorRunTime, 0.25 s cpu, 32 tasks,
1.8 KB output) and the kcore stats frame.

``local_rows_df`` renders driver-bounded rows as a VALUES relation when
every value has an EXACT SQL literal form, falling back to
``createDataFrame`` otherwise (unknown types, type/value mismatches,
parser rejection, non-UTC driver timezone for timestamps). Exactness
notes:

- doubles/floats round-trip through ``repr`` (shortest decimal) and a
  string->double CAST (Double.parseDouble is correctly rounded) —
  bit-exact; inf/nan render as 'Infinity'/'NaN'.
- strings are rendered only for genuine ``str`` values (backslash and
  quote escaped — correct under the default
  spark.sql.parser.escapedStringLiterals=false); any parser rejection
  of an exotic payload falls back to createDataFrame wholesale.
- timestamps format at microsecond precision; they are rendered only
  when the driver runs in UTC (collect() materializes naive
  local-timezone datetimes while TIMESTAMP literals parse in the UTC
  session timezone — they only agree when driver tz == UTC).
- every output column is wrapped ``IF(TRUE, x, NULL)`` so the analyzed
  schema is nullable, matching the common case; the optimizer folds the
  wrapper away before execution. (createDataFrame with an explicit
  StructType keeps that schema's nullability flags; the oracle gate
  compares names + values, so the nullable-vs-required bit is not load
  bearing anywhere in the registry.)
"""

from __future__ import annotations

import datetime
import math
import time
from decimal import Decimal

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import types as T

_MAX_ROWS = 2_000  # bounded-frame contract; beyond this the VALUES text
# itself gets big enough that parse time eats the Python-RDD saving

# TIMESTAMP literals parse in the (UTC-pinned) session tz; collect()
# yields naive datetimes in the DRIVER's local tz. Only render when they
# coincide.
_TZ_IS_UTC = time.timezone == 0 and time.altzone == 0


def _lit(v, dt: T.DataType) -> str:
    if v is None:
        return f"CAST(NULL AS {dt.simpleString()})"
    if isinstance(dt, T.BooleanType):
        if not isinstance(v, bool):
            raise ValueError("boolean literal needs a bool")
        return "true" if v else "false"
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        if isinstance(v, bool) or not isinstance(v, int):
            raise ValueError("integer literal needs an int")
        return f"CAST({int(v)} AS {dt.simpleString()})"
    if isinstance(dt, (T.DoubleType, T.FloatType)):
        if isinstance(v, bool) or not isinstance(v, (int, float)):
            raise ValueError("float literal needs a number")
        f = float(v)
        if math.isnan(f):
            s = "'NaN'"
        elif math.isinf(f):
            s = "'Infinity'" if f > 0 else "'-Infinity'"
        else:
            s = f"'{f!r}'"
        return f"CAST({s} AS {dt.simpleString()})"
    if isinstance(dt, T.StringType):
        if not isinstance(v, str):
            raise ValueError("string literal needs a str")
        esc = v.replace("\\", "\\\\").replace("'", "\\'")
        return f"'{esc}'"
    if isinstance(dt, T.DecimalType):
        if not isinstance(v, (Decimal, int)):
            raise ValueError("decimal literal needs a Decimal")
        return f"CAST('{Decimal(v)}' AS {dt.simpleString()})"
    if isinstance(dt, T.TimestampType):
        if (
            not _TZ_IS_UTC
            or not isinstance(v, datetime.datetime)
            or v.tzinfo is not None
        ):
            raise ValueError("timestamp literal needs a naive UTC datetime")
        return f"TIMESTAMP '{v.strftime('%Y-%m-%d %H:%M:%S.%f')}'"
    if isinstance(dt, T.DateType):
        if isinstance(v, datetime.datetime) or not isinstance(
            v, datetime.date
        ):
            raise ValueError("date literal needs a date, not datetime")
        return f"DATE '{v.isoformat()}'"
    raise ValueError(f"no exact literal rendering for {dt.simpleString()}")


def local_rows_df(spark: SparkSession, rows, schema) -> DataFrame:
    """Tiny DataFrame over driver rows, as a LocalTableScan when possible.

    ``rows``: list of tuples/Rows (positional, matching the schema).
    ``schema``: DDL string or StructType. Identical values and column
    names/types as ``spark.createDataFrame(rows, schema)`` — only the
    physical plan differs. Fully transparent fallback.
    """
    if isinstance(schema, str):
        struct = T.StructType.fromDDL(schema)
    else:
        struct = schema
    rows = list(rows)
    if not rows or len(rows) > _MAX_ROWS:
        return spark.createDataFrame(rows, schema)
    try:
        tuples = [
            "("
            + ", ".join(
                _lit(r[i], f.dataType) for i, f in enumerate(struct.fields)
            )
            + ")"
            for r in rows
        ]
        cols = ", ".join(
            f"IF(TRUE, col{i + 1}, NULL) AS `{f.name}`"
            for i, f in enumerate(struct.fields)
        )
        return spark.sql(f"SELECT {cols} FROM VALUES {', '.join(tuples)}")
    except Exception:
        # exotic value/type or parser rejection: identical semantics via
        # the row path
        return spark.createDataFrame(rows, schema)


def bounded_rows_df(
    df_rows: list[Row], schema: T.StructType, spark: SparkSession
) -> DataFrame:
    """finalize_bounded's shape: collected Rows + the result schema."""
    return local_rows_df(spark, [tuple(r) for r in df_rows], schema)
