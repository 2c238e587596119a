"""Local mimic of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at the given sf dir, then compares row count, sorted column names,
and an order-insensitive value hash (values canonicalized: floats rounded
to 9 significant-ish decimals, timestamps to ISO strings).

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

# The package binds to this checkout before __spark_entry__ runs: that
# module puts a fixed checkout path first on sys.path, and submodules
# then resolve through the already-imported package's own __path__.
from shortvideohybridanalyticslakehouse_spark.session import get_spark

import __spark_entry__ as entrymod  # noqa: E402 (loads full registry)


def canon_cell(v) -> str:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return f"{v:.9g}"
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    return str(v)


def frame_hash(df: pd.DataFrame) -> tuple[int, list[str], str]:
    cols = sorted(df.columns)
    df = df[cols]
    rows = sorted(
        ",".join(canon_cell(v) for v in row) for row in df.itertuples(index=False)
    )
    h = hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16]
    return len(df), cols, h


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            failures.append(name)
            continue
        spark_t = time.time() - t0
        if name not in oracles:
            print(f"okNA {name}: rows={len(sdf)} (no oracle) [{spark_t:.1f}s]")
            continue
        try:
            odf = con.sql(oracles[name]).df()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            failures.append(name)
            continue
        sn, scols, shash = frame_hash(sdf)
        on, ocols, ohash = frame_hash(odf)
        status = "PASS" if (sn, scols, shash) == (on, ocols, ohash) else "FAIL"
        print(
            f"{status} {name}: spark rows={sn} duck rows={on} "
            f"cols_match={scols == ocols} hash={'=' if shash == ohash else '≠'} "
            f"[{spark_t:.1f}s]"
        )
        if status == "FAIL":
            failures.append(name)
            if scols != ocols:
                print(f"  spark cols: {scols}\n  duck  cols: {ocols}")
            else:
                merged = sdf[sorted(sdf.columns)].copy()
                om = odf[sorted(odf.columns)].copy()
                print("  spark sample:\n", merged.head(3).to_string())
                print("  duck  sample:\n", om.head(3).to_string())
    spark.stop()
    print("FAILURES:", failures or "none")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
