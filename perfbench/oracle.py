"""Correctness gate for the batch lanes, once per run, outside the timed
region: each lane's result is compared with its DuckDB oracle by the
canonical (row count, sorted columns, value hash) from
tools/check_oracle.py. Lanes without an oracle get a row-count check.
Every mismatch or exception is counted as a failure.

The expected answers are cached in ``<cache>/oracle.json`` keyed by a hash
of the oracle SQL and of the table files' bytes, so a changed oracle or
table is recomputed.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os

import duckdb

# Row counts for the registry's oracle-less sketch lanes, as DuckDB SQL
# over the same tables (the sketch values are approximate; the row set
# is not).
ROW_COUNT_SQL = {
    "weekly_hll_union_estimate": "SELECT count(DISTINCT date_trunc('week', ts)) FROM events",
    "value_percentiles_approx": (
        "SELECT count(DISTINCT event_type) FROM events WHERE value IS NOT NULL"
    ),
}


def _perturb(want):
    if isinstance(want, tuple):
        n, cols, h = want
        return n, cols, format(int(h, 16) ^ 1, "016x")
    return want + 1


class Expected:
    """DuckDB answers per (SQL, tables), computed on a miss and cached."""

    def __init__(self, data_dir: str, cache_root: str, frame_hash) -> None:
        self._frame_hash = frame_hash
        self._data_dir = data_dir
        self._path = os.path.join(cache_root, "oracle.json")
        self._con = None
        digest = hashlib.sha256()
        for path in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
            with open(path, "rb") as fh:
                digest.update(os.path.basename(path).encode() + b"\0" + fh.read())
        self._tables_key = digest.hexdigest()
        try:
            with open(self._path) as fh:
                self._cache = json.load(fh)
        except (OSError, ValueError):
            self._cache = {}

    def _sql(self, sql: str):
        if self._con is None:
            self._con = duckdb.connect()
            for path in sorted(glob.glob(os.path.join(self._data_dir, "*.parquet"))):
                table = os.path.basename(path)[: -len(".parquet")]
                self._con.sql(f"CREATE VIEW {table} AS SELECT * FROM '{path}'")
        return self._con.sql(sql)

    def get(self, sql: str, rows_only: bool):
        key = hashlib.sha256(
            f"{rows_only}\n{self._tables_key}\n{sql}".encode()
        ).hexdigest()
        if key not in self._cache:
            if rows_only:
                self._cache[key] = self._sql(sql).fetchone()[0]
            else:
                self._cache[key] = list(self._frame_hash(self._sql(sql).df()))
        want = self._cache[key]
        return want if rows_only else (want[0], want[1], want[2])

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
        os.makedirs(os.path.dirname(self._path), exist_ok=True)
        tmp = self._path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(self._cache, fh)
        os.replace(tmp, self._path)


class Gate:
    """Checks one lane's result frame at a time; ``close()`` saves the
    oracle cache. ``plant`` names one lane whose expected hash is
    perturbed, so the self-test can prove a wrong result is caught."""

    def __init__(self, registry: dict, data_dir: str, cache_root: str,
                 plant: str | None = None) -> None:
        from check_oracle import frame_hash  # loads the registry at import

        self._frame_hash = frame_hash
        self._registry = registry
        self._plant = plant
        self._expected = Expected(data_dir, cache_root, frame_hash)
        self.per_lane: dict[str, str] = {}

    def check(self, name: str, df) -> str | None:
        """None when ``df`` matches the lane's oracle, else why not."""
        oracle_sql = self._registry[name][1]
        got = want = None
        try:
            got = self._frame_hash(df.toPandas())
            if oracle_sql is not None:
                want = self._expected.get(oracle_sql, rows_only=False)
            elif name in ROW_COUNT_SQL:
                got = got[0]
                want = self._expected.get(ROW_COUNT_SQL[name], rows_only=True)
            if name == self._plant:
                want = _perturb(want)
            ok = want is not None and got == want
        except Exception as exc:  # any lane failure is a counted failure
            ok, want = False, f"{type(exc).__name__}: {str(exc)[:200]}"
        self.per_lane[name] = "ok" if ok else "FAIL"
        return None if ok else f"oracle {name}: got {got} want {want}"

    def close(self) -> None:
        self._expected.close()
