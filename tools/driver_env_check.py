"""Reproduce the driver's vanilla-session environment.

The driver builds its own SparkSession (no engine configs at build time) and
then calls ``__spark_entry__.queries()`` wrappers. Round 1 showed parquet
timestamps arrive as TIMESTAMP_NTZ there, while our engine session reads
them as bigint-nanos (legacy conf) -> LTZ. This script mimics the driver
exactly: vanilla builder, runtime conf only via the entry wrapper.

Usage: python tools/driver_env_check.py [--changed-only] [sf_dir] [query ...]

``--changed-only`` (VERDICT r5 #7): skip queries whose green result is
already cached for an IDENTICAL code state. Cache invalidation rule — a
query re-runs iff any of these changed since its last green run at this SF:

  1. the source text of the module that registered it (so editing
     queries_ext63.py re-runs only ext63's queries),
  2. its oracle SQL text (covered by 1 in practice — oracles live in the
     same module — but hashed independently for safety),
  3. ANY file in the package outside plans/queries* (loaders, operators,
     functions, session: a support change conservatively invalidates ALL
     queries), or __spark_entry__.py, or this tool / check_oracle.py.

Full runs (no flag) still execute everything and refresh the cache; the
close-of-round ritual stays a FULL dual-SF run — changed-only is for the
every-few-commits loop. Cache lives in tools/.oracle_cache_<sf>.json
(gitignored).
"""

from __future__ import annotations

import hashlib
import inspect
import json
import os
import sys
import time

_REPO_FOR_PATH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO_FOR_PATH)
# Workers spawn their own Python and do NOT inherit the driver's sys.path
# mutation — without this, the 17 mapInArrow/mapInPandas codec queries die
# with a worker-side ModuleNotFoundError whenever the tool is launched from
# any cwd other than /root/repo (VERDICT r6 #3, judge-reproduced).
os.environ["PYTHONPATH"] = _REPO_FOR_PATH + (
    os.pathsep + os.environ["PYTHONPATH"] if os.environ.get("PYTHONPATH") else ""
)

from pyspark.sql import SparkSession

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_PKG = os.path.join(_REPO, "shortvideohybridanalyticslakehouse_spark")


def _support_hash() -> str:
    """Hash of everything a query's result could depend on besides its own
    module: package files outside plans/queries*, the entry shim, and the
    compare tooling."""
    h = hashlib.sha256()
    paths = []
    for root, _dirs, files in os.walk(_PKG):
        for f in sorted(files):
            if not f.endswith(".py"):
                continue
            rel = os.path.relpath(os.path.join(root, f), _PKG)
            if rel.startswith(os.path.join("plans", "queries")):
                continue
            paths.append(os.path.join(root, f))
    paths.sort()
    paths.append(os.path.join(_REPO, "__spark_entry__.py"))
    paths.append(os.path.abspath(__file__))
    paths.append(os.path.join(_REPO, "tools", "check_oracle.py"))
    paths.append(os.path.join(_REPO, "tools", "sketch_pins.py"))
    pins_json = os.path.join(_REPO, "tools", "sketch_pins.json")
    if os.path.exists(pins_json):
        paths.append(pins_json)
    for p in paths:
        with open(p, "rb") as fh:
            h.update(p.encode())
            h.update(fh.read())
    return h.hexdigest()


def _query_key(name: str, support: str) -> str:
    from shortvideohybridanalyticslakehouse_spark.plans.registry import REGISTRY

    fn, oracle = REGISTRY[name]
    mod = sys.modules[fn.__module__]
    src = inspect.getsource(mod)
    return hashlib.sha256(
        "\x00".join([support, src, oracle or "<no-oracle>"]).encode()
    ).hexdigest()


def main() -> int:
    argv = [a for a in sys.argv[1:]]
    changed_only = "--changed-only" in argv
    argv = [a for a in argv if a != "--changed-only"]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = argv[1:]
    spark = (
        SparkSession.builder.appName("driver-env-check")
        .master("local[8]")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    print("vanilla events dtypes:", ev.dtypes)
    print("session tz:", spark.conf.get("spark.sql.session.timeZone"))
    print("ansi:", spark.conf.get("spark.sql.ansi.enabled"))

    import duckdb

    # bind the package to this checkout before __spark_entry__ puts its
    # fixed path first on sys.path (as tools/check_oracle.py does)
    import shortvideohybridanalyticslakehouse_spark  # noqa: F401

    import __spark_entry__ as entrymod
    from tools.check_oracle import frame_hash
    from tools.sketch_pins import load_pins

    sketch_pins = load_pins()

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    names = only or list(qs)

    cache_path = os.path.join(
        _REPO, "tools", f".oracle_cache_{os.path.basename(sf_dir.rstrip('/'))}.json"
    )
    cache: dict[str, dict] = {}
    if os.path.exists(cache_path):
        try:
            with open(cache_path) as fh:
                cache = json.load(fh)
        except (OSError, ValueError):
            cache = {}
    support = _support_hash()

    failures = []
    skipped = 0
    for name in names:
        key = _query_key(name, support)
        if (
            changed_only
            and cache.get(name, {}).get("key") == key
            and cache.get(name, {}).get("status") in ("PASS", "okNA")
        ):
            skipped += 1
            continue
        t0 = time.time()
        try:
            sdf = qs[name](spark, sf_dir).toPandas()
        except Exception as e:
            msg = str(e).split("\n")[0][:200]
            print(f"FAIL {name}: {msg}")
            failures.append(name)
            cache.pop(name, None)
            continue
        dt = time.time() - t0
        if name not in oracles:
            # rows-only unless a golden self-regression pin exists for
            # this SF (tools/sketch_pins.json, VERDICT r7 #2) — then the
            # JVM-sketch output gets a full rows+cols+hash compare
            pin = sketch_pins.get(name, {}).get(
                os.path.basename(os.path.normpath(sf_dir))
            )
            if pin is not None:
                sn, scols, shash = frame_hash(sdf)
                got = {"rows": int(sn), "cols": list(scols), "hash": shash}
                ok = got == pin
                print(
                    f"{'PASS' if ok else 'FAIL'} {name}: rows={sn}/"
                    f"{pin['rows']} PIN hash="
                    f"{'=' if shash == pin['hash'] else '≠'} [{dt:.1f}s]"
                )
                if not ok:
                    failures.append(name)
                    cache.pop(name, None)
                else:
                    cache[name] = {"key": key, "status": "PASS", "rows": int(sn)}
                continue
            print(f"okNA {name}: rows={len(sdf)} (no oracle) [{dt:.1f}s]")
            cache[name] = {"key": key, "status": "okNA", "rows": len(sdf)}
            continue
        odf = con.sql(oracles[name]).df()
        sn, scols, shash = frame_hash(sdf)
        on, ocols, ohash = frame_hash(odf)
        ok = (sn, scols, shash) == (on, ocols, ohash)
        print(
            f"{'PASS' if ok else 'FAIL'} {name}: rows={sn}/{on} "
            f"cols={'=' if scols == ocols else '≠'} "
            f"hash={'=' if shash == ohash else '≠'} [{dt:.1f}s]"
        )
        if not ok:
            failures.append(name)
            cache.pop(name, None)
        else:
            cache[name] = {"key": key, "status": "PASS", "rows": int(sn)}
    if skipped:
        print(f"SKIPPED {skipped} cached-green queries (--changed-only)")
    try:
        with open(cache_path, "w") as fh:
            json.dump(cache, fh, indent=0, sort_keys=True)
    except OSError:
        pass
    print("FAILURES:", failures or "none")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
