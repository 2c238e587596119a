"""Named-query registry shared by __spark_entry__, bench, and tests."""

from __future__ import annotations

import functools
import importlib
import pkgutil
import re
import threading
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

REGISTRY: dict[str, tuple[QueryFn, str | None]] = {}

# Frames materialized by the current query build. The register wrapper
# releases them before the next builder runs, and finalize_bounded as soon
# as its bounded result is collected: in a bench/oracle session at most
# one query's blocks linger, instead of every iterative lane's blocks
# accumulating until the ContextCleaner's GC-driven pass.
_SCOPE: list[DataFrame] = []
_SCOPE_LOCK = threading.Lock()


def materialize(df: DataFrame, eager: bool = True) -> DataFrame:
    """Run ``df`` once into executor blocks (``localCheckpoint``, which
    also truncates its lineage) and add the result to the current query's
    scope, which releases it. Use it when a subtree has several consumers
    or a loop would otherwise re-plan a growing lineage.

    Eager or lazy: ``eager=True`` runs a job now; ``eager=False`` fills
    the blocks inside the first action that reads the frame, saving that
    job. Lazy only when the consumers are strictly sequential (loop
    rounds, a collect that feeds the next action): sibling stages of one
    action that share a lazy frame race its materialization and each
    compute the subtree before the blocks land.

    Callers must be done with the frame when the scope is released: a
    checkpoint has no lineage left to recompute from.
    """
    df = df.localCheckpoint(eager=eager)
    with _SCOPE_LOCK:
        _SCOPE.append(df)
    return df


def release_scope() -> None:
    """Release every frame materialized since the last release (invoked
    before each builder runs)."""
    with _SCOPE_LOCK:
        pending, _SCOPE[:] = _SCOPE[:], []
    for df in pending:
        release_materialized(df)


def finalize_bounded(result: DataFrame) -> DataFrame:
    """Collect a BOUNDED final frame (top-k / single-row / per-stage
    report — never an O(rows) relation), release the query's materialized
    intermediates, and return the rows as a local relation with the
    identical schema. The collect is safe by contract — callers only pass
    frames already reduced to driver-bounded size.
    """
    rows = result.collect()
    release_scope()
    # VALUES-backed local relation instead of a Python-RDD parallelize:
    # every downstream action on the finalized frame otherwise pays ~0.5 s
    # of Python-worker round-trips for a handful of rows (guide §4/§5;
    # falls back to createDataFrame for any value without an exact SQL
    # literal form).
    from shortvideohybridanalyticslakehouse_spark.functions.localrel import (
        bounded_rows_df,
    )

    return bounded_rows_df(rows, result.schema, result.sparkSession)


def release_materialized(df: DataFrame) -> None:
    """Drop the blocks behind a materialized frame now.

    A checkpoint's blocks are not CacheManager entries (``unpersist()``
    misses them): its block-backed RDD stays in getPersistentRDDs until
    the ContextCleaner's weak-ref pass runs, which in a long bench session
    is arbitrarily late. The frame's analyzed plan is a LogicalRDD wrapping
    that RDD — unpersist it directly. Callers must be DONE with the frame:
    a checkpoint has no lineage left to recompute from. A loop that
    replaces its frontier each round calls this on the superseded frame;
    the scope releases the rest.
    """
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(False)
    except Exception:  # pragma: no cover - py4j surface drift
        pass


def register(name: str, oracle: str | None):
    """Decorator: add (builder, oracle_sql|None) under ``name``.

    Duplicate names are a HARD error (round 10: a new module silently
    shadowed ext24's benford lane — later import wins in a dict, the
    old query's oracle rows kept passing under the new semantics, and
    only a planted test caught it). Re-registering the SAME function
    object is allowed so module re-imports stay idempotent.
    """

    def deco(fn: QueryFn) -> QueryFn:
        prev = REGISTRY.get(name)
        # Compare (module, qualname), not qualname alone: a same-named
        # function in a DIFFERENT module (the likely copy-paste shape)
        # must still trip the guard (ADVICE r10). Identical module +
        # qualname keeps re-imports idempotent.
        if prev is not None and (
            prev[0].__module__,
            prev[0].__qualname__,
        ) != (fn.__module__, fn.__qualname__):
            raise ValueError(
                f"duplicate query name {name!r}: already registered by "
                f"{prev[0].__module__}.{prev[0].__qualname__}, now "
                f"re-registered by {fn.__module__}.{fn.__qualname__} — "
                f"pick a distinct name"
            )
        @functools.wraps(fn)
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            release_scope()
            return fn(spark, sf_dir)

        REGISTRY[name] = (wrapped, oracle)
        return fn

    return deco


def load_all() -> dict[str, tuple[QueryFn, str | None]]:
    """Import every query module so their @register calls run: ``queries``,
    then ``queries_ext``, then ``queries_extN`` in ascending N. Import order
    is registration order, and the driver samples the first 50 entries
    (tests/test_registry_freeze.py), so a new module takes the next N."""
    from shortvideohybridanalyticslakehouse_spark import plans

    order = []
    for mod in pkgutil.iter_modules(plans.__path__):
        hit = re.fullmatch(r"queries(?:_ext(\d*))?", mod.name)
        if hit:
            n = -1 if hit.group(1) is None else int(hit.group(1) or 0)
            order.append((n, mod.name))
    for _, name in sorted(order):
        importlib.import_module(f"{plans.__name__}.{name}")
    return REGISTRY
