"""Oracle mutation sweep — prove the Spark-vs-DuckDB harness DETECTS bugs.

VERDICT r8 #1: all 302 greens rest on twin agreement, and both twins were
written by the same hand — a mirrored misunderstanding would pass silently.
This tool converts "the twins agree" into "disagreement is detectable": for
a stratified sample of queries (one per operator family) it mechanically
mutates the SPARK side only — classic bug shapes: off-by-one constants,
boundary comparisons (>= -> >), dropped filters, swapped sort direction /
tie-breaks — and requires EVERY query to have at least one mutant that the
unchanged DuckDB oracle FAILS.

Mechanics: the registered builder AND every package function it calls
(bare-name or module-attribute calls, followed transitively — this reaches
the operator layer where most semantics live) are mutation targets. One
site at a time, the target function's source is AST-mutated, compiled
against a copy of its module globals (decorators stripped), monkeypatched
in at the call-resolution module, and the query result is hash-compared
against the original oracle with the driver's own comparator
(tools.check_oracle.frame_hash). A mutant that still PASSES is an *equivalent mutant* (the
mutation didn't change the output at this SF) — we try the next site, up
to --max-sites. A query where NO tried mutant fails is reported as
INSENSITIVE and exits non-zero: either the oracle can't see that family of
bug or every tried site was output-equivalent; both deserve eyes.

Usage:
    python tools/oracle_mutation.py [sf_dir] [query ...]
        [--max-sites N] [--out tools/ORACLE_MUTATION.json]
"""

from __future__ import annotations

import ast
import copy
import inspect
import json
import os
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)
os.environ["PYTHONPATH"] = _REPO + (
    os.pathsep + os.environ["PYTHONPATH"] if os.environ.get("PYTHONPATH") else ""
)

from pyspark.sql import SparkSession  # noqa: E402

# One representative per operator family (SURVEY §2 / VERDICT coverage
# table): window aggs, RANGE frames, decision CASE chains, parse/validate,
# CDC tie-breaks, joins (equi/anti/as-of), exact+approx aggs, percentiles,
# top-k, JSON, set ops, sessionization, queue cooldown, TPC-H shapes,
# dedup (exact/minhash/simhash/ngram), ANN (brute/IVF), fingerprinting,
# text stats, funnel and retention analytics.
DEFAULT_TARGETS = [
    "events_1min_agg",
    "rolling_30m_metrics",
    "flagship_decision_context",
    "validate_split_quarantine",
    "cdc_latest_snapshot",
    "latest_event_per_user",
    "join_enrich_revenue",
    "anti_join_unsold_parts",
    "dup_key_groups",
    "null_profile_lineitem",
    "distinct_active_users",
    "value_percentiles",
    "topk_orders",
    "json_extract_props",
    "bounded_window_snapshot",
    "text_stats",
    "term_tfidf",
    "dedup_exact_groups",
    "ngram_jaccard_top_pairs",
    "minhash_lsh_candidates",
    "simhash_fingerprints",
    "embedding_cosine_topk",
    "embedding_ivf_label_topk",
    "doc_rolling_hash",
    "user_sessions",
    "action_queue_cooldown",
    "quantile_baselines_publish",
    "tpch_q1_pricing_summary",
    "customer_cohort_set_ops",
    "asof_join_last_purchase",
    "funnel_conversion",
    "weekly_cohort_retention",
    # round-9 families
    "esd_outlier_days",
    "hits_hubs_authorities",
    "brier_decomposition",
    "croston_intermittent_forecast",
    # round-10 families
    "kl_source_drift",
    "ks_weekend_value_shift",
    "kaplan_meier_signup_purchase",
    "weighted_sample_es_topk",
    "knn_label_noise_audit",
    "shingle_temporal_novelty",
    "cvar_expected_shortfall",
    # round-11: the two rows-only sketch lanes, gated by their committed
    # sketch_pins.json hashes instead of a DuckDB oracle
    "weekly_hll_union_estimate",
    "value_percentiles_approx",
    # round-11 families: exact-substring span dedup and training-run
    # planning
    "exact_substring_spans",
    "exact_substring_removal",
    "curriculum_phase_schedule",
    "epoch_allocation_budget",
    "raster_dhash_near_dup",
]

_SORT_SWAP = {
    "desc": "asc",
    "asc": "desc",
    "desc_nulls_last": "asc_nulls_first",
    "asc_nulls_first": "desc_nulls_last",
    "desc_nulls_first": "asc_nulls_last",
    "asc_nulls_last": "desc_nulls_first",
}
_CMP_SWAP = {
    ast.GtE: ast.Gt,
    ast.Gt: ast.GtE,
    ast.LtE: ast.Lt,
    ast.Lt: ast.LtE,
}
import re as _re

_DUR_RE = _re.compile(r"^(\d+) (second|minute|hour|day|week)s?$")
_UNIT_SWAP = {
    "second": "minute",
    "minute": "hour",
    "hour": "day",
    "day": "hour",
    "week": "day",
    "month": "week",
    "quarter": "month",
    "year": "month",
}
_NUMSTR_RE = _re.compile(r"0\.\d+")
_UNWRAP = {"lower", "upper", "trim", "ltrim", "rtrim", "round", "abs",
           "floor", "ceil"}
_AGG_SWAP = {"min": "max", "max": "min", "sum": "avg", "first": "last",
             "last": "first"}
_HASH_SWAP = {"md5": "sha1", "sha1": "md5", "xxhash64": "crc32",
              "crc32": "xxhash64"}


def _bump_dur(s: str) -> str:
    m = _DUR_RE.match(s)
    return s.replace(m.group(1), str(int(m.group(1)) + 1), 1)


def _bump_numstr(s: str) -> str:
    m = _NUMSTR_RE.search(s)
    v = float(m.group())
    return s[: m.start()] + f"{v + 0.05:.2f}" + s[m.end():]


def _enumerate_sites(fn_node: ast.FunctionDef) -> list[tuple[str, int, str]]:
    """All (kind, occurrence_index, description) mutation sites in the
    function, in a deliberate order: semantic mutations first (boundary,
    sort, filter), constant bumps last (more likely equivalent)."""
    buckets: dict[str, list[str]] = {
        k: []
        for k in ("cmp", "sort", "filter", "isin", "dur", "unit",
                  "jsonpath", "numstr", "unwrap", "agg", "hashfn", "float",
                  "int")
    }
    for node in ast.walk(fn_node):
        if isinstance(node, ast.Compare) and len(node.ops) == 1:
            op = node.ops[0]
            if type(op) in _CMP_SWAP:
                buckets["cmp"].append(
                    f"cmp {type(op).__name__}->"
                    f"{_CMP_SWAP[type(op)].__name__} @L{node.lineno}"
                )
        if isinstance(node, ast.Attribute) and node.attr in _SORT_SWAP:
            buckets["sort"].append(
                f"sort {node.attr}->{_SORT_SWAP[node.attr]} @L{node.lineno}"
            )
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in ("filter", "where")
        ):
            buckets["filter"].append(
                f"drop .{node.func.attr}(...) @L{node.lineno}"
            )
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "isin"
            and len(node.args) >= 2
        ):
            buckets["isin"].append(
                f"isin drop last of {len(node.args)} members @L{node.lineno}"
            )
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and isinstance(node.func.value, ast.Name)
            and node.func.value.id == "F"
            and node.func.attr in _UNWRAP
            and node.args
        ):
            buckets["unwrap"].append(
                f"unwrap F.{node.func.attr}(...) @L{node.lineno}"
            )
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and isinstance(node.func.value, ast.Name)
            and node.func.value.id == "F"
            and node.func.attr in _AGG_SWAP
        ):
            buckets["agg"].append(
                f"agg F.{node.func.attr}->F.{_AGG_SWAP[node.func.attr]} "
                f"@L{node.lineno}"
            )
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and isinstance(node.func.value, ast.Name)
            and node.func.value.id == "F"
            and node.func.attr in _HASH_SWAP
        ):
            buckets["hashfn"].append(
                f"hashfn F.{node.func.attr}->"
                f"F.{_HASH_SWAP[node.func.attr]} @L{node.lineno}"
            )
        if isinstance(node, ast.Constant):
            v = node.value
            if type(v) is str:
                if v.startswith("$."):
                    buckets["jsonpath"].append(
                        f"jsonpath {v!r}->{v + '_x'!r} @L{node.lineno}"
                    )
                elif _DUR_RE.match(v):
                    buckets["dur"].append(
                        f"dur {v!r}->{_bump_dur(v)!r} @L{node.lineno}"
                    )
                elif v in _UNIT_SWAP:
                    buckets["unit"].append(
                        f"unit {v!r}->{_UNIT_SWAP[v]!r} @L{node.lineno}"
                    )
                elif _NUMSTR_RE.search(v) and len(v) < 80:
                    buckets["numstr"].append(
                        f"numstr {v!r}->{_bump_numstr(v)!r} @L{node.lineno}"
                    )
            elif type(v) is float:
                buckets["float"].append(
                    f"float {v}->{v + 0.05} @L{node.lineno}"
                )
            elif type(v) is int and not isinstance(v, bool):
                buckets["int"].append(f"int {v}->{v + 1} @L{node.lineno}")
    sites: list[tuple[str, int, str]] = []
    for kind in ("cmp", "sort", "filter", "isin", "dur", "unit",
                 "jsonpath", "numstr", "unwrap", "agg", "hashfn",
                 "float", "int"):
        sites.extend((kind, i, d) for i, d in enumerate(buckets[kind]))
    return sites


class _Mutator(ast.NodeTransformer):
    """Apply the (kind, occurrence)-th mutation inside the target function."""

    def __init__(self, kind: str, occ: int):
        self.kind, self.occ = kind, occ
        self.seen = 0
        self.applied = False

    def _take(self) -> bool:
        hit = self.seen == self.occ
        self.seen += 1
        if hit:
            self.applied = True
        return hit

    def visit_Compare(self, node: ast.Compare):
        self.generic_visit(node)
        if (
            self.kind == "cmp"
            and len(node.ops) == 1
            and type(node.ops[0]) in _CMP_SWAP
            and self._take()
        ):
            node.ops = [_CMP_SWAP[type(node.ops[0])]()]
        return node

    def visit_Attribute(self, node: ast.Attribute):
        self.generic_visit(node)
        if self.kind == "sort" and node.attr in _SORT_SWAP and self._take():
            node.attr = _SORT_SWAP[node.attr]
        return node

    def visit_Call(self, node: ast.Call):
        self.generic_visit(node)
        if (
            self.kind == "filter"
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in ("filter", "where")
            and self._take()
        ):
            return node.func.value  # the receiver: .filter() vanishes
        if (
            self.kind == "isin"
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "isin"
            and len(node.args) >= 2
            and self._take()
        ):
            node.args = node.args[:-1]  # one enum member forgotten
        if (
            self.kind == "unwrap"
            and isinstance(node.func, ast.Attribute)
            and isinstance(node.func.value, ast.Name)
            and node.func.value.id == "F"
            and node.func.attr in _UNWRAP
            and node.args
            and self._take()
        ):
            return node.args[0]  # normalization wrapper vanishes
        if (
            self.kind == "agg"
            and isinstance(node.func, ast.Attribute)
            and isinstance(node.func.value, ast.Name)
            and node.func.value.id == "F"
            and node.func.attr in _AGG_SWAP
            and self._take()
        ):
            node.func.attr = _AGG_SWAP[node.func.attr]
        if (
            self.kind == "hashfn"
            and isinstance(node.func, ast.Attribute)
            and isinstance(node.func.value, ast.Name)
            and node.func.value.id == "F"
            and node.func.attr in _HASH_SWAP
            and self._take()
        ):
            node.func.attr = _HASH_SWAP[node.func.attr]
        return node

    def visit_Constant(self, node: ast.Constant):
        v = node.value
        if (
            self.kind == "int"
            and type(v) is int
            and not isinstance(v, bool)
            and self._take()
        ):
            return ast.copy_location(ast.Constant(v + 1), node)
        if (
            self.kind == "float"
            and type(v) is float
            and self._take()
        ):
            return ast.copy_location(ast.Constant(v + 0.05), node)
        if type(v) is str:
            if (
                self.kind == "jsonpath"
                and v.startswith("$.")
                and self._take()
            ):
                return ast.copy_location(ast.Constant(v + "_x"), node)
            if self.kind == "dur" and _DUR_RE.match(v) and self._take():
                return ast.copy_location(ast.Constant(_bump_dur(v)), node)
            if self.kind == "unit" and v in _UNIT_SWAP and self._take():
                return ast.copy_location(ast.Constant(_UNIT_SWAP[v]), node)
            if (
                self.kind == "numstr"
                and not _DUR_RE.match(v)
                and v not in _UNIT_SWAP
                and _NUMSTR_RE.search(v)
                and len(v) < 80
                and self._take()
            ):
                return ast.copy_location(ast.Constant(_bump_numstr(v)), node)
        return node


def _fn_ast(fn) -> ast.FunctionDef:
    import textwrap

    src = textwrap.dedent(inspect.getsource(fn))
    node = ast.parse(src).body[0]
    assert isinstance(node, ast.FunctionDef)
    return node


_PKG_PREFIX = "shortvideohybridanalyticslakehouse_spark"


def _mutation_targets(name: str) -> list[tuple[object, object]]:
    """(builder_module, function) pairs to mutate for this query: the
    registered builder itself first, then every package-local function it
    calls by bare name (resolved through the builder module's globals —
    this reaches the operator layer: tumbling_counts, latest_per_key,
    split_valid_invalid, ... where most of the real semantics live)."""
    from shortvideohybridanalyticslakehouse_spark.plans.registry import REGISTRY

    fn, _ = REGISTRY[name]

    def ok(cand) -> bool:
        return (
            inspect.isfunction(cand)
            and cand.__module__.startswith(_PKG_PREFIX)
            and cand.__name__ not in ("register", "finalize_bounded", "materialize")
        )

    targets: list[tuple] = []
    seen: set[tuple] = set()
    frontier: list = []

    def add(mod, nm, f):
        key = (id(mod), nm)
        if key in seen:
            return
        seen.add(key)
        targets.append((mod, nm, f))
        frontier.append(f)

    add(sys.modules[fn.__module__], fn.__name__, fn)
    while frontier:
        cur = frontier.pop(0)
        try:
            node = _fn_ast(cur)
        except (OSError, TypeError):
            continue
        # names at a call site resolve in the CALLING function's defining
        # module — that module (or, for attribute calls, the module object
        # the attribute lives on) is where the monkeypatch must land
        g = sys.modules[cur.__module__].__dict__
        for sub in ast.walk(node):
            if not isinstance(sub, ast.Call):
                continue
            f = sub.func
            if isinstance(f, ast.Name):
                cand = g.get(f.id)
                if ok(cand):
                    add(sys.modules[cur.__module__], f.id, cand)
            elif isinstance(f, ast.Attribute) and isinstance(
                f.value, ast.Name
            ):
                base = g.get(f.value.id)
                if inspect.ismodule(base) and base.__name__.startswith(
                    _PKG_PREFIX
                ):
                    cand = getattr(base, f.attr, None)
                    if ok(cand):
                        add(base, f.attr, cand)
    return targets


def _compile_mutant(owner_fn, kind: str, occ: int):
    """Compile a copy of ``owner_fn`` with one mutation applied. The
    function source is exec'd against a COPY of its defining module's
    globals (so module constants and sibling helpers resolve unmutated)
    with decorators stripped (no @register side effects)."""
    node = _fn_ast(owner_fn)
    node.decorator_list = []
    mut = _Mutator(kind, occ)
    mut.visit(node)
    if not mut.applied:
        raise RuntimeError(f"site ({kind},{occ}) not applicable")
    tree = ast.Module(body=[node], type_ignores=[])
    ast.fix_missing_locations(tree)
    g = dict(sys.modules[owner_fn.__module__].__dict__)
    exec(
        compile(tree, f"<mutant:{owner_fn.__name__}:{kind}:{occ}>", "exec"), g
    )
    return g[owner_fn.__name__]


def _run_with_mutant(
    name: str, owner_mod, call_name: str, owner_fn, kind, occ, spark, sf_dir
):
    """Execute query ``name`` with one function replaced by its mutant.
    If the mutated function IS the builder, call the mutant directly;
    otherwise monkeypatch the builder module's global name (call-time
    resolution makes the original builder pick it up), run, restore."""
    from shortvideohybridanalyticslakehouse_spark.plans.registry import REGISTRY

    builder, _ = REGISTRY[name]
    mutant = _compile_mutant(owner_fn, kind, occ)
    if owner_fn is builder:
        return mutant(spark, sf_dir).toPandas()
    orig = owner_mod.__dict__[call_name]
    owner_mod.__dict__[call_name] = mutant
    try:
        return builder(spark, sf_dir).toPandas()
    finally:
        owner_mod.__dict__[call_name] = orig


def main() -> int:
    argv = sys.argv[1:]
    max_sites = 16
    out_path = os.path.join(_REPO, "tools", "ORACLE_MUTATION.json")
    if "--max-sites" in argv:
        i = argv.index("--max-sites")
        max_sites = int(argv[i + 1])
        del argv[i : i + 2]
    if "--out" in argv:
        i = argv.index("--out")
        out_path = argv[i + 1]
        del argv[i : i + 2]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    targets = argv[1:] or DEFAULT_TARGETS

    import duckdb

    # the package binds to this checkout before __spark_entry__ puts its
    # fixed path first on sys.path (as tools/check_oracle.py does)
    from shortvideohybridanalyticslakehouse_spark.plans.registry import (
        REGISTRY,
        load_all,
    )

    import __spark_entry__ as entrymod
    from tools.check_oracle import frame_hash

    load_all()
    spark = (
        SparkSession.builder.appName("oracle-mutation")
        .master("local[8]")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    entrymod._ensure_confs(spark)
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    # Rows-only sketch lanes have no SQL oracle, but their committed
    # sketch_pins.json hash IS their correctness gate (VERDICT r10 #5):
    # use the pin tuple as the comparator so those lanes get proven
    # detection power too (a mutant must drift the pinned hash).
    from tools.sketch_pins import _sf_tag, load_pins

    pins = load_pins()
    sftag = _sf_tag(sf_dir)

    oracles = entrymod.oracle_sql()
    report: dict[str, dict] = {}
    insensitive: list[str] = []
    for name in targets:
        if name not in REGISTRY:
            print(f"SKIP {name}: not in registry")
            continue
        gate = "oracle"
        if name not in oracles:
            pin = pins.get(name, {}).get(sftag)
            if not pin:
                print(f"SKIP {name}: no SQL oracle and no sketch pin")
                continue
            gate = "sketch_pin"
        t0 = time.time()
        if gate == "oracle":
            odf = con.sql(oracles[name]).df()
            otuple = frame_hash(odf)
        else:
            pin = pins[name][sftag]
            otuple = (int(pin["rows"]), list(pin["cols"]), pin["hash"])
        base = REGISTRY[name][0](spark, sf_dir).toPandas()
        if frame_hash(base) != otuple:
            print(f"BROKEN {name}: baseline already disagrees — fix first")
            report[name] = {"status": "baseline_broken", "gate": gate}
            insensitive.append(name)
            continue
        sites: list[tuple] = []
        for mod, call_name, ofn in _mutation_targets(name):
            try:
                fnode = _fn_ast(ofn)
            except (OSError, TypeError):
                continue
            for kind, occ, desc in _enumerate_sites(fnode):
                sites.append(
                    (mod, call_name, ofn, kind, occ, f"{ofn.__name__}: {desc}")
                )
        sites = sites[:max_sites]
        tried = []
        killed = None
        for mod, call_name, ofn, kind, occ, desc in sites:
            try:
                mdf = _run_with_mutant(
                    name, mod, call_name, ofn, kind, occ, spark, sf_dir
                )
            except Exception as e:
                # a mutant that CRASHES is detected too (driver marks FAIL)
                killed = {"mutant": desc, "how": f"error: {type(e).__name__}"}
                tried.append({"mutant": desc, "result": "killed (error)"})
                break
            if frame_hash(mdf) != otuple:
                killed = {"mutant": desc, "how": "hash mismatch"}
                tried.append({"mutant": desc, "result": "killed (hash)"})
                break
            tried.append({"mutant": desc, "result": "equivalent (passed)"})
        dt = time.time() - t0
        if killed:
            print(
                f"KILLED {name}: {killed['mutant']} ({killed['how']}, "
                f"gate={gate}) after {len(tried)} mutant(s) [{dt:.1f}s]"
            )
            report[name] = {
                "status": "killed", "gate": gate, **killed, "tried": tried
            }
        else:
            print(
                f"INSENSITIVE {name}: {len(tried)} mutants all passed "
                f"[{dt:.1f}s]"
            )
            report[name] = {
                "status": "insensitive", "gate": gate, "tried": tried
            }
            insensitive.append(name)

    # MERGE into the artifact (round 10: a subset rerun clobbered the
    # 36-target record and the guard_mutants section — subset runs must
    # refresh their own rows only, exactly like shuffle_gate --record)
    doc: dict = {}
    if os.path.exists(out_path):
        try:
            with open(out_path) as fh:
                doc = json.load(fh)
        except (OSError, json.JSONDecodeError):
            doc = {}
    merged = doc.get("queries", {})
    merged.update(report)
    insensitive_all = sorted(
        q for q, r in merged.items() if r.get("status") == "insensitive"
    )
    n_killed = sum(1 for r in merged.values() if r["status"] == "killed")
    summary = {
        "sf_dir": sf_dir,
        "targets": len(merged),
        "killed": n_killed,
        "insensitive": insensitive_all,
        "kill_rate": round(n_killed / max(1, len(merged)), 3),
    }
    doc.update({"summary": summary, "queries": merged})
    with open(out_path, "w") as fh:
        json.dump(doc, fh, indent=1)
    print("SUMMARY:", json.dumps(summary))
    spark.stop()
    return 0 if not insensitive else 1


if __name__ == "__main__":
    raise SystemExit(main())
