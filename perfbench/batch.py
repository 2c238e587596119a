"""The fleet_sample workload, closed loop: one client runs registry lanes
back to back in one session, each lane = builder call + bench.py's
xxhash64 sink.

The first pass over the lane list is warm-up (each lane's first run in
the session is cold) and checks each lane's frame against its DuckDB
oracle. Then about ``--seconds`` of timed passes run (three at 20 s), and
a lane's time is its fastest run over them.

A traced run times five passes: checked, untraced, untraced, traced,
untraced. A traced lane is split into spans

    lane -> builder -> sources.load_table calls, eager jobs
         -> engine.final_plan (force executedPlan of the sink frame)
         -> engine.final_exec (the sink action)

with eager/final jobs and their stage metrics read from the status store.
"""

from __future__ import annotations

import os
import random
import statistics
import time

import lanes
import oracle
import trace
from common import CACHE, HERE, Setup, hd_median, percentile, sink_frame

SF = 0.001
# Byte copies of the repository's sf0.001 fixture tables (TESTDATA.md),
# kept beside the benchmark because a run may read only its checkout.
# They do not vary with the run seed (the seed sets the lane order), so
# the DuckDB oracle answers are cached per (lane, tables).
DATA_DIR = os.path.join(HERE, "tables", f"sf{SF}")


def _run_lane(spark, fn, data_dir: str):
    df = fn(spark, data_dir)
    sink_frame(df).collect()
    return df


def _run_lane_traced(spark, fn, data_dir: str, tracer, name: str):
    with tracer.span("lane", lane=name) as lane_sid:
        with tracer.span("plans.build"):
            df = fn(spark, data_dir)
        with tracer.span("engine.final_plan"):
            sink = sink_frame(df)
            sink._jdf.queryExecution().executedPlan()
        with tracer.span("engine.final_exec"):
            sink.collect()
    return df, lane_sid


def _attach_jobs(tracer, lane_sid: int, jobs: list[dict]) -> None:
    """Hang each job under the lane child span it was submitted in."""
    kids = tracer.children(lane_sid)
    for j in jobs:
        sub = (j.get("submissionTime") or 0) / 1000.0
        end = (j.get("completionTime") or j.get("submissionTime") or 0) / 1000.0
        owner = next(
            (k for k in kids if k["start"] <= sub <= k["end"]), tracer.spans[lane_sid]
        )
        kind = "plans.eager_job" if owner["name"] == "plans.build" else "engine.job"
        tracer.add(kind, sub, end, owner["id"], owner["lane"], job_id=j["jobId"])


def _lane_ledger(tracer, lane_sid: int) -> dict[str, float]:
    """Per-lane layer split; the five parts add up to the lane's wall time
    up to the gaps between its child spans."""
    lane = tracer.spans[lane_sid]
    parts = {"load_s": 0.0, "eager_job_s": 0.0, "driver_s": 0.0,
             "final_plan_s": 0.0, "final_exec_s": 0.0,
             "eager_jobs": 0, "final_jobs": 0, "load_calls": 0}
    for k in tracer.children(lane_sid):
        dur = k["end"] - k["start"]
        if k["name"] == "plans.build":
            # builder = load_table calls + eager jobs + driver remainder,
            # wherever in the builder's call tree the loads and jobs sit
            below = tracer.descendants(k["id"])
            loads = [(c["start"], c["end"]) for c in below if c["name"] == "sources.load_table"]
            jobs = [(c["start"], c["end"]) for c in below if c["name"] == "plans.eager_job"]
            load_s = trace.union_s(loads, k["start"], k["end"])
            busy_s = trace.union_s(loads + jobs, k["start"], k["end"])
            parts["load_s"] += load_s
            parts["eager_job_s"] += busy_s - load_s  # job time outside loads
            parts["driver_s"] += dur - busy_s
            parts["eager_jobs"] += len(jobs)
            parts["load_calls"] += len(loads)
        elif k["name"] == "engine.final_plan":
            parts["final_plan_s"] += dur
        elif k["name"] == "engine.final_exec":
            parts["final_exec_s"] += dur
            parts["final_jobs"] += sum(
                1 for c in tracer.children(k["id"]) if c["name"] == "engine.job"
            )
    wall = lane["end"] - lane["start"]
    attributed = sum(parts[p] for p in ("load_s", "eager_job_s", "driver_s",
                                         "final_plan_s", "final_exec_s"))
    parts["wall_s"] = wall
    parts["unattributed_frac"] = abs(wall - attributed) / wall if wall > 0 else 0.0
    return parts


# The checked first pass runs cold (first use of each lane's plans) and is
# warm-up. Timed passes still differ after it (JIT, heap growth), so a run
# times a fixed number of them, --seconds / STEADY_PASS_S (about one timed
# pass on 4 cores), at least MIN_TIMED, rather than as many as fit: each
# run then samples the same stretch of the session.
STEADY_PASS_S = 7.0
MIN_TIMED = 2
# A traced run's passes: checked, untraced, untraced, traced, untraced.
TRACED_PASS = 3


def run(seed: int, seconds: float, traced: bool, work: str, plant: str | None = None) -> dict:
    """The fleet_sample workload. ``plant`` perturbs one lane's expected
    oracle hash (self-test only)."""
    data_dir = DATA_DIR
    setup = Setup(work)
    setup.run()
    spark, registry = setup.spark, setup.registry
    order = lanes.fleet_sample()
    random.Random(seed).shuffle(order)

    gate = oracle.Gate(registry, data_dir, CACHE, plant)
    attempted = failed = 0
    errors: list[str] = []
    passes: list[dict] = []
    tracer = store = ledger = None
    if traced:
        tracer = trace.Tracer()
        store = trace.StatusStore(spark)
        ledger = trace.JobLedger(store)
    n_passes = (TRACED_PASS + 2 if traced
                else 1 + max(MIN_TIMED, round(seconds / STEADY_PASS_S)))

    try:
        while len(passes) < n_passes:
            checking = not passes
            traced_pass = traced and len(passes) == TRACED_PASS
            lane_times: dict[str, float] = {}
            ledgers: dict[str, dict] = {}
            engine_jobs: list[dict] = []
            lingering: list[float] = []
            if traced_pass:
                ledger.new_jobs()  # leave the untraced passes' jobs out
                first_span = len(tracer.spans)
                restore = trace.patch_layers(tracer)
            try:
                for name in order:
                    fn = registry[name][0]
                    attempted += 1
                    l0 = time.perf_counter()
                    try:
                        if traced_pass:
                            df, sid = _run_lane_traced(spark, fn, data_dir, tracer, name)
                        else:
                            df = _run_lane(spark, fn, data_dir)
                    except Exception as exc:  # a failing lane is counted, not fatal
                        failed += 1
                        errors.append(f"{name}: {type(exc).__name__}: {str(exc)[:200]}")
                        continue
                    lane_times[name] = time.perf_counter() - l0
                    if checking:  # untimed: the lane's frame against its oracle
                        err = gate.check(name, df)
                        if err:
                            failed += 1
                            errors.append(err)
                    if traced_pass:
                        jobs = ledger.new_jobs()
                        _attach_jobs(tracer, sid, jobs)
                        ledgers[name] = _lane_ledger(tracer, sid)
                        engine_jobs.extend(jobs)
                        lingering.append(store.cached_storage_mb())
            finally:
                if traced_pass:
                    restore()
            # lane time only: oracle checks and status-store reads are not
            # lane work
            record = {"wall_s": sum(lane_times.values()), "traced": traced_pass,
                      "checked": checking, "lanes": lane_times}
            if traced_pass:
                record.update(
                    ledger=ledgers,
                    lingering_mb=lingering,
                    engine=trace.engine_layers(engine_jobs, record["wall_s"]),
                    minhash_calls=sum(
                        1 for sp in tracer.spans[first_span:]
                        if sp["name"] == "functions.minhash_candidate_pairs"
                    ),
                )
            passes.append(record)
    finally:
        gate.close()
    spark.stop()

    plain = [p for p in passes if not (p["traced"] or p["checked"])]
    # Each lane's fastest run over the timed untraced passes: co-tenant
    # stalls and JVM pauses only ever add time, so the
    # fastest run is the nearest to the lane's steady cost.
    best = {n: min(p["lanes"][n] for p in plain if n in p["lanes"])
            for n in order if any(n in p["lanes"] for p in plain)}
    metrics = {"setup_s": (setup.parts["total_s"], "s")}
    if best:  # else every lane raised: the run is failed
        pass_s = sum(best.values())
        metrics.update({
            "pass_s": (pass_s, "s"),
            # 14 lane times in two clusters with a gap near the middle:
            # the sample median would jump between them from run to run
            "latency_p50_s": (hd_median(list(best.values())), "s"),
            "latency_p90_s": (percentile(list(best.values()), 90), "s"),
            "capacity_per_s": (len(best) / pass_s, "1/s"),
        })
    traced_ok = traced and next(p for p in passes if p["traced"])["ledger"]
    layers = _layer_metrics(passes) if traced_ok else {}
    return {
        "attempted": attempted,
        "failed": failed,
        "errors": errors,
        "metrics": metrics,
        "layers": layers,
        "tracer": tracer,
        "detail": {
            "sf": SF,
            "data_dir": data_dir,
            "setup": setup.parts,
            "lane_order": order,
            "passes": passes,
            "best_lane_s": best,
            "oracle": gate.per_lane,
        },
    }


def _layer_metrics(passes: list[dict]) -> dict[str, tuple[float, str]]:
    """Layer totals of the traced pass; its overhead is measured against
    the untraced passes just before and after it."""
    t = passes[TRACED_PASS]
    plain = [passes[TRACED_PASS - 1], passes[TRACED_PASS + 1]]
    per_lane = t["ledger"].values()

    def total(key: str) -> float:
        return sum(v[key] for v in per_lane)

    return {
        "sources.load_table_calls": (total("load_calls"), "count"),
        "sources.load_table_s": (total("load_s"), "s"),
        "plans.build_s": (total("load_s") + total("eager_job_s") + total("driver_s"), "s"),
        "plans.eager_jobs": (total("eager_jobs"), "count"),
        "plans.eager_job_s": (total("eager_job_s"), "s"),
        "plans.driver_s": (total("driver_s"), "s"),
        "plans.registry.lingering_storage_mb": (statistics.mean(t["lingering_mb"]), "MB"),
        "engine.final_plan_s": (total("final_plan_s"), "s"),
        "engine.final_exec_s": (total("final_exec_s"), "s"),
        "engine.final_jobs": (total("final_jobs"), "count"),
        "functions.minhash_candidate_pairs_calls": (t["minhash_calls"], "count"),
        "trace.lane_unattributed_frac": (max(v["unattributed_frac"] for v in per_lane), "fraction"),
        "trace.pass_overhead_s": (
            t["wall_s"] - statistics.mean(p["wall_s"] for p in plain), "s"),
        **t["engine"],
    }
