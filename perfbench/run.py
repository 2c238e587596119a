"""Repository benchmark: runs one named workload against the engine's
public entry points and prints one JSON result as its last stdout line.

    python3 perfbench/run.py --workload fleet_sample --seed 1 --seconds 10 --trace 0

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json, ``--trace
1`` the per-layer ones. Each run also leaves a full record (host noise,
per-pass and per-lane timings, oracle verdicts, spans when traced) under
``.perfbench_runs/`` for ``perfbench/compare.py``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import common  # noqa: E402
import host  # noqa: E402

WORKLOADS = ("fleet_sample", "stream_flagship")


def _declared() -> dict:
    with open(os.path.join(common.ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run_workload(name: str, seed: int, seconds: float, traced: bool,
                 plant: str | None = None) -> dict:
    """Run one workload; returns the full run record."""
    common.require_checkout()
    record = {"workload": name, "seed": seed, "seconds": seconds, "trace": traced,
              "started": time.time()}
    noise = host.HostRecord()
    rss = host.PeakRss()
    work = common.prepare_env(name)
    try:
        if name == "fleet_sample":
            import batch

            res = batch.run(seed, seconds, traced, work, plant)
        else:
            import stream

            res = stream.run(seed, seconds, traced, work, plant)
    finally:
        peak = rss.stop()
    record.update(
        attempted=res["attempted"],
        failed=res["failed"],
        errors=res["errors"],
        metrics=res["metrics"],
        layers=_all_layers(res, traced, peak),
        detail=dict(res["detail"], peak_rss_mb=peak),
        host=noise.finish(),
    )
    if res.get("tracer") is not None:
        os.makedirs(common.RUNS, exist_ok=True)
        record["spans_file"] = os.path.join(
            common.RUNS, f"{name}-seed{seed}-{int(record['started'])}-spans.json")
        res["tracer"].dump(record["spans_file"])
    return record


def _all_layers(res: dict, traced: bool, peak_rss_mb: float) -> dict:
    """Every per-layer metric of BENCHMARK.json; a layer the workload does
    not reach reports 0 work and 0 time."""
    if not traced:
        return {}
    setup = res["detail"]["setup"]
    layers = {
        "session.start_s": (setup["start_s"], "s"),
        "plans.registry.import_s": (setup["import_s"], "s"),
        "session.warmup_s": (setup["warmup_s"], "s"),
        "engine.peak_rss_mb": (peak_rss_mb, "MB"),
        **res["layers"],
    }
    for m in _declared()["per_layer"]:
        layers.setdefault(m["name"], (0.0, m["unit"]))
    return layers


def result_line(record: dict) -> dict:
    """The contract's last line: end-to-end metrics untraced, per-layer
    metrics traced. A failed run may lack samples for some metrics; those
    read 0. A correct run lacking one is a benchmark bug (KeyError)."""
    source = record["layers"] if record["trace"] else record["metrics"]
    wanted = _declared()["per_layer" if record["trace"] else "end_to_end"]
    metrics = {}
    for m in wanted:
        if m["name"] in source or not record["failed"]:
            value = source[m["name"]][0]
        else:
            value = 0.0
        metrics[m["name"]] = {"value": float(value), "unit": m["unit"]}
    return {
        "correct": record["failed"] == 0,
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": metrics,
    }


def save(record: dict) -> str:
    os.makedirs(common.RUNS, exist_ok=True)
    path = os.path.join(
        common.RUNS,
        f"{record['workload']}-seed{record['seed']}-trace{int(record['trace'])}"
        f"-{int(record['started'])}.json",
    )
    with open(path, "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    return path


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        record = run_workload(args.workload, args.seed, args.seconds, bool(args.trace))
    except common.NotACheckout as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 2
    finally:
        common.shutdown_jvm()
    path = save(record)
    for err in record["errors"]:
        print(f"perfbench: FAILED {err}", file=sys.stderr)
    print(json.dumps({"record": path, "host": record["host"]}))
    print(json.dumps(result_line(record)))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
