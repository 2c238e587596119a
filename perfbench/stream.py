"""Streaming workload: the flagship pipeline fed by one closed-loop client.

``BoundedRun(seed)`` content events (no late events, so the stream must
equal its batch twin) are cut into JSONL files of ``EVENTS_PER_FILE``
events, grouped ``FILES_PER_BATCH`` to a micro-batch
(``maxFilesPerTrigger``); the query runs with a no-delay trigger. The
client keeps ``QUEUE_BATCHES`` groups unconsumed: each time a micro-batch
commits, it writes the next group, renaming each file into the watched
directory so its mtime is its real write time. The source takes the
oldest files first, so every micro-batch holds one whole group (1 000
events), a group is always waiting when a micro-batch ends (no idle or
no-data batches), and the backlog cannot grow. The first
``WARMUP_BATCHES`` micro-batches are warm-up; the client feeds
``--seconds / STEADY_BATCH_S`` more and the query drains what is left.
Per event, latency is the completion of the micro-batch that consumed its
file minus the file's write time; the file -> micro-batch map comes from
the source and offsets logs in the query's checkpoint.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time
from datetime import datetime

import trace
from common import Setup, percentile

CLOCK_COLS = {"processed_at", "max_processed_at_30m"}
EVENTS_PER_FILE = 250
# One input split per file: four files keep the four cores busy.
FILES_PER_BATCH = 4
EVENT_TIME_RATE = 50.0  # generator events per second of event time
# One group running and one waiting: the next micro-batch never waits for
# the client, and a group waits for at most one micro-batch before its own.
QUEUE_BATCHES = 2
# The first micro-batch creates the stores and the next still runs well
# above the later ones; neither is measured.
WARMUP_BATCHES = 2
# Micro-batch times keep drifting over a run (JIT, state and table
# growth), so a run measures a fixed number of them, --seconds /
# STEADY_BATCH_S (about one micro-batch on 4 cores; 3 at the declared
# 20 s), rather than as many as fit: each run then samples the same
# stretch of the stream.
STEADY_BATCH_S = 6.5
MIN_MEASURED = 2
# Events generated up front, whatever --seconds: the generator sizes its
# video and user population by the total, and the per-batch cost follows
# the population. Runs use the first groups of them.
TOTAL_BATCHES = 10
# Compact in every micro-batch (the default is every 8th): a run holds
# only a handful of micro-batches, and uniform batches keep their median
# from depending on where a compaction falls.
COMPACT_EVERY = 1
DRAIN_BATCHES = 3
POLL_S = 0.05
# The next micro-batch lists the directory as soon as a commit lands, and
# the file source keeps files it listed but did not take for the micro-batch
# after, without listing again. A group written while that listing runs
# would be split over two micro-batches, so the client writes a group this
# long after the commit that freed its slot.
WRITE_DELAY_S = 0.5
STALL_S = 60.0


def _iso_to_epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


class Feeder:
    """The closed-loop client: writes the next FILES_PER_BATCH files of
    ``chunks`` on request, each renamed into ``src`` so its mtime is its
    write time, and records how long after it was due each landed."""

    def __init__(self, src: str, chunks: list[str]) -> None:
        self.src, self.chunks = src, chunks
        self.written: list[dict] = []

    def write_next(self, due: float) -> bool:
        first = len(self.written)
        if first + FILES_PER_BATCH > len(self.chunks):
            return False
        for n in range(first, first + FILES_PER_BATCH):
            tmp = os.path.join(self.src, f".part-{n:05d}.tmp")
            final = os.path.join(self.src, f"part-{n:05d}.jsonl")
            with open(tmp, "w") as fh:
                fh.write(self.chunks[n])
            os.replace(tmp, final)
            mtime = os.stat(final).st_mtime
            self.written.append({"path": final, "due": due, "mtime": mtime,
                                 "late_s": max(0.0, mtime - due)})
        return True


def _file_batches(ckpt: str) -> dict[str, int]:
    """basename -> id of the query batch that consumed the file. The file
    source numbers its own log entries; the query's offsets log says up to
    which source entry each query batch read."""
    root = os.path.join(ckpt, "flagship")
    source_entry: dict[str, int] = {}
    for f in glob.glob(os.path.join(root, "sources", "0", "*")):
        with open(f) as fh:
            for line in fh.read().splitlines()[1:]:
                if line.strip():
                    e = json.loads(line)
                    source_entry[os.path.basename(e["path"])] = e["batchId"]
    read_upto: list[tuple[int, int]] = []  # (source entry, query batch)
    for f in glob.glob(os.path.join(root, "offsets", "*")):
        if not os.path.basename(f).isdigit():
            continue
        with open(f) as fh:
            lines = fh.read().splitlines()
        if len(lines) > 2 and lines[2].strip() not in ("", "-"):
            read_upto.append((json.loads(lines[2])["logOffset"], int(os.path.basename(f))))
    read_upto.sort()
    out = {}
    for name, entry in source_entry.items():
        out[name] = next((qid for upto, qid in read_upto if upto >= entry), -1)
    return out


def _progress_batches(q) -> dict[int, dict]:
    out = {}
    for p in q.recentProgress:
        d = p.durationMs
        start = _iso_to_epoch(p.timestamp)
        trig = d.get("triggerExecution", 0) / 1000.0
        out[p.batchId] = {
            "start": start,
            "end": start + trig,
            "rows": p.numInputRows,
            "trigger_ms": d.get("triggerExecution", 0),
            "add_batch_ms": d.get("addBatch", 0),
            "get_batch_ms": d.get("getBatch", 0),
            "wal_commit_ms": d.get("walCommit", 0),
            "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
            "state_mem_mb": sum(s.memoryUsedBytes for s in p.stateOperators) / 1e6,
        }
    return out


def _inputs(spark, seed: int, n_files: int) -> dict:
    """Generation + dims + thresholds: the stream's share of set-up."""
    from pyspark.sql import functions as F

    from shortvideohybridanalyticslakehouse_spark.generator import (
        BoundedRun,
        GeneratorConfig,
    )
    from shortvideohybridanalyticslakehouse_spark.operators.validate import (
        annotate_cdc_errors,
        parse_cdc_records,
    )
    from shortvideohybridanalyticslakehouse_spark.plans import serving
    from shortvideohybridanalyticslakehouse_spark.sources.batch import jsonl_fixture_to_raw

    run = BoundedRun(
        GeneratorConfig(
            total_events=n_files * EVENTS_PER_FILE,
            events_per_second=EVENT_TIME_RATE,
            seed=seed,
            late_event_ratio=0.0,
        )
    )
    rows = [v for (v,) in run.content_events()]
    per = EVENTS_PER_FILE
    chunks = ["\n".join(rows[i * per:(i + 1) * per]) for i in range(n_files)]
    cdc = parse_cdc_records(
        jsonl_fixture_to_raw(spark.createDataFrame(run.cdc_records(), ["value"]))
    )
    dims = serving.dim_videos(annotate_cdc_errors(cdc).filter(F.col("error_code").isNull()))
    dims = dims.localCheckpoint()
    thresholds = spark.createDataFrame(
        [(0.5, 10.0)], "velocity_p90 double, impressions_p40 double"
    )
    return {"chunks": chunks, "dims": dims, "thresholds": thresholds}


@contextlib.contextmanager
def _planted_failure(active: bool):
    """Self-test only: every compaction raises, so the query dies in its
    first micro-batch and the run has no samples."""
    if not active:
        yield
        return
    from shortvideohybridanalyticslakehouse_spark.plans import ddl

    original = ddl.compact_bucketed_table

    def broken(*args, **kwargs):
        raise RuntimeError("planted stream failure")

    ddl.compact_bucketed_table = broken
    try:
        yield
    finally:
        ddl.compact_bucketed_table = original


def run(seed: int, seconds: float, traced: bool, work: str, plant: str | None = None) -> dict:
    """The stream_flagship workload. ``plant="stream"`` makes the query fail
    (self-test only)."""
    n_files = FILES_PER_BATCH * TOTAL_BATCHES
    setup = Setup(work, extra=lambda spark: _inputs(spark, seed, n_files))
    setup.run()
    spark = setup.spark
    from shortvideohybridanalyticslakehouse_spark.streaming import flagship

    inputs = setup.extra_result
    src = os.path.join(work, "events_in")
    out = os.path.join(work, "out")
    ckpt = os.path.join(work, "ckpt")
    os.makedirs(src)
    measured_n = max(MIN_MEASURED, min(TOTAL_BATCHES - WARMUP_BATCHES,
                                       round(seconds / STEADY_BATCH_S)))
    feeder = Feeder(src, inputs["chunks"][:FILES_PER_BATCH * (WARMUP_BATCHES + measured_n)])

    tracer = trace.Tracer() if traced else None
    restore = trace.patch_layers(tracer) if traced else None
    ledger = trace.JobLedger(trace.StatusStore(spark)) if traced else None
    errors: list[str] = []
    progress: dict[int, dict] = {}
    t_measure = t_end = None
    try:
        with _planted_failure(plant == "stream"):
            for _ in range(QUEUE_BATCHES):
                feeder.write_next(time.time())
            q = flagship.start_flagship_stream(
                spark,
                flagship.read_flagship_file_stream(spark, src, FILES_PER_BATCH),
                inputs["dims"],
                inputs["thresholds"],
                out,
                ckpt,
                trigger={"processingTime": "0 seconds"},
                compact_every=COMPACT_EVERY,
            )
            try:
                t_measure, t_end = _feed(q, feeder)
                _wait_consumed(q, ckpt, {os.path.basename(w["path"]) for w in feeder.written},
                               60)
                q.processAllAvailable()
            finally:
                progress = _progress_batches(q)
                q.stop()
    except Exception as exc:  # any stream failure is a counted failure
        errors.append(f"stream: {type(exc).__name__}: {str(exc)[:300]}")
    finally:
        if restore:
            restore()
    jobs = [j for j in ledger.new_jobs() if (j.get("submissionTime") or 0) / 1000.0
            >= t_measure] if traced and t_measure else []

    file_batch = _file_batches(ckpt)
    done = set(progress)
    consumed = 0
    fresh: list[float] = []  # per file: every event in it shares the value
    last_end = t_end or 0.0
    for w in feeder.written:
        bid = file_batch.get(os.path.basename(w["path"]))
        if bid not in done:
            continue
        consumed += 1
        b = progress[bid]
        last_end = max(last_end, b["end"])
        # written after warm-up: its wait is on measured micro-batches only
        if t_measure and w["mtime"] >= t_measure:
            fresh.append(b["end"] - w["mtime"])
    measured = [b for bid, b in sorted(progress.items())
                if b["rows"] > 0 and t_measure and b["start"] >= t_measure]
    # The client stops with one group left, which a stream that keeps up
    # drains within a batch time; a stuck one does not.
    drain_s = last_end - t_end if t_end else None
    drain_bound_s = (DRAIN_BATCHES * statistics.median(b["trigger_ms"] for b in measured) / 1e3
                     if measured else None)

    try:
        twin_ok, n_decisions = _twin_equal(spark, flagship, src, out, inputs)
    except Exception as exc:  # no stores, or the twin fails: counted below
        twin_ok, n_decisions = False, 0
        errors.append(f"twin: {type(exc).__name__}: {str(exc)[:300]}")
    flagship.drop_stores(spark, out)
    spark.stop()

    attempted = len(feeder.written)
    failed = attempted - consumed
    if not twin_ok:
        errors.append("stream decisions differ from flagship_batch_twin")
    if drain_s is not None and drain_bound_s is not None and drain_s > drain_bound_s:
        errors.append(f"backlog: drain took {drain_s:.2f} s > {drain_bound_s:.2f} s")
    if not (measured and fresh):
        errors.append("stream: no measured micro-batch")
    if errors:
        failed = attempted
    metrics = {"setup_s": (setup.parts["total_s"], "s")}
    if measured and fresh:
        trig_s = [b["trigger_ms"] / 1000.0 for b in measured]
        metrics.update({
            "pass_s": (statistics.median(trig_s), "s"),
            "latency_p50_s": (statistics.median(fresh), "s"),
            "latency_p90_s": (percentile(fresh, 90), "s"),
            "capacity_per_s": (statistics.median(b["rows"] / t for b, t in zip(measured, trig_s)),
                               "1/s"),
        })
    layers = {}
    if traced and measured:
        layers = _layer_metrics(tracer, measured, progress, t_measure, feeder, fresh, jobs)
    return {
        "attempted": attempted,
        "failed": failed,
        "errors": errors,
        "metrics": metrics,
        "layers": layers,
        "tracer": tracer,
        "detail": {
            "measured_target": measured_n,
            "events_per_file": EVENTS_PER_FILE,
            "files_per_batch": FILES_PER_BATCH,
            "queue_batches": QUEUE_BATCHES,
            "files_written": len(feeder.written),
            "setup": setup.parts,
            "measured_batches": len(measured),
            "batch_log": [dict(b, batch_id=bid) for bid, b in sorted(progress.items())],
            "t_measure": t_measure,
            "drain_s": drain_s,
            "drain_bound_s": drain_bound_s,
            "twin_equal": twin_ok,
            "decisions": n_decisions,
            "freshness_p95_s": percentile(fresh, 95) if fresh else None,
            "feeder_late_p95_s": (percentile([w["late_s"] for w in feeder.written], 95)
                                  if feeder.written else None),
        },
    }


def _feed(q, feeder: Feeder) -> tuple[float, float]:
    """Keep QUEUE_BATCHES groups unconsumed: after each committed
    micro-batch write the next group, until the feeder's files are all
    written. Returns (end of the warm-up micro-batches, last write)."""
    seen: set[int] = set()
    rows = batches = 0
    t_measure = None
    last_commit = time.time()
    while True:
        p = q.lastProgress
        if p is not None and p.batchId not in seen and p.numInputRows > 0:
            last_commit = time.time()
            seen.add(p.batchId)
            rows += p.numInputRows
            batches += 1
            end = _iso_to_epoch(p.timestamp) + p.durationMs.get("triggerExecution", 0) / 1e3
            if batches == WARMUP_BATCHES:
                t_measure = end
            due = end + WRITE_DELAY_S
            while (len(feeder.written) - rows // EVENTS_PER_FILE
                   < QUEUE_BATCHES * FILES_PER_BATCH):
                time.sleep(max(0.0, due - time.time()))
                if not feeder.write_next(due):
                    return t_measure, time.time()
        if q.exception() is not None:
            raise RuntimeError(f"stream failed: {q.exception()}")
        if not q.isActive:
            raise RuntimeError("stream stopped")
        if time.time() - last_commit > STALL_S:
            raise TimeoutError(f"no micro-batch committed in {STALL_S} s")
        time.sleep(POLL_S)


def _wait_consumed(q, ckpt: str, names: set[str], timeout: float) -> None:
    """Block until every file in ``names`` sits in a completed batch."""
    deadline = time.time() + timeout
    while time.time() < deadline:
        fb = _file_batches(ckpt)
        done = {p.batchId for p in q.recentProgress}
        if all(fb.get(n) in done for n in names):
            return
        if q.exception() is not None:
            raise RuntimeError(f"stream failed: {q.exception()}")
        time.sleep(0.05)
    raise TimeoutError(f"stream did not consume {len(names)} files in {timeout} s")


def _twin_equal(spark, flagship, src: str, out: str, inputs: dict) -> tuple[bool, int]:
    streamed = flagship.read_decisions(spark, out)
    batch = flagship.flagship_batch_twin(
        flagship.valid_events_batch(spark, src), inputs["dims"], inputs["thresholds"]
    )
    cols = sorted(set(streamed.columns) - CLOCK_COLS)
    s_rows = sorted(map(tuple, streamed.select(*cols).collect()))
    b_rows = sorted(map(tuple, batch.select(*cols).collect()))
    return s_rows == b_rows and len(s_rows) > 0, len(s_rows)


def _layer_metrics(tracer, measured, progress, t_measure, feeder, fresh, jobs) -> dict:
    trig = [b["trigger_ms"] for b in measured]
    span_s = (max(b["end"] for b in measured) - t_measure) if measured else 1.0

    def ddl(name: str) -> tuple[int, float]:
        spans = [s for s in tracer.spans if s["name"] == name and s["start"] >= t_measure]
        return len(spans), sum(s["end"] - s["start"] for s in spans)

    append_n, append_s = ddl("plans.ddl.append")
    compact_n, compact_s = ddl("plans.ddl.compact")
    # one span per micro-batch, with the ddl calls it made as children
    for bid, b in sorted(progress.items()):
        sid = tracer.add("streaming.micro_batch", b["start"], b["end"], batch_id=bid)
        for s in tracer.spans:
            if s["name"].startswith("plans.ddl.") and b["start"] <= s["start"] <= b["end"]:
                s["parent"] = sid
    return {
        "streaming.batches": (len(measured), "count"),
        "streaming.trigger_p50_ms": (statistics.median(trig), "ms"),
        "streaming.trigger_p95_ms": (percentile(trig, 95), "ms"),
        "streaming.add_batch_ms": (statistics.median(b["add_batch_ms"] for b in measured), "ms"),
        "streaming.get_batch_ms": (statistics.median(b["get_batch_ms"] for b in measured), "ms"),
        "streaming.wal_commit_ms": (statistics.median(b["wal_commit_ms"] for b in measured), "ms"),
        "streaming.state_rows": (measured[-1]["state_rows"], "count"),
        "streaming.state_mem_mb": (measured[-1]["state_mem_mb"], "MB"),
        "streaming.busy_frac": (sum(trig) / 1000.0 / span_s, "fraction"),
        "streaming.freshness_p95_s": (percentile(fresh, 95), "s"),
        "plans.ddl.append_calls": (append_n, "count"),
        "plans.ddl.append_s": (append_s, "s"),
        "plans.ddl.compact_calls": (compact_n, "count"),
        "plans.ddl.compact_s": (compact_s, "s"),
        "generator.late_p95_s": (percentile([w["late_s"] for w in feeder.written], 95), "s"),
        **trace.engine_layers(jobs, span_s),
    }
