"""Custom stateful streaming operators on Spark's per-key state store.

:func:`ordered_fold` is the one state protocol of the stream twins of
the sequential batch lanes (EWMA, Holt, Holt-Winters, Misra-Gries,
Page-Hinkley, SPRT, Croston, PSI): restore a key's state, fold its rows
in ascending order, drop and count replays at the key's high-water mark
so each (key, order value) folds once, emit one row. A twin supplies
only its schemas, its initial state, a ``step`` and an ``emit``.
``cooldown_suppress`` (append mode), ``abandoned_session_detect``
(event-time timeout) and ``running_totals`` (``transformWithState``)
keep their own protocols.

``cooldown_suppress`` is D8 in streaming form: the batch engine enforces
the queue cooldown with a window over the full table
(operators/queue.py:enqueue); in streaming, "have I emitted an action
for this video in the last N minutes" is per-key state — one BIGINT per
video, sharded by the groupBy hash. Input rows carry epoch seconds
(computed engine-side) so the pandas code does integer arithmetic only —
no timezone semantics in Python.
"""

from __future__ import annotations

import copy
import itertools
import math
import operator
from collections.abc import Callable, Iterator, Sequence
from decimal import ROUND_HALF_UP, Decimal

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = "video_id string, decision_type string, created_epoch bigint"
STATE_SCHEMA = "last_emit_epoch bigint"


def cooldown_suppress(
    candidates: DataFrame, cooldown_minutes: int = 60
) -> DataFrame:
    """Emit at most one action per video per cooldown span, across batches.

    Input (streaming or batch-in-stream): ``video_id``, ``decision_type``
    and a ``created_at`` timestamp (converted to epoch seconds here).
    Within a batch, rows process in created_at order; an action is emitted
    iff no action for that video was emitted in the previous
    ``cooldown_minutes`` (including emissions from earlier micro-batches).
    """
    gap = cooldown_minutes * 60

    def fn(
        key: tuple, pdf_iter: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        last = state.get[0] if state.exists else None
        rows = pd.concat(list(pdf_iter), ignore_index=True)
        # chronological greedy; timestamp ties resolved by URGENCY
        # (RESCUE > REVIEW > BOOST), not alphabetically — sorting by the
        # raw decision string would put BOOST first and invert the rule
        urgency = rows["decision_type"].map(
            {"RESCUE": 1, "REVIEW": 2, "BOOST": 3}
        ).fillna(4)
        rows = rows.assign(_urg=urgency).sort_values(
            ["created_epoch", "_urg"]
        ).drop(columns="_urg")
        keep = []
        for row in rows.itertuples(index=False):
            if last is None or row.created_epoch - last >= gap:
                keep.append(row)
                last = int(row.created_epoch)
        if last is not None:
            state.update((last,))
        if keep:
            yield pd.DataFrame(keep, columns=list(rows.columns))

    prepared = candidates.select(
        "video_id",
        "decision_type",
        F.col("created_at").cast("long").alias("created_epoch"),
    )
    return prepared.groupBy("video_id").applyInPandasWithState(
        fn,
        OUTPUT_SCHEMA,
        STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# transformWithState (Spark 4 arbitrary-state API): running per-key totals
# ---------------------------------------------------------------------------

RUNNING_TOTALS_SCHEMA = "video_id string, total_events bigint, last_epoch bigint"


class RunningTotalsProcessor:
    """Per-video lifetime event counter on the Spark 4 `StatefulProcessor`
    API — the successor to applyInPandasWithState with NAMED typed state
    variables, native TTL, and timers. State here is two BIGINTs per key
    in the state store (sharded by the groupBy hash, incrementally
    checkpointed); each micro-batch emits the key's updated running
    total, so downstream sees a changelog of lifetime counts.

    Lazy-subclassed because pyspark imports this module's file in Python
    workers that need no JVM: the class binds StatefulProcessor at
    construction via __class_getitem__-free simple factory below.
    """

    def init(self, handle) -> None:
        self._totals = handle.getValueState("totals", "n bigint, last bigint")

    def handleInputRows(self, key, rows, timerValues):
        import pandas as pd

        prev = self._totals.get()
        total = int(prev[0]) if prev else 0
        last = int(prev[1]) if prev else 0
        for pdf in rows:
            if not len(pdf):
                continue
            total += int(len(pdf))
            last = max(last, int(pdf["created_epoch"].max()))
        self._totals.update((total, last))
        yield pd.DataFrame(
            {
                "video_id": [key[0]],
                "total_events": [total],
                "last_epoch": [last],
            }
        )

    def close(self) -> None:
        pass


def running_totals(events: DataFrame) -> DataFrame:
    """Changelog of per-video lifetime event totals via
    ``transformWithStateInPandas`` (update mode, processing-time mode).
    Input needs ``video_id`` and a ``created_at`` timestamp.
    """
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    # bind the ABC at call time (keeps module import cheap on workers)
    proc_cls = type(
        "_RunningTotals", (RunningTotalsProcessor, StatefulProcessor), {}
    )
    prepared = events.select(
        "video_id", F.col("created_at").cast("long").alias("created_epoch")
    )
    return prepared.groupBy("video_id").transformWithStateInPandas(
        statefulProcessor=proc_cls(),
        outputStructType=RUNNING_TOTALS_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )


# ---------------------------------------------------------------------------
# RocksDB state store: state larger than executor heap
# ---------------------------------------------------------------------------

ROCKSDB_STATE_CONFS: dict[str, str] = {
    # Off-heap, disk-spilling per-partition state store — the provider any
    # large-state production job runs (the default HDFS-backed provider
    # keeps the whole partition map in JVM heap, which dies first when a
    # dedup/session/cooldown state set approaches executor memory at
    # 100-TB event volumes). Bundled with Spark 4 (rocksdbjni) — no extra
    # packages.
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    ),
    # Changelog checkpointing ships per-batch deltas to the checkpoint
    # instead of full RocksDB snapshots — checkpoint cost ∝ state CHANGED
    # per batch, not state HELD (the reference's checkpoint-growth sign-off
    # gate is exactly about this cost staying bounded).
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": "true",
}


def apply_rocksdb_state(spark) -> dict[str, str | None]:
    """Switch stateful queries started AFTER this call onto the RocksDB
    state store. Returns the previous values so callers (tests) can
    restore; pass the result to :func:`restore_confs`.
    """
    prev: dict[str, str | None] = {}
    for k, v in ROCKSDB_STATE_CONFS.items():
        try:
            prev[k] = spark.conf.get(k)
        except Exception:
            prev[k] = None
        spark.conf.set(k, v)
    return prev


def restore_confs(spark, prev: dict[str, str | None]) -> None:
    for k, v in prev.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


# ---------------------------------------------------------------------------
# Event-time TIMEOUT state: abandoned-session detection
# ---------------------------------------------------------------------------

ABANDONED_SCHEMA = "user_id string, last_seen_epoch bigint, n_events bigint"
ABANDONED_STATE = "last_epoch bigint, n bigint"


def abandoned_session_detect(
    events: DataFrame, idle_minutes: int = 30
) -> DataFrame:
    """Emit a row for every user whose activity STOPS: once the event-time
    watermark passes last_seen + idle_minutes with no new events, the
    state TIMES OUT and the operator emits (user, last_seen, n_events) —
    the abandoned-cart/session-drop primitive.

    This is the state-timeout half of applyInPandasWithState that the
    cooldown operator (NoTimeout) doesn't exercise: the engine calls the
    function WITHOUT input rows when the timeout fires (state.hasTimedOut),
    which is the only scalable way to detect absence — polling per user
    would be O(users) per batch; here the state store's timer index does
    it. State per key: one (epoch, count) pair, evicted on emission.
    """
    idle_s = idle_minutes * 60

    def fn(key, pdf_iter, state: "GroupState"):
        import pandas as pd

        if state.hasTimedOut:
            last, n = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "last_seen_epoch": [int(last)],
                    "n_events": [int(n)],
                }
            )
            return
        last, n = (state.get if state.exists else (0, 0))
        for pdf in pdf_iter:
            if not len(pdf):
                continue
            n += int(len(pdf))
            last = max(last, int(pdf["created_epoch"].max()))
        state.update((last, n))
        # timer: fire when the WATERMARK passes last_seen + idle window
        state.setTimeoutTimestamp((last + idle_s) * 1000)
        return
        yield  # pragma: no cover - generator form required by the API

    prepared = events.select(
        "user_id",
        F.col("created_at").cast("long").alias("created_epoch"),
        F.col("created_at").alias("ts"),
    ).withWatermark("ts", "1 minute")
    return prepared.groupBy("user_id").applyInPandasWithState(
        fn,
        ABANDONED_SCHEMA,
        ABANDONED_STATE,
        "append",
        GroupStateTimeout.EventTimeTimeout,
    )


# ---------------------------------------------------------------------------
# Ordered per-key fold: the one state protocol of the stream twins
# ---------------------------------------------------------------------------


def ordered_fold(
    frame: DataFrame,
    key: str,
    order: str,
    output_schema: str,
    state_schema: str,
    init: tuple,
    step: Callable[[Sequence, list], Sequence],
    emit: Callable[[tuple, Sequence, int, int], dict],
    *,
    per_value: bool = False,
) -> DataFrame:
    """Fold each ``key``'s rows in ascending ``order`` across
    micro-batches; emit its one row after every batch that touched it.

    ``init`` is the state of a key never seen (deep-copied per key, so a
    step may mutate its lists). Each batch sorts the key's rows by
    ``order`` (stable: rows sharing a value keep arrival order) and folds
    each row with one ``step(state, [row])`` call, the row a namedtuple
    of Python values; it returns the new state. A row whose value is at
    or below the key's high-water mark ``last`` — a replay, a late value
    the in-order contract rules out, or a second row with the value just
    folded — is not folded but dropped and counted in ``dropped``, the
    observable sign that bit-exactness against the batch lane no longer
    holds. So each (key, value) folds at most once, whichever batches
    its rows arrive in. With ``per_value`` every row sharing a value goes
    to ONE step (the PSI twin folds a whole ``seq`` batch per step) and a
    dropped value counts once. ``last bigint, dropped bigint`` are
    appended to ``state_schema``; ``emit(key, state, last, dropped)``
    returns the output row as a column -> value dict.
    """
    by_order = operator.attrgetter(order)

    def fn(
        k: tuple, pdf_iter: Iterator[pd.DataFrame], group: GroupState
    ) -> Iterator[pd.DataFrame]:
        *state, last, dropped = (
            group.get if group.exists else (*copy.deepcopy(init), -1, 0)
        )
        rows = pd.concat(list(pdf_iter), ignore_index=True)
        ordered = sorted(rows.itertuples(index=False), key=by_order)
        steps = (
            itertools.groupby(ordered, by_order) if per_value
            else ((by_order(r), [r]) for r in ordered)
        )
        for value, same in steps:
            if value <= last:
                dropped += 1
                continue
            state = step(state, list(same))
            last = value
        group.update((*state, last, dropped))
        out = emit(k, state, last, dropped)
        yield pd.DataFrame({c: [v] for c, v in out.items()})

    return frame.groupBy(key).applyInPandasWithState(
        fn, output_schema, f"{state_schema}, last bigint, dropped bigint",
        "update", GroupStateTimeout.NoTimeout,
    )


EWMA_OUTPUT_SCHEMA = (
    "event_type string, n_minutes bigint, total_count bigint, ewma_last double"
)
EWMA_STATE_SCHEMA = "ewma double, n_minutes bigint, total bigint"


def ewma_incremental(minute_counts: DataFrame, alpha: float = 0.125) -> DataFrame:
    """Streaming twin of the event_type_ewma batch fold (queries_ext59):
    per-key EWMA maintained as ONE double of state across micro-batches.

    Contract: input rows are per-(event_type, minute) counts with each
    minute delivered exactly once (upstream: an append-mode watermarked
    window, or the replay fixture in tests), folded in minute order by
    :func:`ordered_fold`, whose high-water mark drops replays. Because the
    fold applies the identical `acc*(1-a) + x*a` IEEE ops in the same
    order as the batch query, the streamed EWMA is BIT-IDENTICAL to the
    batch result on the same closed set — asserted by
    tests/test_stream_ewma_twin.py.

    Scale: state is 5 scalars per event_type key, sharded by the groupBy
    hash across the state store; each batch's work is O(new minutes).
    """
    a = float(alpha)
    b = 1.0 - a

    def step(state: Sequence, rows: list) -> Sequence:
        ewma, n, total = state
        (r,) = rows
        x = int(r.x)
        ewma = float(x) if n == 0 else ewma * b + float(x) * a
        return ewma, n + 1, total + x

    def emit(key: tuple, state: Sequence, last: int, dropped: int) -> dict:
        ewma, n, total = state
        return {
            "event_type": key[0],
            "n_minutes": n,
            "total_count": total,
            "ewma_last": ewma,
        }

    return ordered_fold(
        minute_counts, "event_type", "minute_epoch", EWMA_OUTPUT_SCHEMA,
        EWMA_STATE_SCHEMA, (0.0, 0, 0), step, emit,
    )


# ---------------------------------------------------------------------------
# Holt level+trend streaming twin (round 6): the ext81 batch fold as
# per-key incremental state
# ---------------------------------------------------------------------------

HOLT_OUTPUT_SCHEMA = (
    "event_type string, n_hours bigint, level_final double, "
    "trend_final double, forecast_next double, mae_one_step double"
)
HOLT_STATE_SCHEMA = "l double, b double, err_sum double, n bigint, n_hours bigint"


def _round12(x: float) -> float:
    """Mirror Spark's F.round(x, 12): shortest-repr decimal, HALF_UP.
    (Python's built-in round is HALF_EVEN — a different function.)"""
    return float(Decimal(repr(x)).quantize(Decimal("1e-12"), ROUND_HALF_UP))


def holt_incremental(hour_counts: DataFrame) -> DataFrame:
    """Streaming twin of event_type_holt_forecast (queries_ext81): the
    Holt level+trend recurrence (alpha=1/2, beta=1/4, round-12 quantized
    per step) maintained as per-key state across micro-batches.

    Input rows are per-(event_type, hour) counts, folded in hour order by
    :func:`ordered_fold` (replays at or below the high-water mark
    dropped). The fold applies the IDENTICAL quantized IEEE ops in the
    identical order as the batch array fold, so the streamed (level,
    trend, mae) is bit-identical to the batch query on the same closed
    set — asserted by tests/test_stream_holt_twin.py. State: 7 scalars
    per event type.
    """

    def step(state: Sequence, rows: list) -> Sequence:
        level, trend, err_sum, n, n_hours = state
        (r,) = rows
        x = float(int(r.x))
        if n_hours == 0:
            level = x
        else:
            err_sum = err_sum + abs(x - (level + trend))
            n += 1
            new_l = _round12(0.5 * x + 0.5 * (level + trend))
            trend = _round12(0.25 * (new_l - level) + 0.75 * trend)
            level = new_l
        n_hours += 1
        return level, trend, err_sum, n, n_hours

    def emit(key: tuple, state: Sequence, last: int, dropped: int) -> dict:
        level, trend, err_sum, n, n_hours = state
        return {
            "event_type": key[0],
            "n_hours": n_hours,
            "level_final": _round6(level),
            "trend_final": _round6(trend),
            "forecast_next": _round6(level + trend),
            "mae_one_step": _round6(err_sum / n) if n > 0 else None,
        }

    return ordered_fold(
        hour_counts, "event_type", "hour_epoch", HOLT_OUTPUT_SCHEMA,
        HOLT_STATE_SCHEMA, (0.0, 0.0, 0.0, 0, 0), step, emit,
    )


def _round6(x: float) -> float:
    """F.round(x, 6) twin (HALF_UP over shortest repr)."""
    return float(Decimal(repr(x)).quantize(Decimal("1e-6"), ROUND_HALF_UP))


# ---------------------------------------------------------------------------
# Holt-Winters seasonal streaming twin (round 8): the ext117 batch fold
# as per-key incremental state — level/trend plus the 24-slot seasonal
# vector carried in an ARRAY state column
# ---------------------------------------------------------------------------

HW_PERIOD = 24
HW_OUTPUT_SCHEMA = (
    "event_type string, n_hours bigint, level_final double, "
    "trend_final double, season_next double, forecast_next double, "
    "mae_one_step double"
)
HW_STATE_SCHEMA = (
    "l double, b double, err_sum double, n bigint, n_hours bigint, "
    "seasons array<double>"
)


def holt_winters_incremental(hour_counts: DataFrame) -> DataFrame:
    """Streaming twin of event_type_holt_winters (queries_ext117): the
    additive-seasonal recurrence (alpha=1/2, beta=1/4, gamma=1/4,
    round-12 quantized per state write, zero-start seasonals)
    maintained as per-key state across micro-batches.

    Same delivery contract as holt_incremental (:func:`ordered_fold`,
    hour order, replays dropped). The seasonal vector rides an
    array<double> state column — 24 slots, exactly the batch fold's
    s-array — so the streamed row is bit-identical to the batch query on
    the same closed hourly set (tests/test_stream_hw_twin.py). The season
    index is derived from the hour epoch ((epoch // 3600) % 24, UTC),
    matching the batch side's EXTRACT(hour) on date_trunc'd timestamps;
    the next season's index comes from the fold's high-water hour.
    """

    def step(state: Sequence, rows: list) -> Sequence:
        level, trend, err_sum, n, n_hours, seasons = state
        (r,) = rows
        x = float(int(r.x))
        hod = (int(r.hour_epoch) // 3600) % HW_PERIOD
        if n_hours == 0:
            level = x
        else:
            err_sum = err_sum + abs(x - (level + trend + seasons[hod]))
            n += 1
            new_l = _round12(0.5 * (x - seasons[hod]) + 0.5 * (level + trend))
            trend = _round12(0.25 * (new_l - level) + 0.75 * trend)
            seasons[hod] = _round12(0.25 * (x - new_l) + 0.75 * seasons[hod])
            level = new_l
        n_hours += 1
        return level, trend, err_sum, n, n_hours, seasons

    def emit(key: tuple, state: Sequence, last: int, dropped: int) -> dict:
        level, trend, err_sum, n, n_hours, seasons = state
        hod_next = ((last // 3600) + 1) % HW_PERIOD if last >= 0 else 0
        s_next = seasons[hod_next]
        return {
            "event_type": key[0],
            "n_hours": n_hours,
            "level_final": _round6(level),
            "trend_final": _round6(trend),
            "season_next": _round6(s_next),
            "forecast_next": _round6(level + trend + s_next),
            "mae_one_step": _round6(err_sum / n) if n > 0 else None,
        }

    return ordered_fold(
        hour_counts, "event_type", "hour_epoch", HW_OUTPUT_SCHEMA,
        HW_STATE_SCHEMA, (0.0, 0.0, 0.0, 0, 0, [0.0] * HW_PERIOD), step,
        emit,
    )


# ---------------------------------------------------------------------------
# Misra-Gries streaming twin (round 8): the ext114 per-day frequent-items
# fold as per-key incremental state
# ---------------------------------------------------------------------------

MG_STATE_SCHEMA = "items array<bigint>, cnts array<bigint>, n_events bigint"


def misra_gries_incremental(day_items: DataFrame) -> DataFrame:
    """Streaming twin of misra_gries_daily_users (queries_ext114): the
    ``MG_K``-counter summary maintained as per-day state across
    micro-batches.

    Rows are (day, event_id, uid), folded in event_id order per day by
    :func:`ordered_fold` (replays dropped). The update rule is the
    IDENTICAL match / insert-first-zero-slot / decrement-all fold the
    batch query emits for both engines, applied in the identical
    event_id order with the batch lane's own ``MG_K`` — so the streamed
    summary is bit-identical to the batch fold on the same closed set
    (tests/test_stream_mg_twin.py).

    MG is order-dependent but ALSO mergeable (Agarwal et al. 2012) with
    the same error bound; this twin pins the sequential contract the
    oracle replays, while the property test pins the bound that
    survives a merge-based distributed rewrite.
    """
    # imported here, not at module level: importing a queries module
    # registers its lanes, and the registry's order is its import order
    from shortvideohybridanalyticslakehouse_spark.plans.queries_ext114 import (
        MG_K,
    )

    def step(state: Sequence, rows: list) -> Sequence:
        items, cnts, n_events = state
        (r,) = rows
        u = int(r.uid)
        if u in items:
            cnts[items.index(u)] += 1
        else:
            empty = next((j for j in range(MG_K) if cnts[j] == 0), None)
            if empty is not None:
                items[empty] = u
                cnts[empty] = 1
            else:
                cnts = [c - 1 for c in cnts]
        n_events += 1
        return items, cnts, n_events

    def emit(key: tuple, state: Sequence, last: int, dropped: int) -> dict:
        items, cnts, n_events = state
        out = {"day": key[0], "n_events": n_events}
        for j in range(MG_K):
            out[f"item_{j}"] = items[j]
            out[f"cnt_{j}"] = cnts[j]
        return out

    output_schema = "day string, n_events bigint, " + ", ".join(
        f"item_{j} bigint, cnt_{j} bigint" for j in range(MG_K)
    )
    return ordered_fold(
        day_items, "day", "event_id", output_schema, MG_STATE_SCHEMA,
        ([-1] * MG_K, [0] * MG_K, 0), step, emit,
    )


# ---------------------------------------------------------------------------
# Page-Hinkley streaming twin (round 8): the ext125 drift fold as
# per-key incremental state — the test IS a sequential detector, so the
# streaming form is its native habitat
# ---------------------------------------------------------------------------

PH_OUTPUT_SCHEMA = (
    "event_type string, n_days bigint, ph_m_micro bigint, "
    "ph_min_micro bigint, ph_stat_micro bigint, alarm_day_idx bigint, "
    "drift_detected boolean"
)
PH_STATE_SCHEMA = "n bigint, total bigint, m bigint, mn bigint, alarm bigint"


def page_hinkley_incremental(
    day_counts: DataFrame,
    delta_micro: int = 2_000_000,
    lambda_micro: int = 30_000_000,
) -> DataFrame:
    """Streaming twin of page_hinkley_daily_drift (queries_ext125):
    exact-integer m/M accumulators maintained as per-key state across
    micro-batches, alarm latched at the first day the statistic clears
    lambda.

    Per-(event_type, day_epoch) counts, folded in day order by
    :func:`ordered_fold` (replays dropped). The running-mean term divides
    a non-negative quantity, so Python's floor // matches both engines'
    division in the batch fold — the streamed row is bit-identical to the
    batch query on the same closed set (tests/test_stream_ph_twin.py)."""

    def step(state: Sequence, rows: list) -> Sequence:
        n, total, m, mn, alarm = state
        (r,) = rows
        x = int(r.x)
        n += 1
        total += x
        m += x * 1_000_000 - (total * 1_000_000) // n - delta_micro
        mn = min(mn, m)
        if alarm < 0 and m - mn > lambda_micro:
            alarm = n
        return n, total, m, mn, alarm

    def emit(key: tuple, state: Sequence, last: int, dropped: int) -> dict:
        n, total, m, mn, alarm = state
        return {
            "event_type": key[0],
            "n_days": n,
            "ph_m_micro": m,
            "ph_min_micro": mn,
            "ph_stat_micro": m - mn,
            "alarm_day_idx": alarm if alarm >= 0 else None,
            "drift_detected": alarm >= 0,
        }

    return ordered_fold(
        day_counts, "event_type", "day_epoch", PH_OUTPUT_SCHEMA,
        PH_STATE_SCHEMA, (0, 0, 0, 0, -1), step, emit,
    )


# ---------------------------------------------------------------------------
# SPRT streaming twin (round 9): the ext132 sequential conversion monitor
# as per-key incremental state — Wald's test is DEFINED as a sequential
# procedure, so the streaming form is its native habitat
# ---------------------------------------------------------------------------

SPRT_OUTPUT_SCHEMA = (
    "metric string, n_days bigint, cum_llr_micro bigint, decision string,"
    " n_days_dropped bigint"
)
SPRT_STATE_SCHEMA = "cum bigint, idx bigint, dec bigint"


def sprt_incremental(
    day_counts: DataFrame,
    llr_pos: float,
    llr_neg: float,
    bound_micro: int = 2_944_438,  # floor(ln(19) * 1e6)
) -> DataFrame:
    """Streaming twin of sprt_conversion_monitor (queries_ext130): the
    cumulative log-likelihood ratio as per-key state, decision LATCHED
    at the first +/- bound crossing and immutable afterwards.

    ``llr_pos`` / ``llr_neg`` are the two per-observation LLR constants
    (ln(r) and ln((1 - r*p0)/(1 - p0))) — the caller computes them with
    Spark's own ``F.log`` and passes the JVM doubles through, so the
    per-day increment floor((k*llr_pos + (n-k)*llr_neg) * 1e6) is the
    IDENTICAL IEEE chain the batch query folds, and the running
    statistic is an exact integer cumsum (bit-for-bit equality asserted
    in tests/test_stream_sprt_twin.py). Per-(metric, day_epoch) (n, k)
    rows fold in day order by :func:`ordered_fold`, whose dropped count
    is ``n_days_dropped`` (ADVICE r9)."""

    def step(state: Sequence, rows: list) -> Sequence:
        cum, idx, dec = state
        (r,) = rows
        n, k = int(r.n), int(r.k)
        cum += math.floor((k * llr_pos + (n - k) * llr_neg) * 1e6)
        if dec == 0:
            if cum >= bound_micro:
                dec = 1
            elif cum <= -bound_micro:
                dec = -1
        return cum, idx + 1, dec

    def emit(key: tuple, state: Sequence, last: int, dropped: int) -> dict:
        cum, idx, dec = state
        return {
            "metric": key[0],
            "n_days": idx,
            "cum_llr_micro": cum,
            "decision": {0: "continue", 1: "reject_h0", -1: "accept_h0"}[dec],
            "n_days_dropped": dropped,
        }

    return ordered_fold(
        day_counts, "metric", "day_epoch", SPRT_OUTPUT_SCHEMA,
        SPRT_STATE_SCHEMA, (0, 0, 0), step, emit,
    )


# ---------------------------------------------------------------------------
# Croston streaming twin (round 10): the ext132 intermittent-demand
# forecaster as per-part incremental state — the demand/interval double
# EWMA is a left fold, so the streamed form maintains it exactly
# ---------------------------------------------------------------------------

CROSTON_OUTPUT_SCHEMA = (
    "part bigint, n_weeks bigint, n_demand_weeks bigint, z_size double,"
    " p_interval double, forecast_per_week double, n_weeks_dropped bigint"
)
CROSTON_STATE_SCHEMA = (
    "z double, p double, q bigint, started bigint, nw bigint, ndw bigint"
)


def croston_incremental(
    week_demand: DataFrame, alpha: float = 0.125
) -> DataFrame:
    """Streaming twin of croston_intermittent_forecast (queries_ext132):
    the [z, p, q, started] Croston fold as per-part state across
    micro-batches.

    Input: per-(part, wk_epoch) gap-FILLED weekly demand ``d`` (zero
    weeks included — zeros ARE the signal in intermittent demand),
    folded in week order by :func:`ordered_fold`; its dropped count is
    ``n_weeks_dropped`` (the SPRT twin's observability contract). The two
    EWMA updates run the identical IEEE chain the batch fold's
    F.aggregate evaluates — (z*a) + (d*b) and (p*a) + ((q+1)*b) with
    a = 1 - alpha, b = alpha — so the final state is bit-for-bit the
    batch query's (tests/test_stream_croston_twin.py); alpha defaults to
    the batch lane's exactly-representable 1/8."""
    a, b = 1.0 - alpha, alpha

    def step(state: Sequence, rows: list) -> Sequence:
        z, p, q, started, nw, ndw = state
        (r,) = rows
        d = float(r.d)
        nw += 1
        if d <= 0:
            q += 1
        elif started == 0:
            z, p, q, started = d, float(q + 1), 0, 1
            ndw += 1
        else:
            z = z * a + d * b
            p = p * a + (q + 1) * b
            q = 0
            ndw += 1
        return z, p, q, started, nw, ndw

    def emit(key: tuple, state: Sequence, last: int, dropped: int) -> dict:
        z, p, q, started, nw, ndw = state
        return {
            "part": key[0],
            "n_weeks": nw,
            "n_demand_weeks": ndw,
            "z_size": z,
            "p_interval": p,
            "forecast_per_week": z / p if started == 1 and p > 0 else 0.0,
            "n_weeks_dropped": dropped,
        }

    return ordered_fold(
        week_demand, "part", "wk_epoch", CROSTON_OUTPUT_SCHEMA,
        CROSTON_STATE_SCHEMA, (0.0, 0.0, 0, 0, 0, 0), step, emit,
    )


# ---------------------------------------------------------------------------
# PSI streaming twin (round 10): the ext134 drift monitor as per-metric
# incremental state — drift monitoring IS a streaming problem; the batch
# lane is the closed-series replay
# ---------------------------------------------------------------------------

PSI_OUTPUT_SCHEMA = (
    "metric string, n_ref bigint, n_cur bigint, psi_nano bigint,"
    " n_batches_dropped bigint, n_rows_bad bigint"
)
PSI_STATE_SCHEMA = "cur array<bigint>, bad bigint"


def psi_incremental(
    bin_counts: DataFrame, ref_counts: list[int]
) -> DataFrame:
    """Streaming twin of psi_value_drift_halves (queries_ext134): the
    REFERENCE histogram is frozen (the batch lane's first calendar
    half, collected once); the CURRENT histogram accumulates as
    per-metric state from pre-binned micro-batch rows (metric,
    seq, bin, n). Emits the full Laplace-smoothed PSI after every
    batch — the live drift monitor whose final value is bit-identical
    to the batch query folded over the same closed series, because both
    compute each per-bin term from the identical integer counts with
    the identical double expression, nano-floored before the exact sum
    (tests/test_stream_psi_twin.py).

    Each ``seq`` is one :func:`ordered_fold` step (``per_value``); its
    dropped count is ``n_batches_dropped``. A row whose bin falls
    outside [0, nbins) is likewise dropped AND counted (``n_rows_bad``),
    not an IndexError (ADVICE r10): never crash on data, always account
    for what was ignored."""
    nbins = len(ref_counts)
    n_ref = sum(ref_counts)

    def step(state: Sequence, rows: list) -> Sequence:
        cur, bad = state
        for r in rows:
            b = int(r.bin)
            if 0 <= b < nbins:
                cur[b] += int(r.n)
            else:
                bad += 1  # malformed bin: drop + count, don't crash
        return cur, bad

    def emit(key: tuple, state: Sequence, last: int, dropped: int) -> dict:
        cur, bad = state
        n_cur = sum(cur)
        psi = 0
        for b in range(nbins):
            p = (ref_counts[b] + 1) / (n_ref + nbins)
            q = (cur[b] + 1) / (n_cur + nbins)
            psi += math.floor((p - q) * math.log(p / q) * 1e9)
        return {
            "metric": key[0],
            "n_ref": n_ref,
            "n_cur": n_cur,
            "psi_nano": psi,
            "n_batches_dropped": dropped,
            "n_rows_bad": bad,
        }

    return ordered_fold(
        bin_counts, "metric", "seq", PSI_OUTPUT_SCHEMA, PSI_STATE_SCHEMA,
        ([0] * nbins, 0), step, emit, per_value=True,
    )
