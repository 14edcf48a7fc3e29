"""Keyed per-record state machines (SURVEY.md §2.8 X1/X2 and the
operators built on the same pattern), all run by one helper,
:func:`keyed_state` — the package's only ``applyInPandasWithState`` call.

Flink's ``RichMapFunction`` + ``ValueState`` processes one record at a
time; Spark's state API hands each key a *batch* of rows per micro-batch.
``keyed_state`` therefore concatenates a key's batch, stably sorts it by
``(ts_ms[, event_id])`` and hands it to the operator's fold, which runs
the same per-record logic over it — identical outputs when replayed,
batched emission granularity (the documented semantic difference,
SURVEY.md §4). The helper also types the key column from the input,
carries ``event_id`` (the sort's tie-break) through the projection and
builds each output frame from the output schema's column names, so an
operator states its output and state schemas once each, as DDL strings.
The state schemas are checkpoint format: changing one makes existing
checkpoints unreadable (tests/test_streaming.py pins them).

Timers: X1/X2 and most operators here use none. ``idle_alerts``
registers an event-time timer (EventTimeTimeout, Flink's ``onTimer``)
and ``buffered_flush`` a processing-time one (ProcessingTimeTimeout);
when a timer fires the fold sees ``state.hasTimedOut`` and no rows.

State backend: default HDFS-backed state store locally; at scale switch to
RocksDB via ``spark.sql.streaming.stateStore.providerClass`` — state per
key is a single row here, so the store stays tiny regardless of stream
length (the eviction story is timeouts, configured by the caller).

API choice: Spark 4's ``transformWithStateInPandas`` (value/list/map
state + event-time timers — the closest Flink-timer parity) was
evaluated and works API-wise, but its streaming Python runner requires
the ``protobuf`` package, absent in this environment; verified 2026-08
to crash with STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE.
``applyInPandasWithState`` covers every reference semantic and stays the
portable choice.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import DataType


def keyed_state(
    df: DataFrame,
    key_col: str,
    fold: Callable[[pd.DataFrame | None, GroupState], Iterable[tuple]],
    out: str,
    state: str,
    cols: list[str] | None = None,
    timeout: str = GroupStateTimeout.NoTimeout,
    mode: str = "update",
) -> DataFrame:
    """Run ``fold`` per ``key_col`` group of ``df`` as an
    ``applyInPandasWithState`` operator.

    ``cols`` is the ``selectExpr`` projection ahead of the grouping, with
    ``event_id`` appended when ``df`` has it; ``None`` groups ``df`` as
    it is. ``fold(rows, state)`` gets one micro-batch of the key's rows
    sorted by ``(ts_ms[, event_id])`` (``None`` when the key's timer
    fired), updates ``state`` and returns or yields output rows without
    the key. ``out`` and ``state`` are DDL schemas; the output is the key
    column, typed as in ``df``, followed by ``out``."""
    if cols is not None:
        if "event_id" in df.columns and "event_id" not in cols:
            cols = [*cols, "event_id"]
        df = df.selectExpr(*cols)
    out_schema = DataType.fromDDL(f"{key_col} {dict(df.dtypes)[key_col]}, {out}")
    sort_by = [c for c in ("ts_ms", "event_id") if c in df.columns]
    return df.groupBy(key_col).applyInPandasWithState(
        _per_key(fold, out_schema.names, sort_by),
        outputStructType=out_schema,
        stateStructType=state,
        outputMode=mode,
        timeoutConf=timeout,
    )


def _per_key(
    fold: Callable[[pd.DataFrame | None, GroupState], Iterable[tuple]],
    names: list[str],
    sort_by: list[str],
) -> Callable[[tuple[Any, ...], Iterator[pd.DataFrame], GroupState], Iterator[pd.DataFrame]]:
    """The ``applyInPandasWithState`` function of ``keyed_state``: one
    key's chunks as one frame stably sorted by ``sort_by`` (no concat for
    one chunk, no sort for one row), folded; a key with no output yields
    no frame rather than an empty one."""

    def run(
        key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], st: GroupState
    ) -> Iterator[pd.DataFrame]:
        rows = None
        if not st.hasTimedOut:
            chunks = list(pdfs)
            rows = chunks[0] if len(chunks) == 1 else pd.concat(chunks)
            if len(rows) > 1 and sort_by:
                rows = rows.sort_values(sort_by, kind="stable")
        out = [(key[0], *r) for r in fold(rows, st)]
        if out:
            yield pd.DataFrame(out, columns=names)

    return run


# --- X1: interval alert (StatefulOperations.java:84-129 semantics) ---------

def interval_alerts(
    df: DataFrame,
    threshold_ms: int,
    key_col: str = "user_id",
    ts_ms_col: str = "ts_ms",
) -> DataFrame:
    """X1 streaming operator: per key, remember the previous event's
    timestamp and alert when the next one arrives within threshold_ms.
    df must contain (key_col, ts_ms_col) already filtered to the
    alert-relevant events (e.g. operation = 'Delete').
    Output: (key_col, ts_ms, diff_ms)."""

    def fold(rows, state):
        last = state.get[0] if state.exists else None
        for ts in rows["ts_ms"]:
            ts = int(ts)
            if last is not None and ts - last < threshold_ms:
                yield ts, ts - last
            last = ts
        state.update((last,))

    return keyed_state(
        df, key_col, fold, "ts_ms bigint, diff_ms bigint", "last_ts bigint",
        cols=[key_col, f"{ts_ms_col} AS ts_ms"])


# --- timer parity: idle-gap burst alerts via EventTimeTimeout ---------------
# Flink's other keyed-state primitive is the event-time timer
# (``onTimer``); the reference never registers one, but a complete engine
# needs the pattern. ``applyInPandasWithState`` + EventTimeTimeout is the
# Spark equivalent: the state handler is re-invoked with hasTimedOut=True
# once the watermark passes the registered timestamp.

def idle_alerts(
    df: DataFrame,
    gap_ms: int,
    key_col: str = "user_id",
    ts_ms_col: str = "ts_ms",
    event_time_col: str = "event_ts",
) -> DataFrame:
    """Timer-based burst sessionizer: per key, group events into bursts
    separated by >= gap_ms. A burst with a successor event closes inline;
    a tail burst closes when the event-time timer fires. ``df`` must be a
    streaming frame WITH a watermark on ``event_time_col``
    (EventTimeTimeout needs one; the column must survive the projection
    or the watermark is lost).
    Output: (key_col, last_ts_ms, n_events), one row per closed burst."""

    def fold(rows, state):
        if state.hasTimedOut:
            last_ts, n = state.get
            state.remove()
            yield int(last_ts), int(n)
            return
        last_ts, n = state.get if state.exists else (None, 0)
        for ts in rows["ts_ms"]:
            ts = int(ts)
            if last_ts is not None and ts - last_ts >= gap_ms:
                yield last_ts, n
                n = 0
            last_ts = ts
            n += 1
        state.update((last_ts, n))
        # EventTimeTimeout requires a timestamp beyond the current
        # watermark; an already-expired burst fires at the next advance.
        state.setTimeoutTimestamp(
            max(last_ts + gap_ms, state.getCurrentWatermarkMs() + 1))

    return keyed_state(
        df, key_col, fold, "last_ts_ms bigint, n_events bigint",
        "last_ts bigint, n_events bigint",
        cols=[key_col, f"{ts_ms_col} AS ts_ms", event_time_col],
        timeout=GroupStateTimeout.EventTimeTimeout)


# --- timer parity: processing-time buffered flush (ProcessingTimeTimeout) ---
# Flink's OTHER timer clock: ``registerProcessingTimeTimer`` — wall-clock
# timers independent of event time. Spark equivalent: ProcessingTimeTimeout
# + ``state.setTimeoutDuration``; the handler is re-invoked with
# hasTimedOut=True by a no-data micro-batch once wall-clock passes the
# deadline. Outputs depend on WALL-CLOCK arrival, so this is test-pinned
# (tests/test_streaming.py::test_processing_time_timeout_flush), never
# oracle-checked — the documented Flink-parity line between the two
# timer clocks (event-time timers: idle_alerts above, oracle-checked).

def buffered_flush(
    df: DataFrame, quiet_ms: int, key_col: str = "user_id"
) -> DataFrame:
    """Processing-time-timer operator: one output row per key, emitted
    quiet_ms of WALL CLOCK after its last arrival. ``df`` needs no
    watermark (processing-time timers are event-time-independent)."""

    def fold(rows, state):
        if state.hasTimedOut:
            (n,) = state.get
            state.remove()
            yield (int(n),)
            return
        state.update(((state.get[0] if state.exists else 0) + len(rows),))
        state.setTimeoutDuration(quiet_ms)

    return keyed_state(
        df, key_col, fold, "n_events bigint", "n_events bigint",
        cols=[key_col], timeout=GroupStateTimeout.ProcessingTimeTimeout,
        mode="append")


# --- X2: session durations (CourseUseCase.java:114-180 semantics) ----------

def session_durations(
    df: DataFrame,
    logout_action: str,
    key_col: str = "user_id",
    action_col: str = "action",
    ts_ms_col: str = "ts_ms",
) -> DataFrame:
    """X2 streaming operator: per key, emit (prev_action, duration) for
    each event while a session is open; the logout action clears state
    (the next event starts fresh).
    Output: (key_col, action, ts_ms, duration_ms)."""

    def fold(rows, state):
        last_action, last_ts = state.get if state.exists else (None, None)
        for action, ts in zip(rows["action"], rows["ts_ms"]):
            ts = int(ts)
            if last_action is not None:
                yield last_action, ts, ts - last_ts
            if action == logout_action:
                last_action, last_ts = None, None
            else:
                last_action, last_ts = action, ts
        if last_action is None:
            state.remove()
        else:
            state.update((last_action, last_ts))

    return keyed_state(
        df, key_col, fold, "action string, ts_ms bigint, duration_ms bigint",
        "last_action string, last_ts bigint",
        cols=[key_col, f"{action_col} AS action", f"{ts_ms_col} AS ts_ms"])


# --- X4: keyed debounce (the batch q_event_debounce as incremental state) ---
# Suppress repeats of the same (user, type) arriving within gap_ms of the
# previous raw occurrence. The LOGICAL key is (user, type), but the
# Python state operator groups by user_id alone and carries one last-ts
# per type in array-pair state: applyInPandasWithState's dominant cost
# is ~(batches x groups) Python invocations, and event_type has tiny
# fixed cardinality — folding it into the state cuts group count (and
# per-batch Python calls) ~5x with byte-identical output (measured
# round 6: 3.4 s -> 1.9 s at sf0.1). Same pattern a 100 TB deployment
# wants: shuffle on the HIGH-cardinality key only. Batch twin:
# operators/temporal.py::q_event_debounce (lag + gap compare); outputs
# must agree exactly when the stream replays the same bounded input.

def debounced_events(df: DataFrame, gap_ms: int) -> DataFrame:
    """X4 streaming operator: df must contain (user_id, event_type,
    ts_ms [, event_id]). Output: the surviving (user_id, event_type,
    ts_ms) rows."""

    def fold(rows, state):
        last = dict(zip(state.get[0], state.get[1])) if state.exists else {}
        for et, ts in zip(rows["event_type"], rows["ts_ms"]):
            ts = int(ts)
            prev = last.get(et)
            if prev is None or ts - prev > gap_ms:
                yield et, ts
            last[et] = ts
        state.update((list(last.keys()), list(last.values())))

    return keyed_state(
        df, "user_id", fold, "event_type string, ts_ms bigint",
        "types array<string>, last_ts array<bigint>",
        cols=["user_id", "event_type", "ts_ms"])


# --- X5: CEP "followed-by" pattern (A then B within T) ----------------------
# The FlinkCEP / SQL MATCH_RECOGNIZE gap: detect `view` followed by
# `purchase` within a time bound per user, NON-OVERLAPPING (a match
# consumes its events — "after match skip past last row"). The automaton
# is one pending-timestamp per key: a view (re)arms it, a purchase either
# fires a match (and always disarms) or just disarms — later purchases
# can only be further from the stale view. ``cep_scan`` is the automaton
# in pure Python: this operator folds it per micro-batch, and the tests
# replay it over the whole bounded input as the reference answer. The
# batch q_cep_followed_by collapses it into one lag() window pass, and
# the oracle replays it as a recursive CTE.
#
# State is ONE long per key regardless of history length — the streaming
# form is the scale path when per-entity history no longer fits one
# batch group.

_NO_PENDING = -1


def cep_scan(
    ts_seq, type_seq, within_ms: int, pending: int,
    first_type: str = "view", then_type: str = "purchase",
) -> tuple[list[tuple[int, int]], int]:
    """Run the followed-by automaton over (ts, type) pairs IN ORDER.
    Returns (matched (first_ts, then_ts) pairs, final pending state)."""
    out: list[tuple[int, int]] = []
    for ts, et in zip(ts_seq, type_seq):
        ts = int(ts)
        if et == first_type:
            pending = ts
        elif et == then_type:
            if pending != _NO_PENDING and ts - pending <= within_ms:
                out.append((pending, ts))
            pending = _NO_PENDING
    return out, pending


def cep_followed_by(df: DataFrame, within_ms: int) -> DataFrame:
    """X5 streaming operator: df must contain (user_id, event_type,
    ts_ms [, event_id]) already filtered to the two pattern types."""

    def fold(rows, state):
        pending = state.get[0] if state.exists else _NO_PENDING
        pairs, pending = cep_scan(
            rows["ts_ms"], rows["event_type"], within_ms, pending)
        state.update((pending,))
        return [(v, p, p - v) for v, p in pairs]

    return keyed_state(
        df, "user_id", fold,
        "view_ts_ms bigint, purchase_ts_ms bigint, gap_ms bigint",
        "pending_ts bigint", cols=["user_id", "event_type", "ts_ms"])


# --- W8: per-key COUNT windows (countWindow(N) incremental form) ------------
# State = the OPEN window's running (win_idx, cnt, sum_cents, min_ts,
# max_ts). A window fires exactly when its Nth event arrives; the
# trailing partial window stays in state un-emitted (Flink countWindow
# semantics), so bounded replays match the batch analog's full-windows-
# only output.

def count_windows(df: DataFrame, n: int) -> DataFrame:
    """W8 streaming operator: df must contain (user_id, ts_ms, cents
    [, event_id])."""

    def fold(rows, state):
        win_idx, cnt, s, lo, hi = (
            state.get if state.exists else (0, 0, 0, None, None))
        for ts, cents in zip(rows["ts_ms"], rows["cents"]):
            ts, cents = int(ts), int(cents)
            cnt += 1
            s += cents
            lo = ts if lo is None or ts < lo else lo
            hi = ts if hi is None or ts > hi else hi
            if cnt == n:
                yield win_idx, cnt, lo, hi, s
                win_idx, cnt, s, lo, hi = win_idx + 1, 0, 0, None, None
        state.update((win_idx, cnt, s, lo, hi))

    return keyed_state(
        df, "user_id", fold,
        "win_idx bigint, n_events bigint, start_ts_ms bigint, "
        "end_ts_ms bigint, sum_cents bigint",
        "win_idx bigint, cnt bigint, sum_cents bigint, min_ts bigint, "
        "max_ts bigint",
        cols=["user_id", "ts_ms", "cents"])


# --- X6: control-stream rule state (broadcast-state family) ------------------
# The KeyedBroadcastProcessFunction shape: control rows (is_rule) update a
# per-event_type threshold held in ValueState; data rows are emitted when
# their cents clear the threshold current at their position. One long per
# key regardless of history — rules crossing micro-batch boundaries bind
# later data rows, which is the whole point of the pattern.

def rule_filtered_events(df: DataFrame, default_cents: int) -> DataFrame:
    """X6 streaming operator: df must contain (event_type, ts_ms, event_id,
    cents, is_rule). Output: the alerting data rows with the threshold
    that admitted them."""

    def fold(rows, state):
        thr = int(state.get[0]) if state.exists else default_cents
        for ts, eid, cents, is_rule in zip(
            rows["ts_ms"], rows["event_id"], rows["cents"], rows["is_rule"]
        ):
            if bool(is_rule):
                thr = int(cents)
            elif int(cents) >= thr:
                yield int(ts), int(eid), int(cents), thr
        state.update((thr,))

    return keyed_state(
        df, "event_type", fold,
        "ts_ms bigint, event_id bigint, cents bigint, threshold_cents bigint",
        "thr bigint",
        cols=["event_type", "ts_ms", "event_id", "cents", "is_rule"])


# --- X7: running z-score anomaly alerts (Welford state, exact integers) -----
# The streaming analog of a control chart: per key, keep the running
# (count, sum, sum-of-squares) of the value in integer cents and alert
# when a new observation sits outside Z sigma of the history BEFORE it.
# The 3-sigma test is evaluated in EXACT integer arithmetic —
#   (n*x - S)^2 > Z^2 * (n*Q - S^2)   <=>   (x - mean)^2 > Z^2 * var_pop
# — so the emitted set is bit-reproducible against a SQL oracle (no
# float threshold to straddle). Python ints are arbitrary-precision, so
# the fold never overflows; the persisted state is three longs (Q = sum
# of squares stays under 2^63 through ~10^9 observations of value <=
# $21M in cents — document-scale telemetry never gets close).

def zscore_alerts(
    df: DataFrame, min_n: int, z2: int, key_col: str = "user_id"
) -> DataFrame:
    """X7 streaming operator: per key, emit each observation outside z
    sigma of the PRIOR history (>= min_n priors required), then fold it
    into the running moments. df must contain (key_col, ts_ms, cents[,
    event_id]). Output: (key_col, ts_ms, cents, n_prior)."""

    def fold(rows, state):
        n, s, q = state.get if state.exists else (0, 0, 0)
        for ts, x in zip(rows["ts_ms"], rows["cents"]):
            ts, x = int(ts), int(x)
            if n >= min_n and (n * x - s) ** 2 > z2 * (n * q - s * s):
                yield ts, x, n
            n, s, q = n + 1, s + x, q + x * x
        state.update((n, s, q))

    return keyed_state(
        df, key_col, fold, "ts_ms bigint, cents bigint, n_prior bigint",
        "n bigint, s bigint, q bigint")


# --- X10: online Holt level+trend smoothing in keyed state -------------------
# The migrate-your-ProcessFunction story: the batch Holt recurrence
# (operators/statistics.ts_holt_forecast) running ONLINE — keyed state
# carries (last_day, open-day cents, level, trend, n_days) across
# micro-batches; each batch folds completed days through the exact
# integer recurrence and emits the CURRENT smoothed state per user with
# the still-open day provisionally folded (so a bounded replay's final
# emit equals the batch operator row for row — the oracle is shared).

_HOLT_SCALE = 1_000_000


def _tdiv(a: int, d: int) -> int:
    """Truncating division (Spark div / DuckDB // semantics)."""
    return -((-a) // d) if a < 0 else a // d


def _holt_fold(lvl, trend, n_days, cents):
    y = cents * _HOLT_SCALE
    if n_days == 0:
        return y, 0, 1
    prev = lvl
    lvl = _tdiv(y + 3 * (lvl + trend), 4)
    trend = _tdiv((lvl - prev) + 3 * trend, 4)
    return lvl, trend, n_days + 1


def holt_smoother(df: DataFrame, key_col: str = "user_id") -> DataFrame:
    """X10 streaming operator: df must contain (key_col, ts_ms, cents).
    Output: (key_col, n_days, level_micro, trend_micro, forecast_micro)."""

    def fold(rows, state):
        last_day, day_cents, lvl, trend, n_days = (
            state.get if state.exists else (None, 0, 0, 0, 0))
        for ts, c in zip(rows["ts_ms"], rows["cents"]):
            d = int(ts) // 86_400_000
            if last_day is None:
                last_day, day_cents = d, 0
            elif d != last_day:
                lvl, trend, n_days = _holt_fold(lvl, trend, n_days, day_cents)
                last_day, day_cents = d, 0
            day_cents += int(c)
        state.update((last_day, day_cents, lvl, trend, n_days))
        # provisional fold of the still-open day for the emit
        if last_day is not None:
            e_lvl, e_trend, e_n = _holt_fold(lvl, trend, n_days, day_cents)
            yield e_n, e_lvl, e_trend, e_lvl + e_trend

    return keyed_state(
        df, key_col, fold,
        "n_days bigint, level_micro bigint, trend_micro bigint, "
        "forecast_micro bigint",
        "last_day bigint, day_cents bigint, lvl bigint, trend bigint, "
        "n_days bigint")


# --- X11: online CUSUM drift alarms -----------------------------------------
# Keyed online changepoint detection: after a 10-event warmup fixes the
# per-user baseline mean mu0 (integer cents), every event folds into the
# two one-sided CUSUM statistics s± = max(0, s± ± (x - mu0) - SLACK);
# crossing H raises an alarm and RESTARTS both sides (the standard
# post-alarm reset). All-integer arithmetic, so the streaming state and
# the oracle's list-fold replay agree bit-for-bit. Pairs with the batch
# q_cusum_changepoint (global daily series); this is the per-key online
# form a monitoring pipeline runs. State: mu0 is -1 until the warmup
# completes, first_alarm 0 until the first alarm.

CUSUM_WARMUP = 10
CUSUM_SLACK = 3_000   # cents
CUSUM_H = 30_000      # cents


def cusum_detector(df: DataFrame, key_col: str = "user_id") -> DataFrame:
    """X11 streaming operator: df must contain (key_col, ts_ms, event_id,
    cents). Output: final CUSUM state per key."""

    def fold(rows, state):
        n_seen, warm_sum, mu0, s_pos, s_neg, n_alarms, first_alarm = (
            state.get if state.exists else (0, 0, -1, 0, 0, 0, 0))
        for c in rows["cents"]:
            v = int(c)
            n_seen += 1
            if n_seen <= CUSUM_WARMUP:
                warm_sum += v
                if n_seen == CUSUM_WARMUP:
                    mu0 = warm_sum // CUSUM_WARMUP
                continue
            p = max(0, s_pos + v - mu0 - CUSUM_SLACK)
            q = max(0, s_neg + mu0 - v - CUSUM_SLACK)
            if p > CUSUM_H or q > CUSUM_H:
                n_alarms += 1
                if first_alarm == 0:
                    first_alarm = n_seen
                s_pos, s_neg = 0, 0
            else:
                s_pos, s_neg = p, q
        state.update((n_seen, warm_sum, mu0, s_pos, s_neg, n_alarms,
                      first_alarm))
        if n_seen >= CUSUM_WARMUP:
            yield n_seen, mu0, n_alarms, first_alarm, s_pos, s_neg

    return keyed_state(
        df, key_col, fold,
        "n_events bigint, mu0_cents bigint, n_alarms bigint, "
        "first_alarm_idx bigint, s_pos bigint, s_neg bigint",
        "n_seen bigint, warm_sum bigint, mu0 bigint, s_pos bigint, "
        "s_neg bigint, n_alarms bigint, first_alarm bigint")


# --- X12: token-bucket rate limiter -----------------------------------------
# The admission-control primitive an ingest edge runs per key: a bucket
# of capacity CAP millitokens refills continuously at 1 token per
# REFILL_MS; each event needs 1000 millitokens or is DROPPED. Integer
# throughout (refill = dt * 1000 div REFILL_MS, truncating), so the
# accept/drop trajectory — not just the counts — is replayable by the
# oracle's recursive CTE. The batch q_rate_limit_flags flags sliding-
# window peaks; this is the online enforcement half.

TB_CAP_MILLI = 3_000
TB_REFILL_MS = 6 * 3_600_000  # 1 token per 6 h


def token_bucket(df: DataFrame, key_col: str = "user_id") -> DataFrame:
    """X12 streaming operator: df must contain (key_col, ts_ms, event_id)."""

    def fold(rows, state):
        tokens, last_ms, n_events, n_acc, n_drop = (
            state.get if state.exists else (TB_CAP_MILLI, -1, 0, 0, 0))
        for ts in rows["ts_ms"]:
            t = int(ts)
            if last_ms >= 0:
                tokens = min(
                    TB_CAP_MILLI,
                    tokens + (t - last_ms) * 1000 // TB_REFILL_MS)
            last_ms = t
            n_events += 1
            if tokens >= 1000:
                n_acc += 1
                tokens -= 1000
            else:
                n_drop += 1
        state.update((tokens, last_ms, n_events, n_acc, n_drop))
        yield n_events, n_acc, n_drop, tokens

    return keyed_state(
        df, key_col, fold,
        "n_events bigint, n_accepted bigint, n_dropped bigint, "
        "tokens_milli bigint",
        "tokens bigint, last_ms bigint, n_events bigint, n_accepted bigint, "
        "n_dropped bigint")
