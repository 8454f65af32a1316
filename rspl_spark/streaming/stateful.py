"""Keyed stateful Mealy-machine template for Structured Streaming.

Every keyed streaming operator in ``rspl_spark.streaming`` is a keyed
Mealy machine: state × a key's micro-batch rows → state × output rows —
the Spark analog of the reference's event-driven FSM pattern
(tests/events.rs:32-55, states-as-continuations), where the evaluating
thread's blocking ``tail()`` becomes "wait for the next micro-batch"
(SURVEY.md §3 entry point 2).

:func:`keyed_state_stream` is the one runner of those machines on
``applyInPandasWithState``. It owns the micro-batch protocol: read or
initialise the state (:func:`state_codec`), order the key's rows once
(:func:`ordered_batch`), write or remove the state, arm the
processing-time timeout, build the output frame (:func:`emit_frame`).
An operator supplies only its step function, its state and output
schemas and, where it has one, its timeout handler. :func:`run_mealy_stream` runs ANY DSL StreamProcessor
term on it, the term's continuation (a closure tree) cloudpickled into
the state between batches; :func:`run_mealy_stream_tws` runs the same
semantics on ``transformWithStateInPandas`` with the same ordering and
key helpers.

Scale model: one FSM per key, all keys in parallel; the state store
holds one state row per key. A single logical stream = one key,
correct but serial — the trade rspl's total order forces (SURVEY.md §7
hard parts).
"""

from __future__ import annotations

import pickle

from collections.abc import Callable, Iterable, Sequence
from typing import Any

from pyspark import cloudpickle

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BinaryType,
    StructField,
    StructType,
)

from rspl_spark.dsl.core import StreamProcessor, run_prefix
from rspl_spark.pyworker import prepare_worker

STATE_SCHEMA = StructType([StructField("sp", BinaryType())])

# (key, state, key's ordered micro-batch rows, processing time ms) ->
# (new state or None to remove it, output rows as tuples)
Step = Callable[[Any, Any, pd.DataFrame, int], tuple[Any, list]]


def state_codec(schema: StructType) -> tuple[Callable, Callable]:
    """(decode, encode) between a state value and its stored row — the
    one place state meets its stored form. A schema of one binary column
    holds a cloudpickled Python value (stdlib pickle cannot serialize
    continuations, which are closure trees); any other schema's row is
    a plain tuple of typed fields."""
    if len(schema) == 1 and isinstance(schema[0].dataType, BinaryType):
        return (lambda row: pickle.loads(row[0])), (lambda st: (cloudpickle.dumps(st),))
    return tuple, tuple


def ordered_batch(
    frames: Iterable[pd.DataFrame],
    order: Sequence[str] = (),
    notna: Sequence[str] = (),
) -> pd.DataFrame | None:
    """One key's micro-batch as one frame: rows NULL in any ``notna``
    column dropped, then stably sorted by ``order``. None when the key
    has no rows.

    Arrow delivers a key's micro-batch as several chunks (split at
    ``spark.sql.execution.arrow.maxRecordsPerBatch``) with no ordering
    guarantee BETWEEN chunks — sorting each chunk alone would silently
    break the total order every order-sensitive state (a continuation,
    a running sum, a first-seen keeper, an oldest-first cap) relies on
    for keys spanning >1 chunk. So: materialize, concat, sort once."""
    chunks = [f for f in frames if len(f)]
    if not chunks:
        return None
    batch = chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
    if notna:
        # per-column masks: a frame-wide notna().all(axis=1) carries a
        # fixed cost that dominates at one call per key per micro-batch
        keep = batch[notna[0]].notna()
        for c in notna[1:]:
            keep &= batch[c].notna()
        batch = batch[keep]
    if order:
        batch = batch.sort_values(list(order), kind="mergesort")
    return batch


def emit_frame(
    cols: list[str],
    rows: list,
    key_col: str | None = None,
    key: Any = None,
    ts_cols: Sequence[str] = (),
) -> pd.DataFrame:
    """Output rows (tuples in ``cols`` order) as one frame; ``ts_cols``
    carry epoch nanoseconds and become timestamps, and ``key_col``, when
    given, leads with the key as a string — a NULL key stays NULL
    (``str(None)`` would emit the string ``"None"``)."""
    # column lists, not pd.DataFrame(rows) plus in-place column
    # conversion: the frame's fixed cost is paid per key per micro-batch
    data = dict(zip(cols, map(list, zip(*rows))))
    for c in ts_cols:
        data[c] = pd.to_datetime(data[c], unit="ns")
    if key_col is not None:
        data = {key_col: [None if key is None else str(key)] * len(rows), **data}
    return pd.DataFrame(data)


def keyed_state_stream(
    df: DataFrame,
    key_col: str,
    step: Step,
    state_schema: StructType,
    init: Callable[[], Any],
    out: list[tuple[str, str]],
    order: Sequence[str] = (),
    notna: Sequence[str] = (),
    key_out: str | None = None,
    timeout_ms: int | None = None,
    on_timeout: Callable[[Any, Any], tuple[Any, list]] | None = None,
) -> DataFrame:
    """Run ``step`` per ``key_col`` group across micro-batches (append
    mode) — the one ``applyInPandasWithState`` call of the library.

    - State: the stored row decoded by :func:`state_codec`, or
      ``init()`` for a new key. A step returning None removes the
      state.
    - Input: :func:`ordered_batch` of the key's chunks (``notna``,
      ``order``). ``step(key, state, batch, now_ms)`` gets the key's
      value and the batch's processing time (0 without a timeout).
    - Timeout: with ``timeout_ms``, every written state re-arms a
      processing-time timeout, and an expired key calls
      ``on_timeout(key, state)`` instead of ``step``.
    - Output: ``out`` lists the step's row fields as (name, DDL type);
      timestamp fields travel as epoch ns. ``key_out`` prepends the key
      as a string column of that name.
    """
    decode, encode = state_codec(state_schema)
    cols = [name for name, _ in out]
    ts_cols = [name for name, t in out if t == "timestamp"]
    fields = ([(key_out, "string")] if key_out is not None else []) + out
    out_schema = ", ".join(f"`{name}` {t}" for name, t in fields)

    def proc(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
        prepare_worker()
        if state.exists:
            st = decode(state.get)
        else:
            st = init()
        if on_timeout is not None and state.hasTimedOut:
            st, rows = on_timeout(key[0], st)
        else:
            batch = ordered_batch(pdfs, order, notna)
            if batch is None:
                return
            now = state.getCurrentProcessingTimeMs() if timeout_ms is not None else 0
            st, rows = step(key[0], st, batch, now)
        if st is None:
            if state.exists:
                state.remove()
        else:
            state.update(encode(st))
            if timeout_ms is not None:
                state.setTimeoutDuration(timeout_ms)
        if rows:
            yield emit_frame(cols, rows, key_out, key[0], ts_cols)

    return df.groupBy(key_col).applyInPandasWithState(
        proc,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if timeout_ms is not None
            else GroupStateTimeout.NoTimeout
        ),
    )


def run_mealy_stream_tws(
    stream_df: DataFrame,
    sp_factory: Callable[[], StreamProcessor],
    out_type: str,
    key_col: str = "key",
    seq_col: str = "seq",
    value_col: str = "value",
    timeout_ms: int | None = None,
    timeout_event=None,
    timeout_capability: Callable[[Any], int | None] | None = None,
) -> DataFrame:
    """Same semantics as run_mealy_stream on the MODERN backend
    (transformWithStateInPandas, Spark 4): continuation in a ValueState,
    feedback on PER-KEY TIMERS.

    Both backends exist on purpose: applyInPandasWithState is the widely
    deployed API; transformWithState adds real per-key timers — feedback
    events fire at their scheduled processing time instead of "whenever
    the key's next micro-batch happens to run" (the legacy backend's
    batch-paced approximation).

    Two feedback modes, mirroring the reference's two uses:

    - ``timeout_ms`` + ``timeout_event``: idle timeout — when a key sees
      no input for the duration, the sentinel is fed to its FSM and the
      timer re-arms (same contract as run_mealy_stream).
    - ``timeout_capability``: pelican-style capability-driven feedback
      (examples/pelican.rs:306-308,350-367) — called on every OUTPUT
      value; returning a duration (ms) schedules ``timeout_event`` for
      this key after that delay. Deliveries are serialized exactly like
      the reference's single feedback-worker thread draining an
      unbounded channel (pelican.rs:350-358): a new request's delay
      starts only when the previous one has been delivered
      (``worker_free`` carried in state).

    The two modes are MUTUALLY EXCLUSIVE (one per-key timer namespace;
    an idle timer and capability timers would be indistinguishable when
    they expire) — passing both raises rather than silently ignoring
    ``timeout_ms``.

    Requires google.protobuf + the RocksDB state store; see
    rspl_spark.streaming.tws_runtime (enable_tws_runtime() must run
    before SparkSession creation; the RocksDB conf is applied here).
    """
    if timeout_ms is not None and timeout_capability is not None:
        raise ValueError(
            "run_mealy_stream_tws: timeout_ms (idle sentinel) and"
            " timeout_capability (per-output feedback) are mutually"
            " exclusive — they share the key's timer namespace"
        )
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    from rspl_spark.streaming.tws_runtime import enable_tws_runtime_for_session

    # session-level enablement (not just the RocksDB conf): works even
    # on a session this process did not create — the vendored protobuf
    # reaches workers via sc.environment per-function env vars
    enable_tws_runtime_for_session(stream_df.sparkSession)
    use_timers = timeout_ms is not None or timeout_capability is not None
    out_schema = f"`{key_col}` string, `{seq_col}` long, `{value_col}` {out_type}"

    decode, encode = state_codec(STATE_SCHEMA)

    class MealyProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            prepare_worker()
            self._handle = handle
            # state = (continuation term, #outputs so far, worker_free ms)
            self._state = handle.getValueState("mealy", STATE_SCHEMA)

        def _load(self):
            # one state-server round trip: get() is None for a new key
            row = self._state.get()
            if row is not None:
                return decode(row)
            return sp_factory(), 0, 0

        def _save(self, sp, n_out, worker_free) -> None:
            self._state.update(encode((sp, n_out, worker_free)))

        def _rearm_idle(self, now_ms: int) -> None:
            for t in list(self._handle.listTimers()):
                self._handle.deleteTimer(t)
            self._handle.registerTimer(now_ms + timeout_ms)

        def _schedule_caps(self, outs, now_ms: int, worker_free: int) -> int:
            """Serial feedback worker: each timeout_after capability is
            delivered its delay AFTER the previous delivery."""
            for v in outs:
                dur = timeout_capability(v)
                if dur is not None:
                    # timers are ms-granular and registerTimer collapses
                    # duplicates: two deliveries scheduled for the same
                    # expiry (dur=0, or sub-ms durations truncating to 0)
                    # would lose a feedback event, so each delivery lands
                    # at least 1ms after the previous one
                    worker_free = max(
                        max(worker_free, now_ms) + int(dur),
                        worker_free + 1,
                    )
                    self._handle.registerTimer(worker_free)
            return worker_free

        def _emit(self, key, outs, n_out):
            if outs:
                yield emit_frame(
                    [seq_col, value_col],
                    list(zip(range(n_out, n_out + len(outs)), outs)),
                    key_col,
                    key[0],
                )

        def handleInputRows(self, key, rows, timerValues):
            sp, n_out, worker_free = self._load()
            batch = ordered_batch(rows, [seq_col])
            outs_all = []
            if batch is not None:
                outs_all, sp = run_prefix(sp, batch[value_col].tolist())
            now = timerValues.getCurrentProcessingTimeInMs()
            if timeout_capability is not None:
                worker_free = self._schedule_caps(outs_all, now, worker_free)
            elif timeout_ms is not None:
                self._rearm_idle(now)
            self._save(sp, n_out + len(outs_all), worker_free)
            yield from self._emit(key, outs_all, n_out)

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            sp, n_out, worker_free = self._load()
            outs, sp = run_prefix(sp, [timeout_event])
            now = timerValues.getCurrentProcessingTimeInMs()
            if timeout_capability is not None:
                worker_free = self._schedule_caps(outs, now, worker_free)
            elif timeout_ms is not None:
                self._rearm_idle(now)
            self._save(sp, n_out + len(outs), worker_free)
            yield from self._emit(key, outs, n_out)

        def close(self) -> None:
            pass

    return stream_df.groupBy(key_col).transformWithStateInPandas(
        MealyProcessor(),
        outputStructType=out_schema,
        outputMode="append",
        timeMode="processingTime" if use_timers else "none",
    )


def run_mealy_stream(
    stream_df: DataFrame,
    sp_factory: Callable[[], StreamProcessor],
    out_type: str,
    key_col: str = "key",
    seq_col: str = "seq",
    value_col: str = "value",
    timeout_ms: int | None = None,
    timeout_event=None,
) -> DataFrame:
    """Apply a fresh ``sp_factory()`` term to each key's sub-stream.

    Input: a streaming (or batch) DataFrame with (key, seq, value).
    Output: (key, seq, value) where seq is the per-key OUTPUT ordinal,
    continuing across micro-batches.

    Feedback loops (the pelican pattern, examples/pelican.rs:306-367):
    the reference re-injects timeout events through a second channel +
    thread; Spark plans are acyclic, so the same behavior comes from
    processing-time state timeouts — pass ``timeout_ms`` and a
    ``timeout_event``: when a key sees no input for the duration, the
    sentinel is fed to its FSM exactly as if it had arrived on the input
    stream, and the timeout re-arms (SURVEY.md §2.1 "Feedback loop").
    Because every timeout re-arms, a query with ``timeout_ms`` keeps
    running no-data batches and never reaches ``availableNow``
    termination: poll its sink and stop the query.
    """

    def advance(st, values):
        sp, n_out = st
        outs, sp = run_prefix(sp, values)
        return (sp, n_out + len(outs)), list(zip(range(n_out, n_out + len(outs)), outs))

    return keyed_state_stream(
        stream_df,
        key_col,
        lambda _key, st, batch, _now: advance(st, batch[value_col].tolist()),
        STATE_SCHEMA,
        lambda: (sp_factory(), 0),
        [(seq_col, "long"), (value_col, out_type)],
        order=[seq_col],
        key_out=key_col,
        timeout_ms=timeout_ms,
        # Feedback: the armed timeout fires as an input event.
        on_timeout=(
            None if timeout_ms is None
            else lambda _key, st: advance(st, [timeout_event])
        ),
    )


def mealy_backend(
    spark, need_capability_feedback: bool = False
) -> str:
    """Default-backend decision (r13 verdict ask #6), executable.

    - ``"tws"`` (transformWithStateInPandas) is the DEFAULT on
      Spark >= 4.0 whenever its runtime prerequisites hold (a
      ``google.protobuf`` importable driver-side — natively or vendored
      — and the bundled RocksDB state store). It is strictly more
      capable: real per-key timers (capability feedback fires at its
      scheduled time, not "whenever the key's next batch runs"), state
      in named variables, RocksDB-backed stores.
    - ``"legacy"`` (applyInPandasWithState) on Spark 3.x, or when the
      protobuf runtime is unavailable. Its batch-paced timeout
      approximation keeps the idle-sentinel contract (parity-swept in
      tests/test_mealy_backend_parity.py) but cannot express
      capability-driven feedback — if that is required and TWS is not
      available, raise rather than approximate.

    The sweep that licenses this default: legacy == TWS == pure-DSL on
    keyed FSMs, composition, and idle timeouts
    (tests/test_mealy_backend_parity.py), plus the pelican capability
    trace on TWS against the pure-DSL ground truth (tests/test_streaming
    .py::test_tws_pelican_capability_timer_parity, gate
    q_pelican_capability_stream).
    """
    from rspl_spark.streaming.tws_runtime import enable_tws_runtime

    major = int(spark.version.split(".")[0])
    tws_ok = major >= 4 and enable_tws_runtime()
    if need_capability_feedback and not tws_ok:
        raise RuntimeError(
            "capability-driven feedback (timeout_capability) needs the "
            "TWS backend: Spark >= 4.0 with a google.protobuf runtime. "
            f"This session: Spark {spark.version}, protobuf "
            f"{'ok' if enable_tws_runtime() else 'missing'}. The legacy "
            "backend's batch-paced timers cannot honor per-output "
            "schedules; refusing to approximate."
        )
    return "tws" if tws_ok else "legacy"


def run_mealy(
    stream_df: DataFrame,
    sp_factory: Callable[[], StreamProcessor],
    out_type: str,
    backend: str = "auto",
    **kwargs,
) -> DataFrame:
    """One entry point for the keyed stateful Mealy template: dispatch
    to :func:`run_mealy_stream_tws` or :func:`run_mealy_stream` per
    :func:`mealy_backend` (``backend="auto"``), or force one
    explicitly. ``timeout_capability`` implies TWS (the legacy backend
    cannot express it)."""
    if backend == "auto":
        backend = mealy_backend(
            stream_df.sparkSession,
            need_capability_feedback=kwargs.get("timeout_capability")
            is not None,
        )
    if backend == "tws":
        return run_mealy_stream_tws(stream_df, sp_factory, out_type, **kwargs)
    if backend == "legacy":
        if kwargs.get("timeout_capability") is not None:
            raise ValueError(
                "timeout_capability requires backend='tws' (per-key "
                "timers); the legacy backend cannot honor per-output "
                "schedules"
            )
        return run_mealy_stream(stream_df, sp_factory, out_type, **kwargs)
    raise ValueError(f"unknown backend {backend!r}: use 'auto', 'tws', 'legacy'")
