"""Streaming forms of the regular-grid time-series operators
(operators/timeseries.py): incremental gap-fill and exact-replay EWMA
over an unbounded bucket-grain stream.

This is the module's own motivating story closed end-to-end: the
reference's paced combinators (src/combinators.rs, the hics
demand-driven meter) consume a DENSE tick stream; telemetry arrives
sparse AND unbounded. The batch operators rebuild the dense grid over
a finite frame; these rebuild it per micro-batch as step functions on
the keyed-state template (``streaming/stateful.py::keyed_state_stream``)
— the same states-as-continuations discipline as ``streaming_funnel``
(tests/events.rs:32-55). ``ewma_stream`` and ``rolling_median_stream``
are one trailing-window step with a different window aggregate.

Semantics vs batch (asserted in tests/test_timeseries_streaming.py):

- ``gapfill_stream`` ≡ batch ``gapfill`` on the same in-order finite
  prefix, for the STREAMABLE fill methods: ``locf`` / ``zero`` /
  ``null``. ``linear`` is deliberately absent — it needs the NEXT
  observation (lookahead), so its streaming form would have to buffer
  a gap until the closing observation arrives; run the batch operator
  over a replay for interpolation.
- ``ewma_stream`` ≡ batch ``ewma`` bit-exactly: the per-key state is
  the trailing ``window`` values, and the fold replays the identical
  IEEE-double sequence (same exact power-of-two weights, same
  oldest→newest accumulation order, one final division — pandas/Python
  floats ARE the same doubles Spark folds JVM-side).

Arrival contract (same as streaming_funnel): rows arrive in event-time
order across micro-batches for each key; a row at or before the key's
last-seen bucket is LATE and is dropped (counted nowhere — the batch
operator over a full replay is the backstop, exactly as with
dedup_store). State per key is O(1): last bucket + one double per fill
column (gapfill), or ≤``window`` doubles (ewma) — no growth with
stream length.
"""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Decimal

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from rspl_spark.streaming.stateful import keyed_state_stream

_GAPFILL_STATE = StructType(
    [
        StructField("last_ns", LongType()),
        StructField("last_vals", ArrayType(DoubleType())),
    ]
)

_WINDOW_STATE = StructType(
    [
        StructField("last_ns", LongType()),
        StructField("tail", ArrayType(DoubleType())),
    ]
)

_STREAM_FILLS = ("locf", "zero", "null")

_SIX_DP = Decimal("0.000001")


def _round6(x: float) -> float:
    """Replicate Spark's ``F.round(x, 6)`` on doubles exactly:
    BigDecimal.valueOf(x) takes the SHORTEST decimal repr (same string
    Python's repr gives), then setScale(6, HALF_UP). Python's builtin
    round() is half-even on the exact binary value — it diverges from
    Spark when a value's shortest repr is an exact 6dp midpoint (e.g.
    at 2dp Java rounds 2.675→2.68, builtin round→2.67), which dyadic
    EWMA numerators over short-decimal inputs can hit.

    Magnitudes ≥ 1e16 (past 2^53) are integer-valued doubles — 6dp
    rounding is the identity there, and quantize would overflow the
    default 28-digit Decimal context (InvalidOperation at ~1e22) where
    Java's BigDecimal.setScale succeeds — so return x directly."""
    if not math.isfinite(x) or abs(x) >= 1e16:
        return x
    return float(Decimal(repr(x)).quantize(_SIX_DP, rounding=ROUND_HALF_UP))


def _ewma(slots: list[float | None]) -> float | None:
    # the frame's non-null values, oldest→newest — exactly what the
    # batch collect_list yields over the ROWS frame
    xs = [x for x in slots if x is not None]
    n = len(xs)
    if n == 0:
        return None
    num = 0.0
    for i, x in enumerate(xs):  # same fold order as F.aggregate
        num += x * 2.0 ** -(n - 1 - i)
    return _round6(num / (2.0 - 2.0 ** -(n - 1)))


def _median(slots: list[float | None]) -> float | None:
    xs = [x for x in slots if x is not None]
    n = len(xs)
    if n == 0:
        return None
    s = sorted(xs)
    # continuous percentile at q=0.5: pos = (n-1)*0.5
    lo = (n - 1) // 2
    if n % 2:
        return _round6(s[lo])
    return _round6(s[lo] + (s[lo + 1] - s[lo]) * 0.5)


def gapfill_stream(
    obs: DataFrame,
    key_col: str,
    time_col: str,
    step: str,
    fills: dict[str, str],
    mark_gaps: bool = True,
    max_gap_buckets: int | None = 100_000,
) -> DataFrame:
    """Emit one row per (key, bucket) — observed rows as-is, gap rows
    filled per ``fills`` (``"locf"`` | ``"zero"`` | ``"null"``) — as
    the dense grid grows with the stream.

    ``obs`` must already be at bucket grain (one row per key+bucket,
    see batch ``gapfill``); ``step`` is a pandas-parsable interval
    (``"6 hours"``). Fill columns are emitted as DOUBLE (state holds
    doubles); the key is emitted as STRING. Append mode: each
    micro-batch appends the buckets from the key's previous frontier
    (exclusive) up to its newest observation. NULL observed values
    carry as-is, matching the batch contract; NULL timestamps are
    dropped (the batch operator's window drops them the same way — and
    unguarded, a NaT would poison the frontier with int64 min and make
    the next real row emit ~3e8 "gap" rows).

    ``max_gap_buckets`` mirrors the batch guard: one gap wider than
    this raises (task error with the offending bucket) rather than
    emitting an unbounded row run. Pass ``None`` to disable.
    """
    if not fills:
        raise ValueError("gapfill_stream: no fill columns given")
    for c, m in fills.items():
        if m not in _STREAM_FILLS:
            raise ValueError(
                f"gapfill_stream: method {m!r} for column {c!r} not streamable"
                " (linear needs lookahead — use batch gapfill over a replay)"
            )
    step_ns = int(pd.Timedelta(step).value)
    if step_ns <= 0:
        raise ValueError("gapfill_stream: step must be positive")
    vcols = list(fills)
    # the is_gap field, when marked
    gap, observed = ((True,), (False,)) if mark_gaps else ((), ())

    def _fill_row(prev: list[float | None]) -> list[float | None]:
        row: list[float | None] = []
        for c, v in zip(vcols, prev):
            m = fills[c]
            row.append(v if m == "locf" else 0.0 if m == "zero" else None)
        return row

    def fill_step(key, st, batch, _now):
        last_ns, last_vals = st
        last_vals = None if last_vals is None else list(last_vals)
        out = []
        ts_ns = batch[time_col].astype("int64").tolist()
        vals = [
            [None if pd.isna(v) else float(v) for v in batch[c].tolist()]
            for c in vcols
        ]
        for i, t in enumerate(ts_ns):
            if last_ns is not None and t <= last_ns:
                continue  # late/duplicate arrival: documented drop
            if last_ns is not None:
                if (
                    max_gap_buckets is not None
                    and (t - last_ns) // step_ns > max_gap_buckets
                ):
                    raise ValueError(
                        "gapfill_stream: gap wider than "
                        f"max_gap_buckets={max_gap_buckets} buckets at "
                        f"{pd.Timestamp(t)} (key {key!r})"
                    )
                g = last_ns + step_ns
                while g < t:
                    out.append((g, *_fill_row(last_vals), *gap))
                    g += step_ns
            row = [vals[j][i] for j in range(len(vcols))]
            out.append((t, *row, *observed))
            last_ns, last_vals = t, row
        # a batch of only NULL-timestamp rows leaves no frontier: the
        # state stays ABSENT rather than storing (None, None)
        return (None if last_ns is None else (last_ns, last_vals)), out

    return keyed_state_stream(
        obs.select(key_col, time_col, *vcols),
        key_col,
        fill_step,
        _GAPFILL_STATE,
        lambda: (None, None),
        [(time_col, "timestamp"), *[(c, "double") for c in vcols]]
        + ([("is_gap", "boolean")] if mark_gaps else []),
        order=[time_col],
        # NaT poisons the frontier (int64 min) — drop, like the batch
        # window drops NULL order keys
        notna=[time_col],
        key_out=key_col,
    )


def _trailing_window_stream(
    obs: DataFrame,
    key_col: str,
    time_col: str,
    value_col: str,
    window: int,
    out_col: str,
    agg,
) -> DataFrame:
    """One output row per in-order observation: ``agg`` of the trailing
    ``window`` frame SLOTS (nullable doubles, oldest→newest). Every row —
    NULL value included — takes a slot, the batch ROWS(-window+1, 0)
    semantics. NULL timestamps and late rows (at or before the key's
    last bucket) are dropped. State per key: last bucket + ≤window
    nullable doubles."""

    def step(_key, st, batch, _now):
        last_ns, tail = st[0], list(st[1])
        out = []
        for t, x in zip(
            batch[time_col].astype("int64").tolist(), batch[value_col].tolist()
        ):
            if last_ns is not None and t <= last_ns:
                continue
            v = None if pd.isna(x) else float(x)
            tail.append(v)
            if len(tail) > window:
                tail = tail[-window:]
            out.append((t, v, agg(tail)))
            last_ns = t
        return (last_ns, tail), out

    return keyed_state_stream(
        obs.select(key_col, time_col, value_col),
        key_col,
        step,
        _WINDOW_STATE,
        lambda: (None, []),
        [(time_col, "timestamp"), (value_col, "double"), (out_col, "double")],
        order=[time_col],
        notna=[time_col],
        key_out=key_col,
    )


def ewma_stream(
    obs: DataFrame,
    key_col: str,
    time_col: str,
    value_col: str,
    window: int = 16,
    out_col: str = "ewma",
) -> DataFrame:
    """Streaming twin of batch ``ewma``: trailing-``window`` EWMA with
    decay 1/2 per bucket, REPLAYING THE BATCH ARITHMETIC BIT-EXACTLY
    (exact power-of-two weights, sequential oldest→newest fold, one
    final division, round 6 — see the batch docstring's determinism
    contract; Python floats are the same IEEE doubles, and the final
    round replicates Spark's shortest-repr HALF_UP via ``_round6``,
    not Python's half-even builtin).

    One output row per in-order observation. NULL values occupy a
    window SLOT but contribute no value — exactly the batch ROWS-frame
    semantics (the frame counts null rows, collect_list then drops the
    nulls), so a NULL inside the trailing window evicts the oldest
    slot just like the batch frame does. The EWMA is over the slots'
    non-null values (NULL when none). NULL timestamps and late rows
    (at or before the key's last bucket) are dropped. State per key:
    last bucket + ≤window nullable doubles.
    """
    if not 1 <= window <= 52:
        raise ValueError("ewma_stream: window must be in [1, 52]")
    return _trailing_window_stream(
        obs, key_col, time_col, value_col, window, out_col, _ewma
    )


def rolling_median_stream(
    obs: DataFrame,
    key_col: str,
    time_col: str,
    value_col: str,
    n_buckets: int = 7,
    out_col: str = "rmedian",
) -> DataFrame:
    """Streaming twin of batch ``rolling_median``: exact median over
    the trailing ``n_buckets`` in-order observations per key.

    The interpolation replays Spark's ``percentile(…, 0.5)`` exactly:
    for an even count, ``lower + (upper − lower) * 0.5`` — the same
    IEEE sequence, NOT ``(a+b)/2`` (which can differ in the last ulp).
    One output row per in-order observation; NULL timestamps and late
    rows dropped. NULL values occupy a frame SLOT but contribute no
    value (the batch ROWS-frame semantics: percentile skips nulls, the
    frame still counts the row) — the emitted median is over the
    slots' non-null values, NULL when there are none. State per key =
    last bucket + ≤n_buckets nullable doubles.
    """
    if n_buckets < 1:
        raise ValueError("rolling_median_stream: n_buckets must be >= 1")
    return _trailing_window_stream(
        obs, key_col, time_col, value_col, n_buckets, out_col, _median
    )


def transition_pairs_stream(
    events: DataFrame,
    key_col: str,
    ts_col: str,
    state_col: str,
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """Streaming twin of the batch Markov transition pairs
    (operators/behavior.py::transition_matrix before its aggregation):
    one (prev_state, state) row per in-order observation after a key's
    first. Keyed state is ONE string — the key's last seen state — so
    the pair multiset over a finite in-order prefix equals the batch
    lag exactly; aggregate the drained pairs for the matrix.

    Ordering within a micro-batch uses (ts, *tiebreak_cols) — pass a
    unique id whenever ts can tie (the batch operator's contract).
    NULL timestamps dropped. The keyed state stores the last processed
    POSITION — (event time, tiebreak tuple) — not the event time
    alone: rows strictly before the frontier timestamp drop as late,
    and rows AT the frontier timestamp drop iff their tiebreak tuple
    is at or before the stored one. Ties spanning micro-batches
    therefore process in (ts, tiebreak) order regardless of arrival
    order, and exact re-delivery of an already-seen row is deduped —
    no caller contract needed beyond "tiebreaks make the order total".
    Without tiebreak columns the old behavior holds (frontier-ts rows
    always process, in arrival order); a NULL tiebreak value makes the
    position incomparable and the row processes (NULLs in a
    make-it-total column are a caller bug either way). Tiebreak
    columns must be integral, float, string, or timestamp typed.
    """
    tiebreaks = list(tiebreak_cols or [])
    # state carries the tiebreak tuple in its NATIVE type domain (a
    # string cast would misorder numerics: "10" < "9")
    import datetime as _dt

    from pyspark.sql.types import (
        ByteType,
        DateType,
        FloatType,
        IntegerType,
        ShortType,
        TimestampType,
    )

    in_schema = {f.name: f.dataType for f in events.schema.fields}
    tb_fields: list[StructField] = []
    tb_convs: list = []
    for i, c in enumerate(tiebreaks):
        dt = in_schema[c]
        if isinstance(
            dt, (LongType, IntegerType, ShortType, ByteType)
        ):
            tb_fields.append(StructField(f"tb{i}", LongType()))
            tb_convs.append(int)
        elif isinstance(dt, (DoubleType, FloatType)):
            tb_fields.append(StructField(f"tb{i}", DoubleType()))
            tb_convs.append(float)
        elif isinstance(dt, StringType):
            tb_fields.append(StructField(f"tb{i}", StringType()))
            tb_convs.append(str)
        elif isinstance(dt, (TimestampType, DateType)):
            tb_fields.append(StructField(f"tb{i}", LongType()))
            tb_convs.append(
                lambda v: (
                    v.toordinal()
                    if isinstance(v, _dt.date)
                    and not isinstance(v, _dt.datetime)
                    else int(pd.Timestamp(v).value)
                )
            )
        else:
            raise ValueError(
                f"transition_pairs_stream: tiebreak column {c!r} has"
                f" unsupported type {dt.simpleString()} (use integral,"
                " float, string, or timestamp)"
            )
    state_schema = StructType(
        [
            StructField("last_ns", LongType()),
            StructField("last_state", StringType()),
            *tb_fields,
        ]
    )
    n_tb = len(tiebreaks)

    def step(_key, st, batch, _now):
        last_ns, last_state, last_tb = st[0], st[1], tuple(st[2:])
        out = []
        ts_ns = batch[ts_col].astype("int64").tolist()
        sts = batch[state_col].tolist()
        tb_rows = (
            zip(
                *(
                    [
                        None if pd.isna(v) else conv(v)
                        for v in batch[c].tolist()
                    ]
                    for c, conv in zip(tiebreaks, tb_convs)
                )
            )
            if n_tb
            else None
        )
        for t, s in zip(ts_ns, sts):
            tb = next(tb_rows) if n_tb else ()
            if last_ns is not None and t < last_ns:
                continue  # late arrival: documented drop
            if (
                n_tb
                and last_ns is not None
                and t == last_ns
                and None not in tb
                and None not in last_tb
                and tb <= last_tb
            ):
                # at-or-before the stored position at the frontier
                # ts: re-delivery or out-of-order tie — drop
                continue
            s = None if pd.isna(s) else str(s)
            if last_state is not None:
                out.append((t, last_state, s))
            last_ns, last_state = t, s
            last_tb = tb if n_tb else last_tb
        return (last_ns, last_state, *last_tb), out

    return keyed_state_stream(
        events.select(key_col, ts_col, state_col, *tiebreaks),
        key_col,
        step,
        state_schema,
        lambda: (None, None, *((None,) * n_tb)),
        [(ts_col, "timestamp"), ("prev_state", "string"), ("state", "string")],
        order=[ts_col, *tiebreaks],
        # NULL states are not states (batch transition_matrix drops
        # them the same way, so neighbors become adjacent)
        notna=[ts_col, state_col],
        key_out=key_col,
    )
