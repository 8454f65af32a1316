"""The rspl program both FSM workloads run, and its single-thread ground truth.

The program is the ``q_dsl_fsm_keyed`` shape (the ``tests/events.rs``
pattern): per user, a two-state shift machine where ``signup`` arms,
``error`` disarms, and every other event is emitted with the sign of
the current state. A stateless head in front of it is lowered by
``compile_batch`` to Catalyst expressions; the machine itself runs under
``interpret_batch`` (batch) or ``run_mealy`` (stream).
"""

from __future__ import annotations

import time

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from rspl_spark.dsl import compose, eval_sp, filter_sp, map_sp
from rspl_spark.dsl.core import Get, Put


def machine():
    """Two-state Get/Put machine over ``(kind, v)`` events."""

    def default():
        def transition(ev):
            kind, v = ev
            if kind == "signup":
                return Put(1.0, shifted)
            if kind == "error":
                return default()
            return Put(v, default)

        return Get(transition)

    def shifted():
        def transition(ev):
            kind, v = ev
            if kind == "signup":
                return shifted()
            if kind == "error":
                return Put(1.0, default)
            return Put(-v, shifted)

        return Get(transition)

    return default()


def head():
    """Stateless head: drop ``view`` events, double the payload. Each
    stage carries both an ``expr_fn`` (compiled) and a ``py_fn``
    (ground truth); doubling a double is exact in both."""
    return compose(
        filter_sp(None, expr_fn=lambda c: c["kind"] != F.lit("view"),
                  py_fn=lambda e: e["kind"] != "view"),
        map_sp(None,
               expr_fn=lambda c: F.struct(c["kind"].alias("kind"), (c["v"] * 2.0).alias("v")),
               py_fn=lambda e: {"kind": e["kind"], "v": e["v"] * 2.0}),
    )


def _unpack(e):
    return (e["kind"], e["v"])


def keyed_machine():
    """The interpreted part: ``compose(map_sp(py_fn), machine())``."""
    return compose(map_sp(None, py_fn=_unpack), machine())


def whole_program():
    """Head and machine as one term, for the single-thread reference."""
    return compose(head(), keyed_machine())


def struct_frame(df):
    """(key, seq, kind, v) -> (key, seq, value=struct(kind, v))."""
    return df.select(
        "key", "seq", F.struct(F.col("kind"), F.col("v")).alias("value")
    )


def key_runs(table):
    """Per-key event lists in ``seq`` order: ``{key: [event dict, ...]}``."""
    keys = table.column("key").to_numpy()
    order = np.lexsort((table.column("seq").to_numpy(), keys))
    kinds = np.asarray(table.column("kind").to_pylist(), dtype=object)[order]
    vs = table.column("v").to_numpy()[order]
    ks = keys[order]
    bounds = np.flatnonzero(np.diff(ks)) + 1
    runs = {}
    for lo, hi in zip(np.r_[0, bounds], np.r_[bounds, len(ks)]):
        runs[int(ks[lo])] = [
            {"kind": k, "v": float(v)} for k, v in zip(kinds[lo:hi], vs[lo:hi])
        ]
    return runs


def reference(runs):
    """Single-thread ``eval_sp`` of the whole program over every key's
    events. Returns (outputs per key, seconds spent in ``eval_sp``)."""
    out = {}
    t0 = time.perf_counter()
    for k, evs in runs.items():
        out[k] = list(eval_sp(whole_program(), evs))
    return out, time.perf_counter() - t0


def bare_machine_seconds(runs) -> float:
    """Single-thread time of the bare machine over the same events,
    already unpacked to tuples (the denominator of compose_ratio)."""
    tuples = {k: [_unpack(e) for e in evs] for k, evs in runs.items()}
    t0 = time.perf_counter()
    for evs in tuples.values():
        for _ in eval_sp(machine(), evs):
            pass
    return time.perf_counter() - t0


def composed_seconds(runs) -> float:
    """Single-thread time of ``compose(map_sp, machine())`` (no head)."""
    t0 = time.perf_counter()
    for evs in runs.values():
        for _ in eval_sp(keyed_machine(), evs):
            pass
    return time.perf_counter() - t0


def canon_hash(keys, seqs, values) -> tuple[int, str]:
    """Row count and the oracle gate's order-insensitive hash of
    (key, seq, value) rows; -0.0 is mapped to 0.0 first, as
    ``q_dsl_fsm_keyed`` does."""
    from tools.check_oracle import canon, value_hash

    df = pd.DataFrame({
        "key": pd.Series(keys).astype(str),
        "seq": pd.Series(seqs, dtype="int64"),
        "value": pd.Series(values, dtype="float64") + 0.0,
    })
    return len(df), value_hash(canon(df))


def reference_hash(ref) -> tuple[int, str]:
    """:func:`canon_hash` of reference outputs, ``{key: [value, ...]}``."""
    keys, seqs, values = [], [], []
    for k, outs in ref.items():
        keys.extend([k] * len(outs))
        seqs.extend(range(len(outs)))
        values.extend(outs)
    return canon_hash(keys, seqs, values)


def frame_hash(pdf: pd.DataFrame) -> tuple[int, str]:
    return canon_hash(pdf["key"].to_numpy(), pdf["seq"].to_numpy(), pdf["value"].to_numpy())
