"""Mealy-backend parity sweep (r12 verdict ask #5): the SAME keyed-FSM
and timeout scenarios run on BOTH stateful backends in one
parametrized pass —

- ``legacy``: ``run_mealy_stream`` (applyInPandasWithState, the widely
  deployed API; feedback batch-paced via GroupState timeouts), and
- ``tws``: ``run_mealy_stream_tws`` (transformWithStateInPandas,
  Spark 4; feedback on real per-key timers).

Until now the legacy path carried most of the gate mileage and TWS had
its own scenarios — a Spark 4 TWS behavior change could drift one
backend away from the other without any single test seeing both. Every
expected value here is computed from the pure DSL term itself
(``eval_sp`` / ``run_prefix``), so both backends are compared against
the reference semantics, not against each other's output.
"""

from __future__ import annotations

import tempfile
import time

import pytest

pytestmark = pytest.mark.slow  # fuzz/streaming/scale tier: pytest -m "not slow" skips

from rspl_spark.dsl import compose, eval_sp, filter_sp, map_sp
from rspl_spark.dsl.core import Get, Put, run_prefix
from rspl_spark.streaming import (
    file_stream,
    run_mealy_stream,
    run_mealy_stream_tws,
    write_stream_chunks,
)
from rspl_spark.streaming.sources import run_to_memory_sink

from tests.conftest import TWS_AVAILABLE

BACKENDS = [
    "legacy",
    pytest.param(
        "tws",
        marks=pytest.mark.skipif(
            not TWS_AVAILABLE,
            reason="transformWithStateInPandas needs google.protobuf and no "
            "runtime could be found/vendored on this machine",
        ),
    ),
]


def _runner(backend):
    return run_mealy_stream if backend == "legacy" else run_mealy_stream_tws


def _chunked(spark, chunks, tmp, schema="key string, seq long, value long"):
    dfs = [spark.createDataFrame(rows, schema) for rows in chunks]
    write_stream_chunks(spark, tmp, dfs)
    return file_stream(spark, tmp, schema)


def _collect_by_key(spark, name, keys):
    t = spark.table(name)
    return {
        k: [r["value"] for r in t.filter(t.key == k).orderBy("seq").collect()]
        for k in keys
    }


@pytest.mark.parametrize("backend", BACKENDS)
def test_keyed_fsm_state_across_microbatches(spark, backend):
    """Pairwise-swap FSM with an element buffered in state at a batch
    boundary, two independent keys: continuation carry-over and per-key
    isolation must be identical on both backends (expected = eval_sp of
    the term over each key's full logical stream)."""

    def swap_forever():
        return Get(lambda a: Get(lambda b: Put(b, lambda: Put(a, swap_forever))))

    per_key = {"a": [1, 2, 3, 4, 5], "b": [10, 20, 30]}
    # split so each key holds one element in state between the batches
    chunks = [
        [("a", 0, 1), ("a", 1, 2), ("a", 2, 3), ("b", 0, 10)],
        [("a", 3, 4), ("a", 4, 5), ("b", 1, 20), ("b", 2, 30)],
    ]
    name = f"t_parity_swap_{backend}"
    with tempfile.TemporaryDirectory() as tmp:
        stream = _chunked(spark, chunks, tmp)
        out = _runner(backend)(stream, swap_forever, "long")
        run_to_memory_sink(out, name)
        got = _collect_by_key(spark, name, per_key)
    want = {k: list(eval_sp(swap_forever(), vs)) for k, vs in per_key.items()}
    assert got == want  # a: [2,1,4,3] (5 pending), b: [20,10] (30 pending)


@pytest.mark.parametrize("backend", BACKENDS)
def test_keyed_filter_map_composition(spark, backend):
    """Stateless composition (R4/R5/R6) through the stateful runner on
    both backends — the degenerate case that catches chunk-ordering or
    seq-renumbering drift."""
    sp = lambda: compose(filter_sp(lambda v: v % 2 == 0), map_sp(lambda v: v * 100))
    per_key = {"a": [1, 2, 3, 6], "b": [4, 5, 8]}
    chunks = [
        [("a", 0, 1), ("a", 1, 2), ("b", 0, 4)],
        [("a", 2, 3), ("a", 3, 6), ("b", 1, 5), ("b", 2, 8)],
    ]
    name = f"t_parity_fm_{backend}"
    with tempfile.TemporaryDirectory() as tmp:
        stream = _chunked(spark, chunks, tmp)
        out = _runner(backend)(stream, sp, "long")
        run_to_memory_sink(out, name)
        got = _collect_by_key(spark, name, per_key)
    want = {k: list(eval_sp(sp(), vs)) for k, vs in per_key.items()}
    assert got == want  # a: [200, 600], b: [400, 800]


@pytest.mark.skipif(not TWS_AVAILABLE, reason="transformWithStateInPandas needs google.protobuf")
def test_tws_prepares_python_worker(spark):
    """The TWS processor's init installs the stat-keyed zipimport
    invalidation of ``rspl_spark.pyworker`` in its worker."""
    import zipimport

    from rspl_spark.pyworker import MARKER

    want = not hasattr(zipimport.zipimporter, "_get_files")
    sp = lambda: map_sp(lambda _v: hasattr(zipimport.zipimporter.invalidate_caches, MARKER))
    chunks = [[("a", 0, 1), ("b", 0, 2)], [("a", 1, 3), ("c", 0, 4)]]
    with tempfile.TemporaryDirectory() as tmp:
        out = run_mealy_stream_tws(_chunked(spark, chunks, tmp), sp, "boolean")
        run_to_memory_sink(out, "t_parity_prepared_tws")
    assert [r["value"] for r in spark.table("t_parity_prepared_tws").collect()] == [want] * 4


@pytest.mark.parametrize("backend", BACKENDS)
def test_idle_timeout_feedback(spark, backend):
    """The timeout sentinel reaches the FSM on both backends. Expected
    output is run_prefix of the pure term over the logical sequence
    [push, timeout]. Delivery differs by design — legacy is batch-paced
    (needs a later micro-batch, any key), TWS fires a real per-key
    timer — so the harness differs per backend, but the OUTPUT contract
    is one and the same. (The FSM is defined HERE, not at module level:
    executors can't import the test module, so the factory must pickle
    by value through the closure.)"""

    def _idle_fsm():
        # Pelican-lite: 'push' (1) arms; the timeout sentinel (-1)
        # emits walk (99) and disarms — the feedback-loop scenario.
        def idle():
            return Get(lambda ev: armed() if ev == 1 else idle())

        def armed():
            return Get(lambda ev: Put(99, idle) if ev == -1 else armed())

        return idle()

    name = f"t_parity_timeout_{backend}"
    want_outs, _ = run_prefix(_idle_fsm(), [1, -1])
    assert want_outs == [99]  # the scenario's ground truth
    if backend == "legacy":
        chunks = [
            [("a", 0, 1)],
            [("b", 0, 0), ("b", 1, 0)],  # unrelated traffic paces batch 2
        ]
        runner_kw = dict(timeout_ms=1, timeout_event=-1)
        trigger = dict(availableNow=True)
    else:
        chunks = [[("a", 0, 1)]]
        runner_kw = dict(timeout_ms=200, timeout_event=-1)
        trigger = dict(processingTime="150 milliseconds")
    with tempfile.TemporaryDirectory() as tmp:
        stream = _chunked(spark, chunks, tmp)
        out = _runner(backend)(stream, _idle_fsm, "long", **runner_kw)
        # poll-then-stop, not awaitTermination: with a pending state
        # timeout an availableNow query may legitimately keep running
        q = (
            out.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(**trigger)
            .start()
        )
        try:
            deadline = time.time() + 90
            while time.time() < deadline:
                if (
                    spark.table(name).filter("key = 'a' AND value = 99").count()
                    >= 1
                ):
                    break
                time.sleep(0.25)
        finally:
            q.stop()
        rows = spark.table(name).collect()
    assert [(r["key"], r["value"]) for r in rows if r["key"] == "a"] == [
        ("a", 99)
    ]


def test_run_mealy_dispatcher_decision(spark):
    """r13 verdict ask #6: the default-backend decision is executable.
    On this box (Spark 4.x + vendored protobuf) auto resolves to TWS;
    capability feedback refuses the legacy backend outright; unknown
    names raise."""
    from rspl_spark.streaming import mealy_backend, run_mealy

    assert mealy_backend(spark) == ("tws" if TWS_AVAILABLE else "legacy")

    df = spark.createDataFrame([("a", 0, 1)], "key string, seq long, value long")

    def fsm():
        from rspl_spark.dsl.core import Get, Put

        def loop():
            return Get(lambda v: Put(v, loop))

        return loop()

    with pytest.raises(ValueError, match="timeout_capability"):
        run_mealy(df, fsm, "long", backend="legacy",
                  timeout_event=-1, timeout_capability=lambda v: 10)
    with pytest.raises(ValueError, match="unknown backend"):
        run_mealy(df, fsm, "long", backend="nope")
    if not TWS_AVAILABLE:
        with pytest.raises(RuntimeError, match="TWS backend"):
            run_mealy(df, fsm, "long", backend="auto",
                      timeout_event=-1, timeout_capability=lambda v: 10)
