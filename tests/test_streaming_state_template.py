"""Fast-tier check of the keyed streaming-state template
(``streaming/stateful.py::keyed_state_stream``), the one runner of every
``applyInPandasWithState`` operator.

Two micro-batches replayed with ``maxRecordsPerBatch=2``: each key's
rows are written newest-first, so a key's micro-batch reaches the
operator as several Arrow chunks in reverse order. The input holds a
NULL key. ``run_mealy_stream`` (pickled state) and ``ewma_stream``
(typed state) must carry their state across the batch edge, see each
key's rows in order, and keep the NULL key NULL (not the string
``"None"``).
"""

from __future__ import annotations

import datetime as dt
import tempfile

from rspl_spark.dsl import eval_sp, map_sp
from rspl_spark.dsl.core import Get, Put
from rspl_spark.streaming import (
    ewma_stream,
    file_stream,
    run_mealy_stream,
    write_stream_chunks,
)
from rspl_spark.streaming.sources import run_to_memory_sink

_CONF = "spark.sql.execution.arrow.maxRecordsPerBatch"


def _replay(spark, batches, schema, build, name):
    """Run ``build(stream)`` over one chunk file per batch, rows of
    each batch written in reverse, under 2-row Arrow chunks."""
    old = spark.conf.get(_CONF)
    spark.conf.set(_CONF, "2")
    try:
        with tempfile.TemporaryDirectory() as tmp:
            dfs = [spark.createDataFrame(rows[::-1], schema) for rows in batches]
            write_stream_chunks(spark, tmp, dfs)
            run_to_memory_sink(build(file_stream(spark, tmp, schema)), name)
    finally:
        spark.conf.set(_CONF, old)
    return spark.table(name).collect()


def test_mealy_stream_orders_chunks_and_keeps_null_key(spark):
    # defined here, not at module level: workers unpickle it by value
    def _swap():
        return Get(lambda a: Get(lambda b: Put(b, lambda: Put(a, _swap))))

    per_key = {"a": [1, 2, 3, 4, 5, 6, 7], None: [10, 20, 30, 40, 50]}
    # batch 1 leaves one value of each key pending in state
    batches = [
        [("a", i, v) for i, v in enumerate(per_key["a"][:5])]
        + [(None, i, v) for i, v in enumerate(per_key[None][:3])],
        [("a", i, v) for i, v in enumerate(per_key["a"][5:], 5)]
        + [(None, i, v) for i, v in enumerate(per_key[None][3:], 3)],
    ]
    rows = _replay(
        spark, batches, "key string, seq long, value long",
        lambda s: run_mealy_stream(s, _swap, "long"), "t_template_mealy",
    )
    got = {k: [r["value"] for r in sorted(rows, key=lambda r: r["seq"]) if r["key"] == k]
           for k in per_key}
    assert {r["key"] for r in rows} == {"a", None}
    assert got == {k: list(eval_sp(_swap(), vs)) for k, vs in per_key.items()}
    assert sorted(r["seq"] for r in rows if r["key"] is None) == [0, 1, 2, 3]


def test_mealy_stream_prepares_python_worker(spark):
    """The keyed-state template runs every key with the stat-keyed
    zipimport invalidation of ``rspl_spark.pyworker`` installed."""
    import zipimport

    from rspl_spark.pyworker import MARKER

    want = not hasattr(zipimport.zipimporter, "_get_files")
    sp = map_sp(lambda _v: hasattr(zipimport.zipimporter.invalidate_caches, MARKER))
    batches = [[("a", 0, 1), ("b", 0, 2)], [("a", 1, 3), ("c", 0, 4)]]
    rows = _replay(
        spark, batches, "key string, seq long, value long",
        lambda s: run_mealy_stream(s, lambda: sp, "boolean"), "t_template_prepared",
    )
    assert [r["value"] for r in rows] == [want] * 4


def _ewma(xs):
    n = len(xs)
    num = sum(x * 2.0 ** -(n - 1 - i) for i, x in enumerate(xs))
    return round(num / (2.0 - 2.0 ** -(n - 1)), 6)


def test_ewma_stream_carries_window_and_keeps_null_key(spark):
    t0 = dt.datetime(2024, 1, 1)
    hour = dt.timedelta(hours=1)
    vals = {"u": [1.0, 2.0, 4.0, 8.0, 16.0], None: [3.0, 5.0, 7.0, 9.0]}
    # batch 1: three rows of u and two of the NULL key; batch 2 the rest
    batches = [
        [(k, t0 + i * hour, v) for k, vs in vals.items() for i, v in enumerate(vs) if i < 3 - (k is None)],
        [(k, t0 + i * hour, v) for k, vs in vals.items() for i, v in enumerate(vs) if i >= 3 - (k is None)],
    ]
    rows = _replay(
        spark, batches, "k string, t timestamp, v double",
        lambda s: ewma_stream(s, "k", "t", "v", window=3), "t_template_ewma",
    )
    got = {(r["k"], r["t"]): r["ewma"] for r in rows}
    want = {
        (k, t0 + i * hour): _ewma(vs[max(0, i - 2): i + 1])
        for k, vs in vals.items()
        for i in range(len(vs))
    }
    assert got == want
