"""DSL-on-Spark: compiled path ≡ pure-Python eval; interpreter path runs
stateful terms with reference semantics."""

from __future__ import annotations

from pyspark.sql import functions as F

from rspl_spark.dsl import (
    alternate,
    bind,
    compile_batch,
    compose,
    eval_sp,
    filter_sp,
    generate_range,
    interpret_batch,
    map_sp,
)
from rspl_spark.dsl.compiler import CompileError, is_stateless
from rspl_spark.dsl.interpreter import to_stream_df
from rspl_spark.dsl.core import Get, Put

import pytest


def collect_values(df):
    return [r["value"] for r in df.orderBy("seq").collect()]


def test_compile_map_filter_chain(spark):
    sp = compose(filter_sp(lambda n: n % 2 == 0), map_sp(lambda n: n + 1))
    vals = list(range(20))
    df = to_stream_df(spark, vals)
    got = collect_values(compile_batch(sp, df))
    want = list(eval_sp(sp, vals))
    assert got == want == [n + 1 for n in vals if n % 2 == 0]


def test_compiled_plan_is_native(spark):
    """The lowered plan must contain no Python evaluation (BatchEvalPython /
    ArrowEvalPython) — the whole point of compiling (SURVEY §4)."""
    sp = compose(filter_sp(lambda n: n % 2 == 0), map_sp(lambda n: n * 10))
    df = to_stream_df(spark, range(100))
    plan = compile_batch(sp, df)._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan


def test_compile_bind_branches(spark):
    sp = bind(
        map_sp(lambda n: n == 0),
        lambda b: map_sp(lambda n: n + 1) if b else map_sp(lambda n: n - 1),
    )
    zero_first = [0, 10, 20]
    other = [5, 10, 20]
    for vals in (zero_first, other):
        df = to_stream_df(spark, vals)
        got = collect_values(compile_batch(sp, df))
        want = list(eval_sp(sp, vals))
        assert got == want


def test_compile_bind_empty_head(spark):
    sp = bind(filter_sp(lambda n: n > 100), lambda v: map_sp(lambda n: n))
    df = to_stream_df(spark, [1, 2, 3])
    assert collect_values(compile_batch(sp, df)) == []


def test_generate_range_closed_form(spark):
    df = generate_range(spark, 9, lambda i: i % 3)
    assert collect_values(df) == [0, 1, 2, 0, 1, 2, 0, 1, 2]


def test_stateful_rejected_by_compiler(spark):
    sp = alternate(filter_sp(lambda n: n > 0), filter_sp(lambda n: n < 0))
    assert not is_stateless(sp)
    with pytest.raises(CompileError):
        compile_batch(sp, to_stream_df(spark, [1, -1]))


def test_interpret_alternate(spark):
    """combinators.rs:226-238 sequence via the distributed interpreter."""
    sp = alternate(filter_sp(lambda n: n > 0), filter_sp(lambda n: n < 0))
    vals = [0, 1, 2, -1, -2, 1]
    df = to_stream_df(spark, vals)
    got = collect_values(interpret_batch(sp, df, "long"))
    assert got == [1, -1, 1]


def test_interpret_multi_get_window(spark):
    """basic.rs sp_aux generalized: pairwise swap; odd trailing element
    dropped (Get on exhausted input stops evaluation)."""

    def swap_forever():
        return Get(
            lambda n1: Get(lambda n2: Put(n2, lambda: Put(n1, swap_forever)))
        )

    vals = [1, 2, 3, 4, 5]
    df = to_stream_df(spark, vals)
    got = collect_values(interpret_batch(swap_forever(), df, "long"))
    assert got == [2, 1, 4, 3]


def test_interpret_keyed_substreams(spark):
    """Scale-out model: independent Mealy runs per key (SURVEY §7 hard
    parts — parallelism comes from keyed sub-streams)."""
    sp = compose(filter_sp(lambda n: n % 2 == 0), map_sp(lambda n: n * 100))
    rows = [(k, i, k * 10 + i) for k in range(4) for i in range(6)]
    df = spark.createDataFrame(rows, "key long, seq long, value long")
    out = interpret_batch(sp, df, "long", key_col="key")
    for k in range(4):
        got = [
            r["value"]
            for r in out.filter(F.col("key") == k).orderBy("seq").collect()
        ]
        want = list(eval_sp(sp, [k * 10 + i for i in range(6)]))
        assert got == want


def test_interpreter_matches_compiler(spark):
    """Same stateless term through both paths → identical streams."""
    sp = compose(filter_sp(lambda n: n % 3 != 0), map_sp(lambda n: n * 2))
    vals = list(range(50))
    df = to_stream_df(spark, vals)
    compiled = collect_values(compile_batch(sp, df))
    interpreted = collect_values(interpret_batch(sp, df, "long"))
    assert compiled == interpreted


def test_alternate_maps_pyfn_only_child_raises_compile_error(spark):
    """Review fix: a py_fn-only map child inside alternate raises the
    actionable CompileError, not a TypeError from calling None."""
    import pytest

    from rspl_spark.dsl.compiler import CompileError
    from rspl_spark.dsl.interpreter import to_stream_df

    df = to_stream_df(spark, [1, 2, 3, 4])
    sp = alternate(
        map_sp(lambda v: v, py_fn=lambda v: v * 2), map_sp(lambda v: v + 1)
    )
    with pytest.raises(CompileError, match="interpreter"):
        compile_batch(sp, df)


def test_alternate_maps_preserves_passthrough_columns(spark):
    """Review fix: the compiled alternate keeps pass-through columns
    (stream keys, metadata), matching the stateless paths' uniform
    output contract."""
    df = spark.createDataFrame(
        [(i, i * 10, f"m{i}") for i in range(6)],
        "seq long, value long, tag string",
    )
    sp = alternate(map_sp(lambda v: v * 10), map_sp(lambda v: v + 1))
    out = compile_batch(sp, df)
    assert set(out.columns) == {"seq", "value", "tag"}
    rows = {r["seq"]: (r["value"], r["tag"]) for r in out.collect()}
    want = list(eval_sp(sp, [i * 10 for i in range(6)]))
    for i in range(6):
        assert rows[i] == (want[i], f"m{i}")


def test_interpreter_rejects_null_stream_values(spark):
    """Review fix: a NULL value makes Arrow deliver the whole integral
    column as float64 (py_fn sees 1.0, not 1) — fail loudly instead of
    silent per-batch type drift."""
    import pytest

    from rspl_spark.dsl.interpreter import interpret_batch, to_stream_df

    df = spark.createDataFrame(
        [(0, 1), (1, None), (2, 3)], "seq long, value long"
    )
    with pytest.raises(Exception, match="NULL value in stream"):
        interpret_batch(
            map_sp(lambda v: v, py_fn=lambda v: v), df, out_type="long"
        ).collect()


def test_interpreter_rejects_null_in_float_streams(spark):
    """r14 ADVICE fix: a TRUE Spark NULL in a double-typed column must
    still fail loudly — pandas can't tell NULL from NaN after Arrow
    conversion, but the Arrow value column's null count can. (Pre-fix,
    float streams lost the fail-loud contract entirely: a genuine NULL
    silently entered the FSM as NaN.)"""
    import pytest

    from rspl_spark.dsl.interpreter import interpret_batch

    df = spark.createDataFrame(
        [(0, 1.0), (1, None), (2, 3.0)], "seq long, value double"
    )
    with pytest.raises(Exception, match="NULL value in stream"):
        interpret_batch(
            map_sp(lambda v: v * 2.0), df, out_type="double"
        ).collect()


def test_interpreter_allows_nan_in_float_streams(spark):
    """r13 ADVICE fix (mechanism updated r14): a legitimate NaN VALUE
    in a double-typed column must flow through, not raise — the NULL
    guard keys on Arrow nulls (NaN is not NULL), not on pandas isna
    (which conflates the two)."""
    import math

    from rspl_spark.dsl.interpreter import interpret_batch

    df = spark.createDataFrame(
        [(0, 1.0), (1, float("nan")), (2, 3.0)], "seq long, value double"
    )
    out = interpret_batch(
        map_sp(lambda v: v * 2.0), df, out_type="double"
    ).orderBy("seq").collect()
    assert len(out) == 3, "NaN row must flow through, not raise"
    assert [out[0]["value"], out[2]["value"]] == [2.0, 6.0]
    # the NaN slot comes back as NaN-or-NULL: pandas float columns use
    # NaN as the null marker, so the Arrow return bridge may render it
    # as NULL — either is the float identity Arrow assigns it
    v1 = out[1]["value"]
    assert v1 is None or math.isnan(v1)


def test_interpreter_multikey_parallelism_pinned(spark):
    """r13 perf fix: the multi-key grouped-map repartitions to
    defaultParallelism on the key so AQE's byte-size coalescing can't
    starve the Python-compute-bound stage (measured 8 tasks on 32
    cores before the pin). Assert the plan carries the explicit
    round-robin-free hash repartition and results are unchanged."""
    from rspl_spark.dsl.interpreter import interpret_batch

    df = spark.createDataFrame(
        [(k, i, k * 10 + i) for k in range(4) for i in range(3)],
        "k long, seq long, value long",
    )
    out = interpret_batch(
        map_sp(lambda v: v + 1), df, out_type="long", key_col="k"
    )
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "RepartitionByExpression" in plan, plan
    rows = {(r["k"], r["seq"]): r["value"] for r in out.collect()}
    assert rows[(2, 0)] == 21 and rows[(3, 2)] == 33


def _swap_forever():
    """Pairwise swap, built from local closures so Spark's workers get
    it by value (a module-level test function pickles by reference)."""

    def swap():
        return Get(lambda n1: Get(lambda n2: Put(n2, lambda: Put(n1, swap))))

    return swap()


def _per_key(out, key_col="key"):
    """{key: [value, ...] in output-seq order}; NaN keys map to "nan"."""
    got = {}
    for r in out.orderBy(key_col, "seq").collect():
        k = r[key_col]
        k = "nan" if isinstance(k, float) and k != k else k
        got.setdefault(k, []).append(r["value"])
    return got


def test_interpreter_key_runs_cross_arrow_batches(spark):
    """A key's rows span several Arrow batches (7 rows per batch): the
    run left open at a batch edge carries over, so each key still sees
    its whole stream in one eval_sp (the swap pairs straddle edges)."""
    rows = [(k, i, k * 100 + i) for k in range(5) for i in range(23)]
    df = spark.createDataFrame(rows, "key long, seq long, value long")
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "7")
    try:
        got = _per_key(interpret_batch(_swap_forever(), df, "long", key_col="key"))
    finally:
        spark.conf.set(conf, old)
    want = {k: list(eval_sp(_swap_forever(), [k * 100 + i for i in range(23)])) for k in range(5)}
    assert got == want


def test_interpreter_null_and_nan_keys_form_one_group_each(spark):
    """As with groupBy, all NULL keys are one key and all NaN keys are
    one key; a plain elementwise != would split them row by row."""
    keys = [1.0, float("nan"), None, 2.0]
    rows = [(k, i, i) for i in range(6) for k in keys]
    df = spark.createDataFrame(rows, "key double, seq long, value long")
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "4")
    try:
        got = _per_key(interpret_batch(_swap_forever(), df, "long", key_col="key"))
    finally:
        spark.conf.set(conf, old)
    want = list(eval_sp(_swap_forever(), list(range(6))))
    assert got == {1.0: want, "nan": want, None: want, 2.0: want}


@pytest.mark.parametrize(
    "key_type, keys",
    [("string", ("a", None, "b")), ("struct<id: long>", ((1,), None, (2,)))],
)
def test_interpreter_null_string_and_struct_keys(spark, key_type, keys):
    """NULL string keys group together; struct keys (no Arrow compare
    kernel) fall back to comparing Python values."""
    rows = [(k, i, i) for i in range(4) for k in keys]
    df = spark.createDataFrame(rows, f"key {key_type}, seq long, value long")
    got = _per_key(interpret_batch(_swap_forever(), df, "long", key_col="key"))
    want = [1, 0, 3, 2]
    assert got == {k: want for k in keys}


def test_interpreter_silent_key_and_empty_input(spark):
    """A key whose term emits nothing contributes no rows; an empty
    input gives an empty result with the declared schema."""
    sp = filter_sp(lambda v: v >= 10)
    rows = [(k, i, k * 10 + i) for k in range(3) for i in range(4)]
    df = spark.createDataFrame(rows, "key long, seq long, value long")
    got = _per_key(interpret_batch(sp, df, "long", key_col="key"))
    assert got == {1: [10, 11, 12, 13], 2: [20, 21, 22, 23]}

    empty = interpret_batch(sp, df.limit(0), "long", key_col="key")
    assert empty.collect() == []
    assert empty.columns == ["key", "seq", "value"]
    assert interpret_batch(sp, to_stream_df(spark, []), "long").collect() == []


def test_interpreter_string_and_struct_out_types(spark):
    """Struct values arrive as dicts, and outputs are cast to the
    declared out_type: strings, and structs built from dicts."""
    df = spark.createDataFrame(
        [(0, "x", 1.5), (1, "y", 2.5)], "seq long, kind string, v double"
    ).select("seq", F.struct("kind", "v").alias("value"))
    as_str = interpret_batch(map_sp(lambda e: f"{e['kind']}={e['v']}"), df, "string")
    assert collect_values(as_str) == ["x=1.5", "y=2.5"]

    flip = map_sp(lambda e: {"name": e["kind"].upper(), "n": int(e["v"])})
    as_struct = interpret_batch(flip, df, "struct<name: string, n: long>")
    assert [r.asDict() for r in collect_values(as_struct)] == [
        {"name": "X", "n": 1},
        {"name": "Y", "n": 2},
    ]


def test_interpreter_prepares_python_worker(spark):
    """Every interpret_batch task runs with the stat-keyed zipimport
    invalidation of ``rspl_spark.pyworker`` installed (a no-op, so no
    marker, where zipimport is already lazy)."""
    import zipimport

    from rspl_spark.pyworker import MARKER

    want = not hasattr(zipimport.zipimporter, "_get_files")
    sp = map_sp(lambda _v: hasattr(zipimport.zipimporter.invalidate_caches, MARKER))
    rows = [(k, i, i) for k in range(16) for i in range(3)]
    df = spark.createDataFrame(rows, "key long, seq long, value long")
    got = [r["value"] for r in interpret_batch(sp, df, "boolean", key_col="key").collect()]
    assert got == [want] * len(rows)
