"""DSL → DataFrame compiler: the stateless fragment lowers to native
Catalyst expressions (SURVEY.md §7 step 3: "compile, don't emulate").

Stream encoding: a batch DataFrame with a ``seq`` (long, total order) and a
``value`` column — Spark DataFrames are unordered multisets, rspl streams
are sequences, so order is explicit data (SURVEY.md §1.3).

Lowering rules:
- ``MapSP(f)``      → ``select(seq, f(value))``      (narrow, codegen'd)
- ``FilterSP(p)``   → ``filter(p(value))``           (pushdown-eligible)
- ``ComposeSP``     → chained transforms — Catalyst's CollapseProject /
  CombineFilters subsume the reference's Put/Get fusion
  (src/combinators.rs:101-120 vs. whole-stage codegen)
- ``GenerateSP`` with a closed form → ``spark.range(n).select(expr(seq))``
- ``BindSP(sp, f)`` with stateless sp → driver-side branch: compute the
  first emission (``limit(1)`` on the compiled prefix), build the
  downstream plan from it (src/combinators.rs:43-73 — control flow lives
  in the driver, not in one static plan)
- ``AlternateSP`` and other stateful terms → ``CompileError``; callers
  fall back to rspl_spark.dsl.interpreter.

At scale: every lowered op is a narrow transformation over the existing
partitioning — no shuffle is introduced by the DSL layer itself.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from rspl_spark.dsl.combinators import (
    AlternateSP,
    BindSP,
    ComposeSP,
    FilterSP,
    GenerateSP,
    MapSP,
)
from rspl_spark.dsl.core import StreamProcessor
from rspl_spark.plan_stats import shuffle_width


class CompileError(Exception):
    """Term is outside the compilable (stateless) fragment."""


def is_stateless(sp: StreamProcessor) -> bool:
    if isinstance(sp, (MapSP, FilterSP)):
        return True
    if isinstance(sp, ComposeSP):
        return is_stateless(sp.sp1) and is_stateless(sp.sp2)
    return False


def _stages(sp: StreamProcessor) -> list:
    """Flatten compose chains into pipeline order (upstream first)."""
    if isinstance(sp, ComposeSP):
        return _stages(sp.sp1) + _stages(sp.sp2)
    return [sp]


def compile_batch(
    sp: StreamProcessor,
    df: DataFrame,
    value_col: str = "value",
    seq_col: str = "seq",
    dense_seq: bool = False,
) -> DataFrame:
    """Compile ``sp`` against a (seq, value) DataFrame.

    Returns a DataFrame with the same two columns; ``seq`` keeps the
    source ordinal (gaps after filters — order, not contiguity, is the
    contract). ``dense_seq=True`` declares the input ordinals dense and
    0-based (generate / to_stream_df streams), letting position-dependent
    lowerings (alternate parity) use ``seq`` directly instead of
    computing an ordinal.
    """
    if isinstance(sp, BindSP):
        return _compile_bind(sp, df, value_col, seq_col)
    if isinstance(sp, AlternateSP):
        return _compile_alternate_maps(sp, df, value_col, seq_col, dense_seq=dense_seq)
    if not is_stateless(sp):
        raise CompileError(
            f"{type(sp).__name__} is stateful — use rspl_spark.dsl.interpreter"
        )
    out = df
    for stage in _stages(sp):
        if stage.expr_fn is None:
            raise CompileError(
                f"{type(stage).__name__} was built with py_fn only — "
                "interpreter-only stage; use rspl_spark.dsl.interpreter"
            )
        v = F.col(value_col)
        if isinstance(stage, FilterSP):
            out = out.filter(stage.expr_fn(v))
        elif isinstance(stage, MapSP):
            # withColumn, not a 2-column select: pass-through columns
            # (stream keys, metadata) survive map stages exactly as they
            # survive filter stages — a uniform output contract.
            out = out.withColumn(value_col, stage.expr_fn(v))
        else:  # pragma: no cover
            raise CompileError(f"unexpected stage {type(stage).__name__}")
    return out


def _compile_bind(sp: BindSP, df: DataFrame, value_col: str, seq_col: str) -> DataFrame:
    """Driver-side plan branching (src/combinators.rs:43-73): the first
    emission of sp.sp selects — but is not part of — the output stream."""
    if not is_stateless(sp.sp):
        raise CompileError("bind head must be stateless for compilation")
    # Pin the input lineage: the head's limit(1).collect() job and the
    # caller's later execution of the returned plan both read df —
    # without this, an expensive upstream (join, parse) computes twice.
    df = df.localCheckpoint(eager=False)
    head = compile_batch(sp.sp, df, value_col, seq_col)
    first = head.orderBy(seq_col).limit(1).collect()
    if not first:
        # Head never emits: the bound processor is never selected; the
        # output stream is empty (the reference would simply never Put).
        # SCHEMA CAVEAT: this empty frame carries the INPUT value type —
        # the non-empty path's type is whatever f's compiled plan emits,
        # which cannot be known without a head value (bind IS
        # data-dependent plan selection). Callers unioning against a
        # fixed schema must cast the value column themselves.
        return df.filter(F.lit(False))
    row = first[0]
    rest = df.filter(F.col(seq_col) > row[seq_col])
    return compile_batch(sp.f(row[value_col]), rest, value_col, seq_col)


def with_dense_ordinal(df: DataFrame, seq_col: str, ord_col: str) -> DataFrame:
    """Dense 0-based ordinal following ``seq`` order WITHOUT a
    single-task global sort: range-partition by seq (parallel shuffle),
    pin the sampled range boundaries with a checkpoint so both passes
    see identical partitions, count rows per partition (tiny driver-side
    list), then per-partition row_number + broadcast cumulative offsets.
    Every stage is parallel; the driver holds one int per partition.
    """
    from pyspark.sql.window import Window

    n_parts = shuffle_width(df.sparkSession)
    d = df.repartitionByRange(n_parts, F.col(seq_col)).localCheckpoint(eager=False)
    pid = F.spark_partition_id()
    counts = {
        r["pid"]: r["n"]
        for r in d.groupBy(pid.alias("pid")).agg(F.count(F.lit(1)).alias("n")).collect()
    }
    offsets, acc = [], 0
    for p in sorted(counts):  # range partitions are ordered by seq range
        offsets.extend((F.lit(p), F.lit(acc)))
        acc += counts[p]
    omap = F.create_map(*offsets) if offsets else F.create_map()
    w = Window.partitionBy("_pid").orderBy(seq_col)
    return (
        d.withColumn("_pid", pid)
        .withColumn(
            ord_col,
            (
                F.row_number().over(w)
                - 1
                + F.coalesce(F.element_at(omap, F.col("_pid")), F.lit(0))
            ).cast("long"),
        )
        .drop("_pid")
    )


def _compile_alternate_maps(
    sp: AlternateSP,
    df: DataFrame,
    value_col: str,
    seq_col: str,
    dense_seq: bool = False,
) -> DataFrame:
    """Special case: ``alternate(map f, map g)`` — both children are pure
    1-in/1-out maps, so emission index == input index and the active side
    is simply the input ordinal's parity (SURVEY §2.1 R7: the general
    case, where children filter, is NOT position-aligned and goes to the
    interpreter).

    The parity ordinal: ``seq`` itself when the caller declares it dense
    (``dense_seq=True`` — generate/to_stream_df streams; zero cost),
    otherwise :func:`with_dense_ordinal` — parallel range partitioning +
    per-partition numbering, NOT a single-task global window.
    """
    if not (isinstance(sp.sp1, MapSP) and isinstance(sp.sp2, MapSP)):
        raise CompileError(
            "alternate compiles only for pure map children — use the interpreter"
        )
    if sp.sp1.expr_fn is None or sp.sp2.expr_fn is None:
        # py_fn-only children are interpreter-only, same contract as the
        # stateless path — the actionable CompileError, not a TypeError
        # from calling None mid-compile
        raise CompileError(
            "alternate child has no expression form (py_fn-only) — use"
            " the interpreter (to_df(out_type=...))"
        )
    # withColumn, not a 2-column select: pass-through columns (stream
    # keys, metadata) survive exactly as the stateless compile path
    # guarantees — the uniform output contract must not depend on which
    # combinator the caller swapped in
    v = F.col(value_col)
    if dense_seq:
        rn = F.col(seq_col)
        out = F.when(rn % 2 == 0, sp.sp1.expr_fn(v)).otherwise(sp.sp2.expr_fn(v))
        return df.withColumn(value_col, out)
    d = with_dense_ordinal(df, seq_col, "_ord")
    out = F.when(F.col("_ord") % 2 == 0, sp.sp1.expr_fn(v)).otherwise(sp.sp2.expr_fn(v))
    return d.withColumn(value_col, out).drop("_ord")


def generate_range(
    spark: SparkSession,
    n: int,
    index_expr,
    value_col: str = "value",
    seq_col: str = "seq",
) -> DataFrame:
    """Closed-form ``generate`` (src/combinators.rs:156-183): materialize n
    elements of the unfold as ``spark.range`` + expression — fully
    parallel, no state carried."""
    idx = F.col("id")
    expr = index_expr(idx)
    if not isinstance(expr, Column):
        expr = F.lit(expr)
    return spark.range(n).select(idx.alias(seq_col), expr.alias(value_col))
