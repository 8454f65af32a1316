"""Stateful DSL interpreter over Spark: runs ANY StreamProcessor term
(alternate, multi-Get windows, FSMs, stateful generate) with exact
reference semantics, distributed by stream key.

Model (SURVEY.md §1.3 / §7 "hard parts"): an rspl stream is a *sequence*;
Spark scale-out comes from keyed sub-streams. The rows are hash
partitioned by key and sorted by (key, seq) with Spark's external sort,
then one ``mapInArrow`` task per partition streams the sorted Arrow
batches, cuts them into key runs and feeds each run through the
trampolined ``eval_sp`` once. There is one Python boundary per
partition, not one per key. A single logical stream = one key — correct
but serial, exactly the trade the reference's totally-ordered semantics
force; at 100 TB you key the stream (per-user, per-session, per-device)
and every key runs in parallel.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DataType

from rspl_spark.dsl.core import StreamProcessor, eval_sp

_SINGLE_KEY = "__rspl_key__"


def _run_starts(prev: pa.Array | None, keys: pa.Array) -> np.ndarray:
    """Row indices of ``keys`` that start a new key run, where ``prev``
    is the (one-row) key of the run still open before row 0.

    Equality is ``groupBy``'s: all NULL keys are one key and so are all
    NaN keys, which a plain ``!=`` would split into one run per row."""
    both = keys if prev is None else pa.concat_arrays([prev, keys])
    head, tail = both[:-1], both[1:]
    try:
        ne = pc.fill_null(pc.not_equal(tail, head), False)
    except pa.ArrowNotImplementedError:  # nested keys: compare as Python values
        py = both.to_pylist()
        ne = pa.array([a != b for a, b in zip(py[1:], py[:-1])], pa.bool_())
    changed = ne.to_numpy(zero_copy_only=False)
    nulls = both.is_null().to_numpy(zero_copy_only=False)
    changed |= nulls[1:] != nulls[:-1]
    if pa.types.is_floating(both.type):
        nan = pc.fill_null(pc.is_nan(both), False).to_numpy(zero_copy_only=False)
        changed &= ~(nan[1:] & nan[:-1])
    if prev is None:
        return np.r_[0, np.flatnonzero(changed) + 1]
    return np.flatnonzero(changed)


def interpret_batch(
    sp: StreamProcessor,
    df: DataFrame,
    out_type: str,
    value_col: str = "value",
    seq_col: str = "seq",
    key_col: str | None = None,
) -> DataFrame:
    """Run ``sp`` over each key's seq-ordered sub-stream.

    Returns (key?, seq, value) where ``seq`` is the OUTPUT ordinal per key
    (rspl output streams are fresh sequences, src/lib.rs:249).
    ``out_type`` is the Spark DDL type of the output value (e.g. "long").
    """
    from pyspark.sql.pandas.serializers import GroupPandasUDFSerializer
    from pyspark.sql.pandas.types import to_arrow_schema

    from rspl_spark.session import grouped_map_parallelism

    single = key_col is None
    work = df.withColumn(_SINGLE_KEY, F.lit(0)) if single else df
    kcol = _SINGLE_KEY if single else key_col
    key_field = work.schema[kcol]
    schema = f"`{kcol}` {key_field.dataType.simpleString()}, `{seq_col}` long, `{value_col}` {out_type}"
    spark = work.sparkSession
    arrow_schema = to_arrow_schema(
        DataType.fromDDL(schema),
        prefers_large_types=spark.conf.get("spark.sql.execution.arrow.useLargeVarTypes") == "true",
    )
    value_type = arrow_schema.field(value_col).type
    # Values cross the boundary through pyspark's grouped-map pandas
    # converters: structs arrive as dicts, non-null longs stay ints, NaN
    # flows, and outputs are cast to the declared out_type.
    timezone = spark.conf.get("spark.sql.session.timeZone")
    safecheck = spark.conf.get("spark.sql.execution.pandas.convertToArrowArraySafely") == "true"

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import pandas as pd

        ser = GroupPandasUDFSerializer(timezone, safecheck, True, False)

        def out_batch(runs: list[tuple[pa.Array, list]]) -> pa.RecordBatch:
            """(key, seq, value) rows of finished runs, (one-row key, outputs) each."""
            counts = np.array([len(outs) for _, outs in runs], np.int64)
            run_of_row = np.repeat(np.arange(len(runs)), counts)
            first_row = np.cumsum(counts) - counts
            values = pd.Series([v for _, outs in runs for v in outs])
            return pa.RecordBatch.from_arrays(
                [
                    pa.concat_arrays([k for k, _ in runs]).take(run_of_row),
                    pa.array(np.arange(len(run_of_row)) - first_row[run_of_row]),
                    ser._create_array(values, value_type, arrow_cast=True),
                ],
                schema=arrow_schema,
            )

        open_key, open_vals = None, []  # the run still open at the batch edge
        for batch in batches:
            keys, values = batch.column(kcol), batch.column(value_col)
            # Fail-loud NULL contract for ALL value types: rspl streams
            # carry values, so a true Spark NULL is a caller error. After
            # pandas conversion an integral column with a NULL turns into
            # float64 and a float NULL into NaN, indistinguishable from a
            # legitimate NaN value; Arrow still tells them apart.
            if values.null_count:
                bad = keys[pc.index(values.is_null(), True).as_py()]
                raise ValueError(
                    f"interpret_batch: NULL value in stream (key {bad.as_py()!r});"
                    " rspl streams carry values, filter NULL rows first"
                )
            vals = ser.arrow_to_pandas(values, 0).to_numpy()
            bounds = np.r_[_run_starts(open_key, keys), len(batch)]
            open_vals.extend(vals[: bounds[0]].tolist())
            done = []
            for lo, hi in zip(bounds[:-1], bounds[1:]):
                if open_key is not None:
                    done.append((open_key, list(eval_sp(sp, open_vals))))
                open_key, open_vals = keys.slice(lo, 1), vals[lo:hi].tolist()
            if done:
                yield out_batch(done)
        if open_key is not None:
            yield out_batch([(open_key, list(eval_sp(sp, open_vals)))])

    # Multi-key streams pin the partition count: AQE coalesces an
    # exchange by shuffle-byte size, which is the wrong objective for a
    # Python-compute-bound stage (measured: 1M rows / 1000 keys landed
    # on 8 tasks of a 32-core box). An explicit repartition(N, key) is
    # exempt from AQE coalescing. N comes from the shared cluster-safe
    # helper (bare defaultParallelism under-pins with dynamic allocation
    # and breaks on Spark Connect). A single-key stream is inherently
    # serial (the reference's totally-ordered semantics): one partition.
    n_parts = 1 if single else grouped_map_parallelism(spark)
    out = (
        work.repartition(n_parts, kcol)
        .sortWithinPartitions(kcol, seq_col)
        .select(kcol, value_col)
        .mapInArrow(run, schema)
    )
    if single:
        return out.select(seq_col, value_col)
    return out


def to_stream_df(spark, values: Iterable, value_type: str = "long") -> DataFrame:
    """Build a (seq, value) stream DataFrame from driver-side values —
    the test-fixture analog of InfiniteList::cons chains
    (src/streams/infinite_lists.rs:19-24), finite-prefix style."""
    rows = [(i, v) for i, v in enumerate(values)]
    return spark.createDataFrame(rows, schema=f"seq long, value {value_type}")
