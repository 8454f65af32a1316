"""Streaming analytics: keyed incremental funnel over an event stream.

The batch funnel (``queries/relational3.py::q_funnel``) computes stage k's
minimum timestamp among events strictly after stage k-1's minimum — three
keyed aggregation passes. The streaming form is the rspl way to get the
same answer incrementally (tests/events.rs:32-55 states-as-continuations):
per-user state is simply "which stages have been reached, and when"; each
micro-batch advances it by scanning the user's new events in timestamp
order. The two formulations agree whenever events arrive in timestamp
order across micro-batches (the finite-prefix tests feed ts-ordered
chunks); an out-of-order arrival that would have completed an earlier
stage is missed — the batch op is the backstop for full-history replay,
exactly as with dedup (``operators/dedup_store.py``).

Scale model: state per user is a fixed-length list of longs (one per
stage) — O(users × stages) total, bounded, no growth with event volume.
The funnel and the cohort-retention twin are step functions on the
keyed-state template (``streaming/stateful.py::keyed_state_stream``).
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType, StructField, StructType

from rspl_spark.streaming.stateful import keyed_state_stream

_FUNNEL_STATE = StructType([StructField("reached_ns", ArrayType(LongType()))])


_BATCH_PROP = "rspl.stream.last_batch"
_IDENT_PROP = "rspl.stream.identity"


def merge_stream_batch(
    spark,
    batch_df: DataFrame,
    batch_id: int,
    store: str,
    keys: list[str],
    measures: dict[str, tuple[str, str]],
    identity: str,
) -> bool:
    """Fold ONE micro-batch into the store, exactly once: skip if the
    store's table properties already record this (identity, batch_id)
    as merged — the replay of a committed batch after a crash between
    merge and checkpoint commit. Data and the merged-batch record swap
    in atomically (``merge_increment(props=...)``), so there is no
    window where one is visible without the other. Returns True when
    the batch was folded, False when it was skipped as already merged.

    ``identity`` names the batch-id lineage (the checkpoint's embedded
    UUID marker, :func:`_checkpoint_identity`): batch ids only mean
    "same batch" within one checkpoint STATE, so a fresh or wiped
    checkpoint resets the guard rather than wrongly skipping batch 0.
    Single-writer contract, like every store mutation here.
    """
    from rspl_spark.operators.agg_store import merge_increment
    from rspl_spark.operators.store import table_properties

    props = table_properties(spark, store) or {}
    last = props.get(_BATCH_PROP)
    if (
        props.get(_IDENT_PROP) == identity
        and last is not None
        and batch_id <= int(last)
    ):
        return False
    merge_increment(
        spark, batch_df, store, keys, measures,
        props={_IDENT_PROP: identity, _BATCH_PROP: str(batch_id)},
        known_props=props,
    )
    return True


def _checkpoint_identity(spark, checkpoint: str) -> str:
    """The batch-id lineage identity for a checkpointed stream: a UUID
    marker stored INSIDE the checkpoint directory, so the identity
    lives and dies with the checkpoint STATE rather than its path.
    A restart against an intact checkpoint reads the same marker (its
    replayed batch ids are genuinely the same batches — skip is
    correct); wiping the checkpoint to reprocess destroys the marker
    with the offsets, so the next run mints a fresh identity and the
    guard resets instead of silently skipping the new run's batches
    0..N, which restart at 0 over genuinely new data (keying on the
    PATH would conflate those two runs). Goes through the Hadoop
    FileSystem API, so it works on any scheme the checkpoint itself
    works on (file://, hdfs://, s3a://), not just the local disk."""
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(checkpoint, "rspl-identity")
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(path):
        reader = jvm.java.io.BufferedReader(
            jvm.java.io.InputStreamReader(fs.open(path), "UTF-8")
        )
        try:
            marker = reader.readLine()
        finally:
            reader.close()
        if marker:
            return marker.strip()
    marker = f"ck-{uuid.uuid4().hex}"
    out = fs.create(path, False)  # fail if raced — single-writer contract
    try:
        out.write(bytearray(marker.encode("utf-8")))
    finally:
        out.close()
    return marker


def stream_merge_into_agg_store(
    stream_df: DataFrame,
    store: str,
    keys: list[str],
    measures: dict[str, tuple[str, str]],
    checkpoint: str | None = None,
    trigger_available_now: bool = True,
):
    """Streaming rollup maintenance: each micro-batch folds into the
    persisted partial-aggregate store (``operators/agg_store.py``) via
    ``foreachBatch`` + ``merge_increment`` — the live counterpart of the
    daily batch merge, against the SAME artifact.

    Why foreachBatch and not a streaming aggregation: a windowless
    global streaming agg holds ALL group state in the state store
    forever and can only emit in complete/update mode; the store merge
    keeps Spark's streaming state empty (the store IS the state, shared
    with batch jobs and queryable by anything at any time).

    Exactly-once: the store's table properties record the last merged
    (checkpoint, batch_id), committed atomically with the merged data
    in the same catalog swap — a batch replayed after a crash between
    the merge and the checkpoint commit is recognized and SKIPPED
    (:func:`merge_stream_batch`), closing the double-count window a
    bare side-effecting sink has. The identity is a UUID marker stored
    INSIDE the checkpoint directory (:func:`_checkpoint_identity`):
    restarting against an intact checkpoint keeps the identity (replays
    skip), while wiping the checkpoint to reprocess destroys the marker
    with the offsets, so the new run's batches — whose ids restart at 0
    over genuinely new data — are never wrongly skipped. Without a
    ``checkpoint`` the identity is a fresh UUID per call: within-run
    retries still dedup, and a later no-checkpoint run never collides
    with a previous run's record. Returns the started StreamingQuery.
    """

    identity = (
        _checkpoint_identity(stream_df.sparkSession, checkpoint)
        if checkpoint
        else f"run-{uuid.uuid4().hex}"
    )

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        merge_stream_batch(
            batch_df.sparkSession, batch_df, batch_id, store, keys,
            measures, identity,
        )

    writer = stream_df.writeStream.foreachBatch(fold).outputMode("append")
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def streaming_funnel(
    events: DataFrame,
    stages: list[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Incremental ordered funnel: one output row per (user, micro-batch)
    with the number of stages reached so far and each stage's timestamp
    (epoch nanoseconds; entries beyond ``n_reached`` absent).

    Advancement rule matches the batch aggregation: an event advances the
    funnel iff its type is the next expected stage AND its timestamp is
    strictly greater than the previous stage's timestamp (q_funnel's
    ``ts > t_prev``; a purchase at exactly t_click does not count).

    Output: ``user string, n_reached long, stage_ts_ns array<long>``.
    Append mode — downstream takes each user's latest row (max n_reached)
    for the current funnel position.
    """
    n_stages = len(stages)

    def step(_user, st, batch, _now):
        reached = list(st[0])
        # NULL timestamps can't advance a funnel (dropped by the
        # template): the batch oracle's min-over-when ignores them, and
        # unguarded NaT becomes int64 min, falsely advancing the stage
        # with a garbage ts. Ts ties don't matter (strict >).
        ts_ns = batch[ts_col].astype("int64").tolist()
        for t, et in zip(ts_ns, batch[type_col].tolist()):
            if (
                len(reached) < n_stages
                and et == stages[len(reached)]
                and (not reached or t > reached[-1])
            ):
                reached.append(t)
        return (reached,), [(len(reached), reached)]

    return keyed_state_stream(
        events.select(user_col, ts_col, type_col),
        user_col,
        step,
        _FUNNEL_STATE,
        lambda: ([],),
        [("n_reached", "long"), ("stage_ts_ns", "array<long>")],
        order=[ts_col],
        notna=[ts_col],
        key_out="user",
    )


def streaming_cms(
    stream_df: DataFrame, key_col: str, w: int = 64, d: int = 3,
    weight_col: str | None = None,
) -> DataFrame:
    """Streaming count-min sketch: live heavy-hitter frequencies over an
    unbounded key stream with PROVABLY bounded state.

    This is the rare case where a global (windowless) streaming
    aggregation is the right scale design: the group key is (i, bucket),
    so the state store holds at most d*w integer cells FOREVER — the
    sketch IS the state, and an unbounded token stream never grows it
    (contrast streaming_lsh_dedup, which needs TTL eviction because its
    per-bucket signature state tracks the corpus). Run with
    outputMode("complete") — the full sketch re-emits per batch and is
    cell-for-cell equal to the batch :func:`~rspl_spark.operators.
    sketches.cms_sketch` of everything ingested so far (mergeability:
    micro-batch partials add exactly like partition partials); probe it
    with ``cms_estimate`` at any time.

    The batch kernel itself, as with ``pq_encode`` and ``kmeans_assign``
    on a stream: cms_sketch's plan works unchanged on a streaming frame,
    so batch and stream cannot drift apart.
    """
    from rspl_spark.operators.sketches import cms_sketch

    return cms_sketch(stream_df, key_col, w=w, d=d, weight_col=weight_col)


def run_complete_to_memory(stream_df: DataFrame, name: str, timeout_s: int = 120):
    """Drive an aggregating stream to completion into a memory table in
    COMPLETE mode (the whole aggregate re-emitted each batch)."""
    from rspl_spark.streaming.sources import run_to_memory_sink

    return run_to_memory_sink(
        stream_df, name, timeout_s=timeout_s, output_mode="complete"
    )


def streaming_hll(
    stream_df: DataFrame,
    key_col: str,
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Streaming HyperLogLog registers: live distinct-count over an
    unbounded key stream with PROVABLY bounded state.

    Same windowless-aggregation argument as :func:`streaming_cms`: the
    group key is (group..., idx), so the state store holds at most m
    register rows per group FOREVER — max() merges micro-batch partials
    exactly like partition partials, so the complete-mode output is
    register-for-register equal to the batch
    :func:`~rspl_spark.operators.sketches.hll_registers` of everything
    ingested so far. Feed the emitted registers to ``hll_estimate`` (a
    batch read of the memory/delta sink) for the live cardinality.

    Delegate-to-the-batch-kernel: hll_registers' plan works unchanged on
    a streaming frame, so batch and stream cannot drift apart."""
    from rspl_spark.operators.sketches import hll_registers

    return hll_registers(stream_df, key_col, group_cols=group_cols)


def streaming_hist(
    stream_df: DataFrame,
    col: str,
    lo: float,
    hi: float,
    nbins: int = 256,
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Streaming fixed-range histogram: live quantile sketching over an
    unbounded stream with at most nbins state rows per group
    (out-of-range values clamp into the edge bins 0 / nbins-1; NULLs
    AND NaNs are filtered before binning — NULL to match batch
    hist_quantiles' COUNT(col) semantics, NaN because floor(NaN)
    silently lands in bin 0 and deflates low quantiles with junk
    readings; neither is a measurement).

    The batch :func:`~rspl_spark.operators.sketches.hist_quantiles`
    derives [lo, hi] from the data — a second pass a stream cannot
    take; the streaming form pins the range up front (dashboards know
    their axis) and clamps outliers into the edge bins. Counts merge by
    addition across micro-batches exactly like partition partials, so
    complete-mode output equals the batch bin counts of everything
    ingested; interpolate quantiles from the sink with the same
    formula."""
    if hi <= lo:
        raise ValueError("streaming_hist: hi must exceed lo")
    width = (hi - lo) / float(nbins)
    c = F.col(col).cast("double")
    bin_ = F.greatest(
        F.lit(0),
        F.least(
            F.lit(nbins - 1),
            F.floor((c - lo) / width).cast("int"),
        ),
    )
    return (
        stream_df.filter(c.isNotNull() & ~F.isnan(c))
        .select(*group_cols, bin_.alias("bin"))
        .groupBy(*group_cols, "bin")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def _start_complete_foreach(stream_df, emit, checkpoint, trigger_available_now):
    writer = stream_df.writeStream.foreachBatch(emit).outputMode("complete")
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_hll_with_live_estimate(
    stream_df: DataFrame,
    key_col: str,
    estimates_path: str,
    group_cols: tuple[str, ...] = (),
    checkpoint: str | None = None,
    trigger_available_now: bool = True,
):
    """Streaming HLL that also maintains a LIVE estimates table: each
    micro-batch overwrites ``estimates_path`` with
    ``hll_estimate``(current registers) — one row per group, queryable
    by anything at any time, no register math at read time.

    The registers flow in complete mode, so the foreachBatch sees the
    FULL register table (state-store bounded at m rows per group) each
    batch; the estimate recompute is an aggregation over that <= m-row
    frame — driver-light however large the ingested stream. Overwrite
    per batch makes the sink trivially idempotent under replay (unlike
    the merge-into-store sinks): re-emitting batch n rewrites the same
    estimates. Returns the started StreamingQuery."""
    from rspl_spark.operators.sketches import hll_estimate

    def emit(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        hll_estimate(batch_df, group_cols).coalesce(1).write.mode(
            "overwrite"
        ).parquet(estimates_path)

    regs = streaming_hll(stream_df, key_col, group_cols=group_cols)
    return _start_complete_foreach(regs, emit, checkpoint, trigger_available_now)


def stream_hist_with_live_estimate(
    stream_df: DataFrame,
    col: str,
    lo: float,
    hi: float,
    estimates_path: str,
    nbins: int = 256,
    qs: tuple[float, ...] = (0.5, 0.95, 0.99),
    group_cols: tuple[str, ...] = (),
    checkpoint: str | None = None,
    trigger_available_now: bool = True,
):
    """Streaming fixed-range histogram with a LIVE quantile-estimates
    table: each micro-batch overwrites ``estimates_path`` with
    ``hist_estimate_from_bins`` over the current bin counts — the same
    interpolation formula as the batch path, applied to a <= nbins-row
    frame. Same complete-mode/overwrite contract as
    :func:`stream_hll_with_live_estimate`."""
    from rspl_spark.operators.sketches import hist_estimate_from_bins

    def emit(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        hist_estimate_from_bins(
            batch_df, lo, hi, nbins, qs=qs, group_cols=group_cols
        ).coalesce(1).write.mode("overwrite").parquet(estimates_path)

    bins = streaming_hist(stream_df, col, lo, hi, nbins, group_cols=group_cols)
    return _start_complete_foreach(bins, emit, checkpoint, trigger_available_now)


def stream_cms_with_live_estimate(
    stream_df: DataFrame,
    key_col: str,
    probe_keys: list,
    estimates_path: str,
    w: int = 64,
    d: int = 3,
    weight_col: str | None = None,
    checkpoint: str | None = None,
    trigger_available_now: bool = True,
):
    """Streaming CMS that also maintains a LIVE frequency-estimates
    table for a FIXED probe-key list (the heavy-hitter suspects a
    dashboard watches): each micro-batch overwrites ``estimates_path``
    with ``cms_estimate`` over the current <= d*w-cell sketch. Same
    complete-mode/overwrite contract as the HLL/hist live estimates —
    the sketch trio now all close the loop from state to a queryable
    number."""
    from rspl_spark.operators.sketches import cms_estimate

    # probe-key frame typed from the INPUT stream, not hardcoded
    # string: numeric probe keys against a numeric key_col would
    # crash createDataFrame inside the running query otherwise
    key_t = stream_df.schema[key_col].dataType.simpleString()

    def emit(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        keys_df = batch_df.sparkSession.createDataFrame(
            [(k,) for k in probe_keys], f"`{key_col}` {key_t}"
        )
        cms_estimate(batch_df, keys_df, key_col, w=w, d=d).coalesce(1).write.mode(
            "overwrite"
        ).parquet(estimates_path)

    sk = streaming_cms(stream_df, key_col, w=w, d=d, weight_col=weight_col)
    return _start_complete_foreach(sk, emit, checkpoint, trigger_available_now)


def streaming_bloom(
    stream_df: DataFrame, key_col: str, m_bits: int = 1 << 14, k: int = 3
) -> DataFrame:
    """Streaming Bloom filter: live membership sketch over an unbounded
    key stream with PROVABLY bounded state — the group key is word, so
    the state store holds at most ceil(m_bits/60) rows FOREVER; BIT_OR
    merges micro-batch partials exactly like partition partials
    (complete-mode output == batch bloom_build of everything ingested).
    Same delegate-to-the-batch-kernel pattern as streaming_cms/hll."""
    from rspl_spark.operators.sketches import bloom_build

    return bloom_build(stream_df, key_col, m_bits=m_bits, k=k)


_COHORT_STATE = StructType(
    [
        StructField("cohort_wd", LongType()),
        StructField("seen_wd", ArrayType(LongType())),
    ]
)


def cohort_retention_stream(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Incremental weekly cohort retention: per-user keyed state holds
    (first week, weeks seen); each micro-batch APPENDS the user's newly
    seen (cohort, offset) memberships — the user-week dedup and
    first-week assignment that dominate the batch operator become O(1)
    state lookups. Downstream aggregates the drained increments to
    (cohort, offset, n_active) — each membership is emitted exactly
    once, so a plain count over the drain equals the batch
    ``cohort_retention`` counts on the same finite prefix (in-order
    arrival, the family's declared parity condition: the first week a
    user appears IS their min week).

    Output rows: (user, cohort_wd, offset) with ``cohort_wd`` in
    unix-date days (convert with ``date_from_unix_date``). State per
    user is O(distinct active weeks) — bounded by calendar weeks, not
    event volume; NULL timestamps are dropped like every twin here."""
    wd = F.unix_date(F.date_trunc("week", F.col(ts_col)).cast("date"))
    rows = events.select(
        F.col(user_col).alias("user"), wd.alias("wd"), F.col(ts_col)
    )

    def step(_user, st, batch, _now):
        cohort, seen = st[0], set(st[1])
        out = []
        for w in sorted(int(v) for v in batch["wd"].unique()):
            if cohort is None:
                cohort = w
            if w not in seen:
                seen.add(w)
                out.append((cohort, (w - cohort) // 7))
        return (None if cohort is None else (cohort, sorted(seen))), out

    return keyed_state_stream(
        rows,
        "user",
        step,
        _COHORT_STATE,
        lambda: (None, []),
        [("cohort_wd", "long"), ("offset", "long")],
        notna=["wd"],
        key_out="user",
    )
