"""Streaming sources with rspl semantics.

The reference's external source is ``OvereagerReceiver::channel(cap, seed)``
(src/streams/overeager_receivers.rs:29-32): a channel plus a seed element
that becomes the stream's first head, with one-element lookahead. Spark
mapping (SURVEY.md §1.3): a file/Kafka source; the seed is an initial row
ordered ahead of the stream; lookahead/backpressure is the source's own
prefetch (maxFilesPerTrigger / maxOffsetsPerTrigger).

For deterministic finite-prefix tests (the reference's own test style) we
use the file source with ``maxFilesPerTrigger=1`` + ``Trigger.AvailableNow``:
each chunk file becomes one micro-batch, processed in mtime order.
"""

from __future__ import annotations

import contextlib
import os
import tempfile
import threading
import time

from pyspark.sql import DataFrame, SparkSession

from rspl_spark.plan_stats import advisory_width, grouped_map_parallelism, tree_bytes


def scratch_dir(prefix: str = "rspl_scratch_") -> str:
    """Ephemeral scratch directory for the FINITE-replay gate harness:
    chunk inputs and checkpoints that live only for the duration of one
    gate call and are rmtree'd afterwards.

    Placed on memory-backed storage when available because the
    micro-batch machinery fsyncs the checkpoint (offset log, state
    store delta files) once per partition per batch. The r15 A/B on
    this box measured disk vs tmpfs WITHIN NOISE once warm (the page
    cache absorbs the tiny deltas at gate scale; OPTIMIZATION_r15.md
    §3) — the change is kept for LIFECYCLE, not seconds: explicit
    cleanup (no /tmp litter) and bounded behavior for replays whose
    state outgrows the page cache. PRODUCTION streams must keep
    checkpoints on durable shared storage (that fsync is the
    exactly-once contract); this helper is only for harness scratch
    whose loss is meaningless. Override with $RSPL_STREAM_SCRATCH
    (e.g. point it at a disk path when tmpfs is too small for a large
    replay)."""
    base = os.environ.get("RSPL_STREAM_SCRATCH")
    if not base:
        base = "/dev/shm" if os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK) else None
    return tempfile.mkdtemp(prefix=prefix, dir=base)


def write_stream_chunks(spark: SparkSession, out_dir: str, chunks: list[DataFrame]) -> None:
    """Write each DataFrame as one parquet chunk file = one micro-batch.

    mtimes are forced strictly increasing so the file source replays
    chunks in order (its default ordering is modification time).
    """
    os.makedirs(out_dir, exist_ok=True)
    for i, chunk in enumerate(chunks):
        path = os.path.join(out_dir, f"chunk_{i:05d}")
        chunk.coalesce(1).write.mode("overwrite").parquet(path)
        t = time.time() + i  # monotone mtimes, 1s apart
        for root, _dirs, files in os.walk(path):
            for f in files:
                os.utime(os.path.join(root, f), (t, t))


def write_sorted_chunks(
    df: DataFrame,
    out_dir: str,
    order_cols: list[str],
    n_chunks: int = 3,
) -> None:
    """Executor-side twin of :func:`write_stream_chunks` for ORDERED
    replays: range-partition ``df`` into ``n_chunks`` contiguous runs
    of ``order_cols``, sort within each run, and write each run as one
    parquet part file with strictly increasing mtimes — a globally
    ordered chunk sequence the file source replays in order, WITHOUT
    ever materializing the frame on the driver (the in-order gate
    harness device stays scale-honest: one distributed range shuffle,
    no ``orderBy().toPandas()``).

    Rows with EQUAL order keys may straddle a chunk boundary (range
    partitioning keeps them adjacent but may split a tie run); every
    in-order consumer here orders on a key-unique column set, so each
    key's own sequence never goes backwards across chunks.
    """
    os.makedirs(out_dir, exist_ok=True)
    (
        df.repartitionByRange(n_chunks, *order_cols)
        .sortWithinPartitions(*order_cols)
        .write.mode("overwrite")
        .parquet(out_dir)
    )
    # part-00000… file order IS range-partition order; monotone mtimes
    # make the file source replay them as ordered micro-batches
    parts = sorted(f for f in os.listdir(out_dir) if f.startswith("part-"))
    base = time.time()
    for i, f in enumerate(parts):
        os.utime(os.path.join(out_dir, f), (base + i, base + i))


def append_chunk(df: DataFrame, out_dir: str, name: str) -> None:
    """Write ``df`` as ONE additional chunk ordered AFTER every chunk
    already in ``out_dir`` (all new files get mtime = current max + 1,
    so the file source replays it as the next micro-batch). The device
    the adversarial gates use to schedule a stale / out-of-order chunk
    behind an in-order :func:`write_sorted_chunks` prefix."""
    latest = 0.0
    for root, _dirs, files in os.walk(out_dir):
        for f in files:
            latest = max(latest, os.path.getmtime(os.path.join(root, f)))
    path = os.path.join(out_dir, name)
    df.coalesce(1).write.mode("overwrite").parquet(path)
    t = max(latest, time.time()) + 1.0
    for root, _dirs, files in os.walk(path):
        for f in files:
            os.utime(os.path.join(root, f), (t, t))


def file_stream(spark: SparkSession, in_dir: str, schema: str) -> DataFrame:
    """One-file-per-micro-batch streaming read of chunk dirs."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(in_dir)
    )


def kafka_stream(
    spark: SparkSession,
    brokers: str,
    topic: str,
    value_schema: str,
    seed_df: DataFrame | None = None,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = None,
    key_col: str = "key",
    seq_col: str = "seq",
    value_col: str = "value",
    seed_path: str | None = None,
) -> DataFrame:
    """Kafka-backed rspl channel (config-level wiring; no broker ships in
    this container, so only the option plumbing is smoke-testable — the
    semantics are identical to :func:`file_stream` + seed, which IS
    tested).

    rspl mapping (overeager_receivers.rs:29-32, SURVEY.md §1.3):

    - ``channel(cap, message)``  → a topic subscription; the ``cap``
      backpressure bound maps to ``maxOffsetsPerTrigger`` (0/unbounded →
      leave unset);
    - the seed element that "is always received in advance" and forms
      the stream's first head → ``seed_df`` unioned AHEAD of the topic
      rows (callers give seed rows ``seq`` below the topic's first);
    - the blocking ``tail()``  → the micro-batch trigger waiting on new
      offsets.

    The Kafka record ``value`` (bytes) is JSON-decoded against
    ``value_schema`` — a DDL string for a struct holding
    ``(key, seq, value)`` like every other rspl stream; the record
    timestamp/partition/offset are dropped because rspl's order is the
    explicit ``seq`` ordinal, not broker order (SURVEY.md §1.3: Spark
    DataFrames are unordered — order lives in the data).

    Requires the spark-sql-kafka package on the classpath
    (``spark.jars.packages=org.apache.spark:spark-sql-kafka-0-10_2.13:<ver>``).
    """
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
    )
    if max_offsets_per_trigger is not None:
        reader = reader.option("maxOffsetsPerTrigger", str(max_offsets_per_trigger))
    return decode_kafka_records(
        reader.load(), value_schema, seed_df, key_col, seq_col, value_col,
        seed_path=seed_path,
    )


def decode_kafka_records(
    raw: DataFrame,
    value_schema: str,
    seed_df: DataFrame | None = None,
    key_col: str = "key",
    seq_col: str = "seq",
    value_col: str = "value",
    seed_path: str | None = None,
) -> DataFrame:
    """Kafka-record frame (binary ``value`` + broker metadata) → rspl
    stream frame (key, seq, value) with the seed unioned ahead. Split
    from :func:`kafka_stream` so the decode/seed semantics are testable
    without a broker (any frame with a binary ``value`` column works)."""
    from pyspark.sql import functions as F

    parsed = raw.select(
        F.from_json(F.col("value").cast("string"), value_schema).alias("j")
    ).select(f"j.{key_col}", f"j.{seq_col}", f"j.{value_col}")
    if seed_df is not None:
        if parsed.isStreaming and not seed_df.isStreaming:
            # Spark refuses a streaming/batch union, so lift the batch
            # seed into a one-shot file stream first (written once to a
            # session-lifetime temp dir). Callers keep the natural API:
            # the seed is whatever little batch frame they built.
            seed_df = _batch_as_stream(seed_df, path=seed_path)
        parsed = seed_df.unionByName(parsed)
    return parsed


def _batch_as_stream(df: DataFrame, path: str | None = None) -> DataFrame:
    """Materialize a (small) batch frame and re-read it as a streaming
    source — the standard device for prepending finite rows to a stream.

    A CHECKPOINTED query must pass a stable ``path``: the checkpoint's
    file-source offsets reference the seed by its location, so a fresh
    mkdtemp on restart would present the seed as brand-new data and
    deliver it a second time mid-stream (corrupting seq-ordered FSM
    state whose first decision the seed drives). With a stable path the
    seed is written once and restarts re-read the already-committed
    file; without one (ad-hoc, uncheckpointed runs) a temp dir is fine.

    Reuse of an existing ``path`` is keyed on a CONTENT fingerprint
    (schema + canonically-sorted rows), not on "any .parquet exists": a
    stale directory from a prior run with different seed data must not
    be silently served as this query's seed. A matching pre-fingerprint
    directory (written before the sidecar existed) is adopted in place —
    rewriting identical content would mint new part-file names that a
    live checkpoint's file source would deliver as brand-new rows.

    A MISMATCH on an explicit path that already holds committed part
    files RAISES instead of rewriting (r13 ADVICE): mode-overwrite on a
    stable seed dir deletes exactly the files a live checkpoint's
    file-source offsets reference — restart would then fail or
    re-deliver the seed as new rows, the corruption the stable-path
    contract exists to prevent. The caller must delete the directory or
    pick a new path; only implicit temp dirs and dirs with no committed
    parquet are auto-written. Fingerprints are versioned: v2 hashes
    timestamps as UTC epoch microseconds so the hash no longer depends
    on ``spark.sql.session.timeZone`` (collected timestamps are
    session-local naive datetimes — a v1 sidecar written under one
    session timezone would spuriously mismatch under another); v1
    sidecars are compared with the v1 algorithm and upgraded in place
    on match."""
    import hashlib
    import json
    import os
    import tempfile

    from pyspark.sql import functions as F
    from pyspark.sql.types import TimestampNTZType, TimestampType

    def _tz_stable(frame: DataFrame) -> DataFrame:
        # session-timezone-independent projection: TIMESTAMP → UTC
        # epoch micros, TIMESTAMP_NTZ → ISO string (already tz-free)
        cols = []
        for f in frame.schema.fields:
            if isinstance(f.dataType, TimestampType):
                cols.append(F.unix_micros(F.col(f.name)).alias(f.name))
            elif isinstance(f.dataType, TimestampNTZType):
                cols.append(F.col(f.name).cast("string").alias(f.name))
            else:
                cols.append(F.col(f.name))
        return frame.select(*cols)

    def _fingerprint(frame: DataFrame, version: int = 2) -> dict:
        # seeds are small by contract (finite prefix rows); a driver
        # collect here is the same class as the memory-sink drain
        schema_str = frame.schema.simpleString()
        if version >= 2:
            frame = _tz_stable(frame)
        rows = sorted(repr(tuple(r)) for r in frame.collect())
        digest = hashlib.md5(
            (schema_str + "\x00" + "\n".join(rows)).encode()
        ).hexdigest()
        fp = {"schema": schema_str, "rows": len(rows), "hash": digest}
        if version >= 2:
            fp["v"] = 2
        return fp

    def _write(target: str) -> None:
        df.coalesce(1).write.mode("overwrite").parquet(target)
        fp = _fingerprint(df)
        side_tmp = os.path.join(target, "_rspl_seed_meta.json.tmp")
        with open(side_tmp, "w") as f:
            json.dump(fp, f)
        os.replace(side_tmp, os.path.join(target, "_rspl_seed_meta.json"))

    def _upgrade_sidecar(side: str) -> None:
        fp = _fingerprint(df)
        with open(side + ".tmp", "w") as f:
            json.dump(fp, f)
        os.replace(side + ".tmp", side)

    if path is None:
        path = tempfile.mkdtemp(prefix="rspl_seed_")
        _write(path)
    elif not os.path.isdir(path) or not any(
        f.endswith(".parquet") for f in os.listdir(path)
    ):
        _write(path)
    else:
        side = os.path.join(path, "_rspl_seed_meta.json")
        if os.path.isfile(side):
            with open(side) as f:
                have = json.load(f)
            want = _fingerprint(df, version=int(have.get("v", 1)))
            if have == want:
                if "v" not in have:  # re-key old sidecar tz-stably
                    _upgrade_sidecar(side)
            else:
                raise ValueError(
                    f"seed dir {path!r} holds committed seed data whose "
                    f"content fingerprint does not match this query's seed "
                    f"(have {have.get('hash')!r}, want {want['hash']!r}). "
                    "Refusing to overwrite: a live checkpoint's file-source "
                    "offsets may reference these part files. Delete the "
                    "directory (and any checkpoint that references it) or "
                    "pass a different seed_path."
                )
        else:
            # pre-sidecar directory: fingerprint the committed content;
            # match → adopt in place (don't re-mint file names);
            # mismatch/unreadable → committed foreign data, raise
            want = _fingerprint(df)
            try:
                have = _fingerprint(
                    df.sparkSession.read.schema(df.schema).parquet(path)
                )
            except Exception:
                have = None
            if have == want:
                _upgrade_sidecar(side)
            else:
                raise ValueError(
                    f"seed dir {path!r} holds committed parquet that does "
                    "not match this query's seed content. Refusing to "
                    "overwrite committed data; delete the directory or "
                    "pass a different seed_path."
                )
    return df.sparkSession.readStream.schema(df.schema).parquet(path)


def seeded_batch_stream(seed_df: DataFrame, stream_df: DataFrame) -> DataFrame:
    """Batch analog of the seeded channel: the seed row(s) precede the
    stream (overeager_receivers.rs:29-32; tests rely on the seed driving
    the first decision, tests/basic.rs:32,47). Caller guarantees seq
    ordering puts the seed first. For true streaming, write the seed as
    chunk 0 via write_stream_chunks."""
    return seed_df.unionByName(stream_df)


# parquet -> shuffle/state row-format expansion (zstd/snappy columnar vs
# unsafe-row bytes); conservative multiplier so the width estimate errs
# toward MORE partitions, never fewer than the data needs.
_STATE_BYTES_EXPANSION = 4


def stream_state_partitions(spark: SparkSession, source_bytes: int) -> int:
    """Scale-adaptive shuffle/state width for a finite streaming replay.

    AQE cannot coalesce streaming shuffles (disabled in stateful
    workloads), so every state partition pays a fixed per-micro-batch
    cost — task launch, state store open/replay/commit (x4 store
    instances for a stream-stream join) — regardless of how little
    data it holds. Measured r15 at sf0.1: q_stream_stream_join runs
    19.8 s at the session's 32 shuffle partitions vs 6.0 s at 8 and
    4.4 s at 2; the data per batch is well under one advisory
    partition. So apply the sizing rule AQE itself would use,
    :func:`rspl_spark.plan_stats.advisory_width`, to the expanded input
    bytes. At cluster scale the input volume dwarfs the advisory size,
    so the width saturates at the configured shuffle width and the
    scaled plan is unchanged — this is NOT a local[32] constant."""
    return advisory_width(spark, source_bytes * _STATE_BYTES_EXPANSION)


# sized_stream_shuffle mutates SESSION-global shuffle width for the
# lifetime of one replay (see its docstring); the lock makes concurrent
# replays in one process serialize instead of clobbering each other's
# saved/restored conf (set-set-restore-restore would leave the narrowed
# width behind permanently).
_SIZED_SHUFFLE_LOCK = threading.Lock()


# logical-plan nodes of the keyed Python stateful operators
# (applyInPandasWithState / transformWithStateInPandas)
_PYTHON_STATE_NODES = frozenset(
    {"FlatMapGroupsInPandasWithState", "TransformWithStateInPySpark"}
)


def _has_python_state(df: DataFrame) -> bool:
    """True when ``df``'s logical plan runs a keyed Python stateful
    operator."""
    todo = [df._jdf.queryExecution().logical()]
    while todo:
        node = todo.pop()
        if node.nodeName() in _PYTHON_STATE_NODES:
            return True
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    return False


@contextlib.contextmanager
def sized_stream_shuffle(stream_df: DataFrame, source_dirs: list[str] | None):
    """Set ``spark.sql.shuffle.partitions`` to the scale-adaptive
    stream width (from the replay chunk dirs' bytes) for the duration
    of one streaming query over ``stream_df``, restoring the session
    value afterwards. Hold the scope open until the query terminates:
    the width is captured into the query's offset log by the
    micro-batch thread, which runs asynchronously after ``start()``
    returns.

    SINGLE-FLIGHT contract (r15 verdict ask #7): the width is a
    session-global conf, so while one replay holds this scope, any
    OTHER query planned in the same session inherits the narrowed
    width. Concurrent *replays* are serialized by a process-level lock
    (preventing interleaved set/restore from corrupting the saved
    session value); a concurrent *batch* query in the same session
    during a replay window is the caller's responsibility — run batch
    work before/after the replay, or in a separate session
    (``spark.newSession()`` has its own conf). The gate harness runs
    queries serially, so this only matters for long-lived shared
    sessions.

    A stream whose plan holds a keyed PYTHON stateful operator
    (applyInPandasWithState / transformWithStateInPandas) is floored
    at :func:`rspl_spark.plan_stats.grouped_map_parallelism` — the same
    pin the batch grouped-map stages use: there the stage cost is
    per-key Python compute, not per-partition state-store overhead,
    and byte-derived width is the wrong objective (measured r15: the
    three applyInPandasWithState time-series gates ran 4-5x SLOWER at
    the byte width of 1 than at full compute width). The plan decides,
    so no caller can forget the floor."""
    if source_dirs is None:
        yield None
        return
    spark = stream_df.sparkSession
    n = stream_state_partitions(spark, tree_bytes(source_dirs))
    if _has_python_state(stream_df):
        n = max(n, grouped_map_parallelism(spark))
    with _SIZED_SHUFFLE_LOCK:
        old = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(n))
        try:
            yield n
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old)


def run_to_memory_sink(
    stream_df: DataFrame,
    name: str,
    timeout_s: int = 120,
    output_mode: str = "append",
    source_dirs: list[str] | None = None,
):
    """Drive a streaming DataFrame to completion into an in-memory table
    (AvailableNow trigger = process everything currently available, then
    stop — the finite-prefix observation the reference's tests use).
    ``output_mode="complete"`` for aggregating streams that re-emit the
    whole result per batch.

    The checkpoint is explicit harness scratch (see :func:`scratch_dir`)
    instead of Spark's implicit temp checkpoint: the replay is finite
    and the memory table outlives the files, so the checkpoint's only
    cost is its per-batch fsyncs."""
    import shutil

    ckpt = scratch_dir("rspl_ckpt_")
    try:
        # the width must stay set until the query TERMINATES: the
        # micro-batch thread reads the session's shuffle width
        # asynchronously after start() returns
        with sized_stream_shuffle(stream_df, source_dirs):
            q = (
                stream_df.writeStream.format("memory")
                .queryName(name)
                .outputMode(output_mode)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            # a False return means STILL RUNNING — callers would read a
            # partially-populated memory table as the complete result
            if not q.awaitTermination(timeout_s):
                q.stop()
                raise TimeoutError(f"memory sink {name!r} did not finish within {timeout_s}s")
        return q
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
