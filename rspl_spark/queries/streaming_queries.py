"""Streaming-native gates that previously had only pytest evidence:
session-window aggregation and the watermarked stream-stream interval
join, both observed over a finite in-order prefix (availableNow over
mtime-ordered chunks) and compared against the batch oracle — the
reference's finite-prefix observation discipline
(/root/reference/src/streams/mod.rs:62-77; the concurrent channel
producers in /root/reference/tests/events.rs:73-92 are the semantics
source for two independent streams joining).

Determinism argument (why a watermark drops NOTHING here): chunks are
range-partitioned on event time (``write_sorted_chunks``), so every
future micro-batch's rows are >= the watermark the previous batch set.
For the inner interval join, a row's candidate partners all lie within
the join range of a FUTURE row, hence strictly above the state-eviction
bound; for the session aggregation, complete output mode re-emits the
whole result so no flush is needed. The finite prefix therefore yields
the batch query's ROWS exactly; integer/count outputs are bit-exact,
while float SUMS accumulate in state-merge order rather than batch
shuffle order — a different IEEE addition order, absorbed by the same
in-query rounding every float gate uses (the registry-wide determinism
rule), not a bit-exactness claim. Full value-hash oracles, not
rows-only checks.

The ADVERSARIAL gates (``q_stream_late_data``,
``q_session_window_append``) deliberately break the in-order contract
— a stale chunk scheduled last, an append-mode stream cut off at the
final watermark — so the one semantic rspl has no analog for (Spark's
event-time watermark DROPPING late data / closing sessions; arrival
order is truth in the reference, overeager_receivers.rs:41-49) gets
full oracle evidence. Their oracles REPLAY Spark's documented drop
rule, pinned empirically (and by tests/test_streaming_extra.py):

- the watermark is ``floor_ms(max event time seen) − delay`` — event
  time stats accumulate in MILLISECONDS, so the max is ms-floored;
- late-record FILTERING in micro-batch N uses the watermark in effect
  DURING batch N−1 (one batch behind state eviction — Spark's
  WatermarkPropagator late-events/eviction split), i.e. the
  ms-floored max over batches 0..N−2 minus the delay;
- a row is dropped iff its event time <= that bound (non-strict), and
  an append-mode aggregation emits/evicts a group iff its window end
  <= the eviction watermark (equality emits);
- the late filter is a row-level predicate on the watermarked column
  and applies whatever the dedup key set is; what REQUIRES the
  event-time column among the dedup keys is state EVICTION (without
  it the seen-keys state grows forever).

The events table's timestamps are all whole microseconds (no sub-µs
component), so Spark's µs timestamps and DuckDB's ns timestamps agree
exactly on every <=/> comparison against an ms-floored bound.
"""

from __future__ import annotations

import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Spark-internals replays are version-pinned through the central
# registry (r13 verdict ask #7): rspl_spark/streaming/pins.py holds
# one dict of behavior → verified versions → pin test, and one raise
# helper. The names below are kept as thin aliases so existing call
# sites and the test_00 pin suite keep their anchors.
from rspl_spark.streaming.pins import PINNED_BEHAVIORS, require_pinned

_WATERMARK_MECHANICS_PINNED = PINNED_BEHAVIORS["watermark-mechanics"]["versions"]


def _require_pinned_watermark_mechanics(spark: SparkSession) -> None:
    require_pinned(spark, "watermark-mechanics")

from rspl_spark.catalog import load
from rspl_spark.streaming.sources import scratch_dir
from rspl_spark.queries import query
from rspl_spark.queries.relational2 import _SESSION_ORACLE


def _ordered_stream(
    df: DataFrame,
    order_cols: list[str],
    schema: str,
    n_chunks: int = 3,
) -> tuple[DataFrame, str]:
    """``df`` → an in-event-time-order chunked file stream (one chunk =
    one micro-batch); returns (stream, tmp_dir). Chunking happens
    executor-side (one range shuffle, no driver materialization)."""
    from rspl_spark.streaming.sources import file_stream, write_sorted_chunks

    tmp = scratch_dir("rspl_sq_stream_")
    write_sorted_chunks(df, tmp, order_cols, n_chunks)
    return file_stream(df.sparkSession, tmp, schema), tmp


def _drain(
    out: DataFrame,
    name: str,
    tmp_dirs: list[str],
    output_mode: str = "append",
) -> DataFrame:
    from rspl_spark.streaming.sources import run_to_memory_sink

    table = f"{name}_{uuid.uuid4().hex[:8]}"
    try:
        run_to_memory_sink(
            out, table, timeout_s=300, output_mode=output_mode,
            source_dirs=tmp_dirs,
        )
    finally:
        for d in tmp_dirs:
            shutil.rmtree(d, ignore_errors=True)
    return out.sparkSession.table(table)


@query(
    "q_session_window_stream",
    oracle=_SESSION_ORACLE,
    tags=("window", "streaming"),
)
def q_session_window_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native streaming ``session_window`` aggregation (30-minute
    inactivity gap per user) over an in-order 3-chunk replay of the
    events table, complete output mode — the final micro-batch's table
    IS the batch ``q_sessionize`` result: sessions that straddle a
    micro-batch boundary must merge in the state store, which is the
    semantics this gate pins (a session is state, not a window you can
    close per batch)."""
    require_pinned(spark, "session-window-merge")
    e = load(spark, sf_dir, "events").select("user_id", "ts", "value", "event_id")
    stream, tmp = _ordered_stream(
        e,
        ["ts", "event_id"],
        "user_id long, ts timestamp, value double, event_id long",
    )
    agg = (
        stream.groupBy(F.session_window("ts", "30 minutes"), F.col("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("sess_start"),
            F.col("session_window.end").alias("sess_end"),
            "n_events",
            "total_value",
        )
    )
    got = _drain(agg, "t_q_session_stream", [tmp], output_mode="complete")
    return got.orderBy("user_id", "sess_start")


@query(
    "q_session_window_dynamic_stream",
    oracle=None,  # installed below — reuses the batch dynamic-gap oracle
    tags=("window", "streaming"),
)
def q_session_window_dynamic_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ``session_window`` with a DYNAMIC gap expression (the
    inactivity window depends on the event: signups/purchases hold a
    session open 60 minutes, everything else 15) — the dynamic-gap leg
    crossing the batch/stream boundary; the fixed-gap crossing is
    ``q_session_window_stream``. Complete mode over in-order chunks:
    per-event gap durations merge in the state store exactly as the
    batch aggregation merges them, so the drained table reuses the
    batch ``q_sessionize_dynamic_gap`` oracle verbatim."""
    require_pinned(spark, "session-window-merge")
    e = load(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type", "event_id"
    )
    stream, tmp = _ordered_stream(
        e,
        ["ts", "event_id"],
        "user_id long, ts timestamp, event_type string, event_id long",
    )
    gap = F.when(
        F.col("event_type").isin("signup", "purchase"), F.lit("60 minutes")
    ).otherwise(F.lit("15 minutes"))
    agg = (
        stream.groupBy(F.session_window("ts", gap), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("sess_start"),
            F.col("session_window.end").alias("sess_end"),
            "n_events",
        )
    )
    got = _drain(agg, "t_q_session_dyn_stream", [tmp], output_mode="complete")
    return got.orderBy("user_id", "sess_start")


def _install_dynamic_session_oracle() -> None:
    from rspl_spark.queries import REGISTRY
    from rspl_spark.queries.relational2 import _DYN_SESSION_ORACLE

    REGISTRY["q_session_window_dynamic_stream"].oracle = _DYN_SESSION_ORACLE


_install_dynamic_session_oracle()


@query(
    "q_cohort_retention_stream",
    oracle=None,  # installed below — reuses the batch retention oracle
    tags=("behavior", "streaming"),
)
def q_cohort_retention_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming cohort retention — the last behavior-family member to
    cross the batch/stream boundary (transition matrix and funnel
    crossed earlier): per-user keyed state emits each (cohort, offset)
    membership exactly ONCE as it first appears, so counting the
    drained increments batch-side reproduces the batch
    ``cohort_retention`` table — and the gate reuses its oracle
    verbatim. The expensive batch stages (corpus-wide user-week
    DISTINCT + per-user min window) become O(1) state lookups on an
    unbounded stream; state per user is O(active weeks), calendar-
    bounded."""
    from rspl_spark.streaming.analytics import cohort_retention_stream

    e = load(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    stream, tmp = _ordered_stream(
        e,
        ["ts", "event_id"],
        "user_id long, ts timestamp, event_id long",
    )
    inc = cohort_retention_stream(stream)
    got = _drain(inc, "t_q_cohort_stream", [tmp])
    counts = got.groupBy("cohort_wd", "offset").agg(
        F.count(F.lit(1)).cast("long").alias("n_active")
    )
    from pyspark.sql.window import Window

    wc = Window.partitionBy("cohort_wd")
    return (
        counts.withColumn(
            "n_cohort",
            F.max(F.when(F.col("offset") == 0, F.col("n_active"))).over(wc),
        )
        .select(
            F.expr("date_from_unix_date(cast(cohort_wd as int))").alias("cohort"),
            "offset",
            "n_active",
            "n_cohort",
            F.round(
                F.col("n_active").cast("double") / F.col("n_cohort").cast("double"),
                6,
            ).alias("retention"),
        )
        .orderBy("cohort", "offset")
    )


def _install_cohort_stream_oracle() -> None:
    from rspl_spark.queries import REGISTRY
    from rspl_spark.queries.behavior_queries import _RETENTION_ORACLE

    REGISTRY["q_cohort_retention_stream"].oracle = _RETENTION_ORACLE


_install_cohort_stream_oracle()


_STREAM_DEDUP_ORACLE = """
WITH dup AS (
  SELECT event_id, ts, user_id, event_type, value FROM events
  UNION ALL
  SELECT event_id, ts, user_id, event_type, value FROM events
  WHERE event_id % 3 = 0
)
SELECT DISTINCT event_id, ts, user_id, event_type, value
FROM dup
ORDER BY event_id
"""


@query(
    "q_stream_dedup",
    oracle=_STREAM_DEDUP_ORACLE,
    tags=("llm", "dedup", "streaming"),
)
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native streaming exact dedup with WATERMARKED state: every third
    event re-delivered, then ``withWatermark + dropDuplicates`` on
    (event_id, ts) — the event-time key in the dedup set is what lets
    the state store EVICT seen-keys older than the watermark, the only
    form whose state is bounded on an unbounded stream (a keyless
    dropDuplicates would grow state forever — the same contract as
    dedup_store's batch incremental path). In-order chunks keep every
    duplicate at or above the watermark when it arrives, so the finite
    prefix equals batch DISTINCT exactly."""
    e = load(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    dup = e.unionAll(e.where(F.col("event_id") % 3 == 0))
    stream, tmp = _ordered_stream(
        dup,
        ["ts", "event_id"],
        "event_id long, ts timestamp, user_id long,"
        " event_type string, value double",
        n_chunks=3,
    )
    deduped = stream.withWatermark("ts", "1 hour").dropDuplicates(
        ["event_id", "ts"]
    )
    got = _drain(deduped, "t_q_stream_dedup", [tmp])
    return got.orderBy("event_id")


@query(
    "q_hll_stream",
    oracle=None,  # replaced below — reuses the batch daily-HLL oracle
    tags=("llm", "sketch", "streaming"),
)
def q_hll_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming HLL: the register table is a NATIVE streaming
    aggregation (groupBy (day, idx) max rank — Spark's state store does
    the merge, complete mode), and because the register computation is
    deterministic (portable hash, integer max), the drained registers
    equal the batch table bit-for-bit — so the ESTIMATE does too, and
    the gate reuses the batch oracle unchanged. The mergeable-sketch
    argument carried across the batch/stream boundary."""
    from rspl_spark.operators.sketches import hll_estimate, hll_registers
    from rspl_spark.queries.llm_ops import _HLL_DAY_P

    ev = load(spark, sf_dir, "events").select("user_id", "ts")
    stream, tmp = _ordered_stream(
        ev, ["ts", "user_id"], "user_id long, ts timestamp"
    )
    regs = hll_registers(
        stream.select(F.to_date("ts").alias("day"), "user_id"),
        "user_id",
        ("day",),
        p=_HLL_DAY_P,  # the batch gate's constant — its oracle is reused
    )
    got = _drain(regs, "t_q_hll_stream", [tmp], output_mode="complete")
    est = hll_estimate(got, ("day",), p=_HLL_DAY_P)
    exact = (
        load(spark, sf_dir, "events")
        .select(F.to_date("ts").alias("day"), "user_id")
        .groupBy("day")
        .agg(F.countDistinct("user_id").cast("long").alias("exact_distinct"))
    )
    return (
        est.join(exact, "day")
        .select("day", "approx_distinct", "exact_distinct")
        .orderBy("day")
    )


@query(
    "q_cms_stream",
    oracle=None,  # replaced below — reuses the batch CMS oracle
    tags=("llm", "text", "sketch", "streaming"),
)
def q_cms_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming count-min sketch: cell counts are a NATIVE streaming
    aggregation (groupBy (i, bucket) sum — integer, exactly mergeable),
    complete mode; the drained sketch equals the batch sketch cell for
    cell, so the heavy-hitter probe reuses the batch CMS oracle
    unchanged. With q_hll_stream this carries the mergeable-sketch
    trio's frequency leg across the batch/stream boundary (the
    histogram leg needs a min/max range pre-pass — two queries on a
    stream — so its streaming form is the agg-store rollup, already
    gated)."""
    from rspl_spark.operators.sketches import cms_estimate, cms_sketch
    from rspl_spark.queries.llm_ops import _CMS_D, _CMS_W

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    stream, tmp = _ordered_stream(
        d, ["doc_id"], "doc_id long, text string"
    )
    tok_stream = stream.select(
        F.explode(F.split("text", " ")).alias("token")
    ).filter(F.col("token") != "")
    sketch_stream = cms_sketch(tok_stream, "token", w=_CMS_W, d=_CMS_D)
    sketch = _drain(
        sketch_stream, "t_q_cms_stream", [tmp], output_mode="complete"
    )
    tok = (
        load(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
    )
    truth = tok.groupBy("token").agg(
        F.count(F.lit(1)).cast("long").alias("true_cnt")
    )
    est = cms_estimate(sketch, truth.select("token"), "token", w=_CMS_W, d=_CMS_D)
    return (
        est.join(truth, "token")
        .select("token", "est", "true_cnt")
        .orderBy(F.desc("est"), F.asc("token"))
        .limit(10)
    )


def _hist_stream_oracle() -> str:
    """The BATCH histogram-quantile oracle builder, reused verbatim:
    identical bins ⇒ identical interpolation ⇒ identical estimates."""
    from rspl_spark.operators.sketches import hist_quantiles_sql

    ctes = hist_quantiles_sql("events", "value", (0.5, 0.95, 0.99), ())
    return f"""
WITH {ctes}
SELECT q, est FROM hq ORDER BY q
"""


@query(
    "q_hist_stream",
    oracle=None,  # installed below — needs the batch oracle builder
    tags=("llm", "sketch", "streaming"),
)
def q_hist_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming fixed-range histogram quantiles: the sketch trio's
    QUANTILE leg crossing the batch/stream boundary (HLL and CMS
    crossed in r11; this was the leg whose data-derived [lo, hi] range
    needs a second pass a stream cannot take). The caller pins the
    axis up front — here the exact range the batch operator would
    derive, read once from the static table — after which bin counts
    are a NATIVE streaming aggregation (groupBy bin count — integer,
    exactly mergeable, <= nbins state rows forever), complete mode;
    the drained bins equal the batch bins cell for cell, so the
    interpolated estimates reuse the batch histogram oracle verbatim."""
    from rspl_spark.operators.sketches import hist_estimate_from_bins
    from rspl_spark.streaming.analytics import streaming_hist

    qs = (0.5, 0.95, 0.99)
    nbins = 256
    ev = load(spark, sf_dir, "events").select("value", "ts", "event_id")
    lo, hi = ev.agg(
        F.min(F.col("value").cast("double")),
        F.max(F.col("value").cast("double")),
    ).collect()[0]
    stream, tmp = _ordered_stream(
        ev,
        ["ts", "event_id"],
        "value double, ts timestamp, event_id long",
    )
    bins = streaming_hist(stream, "value", float(lo), float(hi), nbins)
    got = _drain(bins, "t_q_hist_stream", [tmp], output_mode="complete")
    est = hist_estimate_from_bins(got, float(lo), float(hi), nbins, qs=qs)
    return est.orderBy("q")


_STREAM_MERGE_ORACLE = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents
FROM events
GROUP BY event_type
ORDER BY event_type
"""


@query(
    "q_stream_merge_store",
    oracle=_STREAM_MERGE_ORACLE,
    tags=("agg", "streaming"),
)
def q_stream_merge_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exactly-once streaming agg-store merge end-to-end, as a full
    oracle gate (previously pytest-only): a store seeded from a quarter
    of the events is maintained by ``stream_merge_into_agg_store`` over
    a 3-chunk replay of the rest — each micro-batch folds into the
    persisted bucketed store via foreachBatch + catalog swap, with the
    (checkpoint-identity, batch_id) record committed atomically with
    the data — and the drained store must equal the one-shot batch
    aggregate of ALL events. Integer measures (count + summed cents)
    make the fold order-free, so this is bit-exact, not
    rounding-absorbed. The store IS the streaming state (Spark's state
    store stays empty): the 100 TB form of a continuously-maintained
    rollup that batch jobs and ad-hoc queries read mid-stream."""
    require_pinned(spark, "foreachbatch-batch-identity")
    from rspl_spark.operators.agg_store import create_agg_store, read_final
    from rspl_spark.streaming.analytics import stream_merge_into_agg_store
    from rspl_spark.streaming.sources import file_stream, write_sorted_chunks

    store = f"q_stream_merge_store_{uuid.uuid4().hex[:8]}"
    ev = load(spark, sf_dir, "events").select(
        "event_id",
        "ts",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    measures = {"n": ("event_id", "count"), "cents": ("cents", "sum")}
    seed = ev.where(F.col("event_id") % 4 == 0)
    rest = ev.where(F.col("event_id") % 4 != 0)
    tmp = scratch_dir("rspl_sq_merge_")
    ck = scratch_dir("rspl_sq_merge_ck_")
    try:
        create_agg_store(
            spark, seed, store, ["event_type"], measures, overwrite=True
        )
        write_sorted_chunks(rest, tmp, ["ts", "event_id"], 3)
        stream = file_stream(
            spark,
            tmp,
            "event_id long, ts timestamp, event_type string, cents long",
        )
        from rspl_spark.streaming.sources import sized_stream_shuffle

        with sized_stream_shuffle(stream, [tmp]):
            q = stream_merge_into_agg_store(
                stream, store, ["event_type"], measures, checkpoint=ck
            )
            # NOT an assert: under `python -O` an assert is stripped and a
            # timed-out stream would fall through to gate a partially-merged
            # store against the oracle
            if not q.awaitTermination(300):
                q.stop()
                raise RuntimeError(
                    "q_stream_merge_store: stream merge did not finish within 300s"
                )
        out = (
            read_final(spark, store)
            .select("event_type", "n", "cents")
            .orderBy("event_type")
        )
        # materialize the (num-event-types)-row result before the store
        # is dropped — a bounded driver read, same class as a collect()
        # on a drained memory sink
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {store}")
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(ck, ignore_errors=True)


_STREAM_STATIC_ORACLE = """
SELECT e.event_id, e.user_id, e.event_type, e.value,
       c.c_mktsegment AS segment
FROM events e
LEFT JOIN customer c ON e.user_id = c.c_custkey AND c.c_custkey < 100
ORDER BY e.event_id
"""


@query(
    "q_stream_static_join",
    oracle=_STREAM_STATIC_ORACLE,
    tags=("join", "streaming"),
)
def q_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static LEFT OUTER dimension enrichment — the single most
    common streaming pattern at scale (events enriched against a
    broadcast dimension), previously only test-level evidence (the
    semantic-dedup store probe). STATELESS: the static side joins
    against every micro-batch with no state store at all, so append
    mode needs no watermark and the finite prefix equals the batch
    join row for row — including the NULL rows, because the dimension
    is PRUNED (custkey < 100) so a slice of users deliberately has no
    match and the outer semantics are observed, not vacuous. The dim
    side is broadcast (dimension tables never shuffle the stream at
    any scale)."""
    e = load(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    stream, tmp = _ordered_stream(
        e,
        ["ts", "event_id"],
        "event_id long, ts timestamp, user_id long,"
        " event_type string, value double",
    )
    dim = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") < 100)
        .select("c_custkey", F.col("c_mktsegment").alias("segment"))
    )
    enriched = stream.join(
        F.broadcast(dim),
        stream["user_id"] == dim["c_custkey"],
        "left_outer",
    ).select("event_id", "user_id", "event_type", "value", "segment")
    got = _drain(enriched, "t_q_stream_static_join", [tmp])
    return got.orderBy("event_id")


@query(
    "q_bloom_stream",
    oracle=None,  # installed below — reuses the batch Bloom oracle
    tags=("llm", "sketch", "streaming"),
)
def q_bloom_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Bloom filter: the mergeable-sketch family's MEMBERSHIP
    leg crossing the batch/stream boundary (HLL=distinct, CMS=frequency,
    histogram=quantile crossed in r11/r12; this completes the set). The
    (word, bits) table is a NATIVE streaming aggregation — groupBy word,
    BIT_OR of the per-row masks — so the state store holds at most
    ceil(m_bits/60) rows FOREVER regardless of stream length, complete
    mode; BIT_OR is idempotent and order-free, so the drained filter
    equals the batch ``bloom_build`` word for word and the membership
    probe reuses the batch ``q_bloom_membership`` oracle verbatim
    (same no-false-negative contract as the reference's finite-prefix
    observation: every inserted key probes 1)."""
    from rspl_spark.operators.sketches import bloom_probe
    from rspl_spark.queries.llm_ops import _BLOOM_K, _BLOOM_M
    from rspl_spark.streaming.analytics import streaming_bloom

    c = load(spark, sf_dir, "customer").select("c_custkey", "c_name")
    stream, tmp = _ordered_stream(
        c, ["c_custkey"], "c_custkey long, c_name string"
    )
    sketch_stream = streaming_bloom(stream, "c_name", m_bits=_BLOOM_M, k=_BLOOM_K)
    sketch = _drain(
        sketch_stream, "t_q_bloom_stream", [tmp], output_mode="complete"
    )
    s = load(spark, sf_dir, "supplier")
    probes = s.select(F.col("s_name").alias("probe")).unionAll(
        load(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 10 == 0)
        .select(F.col("c_name").alias("probe"))
    )
    return (
        bloom_probe(sketch, probes, "probe", m_bits=_BLOOM_M, k=_BLOOM_K)
        .orderBy("probe")
    )


def _install_stream_sketch_oracles() -> None:
    """The streaming sketch gates' oracles ARE the batch oracles (same
    registers/cells ⇒ same estimates); installed after definition
    because the oracle builders live with the batch gates."""
    from rspl_spark.queries import REGISTRY
    from rspl_spark.queries.llm_ops import (
        _CMS_ORACLE,
        _bloom_oracle,
        _hll_day_oracle,
    )

    REGISTRY["q_hll_stream"].oracle = _hll_day_oracle()
    REGISTRY["q_cms_stream"].oracle = _CMS_ORACLE
    REGISTRY["q_hist_stream"].oracle = _hist_stream_oracle()
    REGISTRY["q_bloom_stream"].oracle = _bloom_oracle()


_install_stream_sketch_oracles()


_LATE_DATA_ORACLE = """
WITH wm AS (
  SELECT date_trunc('milliseconds', max(ts)) - INTERVAL 48 HOUR AS w
  FROM events WHERE event_id % 5 <> 0
)
SELECT event_id, ts, user_id, event_type, value
FROM events WHERE event_id % 5 <> 0
UNION ALL
SELECT e.event_id, e.ts, e.user_id, e.event_type, e.value
FROM events e, wm WHERE e.event_id % 5 = 0 AND e.ts > wm.w
ORDER BY event_id
"""


@query(
    "q_stream_late_data",
    oracle=_LATE_DATA_ORACLE,
    tags=("llm", "dedup", "streaming"),
)
def q_stream_late_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADVERSARIAL late-data gate: watermark EVICTION finally observed
    dropping rows, with an oracle that replays the drop rule.

    Every fifth event is withheld and delivered as a STALE chunk after
    the rest of the table has streamed through in order — by then the
    watermark has advanced to (ms-floored max in-order event time − 48
    hours), so stale rows at or below that bound are DROPPED by
    ``withWatermark + dropDuplicates`` and stale rows above it (the
    last two days' worth) survive: the chunk straddles the watermark, so
    the oracle must genuinely compute it (module docstring pins the
    exact rule: ms floor, non-strict <=, one-batch filter lag). A tiny
    buffer chunk re-delivering the in-order maximum row sits between
    the main prefix and the stale chunk purely to absorb that
    one-batch lag — it is itself deduplicated, contributing no rows.

    This is the ONE place engine semantics deliberately deviate from
    the reference: rspl treats arrival order as truth
    (src/streams/overeager_receivers.rs:41-49 — a channel write IS the
    next element), while Spark ranks event time above arrival time and
    drops what arrives too far behind it; the oracle makes that
    deviation exact instead of folklore."""
    _require_pinned_watermark_mechanics(spark)
    from rspl_spark.streaming.sources import (
        append_chunk,
        file_stream,
        write_sorted_chunks,
    )

    e = load(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    main = e.where(F.col("event_id") % 5 != 0)
    stale = e.where(F.col("event_id") % 5 == 0)
    schema = (
        "event_id long, ts timestamp, user_id long,"
        " event_type string, value double"
    )
    tmp = scratch_dir("rspl_sq_late_")
    write_sorted_chunks(main, tmp, ["ts", "event_id"], 3)
    # the late-filter watermark for batch N is the eviction watermark of
    # batch N-1 = max event time over batches 0..N-2: one buffer batch
    # makes the stale batch see the FULL in-order prefix's maximum
    buf = main.orderBy(F.desc("ts"), F.desc("event_id")).limit(1)
    append_chunk(buf, tmp, "buffer_chunk")
    append_chunk(stale, tmp, "stale_chunk")
    stream = file_stream(spark, tmp, schema)
    deduped = stream.withWatermark("ts", "48 hours").dropDuplicates(
        ["event_id", "ts"]
    )
    got = _drain(deduped, "t_q_late_data", [tmp])
    return got.orderBy("event_id")


_UPDATE_MODE_ORACLE = """
WITH c AS (
  SELECT user_id,
         CASE WHEN day(ts) <= 10 THEN 0
              WHEN day(ts) <= 20 THEN 1
              ELSE 2 END AS chunk
  FROM events
),
touched AS (SELECT DISTINCT user_id, chunk FROM c)
SELECT t.user_id, CAST(COUNT(*) AS BIGINT) AS n_events
FROM touched t JOIN c ON c.user_id = t.user_id AND c.chunk <= t.chunk
GROUP BY t.user_id, t.chunk
ORDER BY t.user_id, n_events
"""


@query(
    "q_stream_update_mode",
    oracle=_UPDATE_MODE_ORACLE,
    tags=("aggregation", "streaming"),
)
def q_stream_update_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPDATE output mode, the third and last emission mode, oracle'd:
    each micro-batch re-emits exactly the groups it CHANGED, with their
    new running value — so the drained sink holds one row per (group,
    micro-batch that touched it), the "live per-key ticker" contract
    (complete re-emits everything, append only finals; update is the
    mode dashboards actually subscribe to).

    What makes the oracle possible is DETERMINISTIC chunking: the three
    micro-batches are day-of-month predicates (<=10, 11-20, >20), not
    range-partition samples — so SQL can reconstruct which batch
    touched which user and replay every emission as a prefix aggregate:
    (user, cumulative count through chunk k) for each chunk k the user
    appears in. A windowless count needs no watermark, so this is pure
    emission-mode semantics: no drops, no eviction, order-insensitive
    state folds (set-union prefixes), bit-exact integer outputs."""
    from rspl_spark.streaming.sources import append_chunk, file_stream

    e = load(spark, sf_dir, "events").select("user_id", "ts")
    day = F.dayofmonth("ts")
    tmp = scratch_dir("rspl_sq_upd_")
    for i, cond in enumerate(
        [day <= 10, (day > 10) & (day <= 20), day > 20]
    ):
        append_chunk(e.where(cond), tmp, f"chunk_{i}")
    stream = file_stream(spark, tmp, "user_id long, ts timestamp")
    agg = stream.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events")
    )
    got = _drain(agg, "t_q_upd_mode", [tmp], output_mode="update")
    return got.orderBy("user_id", "n_events")


_SESSION_APPEND_ORACLE = _SESSION_ORACLE.replace(
    ") sessions\nORDER BY",
    ") sessions\nWHERE sess_end <= (SELECT date_trunc('milliseconds', max(ts))"
    " - INTERVAL 30 MINUTE FROM events)\nORDER BY",
)
assert "WHERE sess_end" in _SESSION_APPEND_ORACLE  # replace() found its anchor


@query(
    "q_session_window_append",
    oracle=_SESSION_APPEND_ORACLE,
    tags=("window", "streaming"),
)
def q_session_window_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPEND-mode session windows: session CLOSURE via watermark,
    the production path q_session_window_stream's complete mode never
    exercises. A session only emits once the eviction watermark
    (ms-floored max event time − 30 min) passes its end — so the
    drained result is the batch sessionization MINUS the trailing
    sessions the stream can never prove closed, and the oracle is the
    batch session oracle with exactly that filter appended (equality
    emits: end == watermark is closed, pinned by test).

    The watermark delay EQUALS the session gap, which is what makes
    eviction provably safe on an in-order replay: any future row has
    event time >= the watermark + delay >= (evicted end) + gap, so it
    could never have merged into an evicted session — closure loses
    only the tail, never a merge. (A delay shorter than the gap could
    evict a session a future in-order row would still extend.)"""
    _require_pinned_watermark_mechanics(spark)
    require_pinned(spark, "session-window-merge")
    e = load(spark, sf_dir, "events").select("user_id", "ts", "value", "event_id")
    stream, tmp = _ordered_stream(
        e,
        ["ts", "event_id"],
        "user_id long, ts timestamp, value double, event_id long",
    )
    agg = (
        stream.withWatermark("ts", "30 minutes")
        .groupBy(F.session_window("ts", "30 minutes"), F.col("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("sess_start"),
            F.col("session_window.end").alias("sess_end"),
            "n_events",
            "total_value",
        )
    )
    got = _drain(agg, "t_q_session_append", [tmp], output_mode="append")
    return got.orderBy("user_id", "sess_start")


_SSJOIN_ORACLE = """
SELECT c.user_id,
       c.event_id AS click_id, p.event_id AS purchase_id,
       c.ts AS click_ts, p.ts AS purchase_ts,
       ROUND(p.value - c.value, 6) AS value_delta
FROM events c JOIN events p
  ON c.user_id = p.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 6 HOUR
ORDER BY click_id, purchase_id
"""


@query(
    "q_stream_stream_join",
    oracle=_SSJOIN_ORACLE,
    tags=("join", "streaming"),
)
def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream INNER interval join: clicks and
    purchases arrive as two independent in-order streams (the
    reference's two concurrent channel producers, tests/events.rs:73-92);
    each purchase joins the same user's clicks in the preceding 6
    hours. Both sides carry a 1-hour watermark, so the state store
    evicts rows the interval can never match again — and because
    chunks are event-time-ordered, eviction provably drops no match
    (see module docstring), making the finite-prefix result equal the
    batch interval join bit-for-bit."""
    e = load(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
        F.col("value").alias("c_value"),
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
        F.col("value").alias("p_value"),
    )
    # 2 chunks per side (r16, verdict ask #3): each micro-batch pays a
    # fixed state-machinery constant (task launch + open/replay/commit
    # for the FOUR state stores a stream-stream join keeps per
    # partition), so the replay cost at gate scale is ~linear in the
    # batch count, not the data. The result is chunk-count-invariant —
    # matches equal the batch interval join for ANY in-order chunking
    # (module docstring), and two chunks still exercise cross-batch
    # join state (clicks from batch 1 joining purchases from batch 2).
    # Measured + oracle-verified: docs/bench/r16_stream_join_chunks.json.
    s_c, tmp_c = _ordered_stream(
        clicks,
        ["click_ts", "click_id"],
        "c_user long, click_ts timestamp, click_id long, c_value double",
        n_chunks=2,
    )
    s_p, tmp_p = _ordered_stream(
        purchases,
        ["purchase_ts", "purchase_id"],
        "p_user long, purchase_ts timestamp, purchase_id long, p_value double",
        n_chunks=2,
    )
    joined = (
        s_c.withWatermark("click_ts", "1 hour")
        .join(
            s_p.withWatermark("purchase_ts", "1 hour"),
            (F.col("c_user") == F.col("p_user"))
            & (F.col("purchase_ts") >= F.col("click_ts"))
            & (
                F.col("purchase_ts")
                <= F.col("click_ts") + F.expr("INTERVAL 6 HOURS")
            ),
            "inner",
        )
        .select(
            F.col("c_user").alias("user_id"),
            "click_id",
            "purchase_id",
            "click_ts",
            "purchase_ts",
            F.round(F.col("p_value") - F.col("c_value"), 6).alias("value_delta"),
        )
    )
    got = _drain(joined, "t_q_ssjoin", [tmp_c, tmp_p])
    return got.orderBy("click_id", "purchase_id")


_SS_LEFT_JOIN_ORACLE = """
WITH c AS (
  SELECT user_id cu, ts cts, event_id cid FROM events
  WHERE event_type = 'click'
),
p AS (
  SELECT user_id pu, ts pts, event_id pid FROM events
  WHERE event_type = 'purchase'
),
wm AS (
  SELECT date_trunc('milliseconds',
                    LEAST((SELECT max(cts) FROM c), (SELECT max(pts) FROM p)))
         - INTERVAL 1 HOUR AS w
)
SELECT cu AS user_id, cid AS click_id, pid AS purchase_id,
       cts AS click_ts, pts AS purchase_ts
FROM c JOIN p
  ON cu = pu AND pts >= cts AND pts <= cts + INTERVAL 6 HOUR
UNION ALL
SELECT c.cu AS user_id, c.cid AS click_id, NULL AS purchase_id,
       c.cts AS click_ts, NULL AS purchase_ts
FROM c, wm
WHERE NOT EXISTS (
        SELECT 1 FROM p
        WHERE pu = c.cu AND pts >= c.cts
          AND pts <= c.cts + INTERVAL 6 HOUR
      )
  AND c.cts <= wm.w - INTERVAL 6 HOUR - INTERVAL 1 MILLISECOND
ORDER BY click_id, purchase_id
"""


@query(
    "q_stream_stream_left_join",
    oracle=_SS_LEFT_JOIN_ORACLE,
    tags=("join", "streaming"),
)
def q_stream_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER interval join — the second
    adversarial-semantics gate: NULL-padded rows exist only because
    state EVICTION proves a click can never match, so every null row is
    watermark behavior made visible (the inner gate q_stream_stream_join
    can never observe eviction; here eviction IS the output).

    The oracle replays the pinned emission rule (probed empirically,
    same discipline as q_stream_late_data): a never-matched click
    null-emits iff
    ``click_ts <= floor_ms(min(max click_ts, max purchase_ts))
    − delay − window − 1 ms``
    — the global watermark is the MIN over both inputs' watermarks
    (Spark's default multiple-watermark policy), the join-condition
    upper bound (6 h) extends the click's state lifetime, and Spark
    subtracts ONE MILLISECOND converting the eviction comparison to a
    strict bound. Unmatched clicks fresher than that are absent: the
    stream cannot yet prove they will never match — the honest
    difference from a batch LEFT JOIN, carried into the oracle rather
    than papered over. Matches equal the batch interval join exactly
    (in-order chunks make match-eviction lossless, module docstring).
    """
    e = load(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
    )
    # 2 chunks per side (r16, verdict ask #3 — same rationale as the
    # inner gate). Chunk-count-invariant HERE TOO: matches equal the
    # batch interval join for any in-order chunking, and the
    # null-emission rule depends only on the FINAL global watermark
    # (min over both sides of ms-floored max event time − delay), which
    # the availableNow flush batch applies after the last data batch
    # regardless of how the prefix was chunked. Oracle-verified at
    # sf0.001/sf0.01 + engine hash at sf0.1 unchanged
    # (docs/bench/r16_stream_join_chunks.json).
    s_c, tmp_c = _ordered_stream(
        clicks,
        ["click_ts", "click_id"],
        "c_user long, click_ts timestamp, click_id long",
        n_chunks=2,
    )
    s_p, tmp_p = _ordered_stream(
        purchases,
        ["purchase_ts", "purchase_id"],
        "p_user long, purchase_ts timestamp, purchase_id long",
        n_chunks=2,
    )
    joined = (
        s_c.withWatermark("click_ts", "1 hour")
        .join(
            s_p.withWatermark("purchase_ts", "1 hour"),
            (F.col("c_user") == F.col("p_user"))
            & (F.col("purchase_ts") >= F.col("click_ts"))
            & (
                F.col("purchase_ts")
                <= F.col("click_ts") + F.expr("INTERVAL 6 HOURS")
            ),
            "left_outer",
        )
        .select(
            F.col("c_user").alias("user_id"),
            "click_id",
            "purchase_id",
            "click_ts",
            "purchase_ts",
        )
    )
    got = _drain(joined, "t_q_ss_left_join", [tmp_c, tmp_p])
    return got.orderBy("click_id", "purchase_id")


_WITHIN_WM_DEDUP_ORACLE = """
WITH dup AS (
  SELECT event_id, ts, user_id, value FROM events
  UNION ALL
  SELECT event_id, ts + INTERVAL 30 MINUTE AS ts, user_id, value
  FROM events WHERE event_id % 4 = 0
)
SELECT event_id, min(ts) AS ts,
       min(user_id) AS user_id, min(value) AS value
FROM dup GROUP BY event_id
ORDER BY event_id
"""


@query(
    "q_stream_dedup_within_wm",
    oracle=_WITHIN_WM_DEDUP_ORACLE,
    tags=("llm", "dedup", "streaming"),
)
def q_stream_dedup_within_wm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dropDuplicatesWithinWatermark``: dedup on a key set WITHOUT
    the event-time column, yet with bounded state — the operator
    ``q_stream_dedup`` cannot express (there, bounded state REQUIRES
    the event-time key, so two deliveries of one logical record with
    different timestamps are different keys). Here every fourth event
    is re-delivered 30 minutes LATER in event time under the same
    event_id; the first arrival wins and the retry is absorbed because
    the pair lies within the 48-hour dedup horizon. In-order chunks
    make "first arrival" = minimum event time, so the oracle is a
    min-per-key collapse — the at-least-once-ingest-with-jitter
    contract (retries carry fresh timestamps) that a plain DISTINCT or
    (id, ts)-keyed dedup both get wrong."""
    e = load(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "value"
    )
    retry = e.where(F.col("event_id") % 4 == 0).withColumn(
        "ts", F.col("ts") + F.expr("INTERVAL 30 MINUTES")
    )
    dup = e.unionByName(retry)
    stream, tmp = _ordered_stream(
        dup,
        ["ts", "event_id"],
        "event_id long, ts timestamp, user_id long, value double",
    )
    deduped = stream.withWatermark("ts", "48 hours").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    got = _drain(deduped, "t_q_dedup_within", [tmp])
    return got.orderBy("event_id")


_CHAINED_STATEFUL_ORACLE = """
WITH dup AS (
  SELECT event_id, ts, event_type, value FROM events
  UNION ALL
  SELECT event_id, ts, event_type, value FROM events WHERE event_id % 3 = 0
),
dedup AS (SELECT DISTINCT event_id, ts, event_type, value FROM dup),
wm AS (
  SELECT date_trunc('milliseconds', max(ts)) - INTERVAL 1 HOUR AS w FROM dup
)
SELECT event_type,
       time_bucket(INTERVAL 6 HOUR, ts) AS win_start,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(SUM(value), 2) AS total
FROM dedup
GROUP BY event_type, win_start
HAVING win_start + INTERVAL 6 HOUR <= (SELECT w FROM wm)
ORDER BY event_type, win_start
"""


@query(
    "q_stream_chained_stateful",
    oracle=_CHAINED_STATEFUL_ORACLE,
    tags=("aggregation", "dedup", "streaming"),
)
def q_stream_chained_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO stateful operators chained in ONE streaming query —
    watermarked dropDuplicates feeding a tumbling-window aggregation in
    append mode. Every gate so far exercises one stateful operator at
    a time; real pipelines compose them (dedup at ingest, aggregate
    behind it), and the composition is where watermark PROPAGATION
    between operators lives. Oracle = batch DISTINCT → 6-hour window
    counts, filtered to windows the final watermark closed (end <=
    ms-floored max event time − 1 h, the append-emission rule pinned by
    q_session_window_append / test_session_append_emits_on_watermark_
    equality); the dedup stage drops nothing on in-order chunks
    (q_stream_dedup's argument), so every emitted window count is the
    deduplicated truth."""
    e = load(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    dup = e.unionAll(e.where(F.col("event_id") % 3 == 0))
    stream, tmp = _ordered_stream(
        dup,
        ["ts", "event_id"],
        "event_id long, ts timestamp, event_type string, value double",
    )
    out = (
        stream.withWatermark("ts", "1 hour")
        .dropDuplicates(["event_id", "ts"])
        .groupBy(F.window("ts", "6 hours"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.sum("value"), 2).alias("total"),
        )
        .select(
            "event_type",
            F.col("window.start").alias("win_start"),
            "n",
            "total",
        )
    )
    got = _drain(out, "t_q_chained", [tmp])
    return got.orderBy("event_type", "win_start")


# ---------------------------------------------------------------------------
# Pelican capability feedback on the TWS per-key-timer backend (r13
# verdict ask #6: the per-key-timer path carries gate mileage). One
# "start" event per user arms a pelican-lite crossing FSM
# (examples/pelican.rs:306-367 capability pattern): every output is a
# capability; "timeout_after:N" capabilities schedule a per-key timer
# whose expiry feeds "timeout" back to the FSM — the reference's
# feedback-worker thread as real Structured Streaming timers. The
# per-key output trace is a pure function of the FSM (timers only pace
# delivery), so the oracle is the distinct-user set cross-joined with
# the pure-DSL ground-truth trace.

_PELICAN_TRACE = [
    "veh:green",
    "timeout_after:100",
    "veh:yellow",
    "timeout_after:50",
    "ped:green",
]

_PELICAN_CAP_ORACLE = """
SELECT CAST(u.user_id AS VARCHAR) AS key, t.seq, t.value
FROM (SELECT DISTINCT user_id FROM events) u
CROSS JOIN (VALUES (0, 'veh:green'), (1, 'timeout_after:100'),
                   (2, 'veh:yellow'), (3, 'timeout_after:50'),
                   (4, 'ped:green')) AS t(seq, value)
ORDER BY key, seq
"""


@query(
    "q_pelican_capability_stream",
    oracle=_PELICAN_CAP_ORACLE,
    tags=("dsl", "fsm", "streaming", "tws"),
)
def q_pelican_capability_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed capability-feedback FSMs on per-key timers
    (transformWithStateInPandas), one crossing per user: 'start' emits
    vehicles-green + a 100ms timeout capability; the timer's expiry
    drives yellow + a 50ms capability; its expiry serves pedestrians.
    Ground truth is computed from the pure DSL term inside the gate
    (the backend-parity discipline) and must equal the oracle's VALUES
    trace; the streamed result must deliver it per key, exactly once,
    in order."""
    import time as _time

    from rspl_spark.dsl.core import Get, Put, run_prefix
    from rspl_spark.streaming import run_mealy
    from rspl_spark.streaming.sources import file_stream, write_sorted_chunks

    def build():
        def _m(*caps_then_state):
            *caps, state = caps_then_state
            sp = state
            for cap in reversed(caps):
                sp = Put(cap, (lambda s: lambda: s)(sp))
            return sp

        def idle():
            return Get(
                lambda ev: _m("veh:green", "timeout_after:100", wait_yellow())
                if ev == "start"
                else idle()
            )

        def wait_yellow():
            return Get(
                lambda ev: _m("veh:yellow", "timeout_after:50", wait_ped())
                if ev == "timeout"
                else wait_yellow()
            )

        def wait_ped():
            return Get(
                lambda ev: _m("ped:green", done()) if ev == "timeout" else wait_ped()
            )

        def done():
            return Get(lambda _ev: done())

        return idle()

    # pure-DSL ground truth; the oracle's VALUES list replays exactly this
    expected, sp = [], build()
    for ev in ("start", "timeout", "timeout"):
        outs, sp = run_prefix(sp, [ev])
        expected.extend(outs)
    if expected != _PELICAN_TRACE:
        raise AssertionError(
            f"pelican trace drifted from oracle: {expected}"
        )

    starts = (
        load(spark, sf_dir, "events")
        .select(F.col("user_id").cast("string").alias("key"))
        .distinct()
        .select("key", F.lit(0).alias("seq"), F.lit("start").alias("value"))
    )
    n_keys = starts.count()

    def cap(v):
        s = str(v)
        return (
            int(s.split(":", 1)[1]) if s.startswith("timeout_after:") else None
        )

    tmp = scratch_dir("rspl_sq_pelican_")
    name = f"q_pelican_cap_{uuid.uuid4().hex[:8]}"
    try:
        write_sorted_chunks(starts, tmp, ["key"], 1)
        stream = file_stream(spark, tmp, "key string, seq long, value string")
        out = run_mealy(
            stream,
            build,
            "string",
            backend="tws",
            timeout_event="timeout",
            timeout_capability=cap,
        )
        ck = scratch_dir("rspl_sq_pelican_ck_")
        from rspl_spark.streaming.sources import sized_stream_shuffle

        # hold the sized width until q.stop(): the micro-batch thread
        # captures the session's shuffle width asynchronously
        with sized_stream_shuffle(out, [tmp]):
            q = (
                out.writeStream.format("memory")
                .queryName(name)
                .outputMode("append")
                .option("checkpointLocation", ck)
                .trigger(processingTime="100 milliseconds")
                .start()
            )
            try:
                # poll-then-stop: the query never "finishes" (timers keep
                # the stream alive), so drain until every key delivered its
                # full trace
                want = n_keys * len(_PELICAN_TRACE)
                deadline = _time.time() + 300
                while _time.time() < deadline:
                    if spark.table(name).count() >= want:
                        break
                    _time.sleep(0.3)
                else:
                    raise RuntimeError(
                        f"q_pelican_capability_stream: {spark.table(name).count()}"
                        f"/{want} outputs after 300s"
                    )
            finally:
                q.stop()
        rows = spark.table(name).orderBy("key", "seq").collect()
        return spark.createDataFrame(rows, spark.table(name).schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        if "ck" in locals():
            shutil.rmtree(ck, ignore_errors=True)
