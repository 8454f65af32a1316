"""Remaining streaming surface: rate source, console/parquet sinks,
stream-stream join with watermarks, print-sink analog (R10)."""

from __future__ import annotations

import pytest

pytestmark = pytest.mark.slow  # fuzz/streaming/scale tier: pytest -m "not slow" skips

import tempfile
import time

from pyspark.sql import functions as F

from rspl_spark.streaming import file_stream, write_stream_chunks
from rspl_spark.streaming.sinks import print_stream, to_console, to_parquet_sink


def test_rate_source_smoke(spark):
    """R12 analog: the rate source is the InfiniteList generator — assert
    it produces monotonically increasing ordinals."""
    stream = spark.readStream.format("rate").option("rowsPerSecond", 100).load()
    q = (
        stream.select("value")
        .writeStream.format("memory")
        .queryName("t_rate")
        .outputMode("append")
        .start()
    )
    try:
        deadline = time.time() + 30
        while time.time() < deadline and spark.table("t_rate").count() < 10:
            time.sleep(0.5)
        vals = sorted(r["value"] for r in spark.table("t_rate").collect())
        assert len(vals) >= 10
        assert vals[:3] == [0, 1, 2]  # ordinals from 0, no gaps at the head
    finally:
        q.stop()


def test_rate_micro_batch_deterministic(spark):
    """rate-micro-batch source: fixed rowsPerBatch → deterministic
    ordinals per micro-batch (the reproducible generator source)."""
    stream = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", 5)
        .option("startTimestamp", 0)
        .load()
    )
    q = (
        stream.select("value")
        .writeStream.format("memory")
        .queryName("t_rmb")
        .outputMode("append")
        .start()
    )
    try:
        deadline = time.time() + 30
        while time.time() < deadline and spark.table("t_rmb").count() < 15:
            time.sleep(0.5)
        vals = sorted(r["value"] for r in spark.table("t_rmb").collect())
        assert vals[:15] == list(range(15))  # exact ordinals, batch-sized
    finally:
        q.stop()


def test_console_sink_smoke(spark):
    with tempfile.TemporaryDirectory() as tmp:
        df = spark.createDataFrame([(i, i * 2) for i in range(5)], "seq long, value long")
        write_stream_chunks(spark, tmp, [df])
        q = to_console(file_stream(spark, tmp, "seq long, value long"))
        assert q.lastProgress is not None


def test_parquet_sink_checkpointed(spark):
    with tempfile.TemporaryDirectory() as tmp_in, tempfile.TemporaryDirectory() as tmp_out:
        df = spark.createDataFrame([(i, float(i)) for i in range(20)], "seq long, value double")
        write_stream_chunks(spark, tmp_in, [df.filter(F.col("seq") < 10), df.filter(F.col("seq") >= 10)])
        stream = file_stream(spark, tmp_in, "seq long, value double")
        out = stream.filter(F.col("value") >= 5.0)
        to_parquet_sink(out, tmp_out + "/data", tmp_out + "/ckpt")
        back = spark.read.parquet(tmp_out + "/data")
        assert back.count() == 15
        assert back.agg(F.min("seq")).collect()[0][0] == 5


def test_stream_stream_join_watermarked(spark):
    """Stream-stream inner join with watermarks + time-range condition
    (SURVEY §2.2 'stream-stream join w/ watermark')."""
    with tempfile.TemporaryDirectory() as t1, tempfile.TemporaryDirectory() as t2:
        clicks = spark.createDataFrame(
            [(k, f"2024-01-01 00:{m:02d}:00") for k, m in [(1, 1), (1, 20), (2, 5)]],
            "key long, ts_s string",
        ).select("key", F.col("ts_s").cast("timestamp").alias("c_ts"))
        views = spark.createDataFrame(
            [(k, f"2024-01-01 00:{m:02d}:00") for k, m in [(1, 2), (1, 45), (2, 6)]],
            "key long, ts_s string",
        ).select(F.col("key").alias("v_key"), F.col("ts_s").cast("timestamp").alias("v_ts"))
        write_stream_chunks(spark, t1, [clicks])
        write_stream_chunks(spark, t2, [views])
        s1 = file_stream(spark, t1, "key long, c_ts timestamp").withWatermark("c_ts", "10 minutes")
        s2 = file_stream(spark, t2, "v_key long, v_ts timestamp").withWatermark("v_ts", "10 minutes")
        joined = s1.join(
            s2,
            (F.col("key") == F.col("v_key"))
            & (F.col("v_ts") >= F.col("c_ts"))
            & (F.col("v_ts") <= F.col("c_ts") + F.expr("INTERVAL 5 MINUTES")),
        )
        q = (
            joined.writeStream.format("memory")
            .queryName("t_ssjoin")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {(r["key"], str(r["c_ts"])[14:16], str(r["v_ts"])[14:16]) for r in spark.table("t_ssjoin").collect()}
        # click@1 matches view@2; click@5 matches view@6; click@20 has no view within 5m
        assert got == {(1, "01", "02"), (2, "05", "06")}


def test_print_stream_returns_rest(spark, capsys):
    """R10 semantics (streams/mod.rs:41-52): print n, return the rest;
    the reference test pattern asserts the rest's head (tests/basic.rs)."""
    df = spark.createDataFrame([(i, i * 10) for i in range(6)], "seq long, value long")
    rest = print_stream(df, 3)
    vals = [r["value"] for r in rest.orderBy("seq").collect()]
    assert vals == [30, 40, 50]
    out = capsys.readouterr().out
    assert "20" in out  # the printed head included seq 2 → value 20
    # printing the rest again advances further (offset tracking)
    rest2 = print_stream(rest, 2)
    assert [r["value"] for r in rest2.collect()] == [50]


def test_print_stream_empty(spark):
    df = spark.createDataFrame([], "seq long, value long")
    assert print_stream(df, 3).count() == 0


def test_curation_pipeline_end_to_end(spark):
    """Composed streaming curation: quality + language + cross-batch
    exact dedup in one pipeline. A duplicate of a batch-1 doc arriving
    in batch 2 is dropped; junk (short or non-English) never passes."""
    from rspl_spark.streaming.pipeline import curate_stream

    good = ("the data pipeline reads the rows and is writing the output "
            "of the large table scan with the filter and the join " * 3)
    junk_short = "tiny doc"
    junk_lang = "der hund und die katze das ist der test und der rest " * 5
    c1 = spark.createDataFrame(
        [(1, good), (2, junk_short), (3, junk_lang)], "doc_id long, text string"
    )
    c2 = spark.createDataFrame(
        [(4, good), (5, good + " extra tail of the document")],
        "doc_id long, text string",
    )
    with tempfile.TemporaryDirectory() as tmp:
        write_stream_chunks(spark, tmp, [c1, c2])
        stream = file_stream(spark, tmp, "doc_id long, text string")
        curated = curate_stream(stream, min_quality=0.3, keep_langs=("en",))
        q = (
            curated.writeStream.format("memory")
            .queryName("t_curate")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        kept = sorted(r["doc_id"] for r in spark.table("t_curate").collect())
    # doc 1 kept; 2 fails quality; 3 fails language; 4 is an exact dup of
    # 1 arriving a batch later (state dedup); 5 is distinct → kept.
    assert kept == [1, 5]


def test_watermark_drops_late_data(spark):
    """Late-data semantics: a row older than the watermark arriving in a
    later micro-batch is EXCLUDED from its window's aggregate, while an
    on-time row is counted. (The reference has no late-data notion —
    arrival order is truth, SURVEY §2.3 — watermarking is capability
    closure from the north star.)"""
    from rspl_spark.streaming import tumbling_agg

    def mk(rows):
        return spark.createDataFrame(rows, "k string, ts_s string, v double").select(
            "k", F.col("ts_s").cast("timestamp").alias("ts"), "v"
        )

    # Spark's two-phase watermark: the late-record filter of batch N uses
    # the watermark computed after batch N-2 (filtering lags eviction by
    # one batch) — so the advancing event and the late arrival must be
    # separated by a full batch for the drop to be observable.
    c1 = mk(
        [
            ("a", "2024-01-01 00:10:00", 1.0),
            ("a", "2024-01-01 00:20:00", 1.0),
            ("a", "2024-01-01 01:30:00", 1.0),  # advances watermark to 01:20
        ]
    )
    c2 = mk([("a", "2024-01-01 02:10:00", 1.0)])  # watermark now in force
    # batch 3: one LATE row (00:40 < 01:20 watermark) + one on-time row.
    c3 = mk(
        [
            ("a", "2024-01-01 00:40:00", 100.0),  # must be dropped
            ("a", "2024-01-01 02:20:00", 1.0),
        ]
    )
    with tempfile.TemporaryDirectory() as tmp:
        write_stream_chunks(spark, tmp, [c1, c2, c3])
        stream = file_stream(spark, tmp, "k string, ts timestamp, v double")
        agged = tumbling_agg(
            stream,
            "ts",
            "1 hour",
            {"n": F.count(F.lit(1)), "total": F.sum("v")},
            watermark="10 minutes",
        )
        q = (
            agged.writeStream.format("memory")
            .queryName("t_late")
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        rows = spark.table("t_late").collect()
    # take the latest update per window
    latest = {}
    for r in rows:
        latest[str(r["win_start"])] = (r["n"], r["total"])
    # the late 100.0 row never lands in [00:00,01:00): count stays 2
    assert latest["2024-01-01 00:00:00"] == (2, 2.0)
    assert latest["2024-01-01 02:00:00"] == (2, 2.0)


def test_streaming_lsh_dedup_cross_batch(spark):
    """Streaming near-dup detection: a document arriving in batch 2 that
    near-duplicates one from batch 1 must be flagged (signatures held in
    bucket state across micro-batches)."""
    from rspl_spark.streaming.llm import streaming_lsh_dedup

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5
    near = base + "lambda mu"  # high shingle overlap with base
    far = "one two three four five six seven eight nine ten " * 5
    c1 = spark.createDataFrame([(1, base), (2, far)], "doc_id long, text string")
    c2 = spark.createDataFrame([(3, near)], "doc_id long, text string")
    with tempfile.TemporaryDirectory() as tmp:
        write_stream_chunks(spark, tmp, [c1, c2])
        stream = file_stream(spark, tmp, "doc_id long, text string")
        pairs = streaming_lsh_dedup(stream, threshold=0.5)
        q = (
            pairs.writeStream.format("memory")
            .queryName("t_slsh")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {
            (r["doc_a"], r["doc_b"])
            for r in spark.table("t_slsh").collect()
        }
    assert (1, 3) in got  # cross-batch near-dup found
    assert not any(2 in p for p in got)  # unrelated doc never paired


def test_stream_static_join(spark):
    """Stream-static join: streaming fact rows enriched against a static
    dimension — no watermark needed, the dim is broadcast per batch."""
    from rspl_spark.catalog import load

    nation = load(spark, "/root/testdata/sf0.001", "nation")
    with tempfile.TemporaryDirectory() as tmp:
        facts = spark.createDataFrame(
            [(i, i % 25) for i in range(50)], "seq long, nkey int"
        )
        write_stream_chunks(spark, tmp, [facts])
        stream = file_stream(spark, tmp, "seq long, nkey int")
        joined = stream.join(nation, stream.nkey == nation.n_nationkey).select(
            "seq", "n_name"
        )
        q = (
            joined.writeStream.format("memory")
            .queryName("t_ss")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        rows = spark.table("t_ss").collect()
        assert len(rows) == 50
        assert all(r["n_name"].startswith("NATION_") for r in rows)


def test_streaming_dedup_with_watermark(spark):
    """Streaming exact-dedup: dropDuplicates on a key within the
    watermark horizon — duplicate arriving in a later micro-batch is
    suppressed (state keeps seen keys)."""
    with tempfile.TemporaryDirectory() as tmp:
        c1 = spark.createDataFrame(
            [("k1", "2024-01-01 00:01:00"), ("k2", "2024-01-01 00:02:00")],
            "k string, ts_s string",
        ).select("k", F.col("ts_s").cast("timestamp").alias("ts"))
        c2 = spark.createDataFrame(
            [("k1", "2024-01-01 00:03:00"), ("k3", "2024-01-01 00:04:00")],
            "k string, ts_s string",
        ).select("k", F.col("ts_s").cast("timestamp").alias("ts"))
        write_stream_chunks(spark, tmp, [c1, c2])
        stream = file_stream(spark, tmp, "k string, ts timestamp")
        deduped = stream.withWatermark("ts", "1 hour").dropDuplicates(["k"])
        q = (
            deduped.writeStream.format("memory")
            .queryName("t_sdedup")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        keys = sorted(r["k"] for r in spark.table("t_sdedup").collect())
        assert keys == ["k1", "k2", "k3"]  # second k1 dropped across batches


def test_streaming_dedup_within_watermark(spark):
    """dropDuplicatesWithinWatermark: the state-BOUNDED streaming dedup —
    per-key state expires once the watermark passes, so state size is
    O(keys per horizon) instead of O(all keys ever). The 100 TB streaming
    dedup path: plain dropDuplicates grows state forever."""
    with tempfile.TemporaryDirectory() as tmp:
        c1 = spark.createDataFrame(
            [("k1", "2024-01-01 00:01:00"), ("k2", "2024-01-01 00:02:00")],
            "k string, ts_s string",
        ).select("k", F.col("ts_s").cast("timestamp").alias("ts"))
        c2 = spark.createDataFrame(
            # dup k1 inside the 1h horizon (dropped) + a fresh key
            [("k1", "2024-01-01 00:30:00"), ("k3", "2024-01-01 00:40:00")],
            "k string, ts_s string",
        ).select("k", F.col("ts_s").cast("timestamp").alias("ts"))
        write_stream_chunks(spark, tmp, [c1, c2])
        stream = file_stream(spark, tmp, "k string, ts timestamp")
        deduped = stream.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(["k"])
        q = (
            deduped.writeStream.format("memory")
            .queryName("t_sdedup_ww")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        keys = sorted(r["k"] for r in spark.table("t_sdedup_ww").collect())
        assert keys == ["k1", "k2", "k3"]


def test_paced_generator_stream(spark):
    """demands.rs over streaming: the Babylonian √2 generator paced by
    demand ticks across micro-batches — element 10 must hit the golden
    value (tests/demands.rs:8-13), state carried in GroupState."""
    from rspl_spark.dsl import paced_generate
    from rspl_spark.streaming import run_mealy_stream

    sp = lambda: paced_generate(lambda x: (x, (x + 2.0 / x) / 2.0), 1.0)
    # 11 demand ticks split across two micro-batches
    chunks = [
        [("g", i, 0) for i in range(6)],
        [("g", i, 0) for i in range(6, 11)],
    ]
    with tempfile.TemporaryDirectory() as tmp:
        dfs = [
            spark.createDataFrame(rows, "key string, seq long, value long")
            for rows in chunks
        ]
        write_stream_chunks(spark, tmp, dfs)
        stream = file_stream(spark, tmp, "key string, seq long, value long")
        out = run_mealy_stream(stream, sp, "double")
        q = (
            out.writeStream.format("memory")
            .queryName("t_paced")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        vals = [r["value"] for r in spark.table("t_paced").orderBy("seq").collect()]
    assert len(vals) == 11  # one emission per demand tick
    assert abs(vals[10] - 2.0**0.5) < 1e-9  # Babylonian convergence


def test_fsm_timeout_feedback(spark):
    """Pelican feedback (examples/pelican.rs:306-367): a pedestrian-light
    FSM arms on 'push' and needs a Timeout event to emit 'walk'. The
    reference re-injects it via a second channel+thread; here the state
    timeout feeds the sentinel back into the same FSM.

    Chunk 1 = key 'a' gets push; chunk 2 = key 'b' data only → between
    the two micro-batches key 'a' times out and its FSM must receive the
    sentinel (-1) and emit walk (=99)."""
    from rspl_spark.dsl.core import Get, Put
    from rspl_spark.streaming import run_mealy_stream

    def idle():
        def t(ev):
            if ev == 1:  # push button → armed, wait for timeout
                return armed()
            return idle()

        return Get(t)

    def armed():
        def t(ev):
            if ev == -1:  # timeout sentinel → walk signal
                return Put(99, idle)
            return armed()

        return Get(t)

    chunks = [
        [("a", 0, 1)],  # push for 'a'
        [("b", 0, 0), ("b", 1, 0)],  # unrelated traffic → triggers batch 2
    ]
    with tempfile.TemporaryDirectory() as tmp:
        dfs = [
            spark.createDataFrame(rows, "key string, seq long, value long")
            for rows in chunks
        ]
        write_stream_chunks(spark, tmp, dfs)
        stream = file_stream(spark, tmp, "key string, seq long, value long")
        out = run_mealy_stream(stream, idle, "long", timeout_ms=1, timeout_event=-1)
        q = (
            out.writeStream.format("memory")
            .queryName("t_timeout")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        # Every timeout re-arms, so the availableNow query never ends:
        # poll the sink for the walk, then stop the query.
        try:
            deadline = time.time() + 120
            while time.time() < deadline:
                rows = spark.table("t_timeout").collect()
                got = {(r["key"], r["value"]) for r in rows}
                if ("a", 99) in got:
                    break
                time.sleep(0.25)
        finally:
            q.stop()
        assert ("a", 99) in got  # walk emitted via timeout feedback


def test_streaming_ivf_assign_batch_parity(spark):
    """Streaming IVF cell assignment against a frozen codebook is the
    SAME expression as batch kmeans_assign — finite-prefix parity, the
    rspl way (tests/basic.rs style)."""
    from rspl_spark.operators.similarity import kmeans_assign

    cents = [[0.0, 0.0, 0.0, 0.0], [10.0, 10.0, 10.0, 10.0]]
    rows = [(i, [float(i % 2 * 10 + d * 0.1) for d in range(4)]) for i in range(20)]
    schema = "vec_id long, embedding array<double>"
    static = spark.createDataFrame(rows, schema)
    with tempfile.TemporaryDirectory() as tmp:
        write_stream_chunks(spark, tmp, [static])
        stream = file_stream(spark, tmp, schema)
        q = (
            kmeans_assign(stream, cents)
            .writeStream.format("memory")
            .queryName("t_sivf")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = sorted(
            (r["vec_id"], r["cid"], r["dist2"])
            for r in spark.table("t_sivf").collect()
        )
    expected = sorted(
        (r["vec_id"], r["cid"], r["dist2"])
        for r in kmeans_assign(static, cents).collect()
    )
    assert got == expected  # exact parity, dist2 included


def test_ivf_ingest_with_retrain_hook(spark):
    """foreachBatch ingest: batch 1 assigns against the initial codebook
    (epoch 0); the retrain hook then refreshes the codebook, and batch 2
    assigns against the NEW one (epoch 1) — each epoch hash-matches the
    batch kmeans_assign with the corresponding centroids."""
    from rspl_spark.operators.similarity import kmeans_assign
    from rspl_spark.streaming.llm import ivf_ingest_with_retrain

    cents0 = [[0.0] * 4, [10.0] * 4]
    cents1 = [[6.0] * 4, [10.0] * 4]  # refit moves cell 0: some vectors flip
    schema = "vec_id long, embedding array<double>"
    c1 = spark.createDataFrame(
        [(i, [float(v)] * 4) for i, v in [(1, 1), (2, 7), (3, 9)]], schema
    )
    c2 = spark.createDataFrame(
        [(i, [float(v)] * 4) for i, v in [(4, 1), (5, 7), (6, 9)]], schema
    )
    collected = []

    def sink(df, batch_id):
        collected.extend(
            (r["vec_id"], r["cid"], r["epoch"]) for r in df.collect()
        )

    def refit(batch_df, centroids):
        assert len(centroids) == 2
        return cents1

    with tempfile.TemporaryDirectory() as tmp:
        write_stream_chunks(spark, tmp, [c1, c2])
        stream = file_stream(spark, tmp, schema)
        q = (
            ivf_ingest_with_retrain(
                stream, cents0, sink, retrain_every=1, refit=refit
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    got = sorted(collected)
    exp0 = [(r["vec_id"], r["cid"], 0) for r in kmeans_assign(c1, cents0).collect()]
    exp1 = [(r["vec_id"], r["cid"], 1) for r in kmeans_assign(c2, cents1).collect()]
    assert got == sorted(exp0 + exp1)
    # the refresh is OBSERVABLE on the SAME value: 7 sits past the cell
    # boundary under cents0 (midpoint 5 → cell 1) but inside it under
    # cents1's moved centroid (midpoint 8 → cell 0)
    by_id = {v: c for v, c, _ in got}
    assert by_id[2] == 1 and by_id[5] == 0


def test_streaming_token_packing_batch_parity(spark):
    """Cross-batch sequence packing: the per-source cumulative token sum
    carries through state, so bins assigned over two micro-batches equal
    the batch packer run on the full prefix (arrival follows doc_id
    order — the declared parity condition)."""
    from pyspark.sql.window import Window

    from rspl_spark.streaming.llm import streaming_token_packing

    budget = 10
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "source string, doc_id long, text string"
    )
    # source a: docs of 4 tokens each → bins roll over INSIDE and ACROSS
    # batches (cum 0,4,8 | 12,16 → bins 0,0,0,1,1 …)
    c1 = mk([("a", i, "w x y z") for i in range(3)] + [("b", 0, "t1 t2")])
    c2 = mk([("a", i, "w x y z") for i in range(3, 6)] + [("b", 1, "t3 t4")])
    with tempfile.TemporaryDirectory() as tmp:
        write_stream_chunks(spark, tmp, [c1, c2])
        stream = file_stream(spark, tmp, "source string, doc_id long, text string")
        q = (
            streaming_token_packing(stream, budget=budget)
            .writeStream.format("memory")
            .queryName("t_spack")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = sorted(
            (r["source"], r["doc_id"], r["bin"])
            for r in spark.table("t_spack").collect()
        )
    # batch replay on the union
    static = c1.unionByName(c2)
    nt = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    expected = sorted(
        (r["source"], r["doc_id"], r["bin"])
        for r in static.select("source", "doc_id", nt.alias("nt"))
        .withColumn("bin", ((F.sum("nt").over(w) - F.col("nt")) / budget).cast("long"))
        .collect()
    )
    assert got == expected
    # and the state genuinely crossed batches: doc 3 of source a (first
    # row of batch 2) lands in bin 1, not back in bin 0
    assert ("a", 3, 1) in got


def test_streaming_token_packing_multi_chunk_group(spark):
    """A group larger than the Arrow batch size arrives at the stateful
    op as SEVERAL pandas chunks in arbitrary order; the packer must sort
    the whole group once or the running sum diverges from the batch
    packer (regression for the per-chunk sort bug)."""
    from pyspark.sql.window import Window

    from rspl_spark.streaming.llm import streaming_token_packing

    budget = 7
    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "3")
    try:
        # one source, 20 docs of 3 tokens → arrives as ≥7 Arrow chunks
        static = spark.createDataFrame(
            [("a", i, "t1 t2 t3") for i in range(20)],
            "source string, doc_id long, text string",
        )
        with tempfile.TemporaryDirectory() as tmp:
            write_stream_chunks(spark, tmp, [static])
            stream = file_stream(
                spark, tmp, "source string, doc_id long, text string"
            )
            q = (
                streaming_token_packing(stream, budget=budget)
                .writeStream.format("memory")
                .queryName("t_spack_mc")
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)
            got = sorted(
                (r["doc_id"], r["bin"]) for r in spark.table("t_spack_mc").collect()
            )
        nt = F.size(F.split(F.trim(F.col("text")), r"\s+"))
        w = (
            Window.partitionBy("source")
            .orderBy("doc_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        expected = sorted(
            (r["doc_id"], r["bin"])
            for r in static.select("source", "doc_id", nt.alias("nt"))
            .withColumn(
                "bin", ((F.sum("nt").over(w) - F.col("nt")) / budget).cast("long")
            )
            .collect()
        )
        assert got == expected
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)


def test_streaming_lsh_dedup_cap_bounds_state(spark):
    """max_per_bucket=1 keeps only the newest signature per bucket:
    identical docs across three batches pair only with their immediate
    predecessor — the evicted batch-1 doc never partners batch 3. This
    is the bounded-state guarantee for month-long ingests."""
    from rspl_spark.streaming.llm import streaming_lsh_dedup

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5
    chunks = [
        spark.createDataFrame([(i, base)], "doc_id long, text string")
        for i in (1, 2, 3)
    ]
    with tempfile.TemporaryDirectory() as tmp:
        write_stream_chunks(spark, tmp, chunks)
        stream = file_stream(spark, tmp, "doc_id long, text string")
        pairs = streaming_lsh_dedup(stream, threshold=0.5, max_per_bucket=1)
        q = (
            pairs.writeStream.format("memory")
            .queryName("t_slsh_cap")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {(r["doc_a"], r["doc_b"]) for r in spark.table("t_slsh_cap").collect()}
    assert (1, 2) in got  # doc 2 saw doc 1 (state held between batches)
    assert (2, 3) in got  # doc 3 saw doc 2 (the one retained signature)
    assert (1, 3) not in got  # doc 1 evicted by the cap before batch 3


def test_streaming_lsh_dedup_ttl_evicts_old_signatures(spark):
    """ttl_seconds evicts signatures older than the horizon: a duplicate
    arriving after the TTL is NOT paired with the stale original, while
    same-batch (inside-horizon) pairs still fire — batch parity holds
    within the TTL window, full history is the batch path's job."""
    from rspl_spark.streaming.llm import streaming_lsh_dedup

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5
    c1 = spark.createDataFrame([(1, base)], "doc_id long, text string")
    # batch 2 carries an internal duplicate pair (2, 3): proves detection
    # still works inside the horizon after batch-1 state was aged out
    c2 = spark.createDataFrame([(2, base), (3, base)], "doc_id long, text string")
    with tempfile.TemporaryDirectory() as tmp:
        write_stream_chunks(spark, tmp, [c1, c2])
        stream = file_stream(spark, tmp, "doc_id long, text string")
        # micro-batches are >= 1s apart (file mtimes force separate
        # triggers and pandas-state batches take >100ms); 1ms TTL makes
        # everything from an earlier batch stale without wall-clock sleeps
        pairs = streaming_lsh_dedup(stream, threshold=0.5, ttl_seconds=0.001)
        q = (
            pairs.writeStream.format("memory")
            .queryName("t_slsh_ttl")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {(r["doc_a"], r["doc_b"]) for r in spark.table("t_slsh_ttl").collect()}
    assert (2, 3) in got  # inside-horizon duplicate found
    assert (1, 2) not in got and (1, 3) not in got  # stale signature evicted


def test_streaming_semantic_dedup_cap_bounds_state(spark):
    """max_per_cell=1 keeps only the newest embedding per cell:
    identical vectors across three batches pair only with their
    immediate predecessor (the semantic twin of the LSH cap test —
    the bounded-state guarantee for month-long embedding ingests)."""
    from rspl_spark.streaming.llm import semantic_prep, streaming_semantic_dedup

    cents = [[1.0, 0.0], [0.0, 1.0]]
    vec = [1.0, 0.1]
    chunks = [
        spark.createDataFrame([(i, vec)], "vec_id long, embedding array<float>")
        for i in (1, 2, 3)
    ]
    empty_store = semantic_prep(
        chunks[0].limit(0), cents
    )  # store-free run: only the stateful path is active
    with tempfile.TemporaryDirectory() as tmp:
        write_stream_chunks(spark, tmp, chunks)
        stream = file_stream(spark, tmp, "vec_id long, embedding array<float>")
        pairs = streaming_semantic_dedup(
            stream, empty_store, cents, threshold=0.5, max_per_cell=1
        )
        q = (
            pairs.writeStream.format("memory")
            .queryName("t_ssem_cap")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {(r["doc_a"], r["doc_b"]) for r in spark.table("t_ssem_cap").collect()}
    assert (1, 2) in got
    assert (2, 3) in got
    assert (1, 3) not in got  # evicted by the cap before batch 3


def test_write_sorted_chunks_global_order(spark):
    """r11: the executor-side chunk writer yields globally ordered
    chunks — reading part files in mtime order reconstructs the full
    sort, with no driver materialization in the harness."""
    import os

    from rspl_spark.streaming import write_sorted_chunks

    df = spark.createDataFrame(
        [(i * 7919 % 100, i) for i in range(100)], "k long, i long"
    )
    with tempfile.TemporaryDirectory() as tmp:
        write_sorted_chunks(df, tmp, ["k", "i"], n_chunks=4)
        parts = sorted(
            (os.path.getmtime(os.path.join(tmp, f)), os.path.join(tmp, f))
            for f in os.listdir(tmp)
            if f.startswith("part-")
        )
        seen = []
        for _, p in parts:
            seen += [
                (r["k"], r["i"]) for r in spark.read.parquet(p).collect()
            ]
        assert seen == sorted(seen)
        assert len(seen) == 100
        assert len(parts) >= 2  # actually chunked


def test_session_window_stream_merges_across_batches(spark):
    """A session straddling a micro-batch boundary must MERGE in the
    state store (sessions are state, not closable per batch): events
    10 minutes apart with a 30-minute gap, split mid-session across
    chunks, yield ONE session."""
    from rspl_spark.streaming.sources import run_to_memory_sink

    rows = [(1, f"2024-01-01 00:{m:02d}:00", float(m)) for m in (0, 10, 20, 30)]
    df = spark.createDataFrame(rows, "user_id long, ts_s string, v double").select(
        "user_id", F.col("ts_s").cast("timestamp").alias("ts"), "v"
    )
    with tempfile.TemporaryDirectory() as tmp:
        write_stream_chunks(
            spark, tmp, [df.filter(F.col("v") < 20), df.filter(F.col("v") >= 20)]
        )
        stream = file_stream(spark, tmp, "user_id long, ts timestamp, v double")
        agg = (
            stream.groupBy(F.session_window("ts", "30 minutes"), "user_id")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        run_to_memory_sink(agg, "t_sess_merge", output_mode="complete")
        got = [
            (r["user_id"], r["n"])
            for r in spark.table("t_sess_merge").collect()
        ]
    assert got == [(1, 4)]


def test_stream_dedup_watermark_eviction_contract(spark):
    """r11: watermarked dropDuplicates — state evicts below the
    watermark, and LATE rows (duplicate or fresh) are dropped entirely,
    so the output stays exactly-once deduped; a late fresh row is data
    loss by the documented watermark contract (batch replay backstop)."""
    from rspl_spark.streaming.sources import run_to_memory_sink

    def chunk(rows):
        return spark.createDataFrame(
            [(i, f"2024-01-01 {h:02d}:00:00") for i, h in rows],
            "k long, ts_s string",
        ).select("k", F.col("ts_s").cast("timestamp").alias("ts"))

    chunks = [
        chunk([(1, 0), (2, 1)]),
        chunk([(2, 1), (3, 6)]),   # dup of 2 (same ts, above wm) dropped
        chunk([(1, 0), (9, 0)]),   # BOTH late (wm = 6h - 1h): dropped
        chunk([(4, 7)]),
    ]
    with tempfile.TemporaryDirectory() as tmp:
        write_stream_chunks(spark, tmp, chunks)
        stream = file_stream(spark, tmp, "k long, ts timestamp")
        out = stream.withWatermark("ts", "1 hour").dropDuplicates(["k", "ts"])
        run_to_memory_sink(out, "t_wm_dedup", timeout_s=180)
        got = sorted(r["k"] for r in spark.table("t_wm_dedup").collect())
    assert got == [1, 2, 3, 4]  # one of each; late fresh 9 lost by contract

# The watermark drop-rule pin tests moved to
# tests/test_00_watermark_mechanics_pin.py (r13) so they run FIRST.




def test_append_chunk_orders_after_existing(spark):
    """append_chunk schedules its file strictly after every chunk
    already in the dir (mtime contract the adversarial gates rely on),
    and the stream replays it as the final micro-batch."""
    import os

    from rspl_spark.streaming.sources import append_chunk, write_sorted_chunks

    df = spark.createDataFrame([(i,) for i in range(30)], "v long")
    extra = spark.createDataFrame([(99,)], "v long")
    with tempfile.TemporaryDirectory() as tmp:
        write_sorted_chunks(df, tmp, ["v"], 3)
        append_chunk(extra, tmp, "tail_chunk")
        tail_mt = max(
            os.path.getmtime(os.path.join(r, f))
            for r, _, fs in os.walk(os.path.join(tmp, "tail_chunk"))
            for f in fs
        )
        rest_mt = max(
            os.path.getmtime(os.path.join(tmp, f))
            for f in os.listdir(tmp)
            if f.startswith("part-")
        )
        assert tail_mt > rest_mt


def test_streaming_token_packing_null_text_counts_zero(spark):
    """Review fix: a NULL text row is 0 tokens — unguarded, ANSI
    size(split(NULL)) is NULL -> NaN -> int(NaN) kills the query (and
    legacy -1 silently corrupts every later bin's running sum)."""
    from rspl_spark.streaming.llm import streaming_token_packing

    c1 = spark.createDataFrame(
        [("a", 0, "w x y z"), ("a", 1, None), ("a", 2, "w x y z"),
         ("a", 3, "w x y z")],
        "source string, doc_id long, text string",
    )
    with tempfile.TemporaryDirectory() as tmp:
        write_stream_chunks(spark, tmp, [c1])
        stream = file_stream(
            spark, tmp, "source string, doc_id long, text string"
        )
        q = (
            streaming_token_packing(stream, budget=10)
            .writeStream.format("memory")
            .queryName("t_spack_null")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)
    got = {
        r["doc_id"]: (r["nt"], r["bin"])
        for r in spark.table("t_spack_null").collect()
    }
    # cum 0,4,4,8 -> bins 0,0,0,0 ; doc 3 ends cum=12 (next doc would bin 1)
    assert got == {0: (4, 0), 1: (0, 0), 2: (4, 0), 3: (4, 0)}


def test_curate_stream_string_doc_ids(spark):
    """Review fix: the output id column's type is derived from the
    input (a string doc_id crashed the hardcoded `long` schema at Arrow
    conversion inside the running query)."""
    from rspl_spark.streaming.pipeline import curate_stream

    good = ("the data pipeline reads the rows and is writing the output "
            "of the large table scan with the filter and the join " * 3)
    c1 = spark.createDataFrame(
        [("doc-a", good), ("doc-b", good)], "doc_id string, text string"
    )
    with tempfile.TemporaryDirectory() as tmp:
        write_stream_chunks(spark, tmp, [c1])
        stream = file_stream(spark, tmp, "doc_id string, text string")
        curated = curate_stream(stream, min_quality=0.3, keep_langs=("en",))
        q = (
            curated.writeStream.format("memory")
            .queryName("t_curate_strid")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)
    kept = sorted(r["doc_id"] for r in spark.table("t_curate_strid").collect())
    assert kept == ["doc-a"]  # doc-b is an exact duplicate -> dropped


def test_tws_rejects_both_feedback_modes(spark):
    """Review fix: timeout_ms + timeout_capability share the key's timer
    namespace; passing both raises instead of silently dropping the idle
    sentinel."""
    import pytest as _pytest

    from rspl_spark.dsl import map_sp
    from rspl_spark.streaming import run_mealy_stream_tws

    df = spark.createDataFrame([("k", 0, 1)], "key string, seq long, value long")
    with _pytest.raises(ValueError, match="mutually"):
        run_mealy_stream_tws(
            df, lambda: map_sp(lambda v: v), "long",
            timeout_ms=1000, timeout_event=-1,
            timeout_capability=lambda v: 10,
        )
