"""``fsm_batch`` and ``fsm_stream``: the keyed Mealy machine of
:mod:`perfbench.fsm` run as one ``interpret_batch`` job per operation,
and under ``run_mealy`` over a file-stream replay, one chunk per
micro-batch."""

from __future__ import annotations

import os
import time

import pyarrow.parquet as pq
from py4j.protocol import Py4JError

from perfbench import fsm, gen, sparkmetrics as sm
from perfbench.tracing import median, percentile, tail_percentile

EVENT_SCHEMA = "key long, seq long, kind string, v double"
SINK = "perfbench_out"  # memory-sink table of the stream


class FsmBatch:
    """One operation = compile the head, build the interpreter plan,
    collect the complete per-key result with ``toPandas``."""

    name = "fsm_batch"
    N_KEYS = 1_000
    N_EVENTS = 67_000  # ~67 events per key per call
    WARM_JOBS = 2  # codegen stages keep speeding up over the first jobs

    def __init__(self, ctx):
        self.ctx = ctx
        self.ops: list[dict] = []
        self.outputs = []
        self.layer: dict[str, list[float]] = {}
        self.rows_in: list[int] = []

    def generate(self) -> dict:
        self.table = gen.events(self.ctx.seed, self.N_EVENTS, self.N_KEYS)
        self.path = os.path.join(self.ctx.scratch, "events.parquet")
        pq.write_table(self.table, self.path)
        return {"events": self.table.num_rows, "keys": self.N_KEYS,
                "events_hash": gen.content_hash(self.table)}

    def _job(self, df):
        from rspl_spark.dsl import compile_batch, interpret_batch

        tr = self.ctx.tracer
        with tr.span("dsl.compiler.compile_batch") as s_c:
            head = compile_batch(fsm.head(), fsm.struct_frame(df))
        with tr.span("dsl.interpreter.interpret_batch") as s_i:
            out = interpret_batch(fsm.keyed_machine(), head, "double", key_col="key")
        with tr.span("action.toPandas"):
            pdf = out.toPandas()
        return out, pdf, s_c, s_i

    def warm_up(self) -> None:
        df = self.ctx.spark.read.parquet(self.path)
        for _ in range(self.WARM_JOBS):
            self._job(df)

    def measure(self) -> None:
        ctx, tr = self.ctx, self.ctx.tracer
        df = ctx.spark.read.parquet(self.path)
        t_end = time.time() + ctx.seconds
        while not self.ops or time.time() < t_end:
            t0 = time.time()
            try:
                with tr.span("op.job"):
                    out, pdf, s_c, s_i = self._job(df)
            except Exception as e:  # a failed job is a failed operation
                self.ops.append({"start": t0, "end": time.time(), "records": 0, "error": repr(e)})
                ctx.log(f"fsm_batch job failed: {e!r}")
                break
            t1 = time.time()
            self.ops.append({"start": t0, "end": t1, "records": self.N_EVENTS})
            self.outputs.append(pdf)
            if tr.enabled:
                with tr.span("trace.collect"):
                    self._collect_layers(out, s_c, s_i)

    def _collect_layers(self, out, s_c, s_i) -> None:
        jvm = self.ctx.spark._jvm
        qe = out._jdf.queryExecution()
        pm = sm.plan_metrics(jvm, qe.executedPlan())
        py = pm.get("FlatMapGroupsInPandasExec", {})
        add = lambda k, v: self.layer.setdefault(k, []).append(v)  # noqa: E731
        add("dsl.compiler.build_s", s_c.duration)
        add("dsl.interpreter.build_s", s_i.duration)
        add("dsl.interpreter.python_s", py.get("pythonTotalTime", 0) / 1000.0)
        add("dsl.interpreter.python_start_s",
            (py.get("pythonBootTime", 0) + py.get("pythonInitTime", 0)) / 1000.0)
        add("dsl.interpreter.arrow_mb",
            (py.get("pythonDataSent", 0) + py.get("pythonDataReceived", 0)) / sm.MIB)
        self.rows_in.append(pm.get("ShuffleExchangeExec", {}).get("recordsRead", 0))
        for k, v in sm.tracker_phases(qe).items():
            add(f"catalyst.{k}_s", v)

    def _reference(self) -> None:
        """Ground truth: single-thread ``eval_sp`` of the whole program."""
        if not hasattr(self, "expected"):
            self.runs = fsm.key_runs(self.table)
            ref, self.eval_s = fsm.reference(self.runs)
            self.expected = fsm.reference_hash(ref)

    def check(self) -> tuple[int, str]:
        self._reference()
        failed = 0
        for op, pdf in zip(self.ops, self.outputs):
            got = fsm.frame_hash(pdf)
            op["ok"] = got == self.expected
            failed += not op["ok"]
        failed += sum(1 for op in self.ops if "error" in op)
        return failed, f"expected rows/hash {self.expected}"

    def end_to_end(self) -> dict:
        walls = [op["end"] - op["start"] for op in self.ops if "error" not in op]
        p50 = median(walls)
        return {"events_per_s": self.N_EVENTS / p50, "batch_p50_s": p50}

    def layers(self) -> dict:
        lm = {k: median(v) for k, v in self.layer.items()}
        groups = int(self.outputs[-1]["key"].nunique()) if self.outputs else 0
        lm["dsl.interpreter.groups"] = groups
        lm["dsl.interpreter.events_per_group"] = median(self.rows_in) / groups if groups else 0.0
        lm.update(dsl_reference_layers(self))
        return lm


def dsl_reference_layers(w) -> dict:
    """``dsl.core`` and ``dsl.combinators`` from single-thread runs in
    the benchmark process over the workload's own events."""
    w._reference()
    n = sum(len(v) for v in w.runs.values())
    bare = fsm.bare_machine_seconds(w.runs)
    composed = fsm.composed_seconds(w.runs)
    return {
        "dsl.core.eval_events_per_s": n / w.eval_s,
        "dsl.combinators.compose_ratio": composed / bare,
    }


class FsmStream:
    """Closed loop: every chunk file is one micro-batch
    (``maxFilesPerTrigger=1``), drained as fast as the engine goes; the
    drain rate is the highest input rate sustained at this chunk size."""

    name = "fsm_stream"
    N_KEYS = 250
    CHUNK = 12_000  # events per micro-batch, ~48 per key
    N_CHUNKS = 40
    UNTIMED_BATCHES = 3  # warm-up: the query's first batches carry its start-up
    START_TIMEOUT_S = 120

    def __init__(self, ctx):
        self.ctx = ctx
        self.progress: list[dict] = []
        self.seen: dict[int, dict] = {}
        self.ops: list[dict] = []

    def generate(self) -> dict:
        from rspl_spark.streaming.sources import scratch_dir

        n = self.CHUNK * self.N_CHUNKS
        self.table = gen.events(self.ctx.seed, n, self.N_KEYS)
        self.src = scratch_dir(self.ctx.prefix + "chunks-")
        _write_chunks(self.table, self.src, self.CHUNK)
        return {"events": n, "keys": self.N_KEYS, "chunk_events": self.CHUNK,
                "chunks": self.N_CHUNKS, "events_hash": gen.content_hash(self.table)}

    def _start_query(self):
        from rspl_spark.dsl import compile_batch
        from rspl_spark.streaming import file_stream, run_mealy
        from rspl_spark.streaming.sources import scratch_dir

        spark, tr = self.ctx.spark, self.ctx.tracer
        with tr.span("streaming.sources.file_stream"):
            events = fsm.struct_frame(file_stream(spark, self.src, EVENT_SCHEMA))
        with tr.span("dsl.compiler.compile_batch") as s_c:
            head = compile_batch(fsm.head(), events)
        with tr.span("streaming.stateful.run_mealy"):
            out = run_mealy(head, fsm.keyed_machine, "double")
        ckpt = scratch_dir(self.ctx.prefix + "ckpt-")
        q = (out.writeStream.format("memory").queryName(SINK).outputMode("append")
             .option("checkpointLocation", ckpt).start())
        return q, s_c

    def warm_up(self) -> None:
        """Start the query and let its first batches run untimed: they
        carry the query's start-up (state store, Python runner) and the
        first passes through every code path."""
        from rspl_spark.streaming import mealy_backend

        self.backend = mealy_backend(self.ctx.spark)
        self.query, self.s_compile = self._start_query()
        self._poll(lambda seen: max(seen) >= self.UNTIMED_BATCHES - 1)

    def _poll(self, done) -> None:
        """Wait until ``done(progress seen so far, by batch id)`` holds.
        Polls only the latest progress event: fetching the whole recent
        list every few milliseconds takes CPU the query needs."""
        q, deadline = self.query, time.time() + self.START_TIMEOUT_S
        while q.isActive:
            last = q.lastProgress
            if last is not None and last["batchId"] not in self.seen:
                self.seen[last["batchId"]] = last
                if done(self.seen):
                    return
            if time.time() > deadline:
                raise TimeoutError("no micro-batch progress within the time-out")
            time.sleep(0.1)
        raise RuntimeError(f"stream ended early: {q.exception()}")

    def measure(self) -> None:
        def window_full(seen):
            timed = [seen[b] for b in sorted(seen) if b >= self.UNTIMED_BATCHES]
            if not timed:
                return False
            last = timed[-1]
            end = sm.progress_start(last) + last["durationMs"]["triggerExecution"] / 1000.0
            return end - sm.progress_start(timed[0]) >= self.ctx.seconds or last["batchId"] >= self.N_CHUNKS - 1

        error = None
        try:
            self._poll(window_full)
        except (RuntimeError, TimeoutError) as e:  # the stream failed or stalled
            error = repr(e)
            self.ctx.log(f"fsm_stream failed: {error}")
        finally:
            self.query.stop()
        self.progress = [p for p in self.query.recentProgress if p["numInputRows"] > 0]
        for p in self.progress:
            if p["batchId"] < self.UNTIMED_BATCHES:
                continue
            start = sm.progress_start(p)
            self.ops.append({"start": start, "end": start + p["durationMs"]["triggerExecution"] / 1000.0,
                             "records": p["numInputRows"], "batch": p["batchId"]})
        if error is not None:
            now = time.time()
            self.ops.append({"start": now, "end": now, "records": 0, "error": error})

    def _reference(self, extra: int = 0) -> tuple[int, str]:
        """Single-thread ``eval_sp`` over the chunks of every reported
        batch, plus ``extra`` more."""
        if extra == 0 and hasattr(self, "expected"):
            return self.expected
        k = 1 + max(p["batchId"] for p in self.progress) + extra
        runs = fsm.key_runs(self.table.slice(0, k * self.CHUNK))
        ref, eval_s = fsm.reference(runs)
        expected = fsm.reference_hash(ref)
        if extra == 0:
            self.runs, self.eval_s, self.expected = runs, eval_s, expected
        return expected

    def check(self) -> tuple[int, str]:
        """The sink holds every reported batch and perhaps the one the
        stop interrupted after its write; compare it with ``eval_sp``
        over the matching prefix of chunks."""
        got = fsm.frame_hash(self.ctx.spark.table(SINK).toPandas())
        expected = self._reference()
        if expected != got:
            expected = self._reference(extra=1)
        ok = expected == got
        for op in self.ops:
            op["ok"] = ok and "error" not in op
        return sum(not op["ok"] for op in self.ops), f"sink rows/hash {got}, reference {expected}"

    def end_to_end(self) -> dict:
        ops = [op for op in self.ops if "error" not in op]
        walls = [op["end"] - op["start"] for op in ops]
        span = max(op["end"] for op in ops) - min(op["start"] for op in ops)
        return {
            "events_per_s": sum(op["records"] for op in ops) / span,
            "batch_p50_s": median(walls),
        }

    def trace_batches(self) -> None:
        """Micro-batches as spans, each phase a child span laid out in
        the order MicroBatchExecution runs them."""
        tr = self.ctx.tracer
        for p in self.progress:
            if p["batchId"] < self.UNTIMED_BATCHES:
                continue
            d = p["durationMs"]
            start = sm.progress_start(p)
            bid = tr.add("streaming.microbatch", start, start + d["triggerExecution"] / 1000.0)
            t = start
            for phase in sm.BATCH_PHASES:
                dur = d.get(phase, 0) / 1000.0
                tr.add(f"streaming.batch.{phase}", t, t + dur, bid)
                t += dur

    def layers(self) -> dict:
        timed = [p for p in self.progress if p["batchId"] >= self.UNTIMED_BATCHES]
        d = lambda p, k: p["durationMs"].get(k, 0) / 1000.0  # noqa: E731
        so = lambda p: p["stateOperators"][0] if p["stateOperators"] else {}  # noqa: E731
        lm = {
            "streaming.batches": len(timed),
            "streaming.sources.offset_s": median(d(p, "latestOffset") + d(p, "getBatch") for p in timed),
            "streaming.batch.exec_s": median(d(p, "addBatch") for p in timed),
            "streaming.batch.planning_s": median(d(p, "queryPlanning") for p in timed),
            "streaming.batch.log_s": median(d(p, "walCommit") + d(p, "commitOffsets") for p in timed),
            "streaming.batch.fixed_s": median(d(p, "triggerExecution") - d(p, "addBatch") for p in timed),
            "streaming.stateful.update_s": median(so(p).get("allUpdatesTimeMs", 0) / 1000.0 for p in timed),
            "streaming.stateful.commit_s": median(so(p).get("commitTimeMs", 0) / 1000.0 for p in timed),
            "streaming.stateful.rows_total": so(timed[-1]).get("numRowsTotal", 0),
            "streaming.stateful.rows_updated": median(so(p).get("numRowsUpdated", 0) for p in timed),
            "streaming.stateful.state_mb": so(timed[-1]).get("memoryUsedBytes", 0) / sm.MIB,
            "dsl.compiler.build_s": self.s_compile.duration,
        }
        walls = [d(p, "triggerExecution") for p in timed]
        tail = tail_percentile(len(walls))
        self.tail = {"n": len(walls), "percentile": tail,
                     "value_s": percentile(walls, tail) if tail else None}
        lm.update(self._last_execution_layers())
        lm.update(dsl_reference_layers(self))
        return lm

    def _last_execution_layers(self) -> dict:
        """Python time and Catalyst phases of the last batch's
        IncrementalExecution, where the query still exposes it."""
        jvm = self.ctx.spark._jvm
        try:
            qe = self.query._jsq.streamingQuery().lastExecution()
            pm = sm.plan_metrics(jvm, qe.executedPlan())
            phases = sm.tracker_phases(qe)
        except Py4JError as e:  # not every query wrapper exposes it
            self.ctx.unreadable("streaming.stateful.python_s", f"lastExecution unreadable: {e!r}"[:200])
            return {}
        py = sum(m.get("pythonTotalTime", 0) for cls, m in pm.items() if "State" in cls)
        out = {f"catalyst.{k}_s": v for k, v in phases.items()}
        out["streaming.stateful.python_s"] = py / 1000.0
        return out


def _write_chunks(table, out_dir: str, size: int) -> None:
    """One parquet file per chunk, mtimes strictly increasing so the
    file source replays them in order."""
    base = time.time() - 10 * (table.num_rows // size + 1)
    for i in range(table.num_rows // size):
        path = os.path.join(out_dir, f"chunk_{i:05d}.parquet")
        pq.write_table(table.slice(i * size, size), path)
        os.utime(path, (base + i, base + i))
