"""Benchmark of rspl_spark, end to end and per layer.

    python3 perfbench/run.py --workload fsm_batch --seed 1 --seconds 20 --trace 0

Run from the repository root. Workloads, metrics and units are defined
in ``BENCHMARK.json``. The command generates its inputs from ``--seed``,
starts one Spark session at ``local[<cores available>]``, warms up,
runs the workload in a closed loop for ``--seconds``, checks every
output against a reference, and prints as its last stdout line::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` the per-layer ones, from spans recorded around each call
into a layer and from Spark's own metrics. The line before it carries
host-noise diagnostics (CPU probes, backend, versions, input sizes and
content hashes). Scratch files live under ``perfbench/.scratch`` and
spans are written to ``perfbench/.traces``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCRATCH_ROOT = os.path.join(HERE, ".scratch")
TRACE_DIR = os.path.join(HERE, ".traces")
PREFIX = "perfbench-"
EXIT_UNAVAILABLE = 2


@dataclass
class Ctx:
    seed: int
    seconds: int
    cpus: int
    scratch: str
    prefix: str
    tracer: object
    spark: object = None
    notes: dict = field(default_factory=dict)

    def log(self, msg: str) -> None:
        print(f"[perfbench] {msg}", file=sys.stderr, flush=True)

    def unreadable(self, metric: str, reason: str) -> None:
        self.notes.setdefault("unreadable", {})[metric] = reason


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True


def clean_stale_scratch() -> list[str]:
    """Delete scratch directories left by benchmark runs that are gone."""
    removed = []
    if not os.path.isdir(SCRATCH_ROOT):
        return removed
    for name in os.listdir(SCRATCH_ROOT):
        if not name.startswith(PREFIX):
            continue
        pid = name[len(PREFIX):].split("-", 1)[0]
        if pid.isdigit() and _alive(int(pid)):
            continue
        shutil.rmtree(os.path.join(SCRATCH_ROOT, name), ignore_errors=True)
        removed.append(name)
    return removed


def confine_to(scratch: str) -> None:
    """Point every temporary and local directory Spark, the JVM and the
    Python workers use into ``scratch``."""
    tmp = os.path.join(scratch, "tmp")
    local = os.path.join(scratch, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["RSPL_STREAM_SCRATCH"] = scratch
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData"',
        f"--conf spark.sql.warehouse.dir={os.path.join(scratch, 'warehouse')}",
        "--conf spark.ui.showConsoleProgress=false",
        "pyspark-shell",
    ])
    tempfile.tempdir = tmp


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for both."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def reap_children() -> None:
    """Wait for (and if need be end) any process this run still has."""
    from perfbench.probes import process_tree

    deadline = time.time() + 30
    while time.time() < deadline:
        kids = [p for p in process_tree(os.getpid()) if p != os.getpid()]
        if not kids:
            return
        time.sleep(0.5)
    for pid in kids:
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass


def common_layers(ctx, w, t) -> dict:
    """Per-layer metrics every workload reports."""
    from perfbench import sparkmetrics as sm
    from perfbench.tracing import covered

    tr = ctx.tracer
    n_ops = max(len(w.ops), 1)
    stats = sm.job_group_stats(ctx.spark, t["job_group"])
    per_op = len(w.progress) if hasattr(w, "progress") else n_ops
    lo = min(op["start"] for op in w.ops)
    hi = max(op["end"] for op in w.ops)
    layer_spans = [(s.start, s.end) for s in tr.spans
                   if not s.name.startswith(("op.", "session."))]
    # what the traced timed part spends that the untraced one does not
    overhead = covered([(s.start, s.end) for s in tr.named("trace.collect")], lo, hi)
    return {
        "session.start_s": t["session_s"],
        "session.warmup_s": t["warmup_s"],
        "spark.jobs": stats["jobs"] / per_op,
        "spark.stages": stats["stages"] / per_op,
        "spark.tasks": stats["tasks"] / per_op,
        "exchange.shuffle_mb": stats["shuffle_mb"] / per_op,
        "sort.spill_mb": stats["spill_mb"] / per_op,
        "jvm.gc_s": t["gc"][1],
        "jvm.gc_count": t["gc"][0],
        "proc.rss_jvm_mb": t["rss"]["jvm"] / 2**20,
        "proc.rss_python_mb": t["rss"]["python"] / 2**20,
        "trace.unattributed_s": (hi - lo) - covered(layer_spans, lo, hi),
        "trace.overhead_s": overhead,
    }


def run(ctx: Ctx, workload_cls, spec: dict, t_proc: float, trace: bool) -> tuple[dict, dict]:
    from perfbench import probes, sparkmetrics as sm

    tr = ctx.tracer
    diag = {"workload": workload_cls.name, "seed": ctx.seed, "seconds": ctx.seconds,
            "cpus": ctx.cpus, "python": sys.version.split()[0]}
    w = workload_cls(ctx)
    with probes.RssSampler() as rss:
        t0 = time.time()
        diag["cpu_probe_start_s"] = {"single": probes.cpu_probe(),
                                     "parallel": probes.cpu_probe_parallel(ctx.cpus)}
        probe_s = time.time() - t0
        with tr.span("bench.generate"):
            t0 = time.time()
            diag["inputs"] = w.generate()
            gen_s = time.time() - t0
        diag["generate_s"] = gen_s

        from rspl_spark.session import get_spark

        t0 = time.time()
        with tr.span("session.get_spark"):
            ctx.spark = get_spark("perfbench", cpus=ctx.cpus)
            ctx.spark.sparkContext.setLogLevel("ERROR")
        session_s = time.time() - t0
        diag["spark"] = ctx.spark.version
        diag["master"] = ctx.spark.sparkContext.master
        t0 = time.time()
        with tr.span("session.warmup"):
            w.warm_up()
        warmup_s = time.time() - t0
        setup_s = time.time() - t_proc - gen_s - probe_s
        if hasattr(w, "backend"):
            diag["mealy_backend"] = w.backend

        group = "perfbench-timed"
        ctx.spark.sparkContext.setJobGroup(group, "timed operations")
        gc0, ticks0 = sm.gc_totals(ctx.spark), probes.cpu_ticks()
        w.measure()
        gc1, ticks1 = sm.gc_totals(ctx.spark), probes.cpu_ticks()
        hz = os.sysconf("SC_CLK_TCK")
        diag["timed_cpu_s"] = {k: (ticks1[k] - ticks0[k]) / hz for k in ticks0}
        if hasattr(w, "query"):
            group = str(w.query.runId)
    peak = rss.peak
    diag["rss_samples"] = rss.samples

    metrics = {}
    if trace:
        with tr.span("trace.collect"):
            if hasattr(w, "trace_batches"):
                w.trace_batches()
            layers = w.layers()
        t = {"session_s": session_s, "warmup_s": warmup_s, "job_group": group,
             "gc": (gc1[0] - gc0[0], gc1[1] - gc0[1]), "rss": peak}
        layers.update(common_layers(ctx, w, t))
        if hasattr(w, "tail"):
            diag["batch_tail"] = w.tail
        for m in spec["per_layer"]:
            if m["name"] not in layers:
                ctx.unreadable(m["name"], f"not exercised by {w.name}")
            metrics[m["name"]] = {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]}
        os.makedirs(TRACE_DIR, exist_ok=True)
        tr.dump(os.path.join(TRACE_DIR, f"{w.name}-seed{ctx.seed}.json"))

    failed, detail = w.check()
    diag["check"] = detail
    diag["ops"] = [{k: (round(v, 4) if isinstance(v, float) else v) for k, v in op.items()}
                   for op in w.ops]
    attempted = len(w.ops) + getattr(w, "extra_operations", 0)
    e2e = w.end_to_end()
    e2e["setup_s"] = setup_s
    diag["end_to_end"] = e2e
    diag["peak_rss_mb"] = peak["total"] / 2**20
    diag["setup"] = {"session_s": session_s, "warmup_s": warmup_s}
    if not trace:
        for m in spec["end_to_end"]:
            metrics[m["name"]] = {"value": float(e2e[m["name"]]), "unit": m["unit"]}
    diag["cpu_probe_end_s"] = {"single": probes.cpu_probe(),
                               "parallel": probes.cpu_probe_parallel(ctx.cpus)}
    diag.update(ctx.notes)
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
    return result, diag


def main(argv=None) -> int:
    if sys.path and os.path.abspath(sys.path[0]) == HERE:
        sys.path[0] = ROOT  # import the benchmark as a package, never its modules bare
    else:
        sys.path.insert(0, ROOT)
    from perfbench.probes import process_start_epoch

    t_proc = process_start_epoch()
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    try:
        import pyspark  # noqa: F401

        import rspl_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program under test is not importable here: {e}", file=sys.stderr)
        return EXIT_UNAVAILABLE
    from perfbench.curate import CurateBatch
    from perfbench.fsm_workloads import FsmBatch, FsmStream
    from perfbench.tracing import Tracer

    workloads = {c.name: c for c in (FsmBatch, FsmStream, CurateBatch)}
    spec = load_spec()
    if args.workload not in workloads or args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return EXIT_UNAVAILABLE

    from pyspark import cloudpickle

    from perfbench import fsm

    # Ship the program's closures by value, like the rspl_spark.dsl
    # modules they build on, so workers need not import perfbench.
    cloudpickle.register_pickle_by_value(fsm)

    os.makedirs(SCRATCH_ROOT, exist_ok=True)
    stale = clean_stale_scratch()
    scratch = tempfile.mkdtemp(prefix=f"{PREFIX}{os.getpid()}-", dir=SCRATCH_ROOT)
    cpus = len(os.sched_getaffinity(0))
    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    ctx = Ctx(args.seed, args.seconds, cpus, scratch, PREFIX, Tracer(run_id, bool(args.trace)))
    if stale:
        ctx.notes["stale_scratch_removed"] = stale
    confine_to(scratch)
    try:
        result, diag = run(ctx, workloads[args.workload], spec, t_proc, bool(args.trace))
    finally:
        if ctx.spark is not None:
            stop_spark(ctx.spark)
        reap_children()
        shutil.rmtree(scratch, ignore_errors=True)
    print(json.dumps({"diagnostics": diag}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
