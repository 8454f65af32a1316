"""One measurement harness for A/B and scale experiments.

Shared timing primitives (also used by ``tools/time_registry.py`` and
``bench.py``):

- ``noop_sec``: build a frame and noop-write it (every output column
  materialized, no bytes sunk) from a cleared cache, under a job group;
- ``steady``: one warm-up run, then the min of 2 runs;
- ``block``: an interleaved block. With two or more variants, each
  variant's result is hashed once (``tools/check_oracle.canon``/
  ``value_hash``), a mismatch raises before any timing, and that run is
  also the variant's warm-up. Each variant is then timed ``reps`` times,
  the order rotated every rep. The block records raw runs, medians, mean
  per-run jobs/stages/tasks/shuffle/spill MB from Spark's status store
  (``perfbench.sparkmetrics.job_group_stats``), and single and parallel
  CPU probes before and after (``perfbench.probes``; the parallel probe
  runs one loop per core Spark was given), so a verdict can tell a code
  win from host noise.

Each experiment is a subcommand and writes one JSON artifact
``{"experiment", "meta", "blocks": {label: block}}``, rewritten after
every block so a late failure keeps the finished ones:

  python tools/ab.py cc_path OUT.json [--edges 10000,65000,262000,1000000] [--reps 3]
  python tools/ab.py tfidf_mat OUT.json [--gate-sf DIR] [--docs 10000,100000] [--reps 3]
  python tools/ab.py triangle_scale OUT.json
  python tools/ab.py topk_scale OUT.json 1200000 12000000 120000000
  python tools/ab.py fuzzyjoin_scale OUT.json 5000 50000 500000
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import statistics
import string
import sys
import tempfile
import time
import uuid
from typing import Callable
from unittest import mock

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np  # noqa: E402
import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402
from pyspark.sql import DataFrame  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from perfbench.probes import cpu_probe, cpu_probe_parallel  # noqa: E402
from perfbench.sparkmetrics import job_group_stats  # noqa: E402
from tools.check_oracle import canon, value_hash  # noqa: E402

Build = Callable[[], DataFrame]


@contextlib.contextmanager
def confs(spark, conf: dict[str, str]):
    """Set session confs for the duration, then restore the old values."""
    old = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def noop_sec(spark, build: Build, group: str) -> float:
    """Seconds to build the frame and noop-write it, from a cleared
    cache, with every job under ``group``. Not ``count()``: that lets
    Catalyst prune value columns through aggregates."""
    sc = spark.sparkContext
    spark.catalog.clearCache()
    sc.setJobGroup(group, group)
    try:
        t0 = time.perf_counter()
        build().write.format("noop").mode("overwrite").save()
        return round(time.perf_counter() - t0, 3)
    finally:
        sc._jsc.clearJobGroup()


def steady(spark, build: Build, group: str = "steady") -> tuple[float, float]:
    """(warm-up seconds, min of 2 further runs). The warm-up pays
    codegen, broadcast builds and classloading."""
    warm = noop_sec(spark, build, group)
    return warm, min(noop_sec(spark, build, group) for _ in range(2))


def probes(spark) -> dict[str, float]:
    """Seconds of the single-core and the all-Spark-cores reference
    loop, -1 for a probe that failed: a host-noise diagnostic never
    aborts the measurement it brackets."""
    cores = spark.sparkContext.defaultParallelism
    out = {}
    for key, probe in (("single_s", cpu_probe), ("parallel_s", lambda: cpu_probe_parallel(cores))):
        try:
            out[key] = round(probe(), 3)
        except Exception:
            out[key] = -1.0
    return out


def block(spark, builds: dict[str, Build], reps: int,
          conf: dict[str, dict[str, str]] | None = None) -> dict:
    """Interleaved timing of ``builds`` (variant -> frame builder), each
    variant built and run under its ``conf`` overrides."""
    conf = conf or {}
    names = list(builds)
    prefix = f"ab-{uuid.uuid4().hex[:8]}"  # job groups unique to this block

    # The hash run doubles as each variant's warm-up (codegen, broadcast
    # builds, classloading). A lone variant has nothing to agree with, so
    # it is neither hashed nor warmed, as the one-run scale sweeps were.
    hashes, rows = {}, {}
    if len(names) > 1:
        for v in names:
            spark.catalog.clearCache()
            with confs(spark, conf.get(v, {})):
                pdf = canon(builds[v]().toPandas())
            hashes[v], rows[v] = value_hash(pdf), len(pdf)
        if len(set(hashes.values())) > 1:
            raise ValueError(f"variants disagree on the result: {hashes}")

    before = probes(spark)
    runs: dict[str, list[float]] = {v: [] for v in names}
    stats: dict[str, dict[str, float]] = {v: {} for v in names}
    order = []
    for r in range(reps):
        order.append(names[r % len(names):] + names[: r % len(names)])
        for v in order[-1]:
            group = f"{prefix}:{v}:{r}"
            with confs(spark, conf.get(v, {})):
                runs[v].append(noop_sec(spark, builds[v], group))
            # read now: the status store keeps only the latest 1000 stages
            for k, x in job_group_stats(spark, group).items():
                stats[v][k] = stats[v].get(k, 0) + x / reps
    after = probes(spark)
    return {
        "rows": rows.get(names[0]),
        "hash": hashes.get(names[0]),
        "runs": runs,
        "median": {v: round(statistics.median(t), 3) for v, t in runs.items()},
        "order": order,
        "stats": stats,
        "probes": {k: [before[k], after[k]] for k in before},
    }


# -- cc_path: distributed star rounds vs the size-gated driver union-find

def cc_graph(spark, n_edges: int) -> DataFrame:
    """Half chain edges (i -> i+1 within 64-node runs, deep enough to
    need several star rounds), half 8-node cluster edges; deterministic."""
    half = n_edges // 2
    chain = F.when(F.col("id") % 64 == 63, F.col("id") - 1).otherwise(F.col("id"))
    chains = spark.range(half).select(chain.alias("doc_a"), (chain + 1).alias("doc_b"))
    base = 10_000_000_000 + (F.col("id") / 8).cast("long") * 8
    clusters = spark.range(half).select(
        base.alias("doc_a"), (base + 1 + (F.col("id") * 2654435761) % 7).alias("doc_b")
    )
    return chains.unionByName(clusters)


def patched(build: Build, target, **consts) -> Build:
    """``build`` run with ``target``'s module constants set to ``consts``:
    the size policy decides a path while the frame is built, so a
    variant that forces a path patches the operator's cutover."""
    def run() -> DataFrame:
        with mock.patch.multiple(target, **consts):
            return build()
    return run


def cc_path(spark, args, emit) -> None:
    """connected_components_star forced distributed vs forced driver."""
    from rspl_spark.operators import dedup

    for n in args.edges:
        df = cc_graph(spark, n).localCheckpoint()  # isolate CC from generation
        build = lambda: dedup.connected_components_star(df)  # noqa: E731
        emit(str(n), block(spark, {
            "distributed": patched(build, dedup, _CC_DRIVER_MAX_EDGES=0),
            "driver": patched(build, dedup, _CC_DRIVER_MAX_EDGES=2**31),
        }, args.reps))


# -- tfidf_mat: (doc, term) aggregate plain vs materialized

WORDS_PER_DOC = 54  # gate documents average (sf0.1: 54.1 words, 297 chars)
VOCAB = 20_000


def synth_corpus(spark, n_docs: int, path: str) -> DataFrame:
    """n_docs docs of WORDS_PER_DOC words drawn from a VOCAB-word
    vocabulary by multiplicative hash, written to parquet and read back
    so leaf bytes match a storage-backed corpus."""
    words = F.transform(
        F.sequence(F.lit(0), F.lit(WORDS_PER_DOC - 1)),
        lambda i: F.concat(
            F.lit("w"), ((F.col("id") * WORDS_PER_DOC + i) * 2654435761 % VOCAB).cast("string")
        ),
    )
    spark.range(n_docs).select(
        F.col("id").alias("doc_id"), F.array_join(words, " ").alias("text")
    ).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def tfidf_mat(spark, args, emit) -> None:
    """tfidf_top_terms with the (doc, term) aggregate materialized off
    (empty window) vs on (a window holding every known corpus size)."""
    from rspl_spark.operators import text
    from rspl_spark.plan_stats import leaf_input_bytes

    def measure(label: str, corpus: DataFrame) -> None:
        build = lambda: text.tfidf_top_terms(corpus, k=3)  # noqa: E731
        res = block(spark, {
            "off": patched(build, text, _TFIDF_MAT_MAX_LEAF_BYTES=0),
            "on": patched(build, text, _TFIDF_MAT_MIN_LEAF_BYTES=0, _TFIDF_MAT_MAX_LEAF_BYTES=2**64),
        }, args.reps)
        emit(label, {"leaf_bytes": leaf_input_bytes(corpus), **res})

    if args.gate_sf:
        docs = spark.read.parquet(os.path.join(args.gate_sf, "documents.parquet"))
        measure(f"gate:{os.path.basename(args.gate_sf.rstrip('/'))}", docs.select("doc_id", "text"))
    with tempfile.TemporaryDirectory(prefix="rspl_tfidf_mat_") as tmp:
        for n in args.docs:
            measure(f"synth:{n}_docs", synth_corpus(spark, n, os.path.join(tmp, str(n))))


# -- scale sweeps: one run per size, as the sweeps they replace measured

SCALE_REPS = 1
DEG = 12  # directed out-degree per node (undirected average degree ~24)
TRIANGLE_NODES = {"1x": 100_000, "10x": 1_000_000, "100x": 10_000_000}


def triangle_scale(spark, args, emit) -> None:
    """triangle_counts on constant-degree graphs: nodes grow with edges,
    so linear scaling means "scales with edges at fixed density" (the
    gate's co-order graph densifies with sf instead)."""
    from rspl_spark.operators.graph import triangle_counts

    for label, n in TRIANGLE_NODES.items():
        # node i gets DEG out-edges to multiplicative-hash targets;
        # self-loop-free after the +1 offset
        edges = spark.range(n * DEG).select(
            (F.col("id") % n).alias("src"),
            ((F.col("id") % n + 1 + (F.col("id") * F.lit(2654435761)) % (n - 1)) % n).alias("dst"),
        )
        emit(f"{label}:{n * DEG}_edges",
             block(spark, {"triangle_counts": lambda: triangle_counts(edges)}, SCALE_REPS))


TOPK_K, ZIPF_A, SEED = 20, 1.3, 42


def zipf_corpus(n: int) -> str:
    """Deterministic Zipf(1.3) key draw of size n, cached on disk."""
    path = f".scaledata/topk_zipf_n{n}.parquet"
    if not os.path.exists(path):
        os.makedirs(".scaledata", exist_ok=True)
        keys = np.random.default_rng(SEED).zipf(ZIPF_A, n).astype(np.int64)
        pq.write_table(pa.table({"key": keys}), path)
    return path


def topk_scale(spark, args, emit) -> None:
    """cms_topk_exact vs the naive exact top-k on Zipf keys: real heavy
    hitters over a large distinct-key domain. The naive form shuffles
    every distinct key; the CMS-prefiltered one only plausible hitters."""
    from rspl_spark.operators.sketches import cms_topk_exact

    for n in args.sizes:
        occ = spark.read.parquet(zipf_corpus(n))
        res = block(spark, {
            "cms_topk_exact": lambda: cms_topk_exact(occ, "key", k=TOPK_K),
            "naive_topk": lambda: occ.groupBy("key")
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
            .orderBy(F.desc("n"), F.asc("key"))
            .limit(TOPK_K),
        }, SCALE_REPS)
        emit(f"n{n}", {"distinct_keys": occ.distinct().count(), **res})


FJ_NUM, FJ_DEN = 75, 100
NEARDUP_FRAC = 0.10
NAIVE_MAX_N = 50_000  # run the O(n^2) all-pairs reference up to this size


def fuzzy_corpus(n: int) -> str:
    """n entity strings of 5-9 words of 6-10 random lowercase letters;
    NEARDUP_FRAC of rows copy an earlier row with ONE word replaced (a
    true near-duplicate at the 0.75 Jaccard threshold). Deterministic;
    cached on disk."""
    path = f".scaledata/fuzzy_corpus_n{n}.parquet"
    if os.path.exists(path):
        return path
    os.makedirs(".scaledata", exist_ok=True)
    rng = np.random.default_rng(SEED)
    letters = np.array(list(string.ascii_lowercase))

    def word():
        return "".join(rng.choice(letters, rng.integers(6, 11)))

    texts: list[str] = []
    for i in range(n):
        if i > 0 and rng.random() < NEARDUP_FRAC:
            base = texts[rng.integers(0, i)].split(" ")
            base[rng.integers(0, len(base))] = word()
            texts.append(" ".join(base))
        else:
            texts.append(" ".join(word() for _ in range(rng.integers(5, 10))))
    pq.write_table(pa.table({"id": np.arange(n, dtype=np.int64), "s": texts}), path,
                   row_group_size=32768)
    return path


def naive_pairs(df: DataFrame, q: int) -> DataFrame:
    """Exact q-gram-set Jaccard over the full cross join (id_a < id_b):
    the O(n^2) form the prefix filter exists to avoid, at the SAME q."""
    from rspl_spark.operators.fuzzyjoin import char_trigrams

    tg = df.select("id", F.array_distinct(char_trigrams(F.col("s"), q)).alias("t"))
    inter = F.size(F.array_intersect("a.t", "b.t"))
    union = F.size("a.t") + F.size("b.t") - inter
    return (
        tg.alias("a").join(tg.alias("b"), F.col("a.id") < F.col("b.id"))
        .filter(inter * FJ_DEN >= FJ_NUM * union)
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
    )


def fuzzyjoin_scale(spark, args, emit) -> None:
    """fuzzy_self_join (prefix-filtered q-gram Jaccard) on a
    record-linkage corpus of mostly-distinct strings, against the
    all-pairs reference while affordable."""
    from rspl_spark.operators.fuzzyjoin import choose_q, fuzzy_self_join

    # Spark's default 10 MB broadcast threshold, deliberately: at 64 MB
    # the n=500k leg broadcast the ranked corpus into the driver (OOM),
    # and a cluster would not broadcast a corpus-sized table either.
    with confs(spark, {"spark.sql.autoBroadcastJoinThreshold": str(10 * 1024 * 1024)}):
        for n in args.sizes:
            # spread over all cores and pin: the small parquet files arrive
            # as 1-2 splits, which left the all-pairs reference one task
            df = spark.read.parquet(fuzzy_corpus(n)).repartition(
                spark.sparkContext.defaultParallelism).localCheckpoint()
            # q by the operator's own rule: fixed q=3 saturates on
            # mostly-distinct strings (843 s at n=50000 in r14)
            q = choose_q(df, "s")
            builds = {"fuzzy_self_join": lambda: fuzzy_self_join(
                df, "id", "s", FJ_NUM, FJ_DEN, q=q).select("id_a", "id_b")}
            if n <= NAIVE_MAX_N:
                builds["naive_allpairs"] = lambda: naive_pairs(df, q)
            emit(f"n{n}", {"q": q, **block(spark, builds, SCALE_REPS)})


EXPERIMENTS = {
    "cc_path": (cc_path, {}),
    "tfidf_mat": (tfidf_mat, {"words_per_doc": WORDS_PER_DOC, "vocab": VOCAB}),
    "triangle_scale": (triangle_scale, {"degree": DEG}),
    "topk_scale": (topk_scale, {"k": TOPK_K, "zipf_a": ZIPF_A}),
    "fuzzyjoin_scale": (fuzzyjoin_scale, {"threshold": f"{FJ_NUM}/{FJ_DEN}",
                                          "neardup_frac": NEARDUP_FRAC}),
}


def main(argv: list[str] | None = None) -> None:
    from rspl_spark.session import get_spark

    def ints(s: str) -> list[int]:
        return [int(x) for x in s.split(",") if x]

    p = argparse.ArgumentParser(description="Interleaved A/B and scale experiments.")
    sub = p.add_subparsers(dest="experiment", required=True)
    cmd = {name: sub.add_parser(name, help=fn.__doc__) for name, (fn, _) in EXPERIMENTS.items()}
    for c in cmd.values():
        c.add_argument("out", help="JSON artifact path")
    cmd["cc_path"].add_argument("--edges", type=ints, default=[10_000, 65_000, 262_000, 1_000_000])
    cmd["tfidf_mat"].add_argument("--gate-sf", help="sf dir whose documents.parquet to add")
    cmd["tfidf_mat"].add_argument("--docs", type=ints, default=[])
    for name in ("cc_path", "tfidf_mat"):
        cmd[name].add_argument("--reps", type=int, default=3)
    for name in ("topk_scale", "fuzzyjoin_scale"):
        cmd[name].add_argument("sizes", type=int, nargs="+")
    args = p.parse_args(argv)

    fn, consts = EXPERIMENTS[args.experiment]
    spark = get_spark(f"ab-{args.experiment}")
    params = {k: v for k, v in vars(args).items() if k not in ("experiment", "out")}
    doc = {"experiment": args.experiment,
           "meta": {**consts, **params, "spark_cores": spark.sparkContext.defaultParallelism},
           "blocks": {}}

    def emit(label: str, res: dict) -> None:
        doc["blocks"][label] = res
        print(label, json.dumps(res), flush=True)
        with open(args.out, "w") as f:
            json.dump(doc, f, indent=1)

    fn(spark, args, emit)
    print("wrote", args.out)


if __name__ == "__main__":
    main()
