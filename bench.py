"""Benchmark harness (driver contract): runs the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
  {"metric": ..., "value": total_sec, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ...}

Headline set (BASELINE.md): scan-agg (Q1), 3-way join + top-k (Q3),
6-way join (Q5), rollup, running-total window, as-of join, MinHash-LSH
dedup pairs, brute-force cosine top-k, compiled DSL chain.

Host-noise probes (``tools/ab.probes``) bracket the timed queries
(additive keys, read relative to the idle readings): ``cpu_probe_sec``
is ``perfbench.probes.cpu_probe`` (one 2M-iteration pure-Python loop)
and ``cpu_probe_mc_sec`` is ``cpu_probe_parallel`` with one loop per
core Spark was given ($SPARK_GRAFT_CPUS). Idle on a 4-vCPU Xeon host
at local[4]: ~0.11-0.15 s and ~0.33-0.39 s. Multiples of those mean
host throttle contaminated the totals; -1 means the probe failed.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from rspl_spark.queries import load_registry
from rspl_spark.session import get_spark
from tools.ab import probes, steady

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier",
    "q6_forecast_revenue",
    "q10_returned_items",
    "q_rollup",
    "q_window_running",
    "q_asof_join",
    "q_sessionize",
    "q_minhash_lsh_pairs",
    "q_cosine_topk_bruteforce",
    "q_tfidf_top_terms",
    "q_dsl_map_filter",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)
    reg = load_registry()
    spark = get_spark("rspl-bench")
    probe_start = probes(spark)
    # Warm the JVM/codegen paths so measured times are query time, not
    # first-call JIT/session setup: a scan-agg at the smallest SF, the
    # same at the TARGET SF (file listing + parquet footers + C2-compiling
    # the agg loop), and one Arrow round trip to spin up the Python
    # worker pool (r3 showed the first timed query absorbing this noise:
    # q1 "regressed" +22% while steady-state stayed flat).
    reg["q1_pricing_summary"].fn(spark, "/root/testdata/sf0.001").collect()
    reg["q1_pricing_summary"].fn(spark, sf_dir).collect()
    reg["q3_shipping_priority"].fn(spark, sf_dir).collect()
    _warm_python_workers(spark)

    times: dict[str, float] = {}
    for name in HEADLINE:
        # Steady-state measurement: first run pays one-time codegen /
        # broadcast-build / classloading; each timed run starts from a
        # cleared cache so data-side work is fully re-executed. MEDIAN
        # of three timed runs (r13 verdict ask #4): single-shot and
        # min-of-2 totals whipsawed two round narratives on pure box
        # noise (r12 4.748 "win", r13 5.174 "regression" at equal CPU
        # probe) — the median rejects one outlier in either direction
        # where min only rejects slow ones.
        reg[name].fn(spark, sf_dir).count()
        samples, n = [], 0
        for _ in range(3):
            spark.catalog.clearCache()
            t0 = time.time()
            n = reg[name].fn(spark, sf_dir).count()
            samples.append(time.time() - t0)
        times[name] = round(sorted(samples)[1], 3)
        print(f"# {name}: {times[name]}s ({n} rows; runs "
              f"{[round(s, 3) for s in sorted(samples)]})", file=sys.stderr)

    total = round(sum(times.values()), 3)
    probe_end = probes(spark)
    cores = spark.sparkContext.defaultParallelism
    result = {
        "metric": "headline_queries_total_sec",
        "value": total,
        "unit": "sec",
        "queries": times,
        "sf": sf,
        # host-health references before and after the timed queries
        # (module docstring); the parallel one sees multi-core throttle
        # that the single-thread probe cannot
        "cpu_probe_sec": {"start": probe_start["single_s"], "end": probe_end["single_s"]},
        "cpu_probe_mc_sec": {
            when: {"n_procs": cores, "sec": p["parallel_s"]}
            for when, p in (("start", probe_start), ("end", probe_end))
        },
    }
    try:
        result["bucketed_join"] = bucketed_join_delta(spark, sf_dir)
    except Exception as e:  # never break the contract line
        print(f"# bucketed_join variant failed: {e}", file=sys.stderr)
    try:
        result["mealy_interpreter"] = mealy_throughput(spark)
    except Exception as e:
        print(f"# mealy throughput probe failed: {e}", file=sys.stderr)
    try:
        result["embedding_pairs"] = embedding_pairs_probe(spark, reg, sf_dir)
    except Exception as e:
        print(f"# embedding pairs probe failed: {e}", file=sys.stderr)
    try:
        result["sketch_trio"] = sketch_trio_probe(spark, reg, sf_dir)
    except Exception as e:
        print(f"# sketch trio probe failed: {e}", file=sys.stderr)
    try:
        result["partsupp"] = partsupp_probe(spark, reg, sf_dir)
    except Exception as e:
        print(f"# partsupp probe failed: {e}", file=sys.stderr)
    print(json.dumps(result))


def partsupp_probe(spark, reg, sf_dir: str) -> dict[str, float]:
    """Supplementary metric (r7): the derived-partsupp family's two
    heaviest shapes — Q9 (five joins against the lineitem fact; the
    fact is never shuffled before the final agg) and Q11 (two-pass
    exact-cents aggregate). Noop-write timing, steady-state min of 2.
    Kept OUT of the headline total to preserve r1-baseline
    comparability."""
    return {
        key: steady(spark, lambda name=name: reg[name].fn(spark, sf_dir))[1]
        for key, name in (("q9_sec", "q9_product_type_profit"), ("q11_sec", "q11_important_stock"))
    }


def sketch_trio_probe(spark, reg, sf_dir: str) -> dict[str, float]:
    """Supplementary metric: the three bounded-state sketches (CMS
    frequency, HLL cardinality, histogram quantiles) measured with a
    noop write — NOT count(), which Catalyst can hollow out by pruning
    value columns through the aggregates (DEVNOTES r6). Steady-state
    min of 2, one number per sketch."""
    return {
        key: steady(spark, lambda name=name: reg[name].fn(spark, sf_dir))[1]
        for key, name in (
            ("cms_sec", "q_heavy_hitters_cms"),
            ("hll_sec", "q_approx_distinct_hll"),
            ("hist_sec", "q_approx_percentile_hist"),
        )
    }


def _warm_python_workers(spark) -> None:
    """One tiny Arrow batch through a pandas UDF: forks the Python worker
    pool and initializes the Arrow serializers once, outside any timer."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _noop(v):
        return v * 1.0

    spark.range(1000).select(_noop(F.col("id").cast("double"))).count()


def embedding_pairs_probe(spark, reg, sf_dir: str) -> dict[str, float]:
    """Supplementary metric: k-means cell-blocked embedding pair mining
    (fit + Arrow assignment + in-cell BLAS). Reported separately from the
    headline total so round-over-round comparisons stay stable; cold =
    first run in the session (includes the Lloyd fit), steady = min of 2
    with the trained codebook memoized — the repeated-pipeline number.
    Noop-write timing."""
    cold, best = steady(spark, lambda: reg["q_embedding_cosine_pairs"].fn(spark, sf_dir))
    return {"cold_sec": cold, "steady_sec": best}


def mealy_throughput(spark) -> dict[str, float]:
    """Supplementary metric: the arbitrary-stateful-operator path
    (keyed Mealy interpreter, one sorted mapInArrow pass — the Python
    escape hatch for semantics Catalyst can't express). 1M synthetic
    events across 1000 keys; reports rows/sec so regressions in the
    Arrow/key-run machinery show up in the round-over-round record."""
    from pyspark.sql import functions as F

    from rspl_spark.dsl import compose, filter_sp, map_sp
    from rspl_spark.dsl.interpreter import interpret_batch

    n, keys = 1_000_000, 1000
    df = (
        spark.range(n)
        .select(
            (F.col("id") % keys).cast("string").alias("k"),
            (F.col("id") / keys).cast("long").alias("seq"),
            (F.col("id") % 997).cast("double").alias("value"),
        )
    )
    sp = compose(filter_sp(lambda v: v > 100.0), map_sp(lambda v: v * 2.0 + 1.0))
    interpret_batch(sp, df, "double", key_col="k").count()  # warm
    t0 = time.time()
    out_rows = interpret_batch(sp, df, "double", key_col="k").count()
    dt = time.time() - t0
    return {"rows_in": n, "rows_out": out_rows, "sec": round(dt, 3), "rows_per_sec": round(n / dt)}


def bucketed_join_delta(spark, sf_dir: str) -> dict[str, float]:
    """Co-located-join variant (supplementary metric): the q3-shaped
    lineitem⋈orders fact join against bucketed-CTAS tables vs the plain
    parquet scan. Bucketed+sorted on the join key, the SortMergeJoin
    needs no Exchange and no Sort — the saved shuffle is the first-order
    win at 100 TB. The bucketed plan goes to stderr.
    """
    from pyspark.sql import functions as F

    from rspl_spark.catalog import ensure_bucketed, load

    lb = spark.table(ensure_bucketed(spark, sf_dir, "lineitem", "l_orderkey"))
    ob = spark.table(ensure_bucketed(spark, sf_dir, "orders", "o_orderkey"))

    def shape(l, o):
        return (
            l.join(o, l.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.sum("l_extendedprice"), 2).alias("rev"),
            )
        )

    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ shape
    try:
        out: dict[str, float] = {}
        for label, (l, o) in {
            "parquet_sec": (load(spark, sf_dir, "lineitem"), load(spark, sf_dir, "orders")),
            "bucketed_sec": (lb, ob),
        }.items():
            shape(l, o).count()  # warm
            spark.catalog.clearCache()
            t0 = time.time()
            shape(l, o).count()
            out[label] = round(time.time() - t0, 3)
        plan = shape(lb, ob)._jdf.queryExecution().executedPlan().toString()
        n_exchange = plan.count("Exchange")
        out["bucketed_plan_exchanges"] = n_exchange - 1  # 1 = the final 5-row agg
        print(f"# bucketed_join plan:\n{plan}", file=sys.stderr)
        return out
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)


if __name__ == "__main__":
    main()
