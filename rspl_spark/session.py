"""SparkSession factory.

Tuned for the test harness (local[N], single JVM) but with settings chosen for
cluster scale: AQE on (runtime re-planning, skew-join splitting, partition
coalescing), UTC session timezone (deterministic timestamp semantics that
match the DuckDB oracle), Arrow enabled for the pandas-UDF paths.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "rspl-spark", cpus: int | str | None = None) -> SparkSession:
    """Build (or reuse) the SparkSession.

    At 100 TB scale the same logical plans run on a real cluster; everything
    configured here is cluster-safe: no hard-coded memory sizes, AQE handles
    partition-count right-sizing at runtime, and shuffle partitions default to
    the parallelism of the harness (overridden by AQE coalescing anyway).
    """
    cpus = str(cpus or os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # Adaptive query execution: runtime shuffle-partition coalescing,
        # skew-join splitting, dynamic broadcast conversion.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", cpus)
        # Dimension tables (region/nation/supplier/part at test SFs) broadcast.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Arrow for every pandas interchange (pandas_udf / applyInPandas).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # InferFiltersFromGenerate rewrites explode(expr) into
        # Filter(size(expr)>0) + Generate; the filter is (a) interpreted,
        # not codegen'd, and (b) after projection pushdown INLINES the
        # generator's whole expression tree — for the nested-lambda
        # shingle/trigram arrays here that re-evaluates the token-hash
        # transform per sequence element, O(tokens^2) md5 calls per row
        # (measured r15: the corpus->shards decontamination explode
        # 40.9s -> 0.13s at sf0.1 with the rule off; same blowup class
        # on every explode-over-computed-array operator). The inferred
        # filter is purely redundant work for explode (empty/null arrays
        # emit nothing anyway), so excluding it cannot change results —
        # scale-independent, not a local[32] artifact.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        # Deterministic timestamps — matches DuckDB reading the same parquet.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    return builder.getOrCreate()

