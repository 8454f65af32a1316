"""Testdata catalog: loaders for the driver-generated parquet tables.

Tables (TESTDATA.md): region nation customer supplier part orders lineitem
events documents embeddings, one parquet per table under
``/root/testdata/sf{0.001,0.01,0.1}/``.

Scans stay declarative (``spark.read.parquet``) so Catalyst performs predicate
pushdown and column pruning into the parquet reader — at 100 TB the scan is
the dominant cost and pruning is the first-order optimization.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)



def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Load one table. Column pruning/filter pushdown happen downstream.

    DataFrames are immutable descriptions, so one per (dir, table) is safe
    to hand out repeatedly — and each spark.read.parquet call costs ~100ms
    of driver work (file listing + footer schema read + py4j), which
    multiplies across multi-table queries and the 89-query gate. The memo
    dict lives ON the session object so it dies with the session (no stale
    DataFrames bound to a stopped JVM session, no id() reuse hazard).

    ``events.parquet`` stores ``ts`` as TIMESTAMP(NANOS), which Spark's
    parquet reader rejects by default — read it as long and convert to a
    microsecond timestamp (Spark's native precision).
    """
    cache: dict[tuple[str, str], DataFrame] | None = getattr(
        spark, "_rspl_load_cache", None
    )
    if cache is None:
        cache = {}
        spark._rspl_load_cache = cache
        _exclude_infer_filters_from_generate(spark)
    key = (sf_dir, table)
    cached = cache.get(key)
    if cached is not None:
        return cached
    df = _load_uncached(spark, sf_dir, table)
    cache[key] = df
    return df


_INFER_FILTERS_RULE = "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"


def _exclude_infer_filters_from_generate(spark: SparkSession) -> None:
    """Exclude InferFiltersFromGenerate at RUNTIME, once per session.

    The rule rewrites explode(<computed array>) into
    Filter(size(expr)>0) + Generate; after projection pushdown the
    filter condition INLINES the staged array expression — for the
    nested-lambda shingle/trigram columns that re-evaluates the
    token-hash transform per sequence element (O(tokens²) md5 calls per
    row, interpreted, measured 40.9s → 0.13s for one explode at sf0.1 —
    plans/r15/infer_filters_from_generate_repro.txt). The filter is
    redundant for explode (empty/NULL arrays emit nothing), so results
    are unchanged. Set here — the chokepoint every query's scan goes
    through — rather than only in our session factory, so a
    driver-created vanilla session gets the same plans (precedent: the
    nanosAsLong conf below). Merges with any caller-set exclusions."""
    try:
        current = spark.conf.get("spark.sql.optimizer.excludedRules", None) or ""
    except Exception:
        current = ""
    if _INFER_FILTERS_RULE not in current:
        merged = f"{current},{_INFER_FILTERS_RULE}" if current else _INFER_FILTERS_RULE
        spark.conf.set("spark.sql.optimizer.excludedRules", merged)


def _load_uncached(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    if table == "events":
        # TIMESTAMP(NANOS) handling differs across Spark builds: some read
        # it only under legacy nanosAsLong (→ long nanos), newer readers
        # produce TIMESTAMP_NTZ directly (truncated to micros). Request the
        # legacy form, then branch on what the reader actually returned so
        # both environments yield the same TimestampType column.
        # DELIBERATELY session-wide and never restored: the returned
        # DataFrame is lazy and its scan consults the conf at execution
        # time, so a save/restore around this read would break the plan
        # later. Side effect on OTHER reads in the session: any parquet
        # with TIMESTAMP(NANOS) columns will read them as long nanos —
        # convert as below if you read such files after calling load().
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        df = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, T.LongType):
            return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        # NTZ → session-tz timestamp: the sessions here run UTC, where this
        # is value-identical to the legacy long→timestamp_micros path.
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return spark.read.parquet(os.path.join(sf_dir, f"{table}.parquet"))


def repo_warehouse_path(table: str) -> str:
    """The repo-pinned warehouse location for ``table`` — the ONE copy
    of the rule (dedup_store and ensure_bucketed both pin here): the
    session default spark.sql.warehouse.dir is CWD-relative, and a
    driver launched elsewhere must not scatter table dirs outside the
    repo."""
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    return os.path.join(repo_root, "spark-warehouse", table.lower())


def ensure_bucketed(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    key: str,
    n_buckets: int = 8,
) -> str:
    """CTAS ``table`` into the warehouse bucketed + sorted on ``key``;
    returns the managed table name (idempotent — skips if present).

    The co-located-join pattern for repeated fact-fact joins: two tables
    bucketed on the same key with the same bucket count join with NO
    Exchange (and, pre-sorted, no Sort) — at 100 TB the lineitem⋈orders
    shuffle is the single largest data movement in the star-join
    workload, and bucketing amortizes it into the (one-time) write.
    Spark requires one file per bucket per write task for the layout to
    be recognized, hence the repartition on the bucket key first.
    """
    slug = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    name = f"{table}_{slug}_b{n_buckets}_{key}"
    if not spark.catalog.tableExists(name):
        # Pin the table location under the REPO's warehouse dir (explicit
        # path → external table with bucket metadata in the catalog): the
        # session default spark.sql.warehouse.dir is CWD-relative, and a
        # driver process launched elsewhere must not scatter table dirs
        # outside the repo.
        path = repo_warehouse_path(name)
        # The in-memory Derby catalog resets per session but the warehouse
        # directory persists. A COMPLETE leftover layout (same static
        # testdata, same writer spec) is re-registered as an external
        # bucketed table — metadata only, no rewrite: re-bucketing
        # lineitem+orders per session was the slowest gate query's entire
        # cost. Anything partial is cleared and rebuilt.
        if register_external_bucketed(spark, name, path, key, n_buckets):
            return name
        if os.path.isdir(path):
            import shutil

            shutil.rmtree(path, ignore_errors=True)
        (
            load(spark, sf_dir, table)
            .repartition(n_buckets, key)
            .write.bucketBy(n_buckets, key)
            .sortBy(key)
            .mode("overwrite")
            .format("parquet")
            .option("path", path)
            .saveAsTable(name)
        )
    return name


def register_external_bucketed(
    spark: SparkSession, name: str, path: str, key: str, n_buckets: int
) -> bool:
    """Register an existing bucketed-parquet layout (written earlier by
    ``bucketBy(n).sortBy(key)`` with a ``_SUCCESS`` marker) as an external
    table, skipping the rewrite. Returns False when the layout is absent
    or unusable — caller falls back to the CTAS. Safe because the bucket
    id is encoded in each written file name, so files + matching DDL
    reproduce the exact table Spark wrote."""
    from rspl_spark.operators.store import register_at

    if not os.path.isfile(os.path.join(path, "_SUCCESS")):
        return False
    try:
        register_at(spark, name, path, [key], n_buckets)
        return True
    except Exception:
        return False
