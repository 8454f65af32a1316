"""The size policy: every decision that turns a size signal into a
stage width or a plan choice goes through this module.

Signals, all available before the frame runs:

- ``leaf_input_bytes``: the optimized plan's leaf-relation size
  estimates (actual file bytes for file scans, 8 B/row for ``range``,
  actual bytes for local relations). Derived-frame blowup (self-joins,
  explodes) is not modelled.
- ``tree_bytes``: on-disk bytes under a streaming replay's chunk dirs.
- a caller's counted rows times its own row-width constant.

Rules:

- ``shuffle_width``: the session's configured shuffle width, the one
  read of ``spark.sql.shuffle.partitions`` in the library.
- ``advisory_width``: AQE's coalescing rule, ceil(bytes / advisory
  partition size) clamped to [1, shuffle width], for the places AQE
  cannot re-plan (streaming state, localCheckpoint'd iteration frames).
  At cluster scale the byte term saturates at the shuffle width, so
  the large-input plan is the configured one.
- ``grouped_map_parallelism``: the pinned width of Python-compute-bound
  grouped-map stages, where byte size is the wrong objective.

A deployment steers every width through Spark's own confs
(``spark.sql.shuffle.partitions``,
``spark.sql.adaptive.advisoryPartitionSizeInBytes``). Each operator's
cutover (the tfidf materialize window, the CC driver edge cap, the
similarity pin floor, the row-width constants) is a constant beside
the operator, set by a measurement (the README's "Scale-derived
decisions" table names each one); on estimate error the conservative
direction is "keep today's plan".
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame

# Spark's own default for spark.sql.shuffle.partitions; the width used
# when the conf holds a non-integer such as "auto"
_DEFAULT_SHUFFLE_WIDTH = 200
_DEFAULT_ADVISORY_BYTES = 64 * 2**20


def leaf_input_bytes(df: DataFrame) -> int:
    """Sum of the optimized plan's leaf-relation size estimates, in
    bytes; -1 when the JVM plan is unavailable (never raises — callers
    treat unknown as "keep the default plan")."""
    try:
        plan = df._jdf.queryExecution().optimizedPlan()
        leaves = plan.collectLeaves()
        total = 0
        for i in range(leaves.size()):
            # py4j maps scala BigInt to a Python int already
            total += int(leaves.apply(i).stats().sizeInBytes())
        return total
    except Exception:
        return -1


def tree_bytes(paths: list[str] | None) -> int:
    """Total on-disk bytes under the given directories (0 if none)."""
    total = 0
    for p in paths or []:
        for root, _dirs, files in os.walk(p):
            for f in files:
                try:
                    total += os.path.getsize(os.path.join(root, f))
                except OSError:
                    pass
    return total


def _parse_bytes(v: str) -> int:
    """A Spark byte-size string ("64MB", "64m", "1g", a bare count)."""
    v = v.strip().lower()
    for suf, mult in (("tb", 2**40), ("gb", 2**30), ("mb", 2**20),
                      ("kb", 2**10), ("t", 2**40), ("g", 2**30),
                      ("m", 2**20), ("k", 2**10), ("b", 1)):
        if v.endswith(suf):
            return int(float(v[: -len(suf)]) * mult)
    return int(v)


def shuffle_width(spark) -> int:
    """The session's ``spark.sql.shuffle.partitions``; Spark's default
    200 when the value is not an integer (e.g. "auto" on AQE-managed
    platforms) or cannot be read."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except Exception:
        return _DEFAULT_SHUFFLE_WIDTH


def advisory_width(spark, n_bytes: int) -> int:
    """ceil(n_bytes / advisoryPartitionSizeInBytes), clamped to
    [1, :func:`shuffle_width`]."""
    try:
        advisory = _parse_bytes(
            spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64MB")
        )
    except Exception:
        advisory = _DEFAULT_ADVISORY_BYTES
    n = math.ceil(n_bytes / max(advisory, 1))
    return max(1, min(shuffle_width(spark), n))


def grouped_map_parallelism(spark) -> int:
    """Partition count to PIN on Python-compute-bound grouped-map
    stages (applyInPandas / mapInArrow with quadratic or heavy per-group
    work), where AQE's byte-size exchange coalescing is the wrong
    objective (measured r13: a 1M-row/1000-key stage coalesced onto 8
    of 32 cores).

    ``defaultParallelism`` alone under-pins with dynamic allocation
    (few executors at plan time → a pin far below eventual cluster
    cores, and AQE-exempt so never corrected) and is unavailable on
    Spark Connect (no ``sparkContext``). So take the larger of "cores
    now" and :func:`shuffle_width`, the cluster's configured shuffle
    width."""
    dp = 0
    try:
        dp = spark.sparkContext.defaultParallelism
    except Exception:  # Spark Connect sessions have no sparkContext
        pass
    return max(dp, shuffle_width(spark))
