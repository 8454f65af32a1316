"""Incremental aggregation against a PERSISTED partial-aggregate store
(incremental view maintenance).

The daily-dashboard problem at 100 TB: a grouped rollup over the full
history rescans the corpus every run, but yesterday's aggregates didn't
change. This module persists the MERGEABLE partials (count, sum, min,
max — avg is derived sum/count) per group key, bucketed on the keys, and
folds each increment in with one small join:

- ``create_agg_store``: aggregate the seed batch to partials and CTAS
  them bucketed+sorted on the group keys.
- ``merge_increment``: aggregate ONLY the increment, full-outer-join it
  to the store on the keys (null-safe — NULL group keys are groups),
  combine partials column-wise, and swap the store directory. The store
  side of the join is bucket-aligned (no store-side Exchange); only the
  increment shuffles. The rewrite cost is the (small) aggregate table,
  never the raw history.
- ``read_final``: partials → final measures (avg derived).

The same partials discipline Spark's own partial/final hash aggregation
uses inside one query, lifted across runs. The store lifecycle (the
crash-safe swap, properties, layout) is ``operators/store.py``; this
module owns the partials payload and its path, the repo warehouse.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rspl_spark.catalog import repo_warehouse_path
from rspl_spark.operators import store as S
from rspl_spark.operators.store import table_buckets as _table_buckets

# measure kinds → (partial aggregate, pairwise merge)
_KINDS = ("sum", "count", "min", "max")


def _check(measures: dict[str, tuple[str, str]]) -> None:
    for name, (_col, kind) in measures.items():
        if kind not in _KINDS:
            raise ValueError(
                f"measure {name!r}: kind {kind!r} not mergeable "
                f"(supported: {_KINDS}; avg = sum/count via read_final)"
            )


def partial_agg(
    df: DataFrame, keys: list[str], measures: dict[str, tuple[str, str]]
) -> DataFrame:
    """One partial-aggregation pass: keys + one column per measure."""
    _check(measures)
    aggs = []
    for name, (col, kind) in measures.items():
        if kind == "count":
            # count partials are SUMS of longs from day two on
            aggs.append(F.count(col).cast("long").alias(name))
        else:
            aggs.append(getattr(F, kind)(col).alias(name))
    return df.groupBy(*keys).agg(*aggs)


def create_agg_store(
    spark: SparkSession,
    df: DataFrame,
    name: str,
    keys: list[str],
    measures: dict[str, tuple[str, str]],
    n_buckets: int = 8,
    overwrite: bool = False,
) -> str:
    """CTAS the seed batch's partials, bucketed on the group keys."""
    if spark.catalog.tableExists(name):
        if not overwrite:
            return name
        spark.sql(f"DROP TABLE {name}")
    path = repo_warehouse_path(name)
    # also reaps versioned dirs a dead session's merges left behind
    S.clear_layout(path)
    S.write_table(partial_agg(df, keys, measures), name, path, keys, n_buckets)
    S.refresh(spark, name)
    return name


def merge_increment(
    spark: SparkSession,
    new_df: DataFrame,
    store: str,
    keys: list[str],
    measures: dict[str, tuple[str, str]],
    n_buckets: int = 8,
    props: dict[str, str] | None = None,
    known_props: dict[str, str] | None = None,
) -> None:
    """Fold an increment into the store: aggregate the increment alone,
    full-outer-join it to the store on the keys, merge partials
    (sum/count add, min least, max greatest — a side missing the group
    passes its partial through), rewrite + swap the store.

    Groups whose keys are all non-null (essentially all of them) join on
    plain equality with the increment pre-shuffled to the store's bucket
    count — the store side reads bucket-aligned, zero store-side
    Exchange (asserted in tests/test_agg_store.py). NULL is still a
    group, but an eqNullSafe join key compiles to (coalesce, isnull)
    expressions that defeat bucket alignment, so the handful of groups
    with a null key take a separate null-safe-joined path and union in.

    ``props`` are table properties stamped onto the rewritten store IN
    THE SAME SWAP — data and properties become visible atomically at
    the catalog rename, which is what lets a caller record "increment X
    is folded in" with no window where the data committed but the
    record didn't (the streaming exactly-once guard rides on this).
    ``known_props``: the store's current properties if the caller
    already read them, saving the swap's own re-read. Only ``rspl.*``
    properties carry forward across LATER rewrites (``store.carried``);
    other keys are stamped on this rewrite only.
    """
    n_buckets = _table_buckets(spark, store) or n_buckets
    merged = merged_view(
        spark, new_df, store, keys, measures, n_buckets, resolve_buckets=False
    )
    S.swap(
        spark, store, merged, repo_warehouse_path(store), keys, n_buckets,
        stamp=lambda old, _tmp: {**S.carried(old), **(props or {})},
        old_props=known_props,
    )


def _key_cond(keys: list[str], a: str, b: str, null_safe: bool = True):
    eq = (lambda x, y: x.eqNullSafe(y)) if null_safe else (lambda x, y: x == y)
    return functools.reduce(
        lambda c, k: c & k, [eq(F.col(f"{a}.{k}"), F.col(f"{b}.{k}")) for k in keys]
    )


def _join_partials(
    st: DataFrame, inc: DataFrame, keys: list[str], n_buckets: int, how: str, cols
) -> DataFrame:
    """Join store partials ``st`` (alias s) to increment partials
    ``inc`` (alias i) and select ``cols``: bucket-aligned on plain
    equality, plus a null-safe path for null keys (``merge_increment``)."""

    def any_null(df):
        return functools.reduce(lambda c, k: c | df[k].isNull(), keys, F.lit(False))

    def join(s, i, null_safe: bool):
        cond = _key_cond(keys, "s", "i", null_safe)
        return s.alias("s").join(i.alias("i"), cond, how).select(*cols)

    return join(
        st.filter(~any_null(st)),
        inc.filter(~any_null(inc)).repartition(n_buckets, *keys),
        null_safe=False,
    ).unionByName(join(st.filter(any_null(st)), inc.filter(any_null(inc)), True))


def merged_view(
    spark: SparkSession,
    new_df: DataFrame,
    store: str,
    keys: list[str],
    measures: dict[str, tuple[str, str]],
    n_buckets: int = 8,
    resolve_buckets: bool = True,
) -> DataFrame:
    """The merge plan ``merge_increment`` writes — exposed for plan
    inspection and tests."""
    _check(measures)
    # the store's ACTUAL bucket count governs both the increment's
    # pre-shuffle and the rewrite — a caller-supplied mismatch would
    # silently re-layout the store and shuffle it on every later merge.
    # merge_increment resolves once and passes resolve_buckets=False.
    if resolve_buckets:
        n_buckets = _table_buckets(spark, store) or n_buckets
    cols = [F.coalesce(F.col(f"s.{k}"), F.col(f"i.{k}")).alias(k) for k in keys]
    for name, (_col, kind) in measures.items():
        a, b = F.col(f"s.{name}"), F.col(f"i.{name}")
        if kind in ("sum", "count"):
            m = F.when(a.isNull(), b).when(b.isNull(), a).otherwise(a + b)
        elif kind == "min":
            m = F.least(a, b)  # least/greatest skip NULLs
        else:
            m = F.greatest(a, b)
        cols.append(m.alias(name))
    return _join_partials(
        spark.table(store), partial_agg(new_df, keys, measures), keys, n_buckets,
        "full", cols,
    )


def retracted_view(
    spark: SparkSession,
    old_df: DataFrame,
    store: str,
    keys: list[str],
    measures: dict[str, tuple[str, str]],
    history_df: DataFrame | None = None,
    n_buckets: int = 8,
    resolve_buckets: bool = True,
) -> DataFrame:
    """The retraction plan ``retract_increment`` writes — exposed for
    plan inspection and tests. See retract_increment for semantics."""
    _check(measures)
    count_names = [n for n, (_c, k) in measures.items() if k == "count"]
    if not count_names:
        raise ValueError(
            "retraction needs at least one 'count' measure (over a "
            "non-null column) to detect groups that become empty"
        )
    minmax = {n: (c, k) for n, (c, k) in measures.items() if k in ("min", "max")}
    if resolve_buckets:
        n_buckets = _table_buckets(spark, store) or n_buckets
    # materialize the (small, group-grained) retraction aggregate ONCE:
    # three eager validation takes plus the final rewrite all read it —
    # uncached, each re-aggregates old_df (the "never the raw history"
    # cost class, paid four times)
    inc_all = partial_agg(old_df, keys, measures).localCheckpoint()
    st_all = spark.table(store)

    # a retraction for a group the store never ingested is a caller
    # bug (wrong old_df) — fail loudly, never silently drop it.
    stray = inc_all.alias("i").join(
        st_all.alias("s"), _key_cond(keys, "s", "i"), "left_anti"
    )
    if stray.take(1):
        raise ValueError(
            "retract_increment: old_df contains groups absent from the "
            "store — the retracted rows were never merged in"
        )

    cols = [F.col(f"s.{k}").alias(k) for k in keys]
    dirty = F.lit(False)
    for name, (_col, kind) in measures.items():
        a, b = F.col(f"s.{name}"), F.col(f"i.{name}")
        if kind in ("sum", "count"):
            m = F.when(b.isNull(), a).otherwise(a - b)
        else:
            # min/max partials cannot subtract: the stored extreme
            # stays valid ONLY if the retracted slice never touched
            # it (strict inequality); otherwise the group is dirty
            # and must lazily recompute from surviving history.
            m = a
            touch = b.isNotNull() & ((b <= a) if kind == "min" else (b >= a))
            dirty = dirty | touch
        cols.append(m.alias(name))
    cols.append(dirty.alias("_dirty"))
    ret = _join_partials(st_all, inc_all, keys, n_buckets, "left", cols)
    # over-retraction (more rows retracted than ingested) is a caller
    # bug the subtraction would silently absorb — fail loudly
    neg = functools.reduce(lambda a, b: a | b, [F.col(n) < 0 for n in count_names])
    if ret.filter(neg).take(1):
        raise ValueError(
            "retract_increment: a count went negative — old_df retracts "
            "rows that were never ingested for that group"
        )
    # groups whose every count reaches 0 are gone entirely
    empty = functools.reduce(
        lambda a, b: a & b, [F.col(n) == 0 for n in count_names]
    )
    ret = ret.filter(~empty)
    if minmax:
        dirty_keys = ret.filter(F.col("_dirty")).select(*keys).localCheckpoint()
        if dirty_keys.take(1):
            if history_df is None:
                raise ValueError(
                    "retraction touched a stored min/max extreme for some "
                    "groups; min/max partials are not subtractable — pass "
                    "history_df (the SURVIVING raw rows) so those groups "
                    "can be lazily recomputed (only they are rescanned)"
                )
            hist_slice = history_df.alias("h").join(
                F.broadcast(dirty_keys.alias("d")), _key_cond(keys, "h", "d"), "semi"
            )
            patch = partial_agg(hist_slice, keys, minmax).alias("p")
            return ret.alias("r").join(
                F.broadcast(patch), _key_cond(keys, "r", "p"), "left"
            ).select(
                *[F.col(f"r.{k}").alias(k) for k in keys],
                *[
                    (
                        F.when(F.col("r._dirty"), F.col(f"p.{n}")).otherwise(F.col(f"r.{n}"))
                        if n in minmax
                        else F.col(f"r.{n}")
                    ).alias(n)
                    for n in measures
                ],
            )
    return ret.drop("_dirty")


def retract_increment(
    spark: SparkSession,
    old_df: DataFrame,
    store: str,
    keys: list[str],
    measures: dict[str, tuple[str, str]],
    history_df: DataFrame | None = None,
    n_buckets: int = 8,
) -> None:
    """Retract previously-merged rows from the store (the takedown /
    opt-out compliance path): aggregate ``old_df`` alone, subtract its
    partials from the store, rewrite + swap — the same cost class as
    ``merge_increment`` (the aggregate table, never the raw history).

    Mergeable partials subtract exactly for sum/count; groups whose
    count reaches 0 are dropped. min/max partials are honestly NOT
    subtractable: a group whose stored extreme was touched by the
    retracted slice (retracted min <= stored min, resp. max >=) is
    recomputed lazily from ``history_df`` — the SURVIVING raw rows —
    narrowed to just the dirty groups by a broadcast semi join, so the
    history rescan is proportional to the damage, not the corpus. With
    min/max measures and no ``history_df``, a touched extreme raises
    ValueError rather than guessing.

    Caller-bug guards (both raise): retracting a group the store never
    ingested; retracting more rows than a group ever had (negative
    count). Requires at least one 'count' measure over a non-null
    column — emptiness detection counts it down to exactly 0."""
    n_buckets = _table_buckets(spark, store) or n_buckets
    ret = retracted_view(
        spark, old_df, store, keys, measures, history_df, n_buckets,
        resolve_buckets=False,
    )
    S.swap(spark, store, ret, repo_warehouse_path(store), keys, n_buckets)


def read_final(
    spark: SparkSession,
    store: str,
    derived_avgs: dict[str, tuple[str, str]] | None = None,
) -> DataFrame:
    """The store's finalized view; ``derived_avgs`` adds
    ``name -> (sum_col, count_col)`` ratio columns."""
    out = spark.table(store)
    for name, (s, c) in (derived_avgs or {}).items():
        # try_divide: a zero count partial (group whose rows were all
        # NULL in the counted column) must yield NULL, not kill the
        # whole read under ANSI's DIVIDE_BY_ZERO
        out = out.withColumn(name, F.try_divide(F.col(s), F.col(c)))
    return out
