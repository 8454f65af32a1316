"""Incremental aggregation store (operators/agg_store.py): multi-day
merge equals one-pass recompute, NULL group keys merge (null-safe join),
new/disappeared groups pass partials through, and the merge join leaves
the store side un-shuffled."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rspl_spark.operators import agg_store as A
from rspl_spark.operators import store as S

MEASURES = {
    "n": ("v", "count"),
    "s": ("v", "sum"),
    "lo": ("v", "min"),
    "hi": ("v", "max"),
}


def _df(spark, rows):
    return spark.createDataFrame(rows, "k string, v double")


def _final(spark, store):
    return {
        r["k"]: (r["n"], r["s"], r["lo"], r["hi"])
        for r in A.read_final(spark, store).collect()
    }


def test_three_day_merge_equals_recompute(spark):
    days = [
        _df(spark, [("a", 1.0), ("a", 2.0), ("b", 10.0)]),
        _df(spark, [("b", -5.0), ("c", 7.0)]),
        _df(spark, [("a", 0.5), ("c", 7.0), ("c", 3.0)]),
    ]
    store = "aggstore_t3"
    A.create_agg_store(spark, days[0], store, ["k"], MEASURES, overwrite=True)
    try:
        for d in days[1:]:
            A.merge_increment(spark, d, store, ["k"], MEASURES)
        got = _final(spark, store)
        full = days[0].unionByName(days[1]).unionByName(days[2])
        want = {
            r["k"]: (r["n"], r["s"], r["lo"], r["hi"])
            for r in A.partial_agg(full, ["k"], MEASURES).collect()
        }
        assert got == want
    finally:
        spark.sql("DROP TABLE IF EXISTS aggstore_t3")


def test_null_group_key_merges(spark):
    """NULL is a group: the null-safe join must fold the increment's
    NULL-key partial into the store's NULL-key row, not orphan both."""
    d1 = spark.createDataFrame([(None, 1.0), ("x", 2.0)], "k string, v double")
    d2 = spark.createDataFrame([(None, 3.0)], "k string, v double")
    store = "aggstore_tnull"
    A.create_agg_store(spark, d1, store, ["k"], MEASURES, overwrite=True)
    try:
        A.merge_increment(spark, d2, store, ["k"], MEASURES)
        rows = {r["k"]: (r["n"], r["s"]) for r in A.read_final(spark, store).collect()}
        assert rows[None] == (2, 4.0)
        assert rows["x"] == (1, 2.0)
        assert len(rows) == 2
    finally:
        spark.sql("DROP TABLE IF EXISTS aggstore_tnull")


def test_merge_respects_store_bucket_count(spark):
    """The store's catalog bucket count wins over the call-site default —
    a mismatched merge must not silently re-layout the table."""
    store = "aggstore_tbkt"
    A.create_agg_store(
        spark, _df(spark, [("a", 1.0)]), store, ["k"], MEASURES, n_buckets=4,
        overwrite=True,
    )
    try:
        A.merge_increment(spark, _df(spark, [("a", 2.0), ("b", 3.0)]), store, ["k"], MEASURES)
        assert S.table_buckets(spark, store) == 4
        assert _final(spark, store)["a"] == (2, 3.0, 1.0, 2.0)
    finally:
        spark.sql("DROP TABLE IF EXISTS aggstore_tbkt")


def test_unsupported_kind_raises(spark):
    with pytest.raises(ValueError, match="not mergeable"):
        A.partial_agg(_df(spark, [("a", 1.0)]), ["k"], {"m": ("v", "avg")})


def test_merge_join_store_side_unshuffled(spark):
    """The store is bucketed on the keys, so the merge's full-outer join
    plans with ONE Exchange (the increment's aggregation) — the store
    partials never move. This is what makes day-N cost independent of
    history size."""
    d1 = _df(spark, [(f"k{i}", float(i)) for i in range(100)])
    store = "aggstore_tplan"
    A.create_agg_store(spark, d1, store, ["k"], MEASURES, overwrite=True)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = A.merged_view(spark, _df(spark, [("k1", 5.0)]), store, ["k"], MEASURES)
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        # the non-null path's store scan is bucket-aligned...
        main_scan = [
            line for line in plan.splitlines() if f"default.{store}[" in line
        ][0]
        assert "Bucketed: true" in main_scan
        assert "SelectedBucketsCount: 8 out of 8" in main_scan
        # ...so no Exchange sits between the non-null join and its store
        # scan (the text from the first SortMergeJoin down to the first
        # FileScan is just Sort + Filter)
        between = plan.split("SortMergeJoin", 1)[1].split("FileScan", 1)[0]
        assert "Exchange" not in between
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS aggstore_tplan")


def test_retract_sum_count_exact(spark):
    """Retraction subtracts sum/count partials exactly and needs no
    history when the retracted slice never touched a stored extreme."""
    sc_only = {"n": ("v", "count"), "s": ("v", "sum")}
    store = "aggstore_tret1"
    full = _df(spark, [("a", 1.0), ("a", 2.0), ("a", 3.0), ("b", 10.0)])
    A.create_agg_store(spark, full, store, ["k"], sc_only, overwrite=True)
    try:
        A.retract_increment(
            spark, _df(spark, [("a", 2.0)]), store, ["k"], sc_only
        )
        rows = {r["k"]: (r["n"], r["s"]) for r in A.read_final(spark, store).collect()}
        assert rows == {"a": (2, 4.0), "b": (1, 10.0)}
    finally:
        spark.sql("DROP TABLE IF EXISTS aggstore_tret1")


def test_retract_minmax_dirty_recompute_with_history(spark):
    """Retracting the row that holds a group's max marks it dirty; the
    lazy recompute over the surviving history restores exactly the
    from-scratch aggregate."""
    store = "aggstore_tret2"
    full = _df(spark, [("a", 1.0), ("a", 5.0), ("a", 3.0), ("b", 2.0), ("b", 4.0)])
    retracted = _df(spark, [("a", 5.0)])  # holds a's max
    survivors = _df(spark, [("a", 1.0), ("a", 3.0), ("b", 2.0), ("b", 4.0)])
    A.create_agg_store(spark, full, store, ["k"], MEASURES, overwrite=True)
    try:
        A.retract_increment(
            spark, retracted, store, ["k"], MEASURES, history_df=survivors
        )
        got = _final(spark, store)
        want = {
            r["k"]: (r["n"], r["s"], r["lo"], r["hi"])
            for r in A.partial_agg(survivors, ["k"], MEASURES).collect()
        }
        assert got == want
    finally:
        spark.sql("DROP TABLE IF EXISTS aggstore_tret2")


def test_retract_empty_groups_dropped(spark):
    store = "aggstore_tret3"
    full = _df(spark, [("a", 1.0), ("b", 2.0)])
    A.create_agg_store(spark, full, store, ["k"], MEASURES, overwrite=True)
    try:
        A.retract_increment(
            spark, _df(spark, [("a", 1.0)]), store, ["k"], MEASURES,
            history_df=_df(spark, [("b", 2.0)]),
        )
        got = _final(spark, store)
        assert got == {"b": (1, 2.0, 2.0, 2.0)}
    finally:
        spark.sql("DROP TABLE IF EXISTS aggstore_tret3")


def test_retract_error_paths(spark):
    """Honest failure modes: touched extreme without history; stray
    group; over-retraction; missing count measure."""
    store = "aggstore_tret4"
    full = _df(spark, [("a", 1.0), ("a", 5.0)])
    A.create_agg_store(spark, full, store, ["k"], MEASURES, overwrite=True)
    try:
        with pytest.raises(ValueError, match="not subtractable"):
            A.retract_increment(spark, _df(spark, [("a", 5.0)]), store, ["k"], MEASURES)
        with pytest.raises(ValueError, match="absent from the store"):
            A.retract_increment(spark, _df(spark, [("zzz", 1.0)]), store, ["k"], MEASURES)
        with pytest.raises(ValueError, match="count"):
            A.retracted_view(
                spark, _df(spark, [("a", 1.0)]), store, ["k"], {"s": ("v", "sum")}
            )
        # over-retraction: 3 'a' rows retracted but only 2 ingested
        over = _df(spark, [("a", 1.0), ("a", 1.0), ("a", 1.0)])
        with pytest.raises(ValueError, match="negative"):
            A.retract_increment(
                spark, over, store, ["k"], MEASURES, history_df=_df(spark, [])
            )
    finally:
        spark.sql("DROP TABLE IF EXISTS aggstore_tret4")


def test_retract_null_group_key(spark):
    """NULL is a group for retraction too: the null-safe path must
    subtract the NULL-key partial, not orphan it or hit the stray-group
    guard."""
    store = "aggstore_tretnull"
    sc_only = {"n": ("v", "count"), "s": ("v", "sum")}
    full = spark.createDataFrame(
        [(None, 1.0), (None, 2.0), ("x", 3.0)], "k string, v double"
    )
    A.create_agg_store(spark, full, store, ["k"], sc_only, overwrite=True)
    try:
        A.retract_increment(
            spark,
            spark.createDataFrame([(None, 1.0)], "k string, v double"),
            store, ["k"], sc_only,
        )
        rows = {r["k"]: (r["n"], r["s"]) for r in A.read_final(spark, store).collect()}
        assert rows == {None: (1, 2.0), "x": (1, 3.0)}
    finally:
        spark.sql("DROP TABLE IF EXISTS aggstore_tretnull")


def test_retract_random_subsets_match_direct_aggregate(spark):
    """Property: for random seed/increment/retraction slices of a
    random integer table, create -> merge -> retract(history) equals
    the one-pass aggregate over the surviving rows — counts, integer
    sums, and min/max (with the dirty-group lazy recompute engaged)."""
    import random

    rng = random.Random(8888)
    for trial in range(3):
        rows = [
            (rng.choice("abcd"), float(rng.randint(-50, 50)))
            for _ in range(200 + 50 * trial)
        ]
        df = spark.createDataFrame(rows, "k string, v double").localCheckpoint()
        df = df.withColumn("rid", F.monotonically_increasing_id()).localCheckpoint()
        seed_pred = F.pmod(F.col("rid"), F.lit(3)) != 0
        retract_mod = rng.choice([4, 5, 7])
        retract_pred = F.pmod(F.col("rid"), F.lit(retract_mod)) == 1
        store = f"aggstore_tprop{trial}"
        try:
            A.create_agg_store(
                spark, df.filter(seed_pred), store, ["k"], MEASURES, overwrite=True
            )
            A.merge_increment(spark, df.filter(~seed_pred), store, ["k"], MEASURES)
            A.retract_increment(
                spark, df.filter(retract_pred), store, ["k"], MEASURES,
                history_df=df.filter(~retract_pred),
            )
            got = _final(spark, store)
            want = {
                r["k"]: (r["n"], r["s"], r["lo"], r["hi"])
                for r in A.partial_agg(
                    df.filter(~retract_pred), ["k"], MEASURES
                ).collect()
            }
            assert got == want, f"trial {trial}"
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {store}")


def test_read_final_zero_count_avg_is_null_not_ansi_error(spark):
    """Review fix: a group whose counted column is all NULL has a 0
    count partial; the derived avg must be NULL, not a query-killing
    ANSI DIVIDE_BY_ZERO."""
    from rspl_spark.operators import agg_store as A

    df = spark.createDataFrame(
        [("a", 1.0, 1), ("b", None, None)],
        "k string, x double, xid int",
    )
    name = "aggstore_zerocount_t"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    try:
        A.create_agg_store(
            spark, df, name, ["k"],
            {"sum_x": ("x", "sum"), "n_x": ("xid", "count")},
            overwrite=True,
        )
        rows = {
            r["k"]: r["avg"]
            for r in A.read_final(
                spark, name, derived_avgs={"avg": ("sum_x", "n_x")}
            ).collect()
        }
        assert rows["a"] == 1.0
        assert rows["b"] is None  # 0-count group: NULL, not an error
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_table_location_ignores_column_named_location(spark):
    """Review fix: DESCRIBE FORMATTED parsing reads only the detailed
    section — a data column literally named 'Location' must not shadow
    the real path (the mis-parse reached the compaction reaper, which
    would then rmtree the LIVE directory)."""
    import os

    from rspl_spark.operators import agg_store as A

    df = spark.createDataFrame(
        [("x", 1), ("y", 2)], "`Location` string, v int"
    )
    name = "aggstore_loccol_t"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    try:
        A.create_agg_store(
            spark, df, name, ["Location"], {"s": ("v", "sum")}, overwrite=True
        )
        loc = S.table_location(spark, name)
        assert loc is not None and os.path.isdir(loc)  # a real path, not 'string'
        # the swap path (which reaps via this location) still works
        A.merge_increment(
            spark, spark.createDataFrame([("x", 10)], "`Location` string, v int"),
            name, ["Location"], {"s": ("v", "sum")},
        )
        got = {r["Location"]: r["s"] for r in A.read_final(spark, name).collect()}
        assert got == {"x": 11, "y": 2}
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_swap_invalidates_cached_relation(spark):
    """Regression for the r14 lifecycle flake: a session that has
    already planned a read of the store holds a cached
    LogicalRelation/InMemoryFileIndex; the DROP->RENAME swap rmtrees
    the old directory, so without the post-swap REFRESH the next read
    can fail with FILE_NOT_EXIST or serve the pre-merge rows."""
    store = "aggstore_stale_cache"
    d1 = _df(spark, [("a", 1.0), ("b", 2.0)])
    A.create_agg_store(spark, d1, store, ["k"], MEASURES, overwrite=True)
    try:
        # populate the relation/file-status cache for the store name
        assert spark.table(store).count() == 2
        before = _final(spark, store)
        assert before["a"] == (1, 1.0, 1.0, 1.0)
        # swap the physical directory behind the name (merge rewrites)
        A.merge_increment(
            spark, _df(spark, [("a", 4.0), ("c", 9.0)]), store, ["k"], MEASURES
        )
        # the same session must see the post-swap table, not the cache
        assert spark.table(store).count() == 3
        after = _final(spark, store)
        assert after["a"] == (2, 5.0, 1.0, 4.0)
        assert after["c"] == (1, 9.0, 9.0, 9.0)
        # and a second swap in the same session (retraction path)
        A.retract_increment(
            spark, _df(spark, [("c", 9.0)]), store, ["k"], MEASURES,
            history_df=spark.createDataFrame([], "k string, v double"),
        )
        assert "c" not in _final(spark, store)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {store}")
