"""Incremental dedup against the persisted bucketed signature store
(operators/dedup_store.py): result parity with the batch LSH pass, the
zero-store-side-Exchange probe plan, and the append → next-increment
round trip."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rspl_spark.catalog import load
from rspl_spark.operators.dedup import lsh_candidate_pairs, minhash_signatures
from rspl_spark.operators.dedup_store import (
    append_increment,
    create_signature_store,
    dedup_increment,
    signature_band_rows,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return load(spark, SF, "documents")


def _batch_pairs_touching(spark, docs, pred):
    """Reference: full-corpus batch LSH pairs filtered to those touching
    the increment — what the incremental path must reproduce exactly."""
    sig = minhash_signatures(docs).localCheckpoint(eager=False)
    pairs = lsh_candidate_pairs(sig)
    return pairs.filter(pred(F.col("doc_a")) | pred(F.col("doc_b")))


def test_increment_matches_batch(spark, docs):
    store_docs = docs.filter(F.col("doc_id") % 3 != 0)
    new_docs = docs.filter(F.col("doc_id") % 3 == 0)
    store = create_signature_store(
        spark, store_docs, "sigstore_test_parity", overwrite=True
    )
    try:
        got = dedup_increment(spark, new_docs, store).orderBy("doc_a", "doc_b")
        want = _batch_pairs_touching(
            spark, docs, lambda c: c % 3 == 0
        ).orderBy("doc_a", "doc_b")
        assert [tuple(r) for r in got.collect()] == [tuple(r) for r in want.collect()]
    finally:
        spark.sql("DROP TABLE IF EXISTS sigstore_test_parity")


def test_probe_join_has_no_store_side_exchange(spark, docs):
    """The whole point of persisting the store bucketed: the probe join
    reads the store aligned to its bucket layout, so the ONLY Exchange
    in the probe plan is the (small) increment side. At 100 TB the store
    never moves."""
    store_docs = docs.filter(F.col("doc_id") % 3 != 0)
    new_docs = docs.filter(F.col("doc_id") % 3 == 0)
    store = create_signature_store(
        spark, store_docs, "sigstore_test_plan", overwrite=True
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ
    try:
        probe = signature_band_rows(new_docs).alias("n")
        j = probe.join(
            spark.table(store).alias("s"), F.col("n.bucket") == F.col("s.bucket")
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        # exactly one shuffle: the increment side re-bucketing. The store
        # scan contributes none (bucket-aligned read).
        assert plan.count("Exchange") == 1
        n_rows = j.count()
        assert n_rows > 0  # collisions exist in the synthetic corpus
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS sigstore_test_plan")


def test_append_roundtrip(spark, docs):
    """Day-2 flow: probe increment A, append it, then increment B must
    see A's docs as store-side partners — identical to a batch pass over
    the whole corpus filtered to pairs touching B."""
    base = docs.filter(F.col("doc_id") % 3 == 1)
    inc_a = docs.filter(F.col("doc_id") % 3 == 2)
    inc_b = docs.filter(F.col("doc_id") % 3 == 0)
    store = create_signature_store(spark, base, "sigstore_test_append", overwrite=True)
    try:
        dedup_increment(spark, inc_a, store).count()  # day-1 probe
        append_increment(spark, inc_a, store)
        got = dedup_increment(spark, inc_b, store).orderBy("doc_a", "doc_b")
        want = _batch_pairs_touching(
            spark, docs, lambda c: c % 3 == 0
        ).orderBy("doc_a", "doc_b")
        assert [tuple(r) for r in got.collect()] == [tuple(r) for r in want.collect()]
        # and the appended store still reads bucket-aligned: no store-side
        # Exchange after an append (bucket metadata survives per-bucket
        # file appends)
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            probe = signature_band_rows(inc_b).alias("n")
            j = probe.join(
                spark.table(store).alias("s"), F.col("n.bucket") == F.col("s.bucket")
            )
            plan = j._jdf.queryExecution().executedPlan().toString()
            assert plan.count("Exchange") == 1
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        spark.sql("DROP TABLE IF EXISTS sigstore_test_append")


def test_prune_modes_identical_results(spark, docs):
    """Store-probe pruning is a semantic no-op: 'in', 'semi', and 'off'
    produce the same pairs (the inner join on bucket already discards
    non-matching store rows — pruning only moves the discard earlier)."""
    store_docs = docs.filter(F.col("doc_id") % 3 != 0)
    new_docs = docs.filter(F.col("doc_id") % 3 == 0)
    store = create_signature_store(
        spark, store_docs, "sigstore_test_prune", overwrite=True
    )
    try:
        outs = {
            m: [
                tuple(r)
                for r in dedup_increment(spark, new_docs, store, prune=m)
                .orderBy("doc_a", "doc_b")
                .collect()
            ]
            for m in ("off", "in", "semi")
        }
        assert outs["in"] == outs["off"]
        assert outs["semi"] == outs["off"]
        assert len(outs["off"]) > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS sigstore_test_prune")


def test_prune_in_pushes_bucket_filter_into_store_scan(spark, docs):
    """prune='in' must reach the STORE SCAN as a pushed data filter on
    bucket (the store is sorted by bucket, so parquet row-group min/max
    stats skip non-matching groups), and the store side must still read
    bucket-aligned: one Exchange total (the increment side)."""
    store_docs = docs.filter(F.col("doc_id") % 3 != 0)
    new_docs = docs.filter(F.col("doc_id") % 3 == 0)
    store = create_signature_store(
        spark, store_docs, "sigstore_test_pushdown", overwrite=True
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = dedup_increment(spark, new_docs, store, prune="in")
        plan = j._jdf.queryExecution().executedPlan().toString()
        # the store-scan line carries the pushed IN(bucket, ...) filter
        scan_lines = [
            ln for ln in plan.splitlines()
            if "sigstore_test_pushdown" in ln and "PushedFilters" in ln
        ]
        assert scan_lines, f"no store scan with PushedFilters in:\n{plan}"
        assert any("bucket" in ln.split("PushedFilters")[1] for ln in scan_lines)
        # pruning must not cost the bucket alignment: the probe join's
        # only Exchanges are increment-side (2 probes: vs-store, vs-new)
        assert "SortMergeJoin" in plan
        for ln in plan.splitlines():
            if "Exchange" in ln and "sigstore" in ln:
                raise AssertionError(f"store-side Exchange appeared: {ln}")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS sigstore_test_pushdown")


def test_prune_semi_keeps_store_alignment(spark, docs):
    """prune='semi' (the unbounded-increment path) drops store rows via
    a broadcast left-semi on bucket — no driver collect — and the
    store's bucket layout survives (BroadcastHashJoin preserves the
    streamed child's partitioning, so no store-side Exchange)."""
    store_docs = docs.filter(F.col("doc_id") % 3 != 0)
    new_docs = docs.filter(F.col("doc_id") % 3 == 0)
    store = create_signature_store(
        spark, store_docs, "sigstore_test_semi", overwrite=True
    )
    try:
        j = dedup_increment(spark, new_docs, store, prune="semi")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "LeftSemi, BuildRight" in plan or "LeftSemi BuildRight" in plan
        for ln in plan.splitlines():
            if "Exchange" in ln and "sigstore" in ln:
                raise AssertionError(f"store-side Exchange appeared: {ln}")
    finally:
        spark.sql("DROP TABLE IF EXISTS sigstore_test_semi")


def test_delete_is_tombstone_only_then_compact(spark, docs):
    """Takedown contract: delete_keys writes ONLY the key sidecar (no
    store data file touched); pairs involving a deleted store doc
    vanish from the probe while everything else is unchanged;
    compact_store physically removes the rows and clears the
    tombstones without changing answers."""
    import os

    from rspl_spark.operators.dedup_store import (
        _warehouse_path,
        compact_store,
        delete_keys,
        deleted_count,
    )

    def snap(path):
        out = {}
        for root, _dirs, files in os.walk(path):
            for f in files:
                p = os.path.join(root, f)
                st = os.stat(p)
                out[p] = (st.st_size, st.st_mtime_ns)
        return out

    store_docs = docs.filter(F.col("doc_id") % 3 != 0)
    new_docs = docs.filter(F.col("doc_id") % 3 == 0)
    store = create_signature_store(
        spark, store_docs, "sigstore_test_tomb", overwrite=True
    )
    try:
        base_pairs = [
            tuple(r)
            for r in dedup_increment(spark, new_docs, store)
            .orderBy("doc_a", "doc_b")
            .collect()
        ]
        assert base_pairs, "fixture must produce at least one pair"
        # delete every store doc divisible by 5
        victims = store_docs.filter(F.col("doc_id") % 5 == 0).select("doc_id")
        store_dir_before = snap(_warehouse_path(spark, store))
        n = delete_keys(spark, store, victims)
        assert n == victims.count()
        assert snap(_warehouse_path(spark, store)) == store_dir_before
        dead = {r["doc_id"] for r in victims.collect()}
        want = [p for p in base_pairs if p[0] not in dead and p[1] not in dead]
        got = [
            tuple(r)
            for r in dedup_increment(spark, new_docs, store)
            .orderBy("doc_a", "doc_b")
            .collect()
        ]
        assert got == want and len(got) < len(base_pairs)
        # the tombstone anti-join must not break the bucket-aligned
        # probe: still exactly ONE shuffle Exchange (the increment),
        # the tombstones arriving via BroadcastExchange only
        from rspl_spark.operators.dedup_store import live_store

        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            probe = signature_band_rows(new_docs).alias("n")
            j = probe.join(
                live_store(spark, store).alias("s"),
                F.col("n.bucket") == F.col("s.bucket"),
            )
            plan = j._jdf.queryExecution().executedPlan().toString()
            shuffles = plan.count("Exchange") - plan.count("BroadcastExchange")
            assert shuffles == 1 and "BroadcastExchange" in plan
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        # compaction: physical removal, tombstones gone, same answer
        compact_store(spark, store)
        assert deleted_count(spark, store) == 0
        got2 = [
            tuple(r)
            for r in dedup_increment(spark, new_docs, store)
            .orderBy("doc_a", "doc_b")
            .collect()
        ]
        assert got2 == want
    finally:
        spark.sql("DROP TABLE IF EXISTS sigstore_test_tomb")
        spark.sql("DROP TABLE IF EXISTS sigstore_test_tomb__deleted")


def test_compacted_store_survives_fresh_catalog(spark, docs):
    """A compaction moves the live layout to a versioned dir; the meta
    file in the base dir records the move, so a fresh catalog's create
    re-registers the COMPACTED store (appended increments included)
    instead of silently rebuilding it from the seed, and no superseded
    layout is left on disk — also after a second compaction."""
    import glob
    import os

    from rspl_spark.operators.dedup_store import (
        _warehouse_path,
        compact_store,
        delete_keys,
    )

    name = "sigstore_compact_reopen"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    seed = docs.filter(F.col("doc_id") % 3 != 0)
    base = _warehouse_path(spark, name)
    try:
        create_signature_store(spark, seed, name, overwrite=True)
        append_increment(spark, docs.filter(F.col("doc_id") % 3 == 0), name)
        victims = [r["doc_id"] for r in seed.orderBy("doc_id").limit(2).collect()]
        assert delete_keys(spark, name, victims) == 2
        n = compact_store(spark, name)
        for _ in range(2):
            spark.sql(f"DROP TABLE {name}")  # a fresh catalog keeps the files
            create_signature_store(spark, seed, name)
            assert spark.table(name).count() == n
            assert not spark.table(name).filter(F.col("doc_id").isin(victims)).take(1)
            assert len(glob.glob(f"{base}.__v_*")) == 1  # the live layout only
            assert os.listdir(base) == ["_rspl_meta.json"]
            assert compact_store(spark, name) == n
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_reaper_spares_data_in_drop_rename_crash_window(spark, docs):
    """r10 review fix: store.reap_stale must reap NOTHING when
    the store table is unregistered (the DROP→RENAME crash window) —
    the on-disk versioned dirs are then the ONLY copies of the data."""
    import os
    import shutil

    from rspl_spark.operators.dedup_store import (
        _warehouse_path,
        create_signature_store,
    )

    from rspl_spark.operators.store import reap_stale, table_location

    store = "t_reaper_window_store"
    spark.sql(f"DROP TABLE IF EXISTS {store}")
    create_signature_store(spark, docs, store)
    loc = table_location(spark, store)
    base = _warehouse_path(spark, store)
    # simulate the crash window: catalog entry gone, data dir renamed to
    # a versioned path (as after any successful prior compaction)
    vdir = f"{base}.__v_crashwin"
    shutil.rmtree(vdir, ignore_errors=True)
    shutil.move(loc, vdir) if os.path.realpath(loc) != os.path.realpath(vdir) else None
    spark.sql(f"DROP TABLE {store}")
    reap_stale(spark, store, base)
    assert os.path.isdir(vdir), "reaper deleted the only copy of the data"
    # and once the table IS registered again, stale non-live dirs DO reap
    os.makedirs(f"{base}.__v_stale", exist_ok=True)
    from rspl_spark.operators.store import register_at

    register_at(spark, store, vdir, ["bucket"], 8)
    reap_stale(spark, store, base)
    assert os.path.isdir(vdir)  # live data kept
    assert not os.path.isdir(f"{base}.__v_stale")  # stale dir reaped
    spark.sql(f"DROP TABLE IF EXISTS {store}")
    shutil.rmtree(vdir, ignore_errors=True)


def test_reaper_spares_data_when_live_location_unknown(spark, docs, monkeypatch):
    """r11 advice fix: if the LIVE registered table's location cannot
    be determined (DESCRIBE missing its Location row), the reaper must
    fail CLOSED — reap nothing — rather than sweep every `.__v_*` dir
    including, potentially, the live data directory itself."""
    import os
    import shutil

    from rspl_spark.operators import store as S
    from rspl_spark.operators.dedup_store import (
        _warehouse_path,
        create_signature_store,
    )

    store = "t_reaper_noloc_store"
    spark.sql(f"DROP TABLE IF EXISTS {store}")
    create_signature_store(spark, docs, store)
    base = _warehouse_path(spark, store)
    stale = f"{base}.__v_stale_noloc"
    os.makedirs(stale, exist_ok=True)
    try:
        monkeypatch.setattr(S, "table_location", lambda s, n: None)
        S.reap_stale(spark, store, base)
        assert os.path.isdir(stale), (
            "reaper swept .__v_* dirs without knowing the live location"
        )
    finally:
        shutil.rmtree(stale, ignore_errors=True)
        spark.sql(f"DROP TABLE IF EXISTS {store}")


def test_reregister_validates_stored_layout(spark, docs):
    """Review fix: re-registering an on-disk store with a DIFFERENT
    (n_buckets, n_bands) than it was written with raises instead of
    silently trusting false bucket placement; the matching layout
    re-registers metadata-only, and appends resolve the store's ACTUAL
    bucket count regardless of the caller's parameter."""
    import os

    from rspl_spark.operators.agg_store import _table_buckets
    from rspl_spark.operators.dedup_store import _warehouse_path

    name = "sigstore_layout_t"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    d = docs.limit(50)
    try:
        create_signature_store(spark, d, name, n_buckets=4, n_bands=4,
                               overwrite=True)
        assert os.path.isfile(
            os.path.join(_warehouse_path(spark, name), "_rspl_meta.json")
        )
        # simulate a fresh catalog: drop the table, keep the files
        spark.sql(f"DROP TABLE {name}")
        with pytest.raises(ValueError, match="on-disk layout"):
            create_signature_store(spark, d, name, n_buckets=16, n_bands=8)
        # the written layout re-registers fine
        create_signature_store(spark, d, name, n_buckets=4, n_bands=4)
        assert _table_buckets(spark, name) == 4
        # append with the DEFAULT (wrong) n_buckets resolves the store's
        # real bucket count instead of failing or mis-placing rows
        append_increment(spark, docs.limit(60).subtract(d), name, n_bands=4)
        assert _table_buckets(spark, name) == 4
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_nometa_layout_refuses_without_overwrite(spark, docs):
    """r13 ADVICE fix, hardened per r14 ADVICE: a complete-looking
    layout with NO _rspl_meta.json (pre-sidecar store, or a crash
    between saveAsTable and the meta write) is unvalidatable —
    re-registering it risks silent mis-bucketing, and IMPLICITLY
    rebuilding it (the r13 behavior, warning-gated) silently discards
    any appended increments and tombstones the layout holds. Both
    paths now refuse with the remedy in the message; only an explicit
    overwrite=True with data rebuilds."""
    import os

    from rspl_spark.operators.agg_store import _table_buckets
    from rspl_spark.operators.dedup_store import _warehouse_path

    name = "sigstore_nometa_t"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    d = docs.limit(50)
    try:
        create_signature_store(spark, d, name, n_buckets=4, n_bands=4,
                               overwrite=True)
        path = _warehouse_path(spark, name)
        meta = os.path.join(path, "_rspl_meta.json")
        # simulate the unvalidatable state: fresh catalog + no sidecar
        spark.sql(f"DROP TABLE {name}")
        os.remove(meta)
        # registration-only: nothing to rebuild from -> refuse
        with pytest.raises(ValueError, match="no _rspl_meta.json"):
            create_signature_store(spark, None, name, n_buckets=8, n_bands=4)
        # WITH data but WITHOUT overwrite: still refuse — an
        # idempotent-looking create must not trigger data loss
        with pytest.raises(ValueError, match="overwrite=True"):
            create_signature_store(spark, d, name, n_buckets=8, n_bands=4)
        # committed part files untouched by either refusal
        assert any(f.endswith(".parquet") for f in os.listdir(path))
        # explicit opt-in rebuilds under the caller's layout
        create_signature_store(spark, d, name, n_buckets=8, n_bands=4,
                               overwrite=True)
        assert _table_buckets(spark, name) == 8
        assert os.path.isfile(meta), "rebuild must write fresh meta"
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
