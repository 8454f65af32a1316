"""Persisted PQ index (operators/ann_store.py): build → append →
query → staleness → refresh lifecycle, plus recall after append.

The q_ann_pq_adc_incremental gate hash-checks the two-batch replay
against the oracle; these tests pin what the gate can't — reuse
across builds (metadata-only), the staleness/refresh maintenance
hook, and that appending KEEPS the stored codebooks (append must
never silently refit: that would invalidate every code row on disk).
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from rspl_spark.operators.ann_store import (
    append_index,
    create_pq_index,
    pq_index_codebooks,
    index_staleness,
    index_tag,
    pq_index_topk,
    refresh_index,
)

SF_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def emb(spark):
    from rspl_spark.catalog import load

    return load(spark, SF_DIR, "embeddings").localCheckpoint()


def _drop(spark, name):
    spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_append_keeps_codebooks_and_counts(spark, emb):
    name = "pqidx_test_append"
    _drop(spark, name)
    try:
        base = emb.filter(F.col("vec_id") % 3 != 0)
        inc = emb.filter(F.col("vec_id") % 3 == 0)
        create_pq_index(spark, base, name, overwrite=True)
        books_before = pq_index_codebooks(spark, name)
        n = append_index(spark, inc, name, tag="base+inc")
        assert n == inc.count()
        assert pq_index_codebooks(spark, name) == books_before
        assert spark.table(name).count() == emb.count()
        assert index_tag(spark, name) == "base+inc"
        # idempotent reuse: create without overwrite is metadata-only
        create_pq_index(spark, base, name)
        assert spark.table(name).count() == emb.count()
    finally:
        _drop(spark, name)


def test_recall_after_append(spark, emb):
    """Recall@5 of the appended index vs exact inner-product top-5,
    over 10 probe queries — increment vectors are encoded with BASE
    codebooks, so this asserts the append path's search quality, not
    just its bookkeeping. (The full-fit gate measures 0.92 at this
    corpus/config; base-fit append loses a little.)"""
    name = "pqidx_test_recall"
    _drop(spark, name)
    try:
        base = emb.filter(F.col("vec_id") % 3 != 0)
        inc = emb.filter(F.col("vec_id") % 3 == 0)
        create_pq_index(spark, base, name, overwrite=True)
        append_index(spark, inc, name)

        rows = emb.select("vec_id", "embedding").collect()
        vecs = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64) for r in rows}
        qids = sorted(vecs)[:10]
        queries = [(q, vecs[q].tolist()) for q in qids]

        # production two-stage shape: ADC shortlist, then exact rerank
        # of shortlist rows only (what _adc_rerank does in the gate)
        short = pq_index_topk(spark, name, queries, topk=100).collect()
        short_by_q: dict[int, list[int]] = {}
        for r in short:
            short_by_q.setdefault(r["query_id"], []).append(r["vec_id"])

        ids = np.array(sorted(vecs))
        M = np.stack([vecs[i] for i in ids])
        hits = tot = 0
        for q in qids:
            cand = short_by_q.get(q, [])
            reranked = sorted(cand, key=lambda v: (-float(vecs[v] @ vecs[q]), v))[:5]
            ip = M @ vecs[q]
            ip[ids == q] = -np.inf
            exact = set(ids[np.argsort(-ip)[:5]].tolist())
            hits += len(exact & set(reranked))
            tot += 5
        recall = hits / tot
        assert recall >= 0.8, f"recall@5 after append = {recall}"
    finally:
        _drop(spark, name)


def test_staleness_and_refresh(spark, emb):
    name = "pqidx_test_stale"
    _drop(spark, name)
    try:
        base = emb.filter(F.col("vec_id") % 3 != 0)
        inc = emb.filter(F.col("vec_id") % 3 == 0)
        create_pq_index(spark, base, name, overwrite=True)
        assert index_staleness(spark, name) == 0.0
        append_index(spark, inc, name)
        stale = index_staleness(spark, name)
        assert 0.4 < stale < 0.6  # one third of the corpus appended

        # below threshold: no refit
        assert refresh_index(spark, emb, name, stale_threshold=0.9) is False
        # at threshold: refit on the FULL corpus, staleness resets,
        # codebooks change (they now saw the increment)
        books_before = pq_index_codebooks(spark, name)
        assert refresh_index(spark, emb, name, stale_threshold=0.4) is True
        assert index_staleness(spark, name) == 0.0
        assert index_tag(spark, name) == "refit"
        assert pq_index_codebooks(spark, name) != books_before
        assert spark.table(name).count() == emb.count()
    finally:
        _drop(spark, name)


def test_streaming_pq_index_ingest(spark, emb):
    """Streaming maintenance of the persisted index: micro-batches are
    append-encoded with the STORED codebooks (no refit on the hot
    path); the staleness hook refits once appended rows cross the
    threshold. Same table as the batch pipeline throughout."""
    import tempfile

    from pyspark.sql import functions as F

    from rspl_spark.streaming.llm import pq_index_ingest
    from rspl_spark.streaming.sources import file_stream, write_stream_chunks

    name = "pqidx_test_stream"
    _drop(spark, name)
    try:
        base = emb.filter(F.col("vec_id") % 3 == 1)
        create_pq_index(spark, base, name, overwrite=True)
        books0 = pq_index_codebooks(spark, name)
        arrivals = emb.filter(F.col("vec_id") % 3 != 1)
        pdf = arrivals.select("vec_id", "embedding").orderBy("vec_id").toPandas()
        half = len(pdf) // 2
        schema = arrivals.select("vec_id", "embedding").schema
        chunks = [
            spark.createDataFrame(pdf.iloc[:half], schema),
            spark.createDataFrame(pdf.iloc[half:], schema),
        ]
        with tempfile.TemporaryDirectory() as tmp, tempfile.TemporaryDirectory() as ck:
            write_stream_chunks(spark, tmp, chunks)
            stream = file_stream(spark, tmp, "vec_id long, embedding array<float>")
            q = (
                pq_index_ingest(stream, name, stale_threshold=10.0)
                .trigger(availableNow=True)
                .option("checkpointLocation", ck + "/ckpt")
                .start()
            )
            q.awaitTermination(120)
        # appends landed, codebooks untouched (threshold never crossed)
        assert spark.table(name).count() == emb.count()
        assert pq_index_codebooks(spark, name) == books0
        assert index_staleness(spark, name) > 1.0
        # low-threshold refresh now refits on the full corpus
        assert refresh_index(spark, emb, name, stale_threshold=0.5) is True
        assert pq_index_codebooks(spark, name) != books0
        assert index_staleness(spark, name) == 0.0
    finally:
        _drop(spark, name)


def test_ivf_append_keeps_centroids_and_counts(spark, emb):
    from rspl_spark.operators.ann_store import (
        append_index,
        create_ivf_index,
        ivf_index_centroids,
        index_staleness,
        refresh_index,
    )

    name = "ivfidx_test_append"
    _drop(spark, name)
    try:
        base = emb.filter(F.col("vec_id") % 3 != 0)
        inc = emb.filter(F.col("vec_id") % 3 == 0)
        create_ivf_index(spark, base, name, overwrite=True)
        cents_before = ivf_index_centroids(spark, name)
        n = append_index(spark, inc, name, tag="base+inc")
        assert n == inc.count()
        # append must NEVER refit: stored centroids win
        assert ivf_index_centroids(spark, name) == cents_before
        assert spark.table(name).count() == emb.count()
        # every appended row landed in a valid stored cell
        k = len(cents_before)
        cids = {r["cid"] for r in spark.table(name).select("cid").distinct().collect()}
        assert cids <= set(range(k))
        stale = index_staleness(spark, name)
        assert 0.4 < stale < 0.6
        assert refresh_index(spark, emb, name, stale_threshold=0.9) is False
        assert refresh_index(spark, emb, name, stale_threshold=0.4) is True
        assert index_staleness(spark, name) == 0.0
        assert ivf_index_centroids(spark, name) != cents_before
        assert spark.table(name).count() == emb.count()
    finally:
        _drop(spark, name)


def test_ivf_recall_after_append(spark, emb):
    """Recall@5 of the appended IVF index (probe-2 of 8 cells) vs exact
    cosine top-5 over 10 queries — the increment is assigned with BASE
    centroids, so this asserts search quality through the append path."""
    from rspl_spark.operators.ann_store import (
        append_index,
        create_ivf_index,
        ivf_index_topk,
    )

    name = "ivfidx_test_recall"
    _drop(spark, name)
    try:
        base = emb.filter(F.col("vec_id") % 3 != 0)
        inc = emb.filter(F.col("vec_id") % 3 == 0)
        create_ivf_index(spark, base, name, overwrite=True)
        append_index(spark, inc, name)

        got = ivf_index_topk(
            spark, name, emb.filter(F.col("vec_id") < 10), topk=5, n_probe=2
        ).collect()
        by_q: dict[int, set[int]] = {}
        for r in got:
            by_q.setdefault(r["query_id"], set()).add(r["vec_id"])

        rows = emb.select("vec_id", "embedding").collect()
        vecs = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64) for r in rows}
        ids = np.array(sorted(vecs))
        M = np.stack([vecs[i] for i in ids])
        M = M / np.linalg.norm(M, axis=1, keepdims=True)
        hits = tot = 0
        for q in range(10):
            cos = M @ (vecs[q] / np.linalg.norm(vecs[q]))
            cos[ids == q] = -np.inf
            exact = set(ids[np.argsort(-cos)[:5]].tolist())
            hits += len(exact & by_q.get(q, set()))
            tot += 5
        recall = hits / tot
        assert recall >= 0.6, f"IVF recall@5 after append = {recall}"
    finally:
        _drop(spark, name)


def test_srp_incremental_equals_oneshot(spark, emb):
    """SRP banding is a pure function of the stored config, so a
    base+increment build must equal the one-shot build row-for-row,
    and top-k answers must match exactly."""
    from rspl_spark.operators.ann_store import (
        append_index,
        create_srp_index,
        srp_index_config,
        srp_index_topk,
    )

    n1, n2 = "srpidx_test_two", "srpidx_test_one"
    _drop(spark, n1)
    _drop(spark, n2)
    try:
        base = emb.filter(F.col("vec_id") % 3 != 0)
        inc = emb.filter(F.col("vec_id") % 3 == 0)
        create_srp_index(spark, base, n1, overwrite=True)
        append_index(spark, inc, n1)
        create_srp_index(spark, emb, n2, overwrite=True)
        assert srp_index_config(spark, n1) == srp_index_config(spark, n2)
        a = {
            (r["vec_id"], r["band"], r["bv"])
            for r in spark.table(n1).select("vec_id", "band", "bv").collect()
        }
        b = {
            (r["vec_id"], r["band"], r["bv"])
            for r in spark.table(n2).select("vec_id", "band", "bv").collect()
        }
        assert a == b
        q = emb.filter(F.col("vec_id") < 5)
        t1 = [tuple(r) for r in srp_index_topk(spark, n1, q).collect()]
        t2 = [tuple(r) for r in srp_index_topk(spark, n2, q).collect()]
        assert t1 == t2 and len(t1) > 0
    finally:
        _drop(spark, n1)
        _drop(spark, n2)


def test_srp_config_validation(spark, emb):
    from rspl_spark.operators.ann_store import create_srp_index

    with pytest.raises(ValueError, match="divisible"):
        create_srp_index(spark, emb, "srpidx_test_bad", planes=16, bands=5)


def test_append_wrong_dim_raises_fast(spark, emb):
    """A wrong-dimension increment must fail fast in every append path
    — silently accepting it corrupts the index (NULL zip_with dots →
    SRP bits all 0, arbitrary IVF/PQ cells)."""
    from rspl_spark.operators.ann_store import (
        append_index,
        create_ivf_index,
        create_srp_index,
    )

    names = ("pqidx_test_dim", "ivfidx_test_dim", "srpidx_test_dim")
    for n in names:
        _drop(spark, n)
    try:
        base = emb.filter(F.col("vec_id") % 3 != 0)
        # truncate the embedding: same schema, wrong vector length
        bad = (
            emb.filter(F.col("vec_id") % 3 == 0)
            .select("vec_id", F.slice("embedding", 1, 7).alias("embedding"))
        )
        create_pq_index(spark, base, names[0], overwrite=True)
        create_ivf_index(spark, base, names[1], overwrite=True)
        create_srp_index(spark, base, names[2], overwrite=True)
        with pytest.raises(ValueError, match="dim"):
            append_index(spark, bad, names[0])
        with pytest.raises(ValueError, match="dim"):
            append_index(spark, bad, names[1])
        with pytest.raises(ValueError, match="dim"):
            append_index(spark, bad, names[2])
        # correct-dim append still works after the failed attempts
        # (append_index returns BAND rows: vectors x bands)
        from rspl_spark.operators.ann_store import srp_index_config

        good = emb.filter(F.col("vec_id") % 3 == 0)
        bands = srp_index_config(spark, names[2])["bands"]
        assert append_index(spark, good, names[2]) == good.count() * bands
    finally:
        for n in names:
            _drop(spark, n)


def _dir_snapshot(path):
    import os

    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            st = os.stat(p)
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def test_delete_is_tombstone_only_then_compact(spark, emb):
    """delete_keys must not touch a single index data file (the 100 TB
    contract: a takedown is a metadata write); probes against the
    tombstoned index must equal probes against an index built from
    scratch on the survivors; compact_index physically removes the
    rows and clears the tombstones without changing answers."""
    from rspl_spark.operators.ann_store import (
        compact_index,
        create_srp_index,
        delete_keys,
        deleted_count,
        srp_index_topk,
    )
    from rspl_spark.operators.store import warehouse_path as _warehouse_path

    name, ref = "srpidx_test_tomb", "srpidx_test_ref"
    _drop(spark, name)
    _drop(spark, ref)
    spark.sql(f"DROP TABLE IF EXISTS {name}__deleted")
    try:
        create_srp_index(spark, emb, name, overwrite=True)
        before = _dir_snapshot(_warehouse_path(spark, name))
        victims = emb.filter(F.col("vec_id") % 5 == 0).select("vec_id")
        n = delete_keys(spark, name, victims)
        assert n == victims.count()
        # zero index data files rewritten, zero added
        assert _dir_snapshot(_warehouse_path(spark, name)) == before
        assert deleted_count(spark, name) == n
        # idempotent repeat
        assert delete_keys(spark, name, victims) == 0
        q = emb.filter(F.col("vec_id") < 5)
        got = [tuple(r) for r in srp_index_topk(spark, name, q).collect()]
        create_srp_index(spark, emb.filter(F.col("vec_id") % 5 != 0), ref, overwrite=True)
        want = [tuple(r) for r in srp_index_topk(spark, ref, q).collect()]
        assert got == want and len(got) > 0
        # compaction: physical removal, tombstones cleared, same answers
        survivors = compact_index(spark, name)
        assert survivors == spark.table(name).count()
        assert deleted_count(spark, name) == 0
        assert not spark.catalog.tableExists(f"{name}__deleted")
        got2 = [tuple(r) for r in srp_index_topk(spark, name, q).collect()]
        assert got2 == want
    finally:
        _drop(spark, name)
        _drop(spark, ref)
        spark.sql(f"DROP TABLE IF EXISTS {name}__deleted")


def test_tombstones_survive_catalog_loss(spark, emb):
    """A takedown must not resurrect when the driver restarts: the
    tombstone sidecar is an external table, and a fresh catalog that
    only finds its directory on disk re-registers it on first use."""
    from rspl_spark.operators.ann_store import (
        create_srp_index,
        delete_keys,
        deleted_count,
    )

    name = "srpidx_test_catloss"
    _drop(spark, name)
    spark.sql(f"DROP TABLE IF EXISTS {name}__deleted")
    try:
        create_srp_index(spark, emb, name, overwrite=True)
        n = delete_keys(spark, name, [0, 5, 10])
        assert n == 3
        # simulate driver restart: external DROP TABLE removes the
        # catalog entry but leaves the parquet directory
        spark.sql(f"DROP TABLE {name}__deleted")
        assert not spark.catalog.tableExists(f"{name}__deleted")
        assert deleted_count(spark, name) == 3  # re-registered from disk
        # appends keep working after re-registration
        assert delete_keys(spark, name, [15]) == 1
        assert deleted_count(spark, name) == 4
    finally:
        _drop(spark, name)
        spark.sql(f"DROP TABLE IF EXISTS {name}__deleted")


def test_pq_custom_id_col_normalized_for_tombstones(spark, emb):
    """Review fix: a PQ index built with a non-default id_col persists
    its id column AS vec_id (like IVF/SRP via unit_prep), so the
    tombstone path (delete/probe/compact joins on vec_id) works."""
    from rspl_spark.operators.ann_store import compact_index, delete_keys

    name = "pqidx_test_idcol"
    _drop(spark, name)
    spark.sql(f"DROP TABLE IF EXISTS {name}__deleted")
    docs = emb.withColumnRenamed("vec_id", "doc_id")
    try:
        create_pq_index(spark, docs, name, id_col="doc_id", overwrite=True)
        assert "vec_id" in spark.table(name).columns  # normalized on disk
        victim = docs.select("doc_id").first()["doc_id"]
        assert delete_keys(spark, name, [victim]) == 1
        q = [r["embedding"] for r in docs.limit(1).collect()]
        hits = pq_index_topk(spark, name, [(0, list(q[0]))], topk=5).collect()
        assert all(r["vec_id"] != victim for r in hits)
        n = compact_index(spark, name)
        assert n == docs.count() - 1
        # append with the custom id name keeps working post-compact
        extra = docs.filter(F.col("doc_id") == victim)
        assert append_index(spark, extra, name, id_col="doc_id") == 1
    finally:
        _drop(spark, name)
        spark.sql(f"DROP TABLE IF EXISTS {name}__deleted")


def test_index_props_escape_quotes_and_compact_keeps_layout(spark, emb):
    """Review fixes: a quoted tag value survives the SET TBLPROPERTIES
    round-trip (unescaped, it aborted the append AFTER data was
    written); compaction rewrites with the layout the index was created
    with instead of a hardcoded 32 partitions."""
    import glob as _glob

    from rspl_spark.operators.ann_store import compact_index, delete_keys
    from rspl_spark.operators.store import table_properties as _props
    from rspl_spark.operators.store import warehouse_path as _warehouse_path

    name = "pqidx_test_quote"
    _drop(spark, name)
    spark.sql(f"DROP TABLE IF EXISTS {name}__deleted")
    try:
        create_pq_index(
            spark, emb, name, overwrite=True, tag="client's batch",
            n_partitions=4,
        )
        assert index_tag(spark, name) == "client's batch"
        assert append_index(spark, emb.limit(3), name, tag="it's v2") == 3
        assert index_tag(spark, name) == "it's v2"
        victim = emb.select("vec_id").first()["vec_id"]
        delete_keys(spark, name, [victim])
        compact_index(spark, name)
        props = _props(spark, name)
        assert props["pq.n_partitions"] == "4"
        assert props["pq.tag"] == "it's v2"  # survived the recovery-path re-set
        files = _glob.glob(f"{_warehouse_path(spark, name)}*/**/*.parquet",
                           recursive=True) + _glob.glob(
            f"{_warehouse_path(spark, name)}*/*.parquet")
        # compacted layout: 4 partitions, not 32
        assert 0 < len({f for f in files}) <= 8
    finally:
        _drop(spark, name)
        spark.sql(f"DROP TABLE IF EXISTS {name}__deleted")


def test_persisted_ivf_srp_match_in_session_gates(spark):
    """A persisted IVF index (k=8, iters=2) and SRP index (16 planes,
    4 bands, 64 dims), each built on the full corpus, answer exactly as
    the in-session gates q_cosine_topk_ivf_trained and q_cosine_topk_srp:
    both paths run the same similarity kernels, so a divergence between
    them shows in the fast tier, not only in the oracle sweep."""
    import os

    from rspl_spark.catalog import load
    from rspl_spark.operators.ann_store import (
        create_ivf_index,
        create_srp_index,
        ivf_index_topk,
        srp_index_topk,
    )
    from rspl_spark.queries.llm_ops import q_cosine_topk_ivf_trained, q_cosine_topk_srp

    sf = os.path.join(os.path.dirname(SF_DIR), "sf0.001")
    e = load(spark, sf, "embeddings")
    queries = e.filter(F.col("vec_id") < 10)
    ivf, srp = "ivfidx_test_gate", "srpidx_test_gate"
    _drop(spark, ivf)
    _drop(spark, srp)
    try:
        create_ivf_index(spark, e, ivf, k=8, iters=2, overwrite=True)
        create_srp_index(spark, e, srp, planes=16, bands=4, dim=64, overwrite=True)
        got_ivf = ivf_index_topk(spark, ivf, queries, topk=5, n_probe=2).collect()
        got_srp = srp_index_topk(spark, srp, queries, topk=5).collect()
        want_ivf = q_cosine_topk_ivf_trained(spark, sf).collect()
        want_srp = q_cosine_topk_srp(spark, sf).collect()
        assert len(want_ivf) > 0 and len(want_srp) > 0
        assert [tuple(r) for r in got_ivf] == [tuple(r) for r in want_ivf]
        assert [tuple(r) for r in got_srp] == [tuple(r) for r in want_srp]
    finally:
        _drop(spark, ivf)
        _drop(spark, srp)
