"""Incremental corpus deduplication against a PERSISTED signature store.

The batch dedup operators (:mod:`rspl_spark.operators.dedup`) recompute
MinHash signatures for the whole corpus on every run. A real pipeline
ingests daily increments into a 100 TB corpus: recomputing (and
re-shuffling) the full history per increment is the single largest
avoidable cost in the dedup stage. This module persists the banded
signature table ONCE — bucketed by the LSH bucket key — and probes each
increment against it co-located:

- ``signature_band_rows``: (doc_id, mh0..mh7, bucket) — one row per
  (doc, band), bucket = "band:slot values", the same single-explode
  banding as the batch LSH join (dedup.py:120) and the streaming op
  (streaming/llm.py:61).
- ``create_signature_store``: CTAS the band rows into a managed parquet
  table ``bucketBy(n, "bucket") sortBy("bucket")`` — the one-time cost
  that every later increment amortizes.
- ``dedup_increment``: near-dup pairs touching the increment (new-vs-
  store and new-vs-new). The store side is read bucket-aligned, so the
  join plan has ZERO store-side Exchange (asserted in
  tests/test_incremental_dedup.py): only the (small) increment shuffles.
  At 100 TB that is the difference between moving gigabytes and moving
  the corpus.
- ``append_increment``: append the increment's band rows into the store
  (Spark appends per-bucket files, so bucketing metadata stays valid)
  — the store stays current for the next day's batch.

Pair semantics match the batch ``lsh_candidate_pairs``: canonical
(doc_a < doc_b), est_jaccard = max over colliding buckets of the
matching-slot fraction, optional threshold. Pairs wholly inside the
store are NOT re-emitted (they were reported when their docs arrived).

The store lifecycle (tombstones, the crash-safe swap behind
``compact_store``, layout and properties) is ``operators/store.py``;
this module owns the band-row payload, the ``_rspl_meta.json`` layout
record, and its path, the repo warehouse.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rspl_spark.catalog import register_external_bucketed, repo_warehouse_path
from rspl_spark.operators import store as S
from rspl_spark.operators.dedup import MINHASH_COEFS, minhash_signatures

_N = len(MINHASH_COEFS)


def signature_band_rows(
    docs: DataFrame | None,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_bands: int = 4,
    sig: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, mh0..mh7, bucket) band rows; one explode, one narrow pass.

    The bucket key concatenates the band index with ALL of the band's
    signature slots (integers ':'-joined — collision-free), so a single
    string column both identifies the LSH bucket and serves as the
    table's bucketing key.

    Pass ``sig`` (a precomputed (doc_id, mh0..mh7) table) to skip the
    signature computation — the md5-shingle chain is the dominant cost,
    and a session typically already holds a memoized signature artifact
    from the batch LSH pass.
    """
    if _N % n_bands:
        raise ValueError(f"n_bands={n_bands} must divide the {_N} signature slots")
    per_band = _N // n_bands
    if sig is None:
        sig = minhash_signatures(docs, text_col=text_col, id_col=id_col)
        if id_col != "doc_id":
            sig = sig.withColumnRenamed(id_col, "doc_id")
    buckets = F.array(
        *[
            F.concat_ws(
                ":",
                F.lit(b),
                *[F.col(f"mh{per_band * b + i}") for i in range(per_band)],
            )
            for b in range(n_bands)
        ]
    )
    return sig.select(
        "doc_id",
        *[f"mh{j}" for j in range(_N)],
        F.explode(buckets).alias("bucket"),
    )


def create_signature_store(
    spark: SparkSession,
    docs: DataFrame | None,
    name: str,
    n_buckets: int = 8,
    n_bands: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    overwrite: bool = False,
    sig: DataFrame | None = None,
) -> str:
    """CTAS the banded signature table, bucketed + sorted on ``bucket``.

    Idempotent unless ``overwrite``; returns the managed table name.
    Location is pinned under the repo warehouse dir (same rationale as
    catalog.ensure_bucketed: a driver launched elsewhere must not
    scatter table dirs outside the repo).
    """
    if spark.catalog.tableExists(name):
        if not overwrite:
            return name
        spark.sql(f"DROP TABLE {name}")
    path = _warehouse_path(spark, name)
    # a complete layout from an earlier session (same deterministic
    # signatures, plus any appended increments — which a persistent store
    # WANTS) re-registers metadata-only instead of recomputing; its
    # tombstones (if any) are preserved and re-registered lazily. The
    # meta file in the base dir records where the live layout is — a
    # compaction swaps it to a versioned dir and the meta follows.
    # The on-disk layout's OWN (n_buckets, n_bands) — recorded at write
    # time — are validated first: registering 8-bucket files as a
    # 16-bucket table would make bucketed joins trust false hash
    # placement and silently miss near-dup pairs.
    meta = S.read_meta(path)
    if not overwrite and meta is not None:
        if (meta.get("n_buckets"), meta.get("n_bands")) != (n_buckets, n_bands):
            raise ValueError(
                f"create_signature_store({name!r}): on-disk layout was "
                f"written with n_buckets={meta.get('n_buckets')}, "
                f"n_bands={meta.get('n_bands')} but this call asks for "
                f"n_buckets={n_buckets}, n_bands={n_bands}; pass the "
                "stored values or overwrite=True to rebuild"
            )
    elif not overwrite and os.path.isdir(path) and any(
        f.endswith(".parquet") for f in os.listdir(path)
    ):
        # A complete-looking layout with NO meta file is unvalidatable:
        # it predates the meta sidecar, or a crash landed between
        # saveAsTable and the meta write. Re-registering it with
        # whatever (n_buckets, n_bands) the caller passes is exactly the
        # silent mis-bucketing the meta check exists to stop. Rebuilding
        # is equally unacceptable WITHOUT an explicit opt-in (r13
        # ADVICE): a rebuild discards every appended increment and
        # tombstone the layout holds — data loss an idempotent-looking
        # create call must never trigger behind a mere warning. So:
        # refuse either way, with the remedy in the message. Callers who
        # accept losing the increments pass overwrite=True (handled
        # above); callers who independently know the parameters write
        # the meta file and re-register.
        raise ValueError(
            f"create_signature_store({name!r}): on-disk layout at "
            f"{path} has no {S.META}, so its (n_buckets, "
            "n_bands) cannot be validated against this call. "
            "Refusing to re-register (silent mis-bucketing) and "
            "refusing to rebuild implicitly (a rebuild discards any "
            "appended increments/tombstones in the layout); pass "
            "overwrite=True with docs/sig to rebuild, or write the "
            "meta file manually if the parameters are independently "
            "known"
        )
    if not overwrite and register_external_bucketed(
        spark, name, S.live_path(path), "bucket", n_buckets
    ):
        return name
    # fresh build = fresh membership: stale tombstones (catalog OR a
    # leftover sidecar dir from an earlier session) must not shadow
    # re-ingested docs
    S.drop_tombstones(spark, name, path)
    S.clear_layout(path)
    S.write_table(
        signature_band_rows(docs, text_col=text_col, id_col=id_col, n_bands=n_bands, sig=sig),
        name, path, ["bucket"], n_buckets,
    )
    S.refresh(spark, name)
    # written after the data: a crash in between leaves a layout with no
    # meta, which the no-meta refusal above then catches
    S.write_meta(path, {"n_buckets": n_buckets, "n_bands": n_bands})
    return name


def append_increment(
    spark: SparkSession,
    new_docs: DataFrame,
    store: str,
    n_buckets: int = 8,
    n_bands: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Append the increment's band rows into the store table.

    Spark writes per-bucket files on append, so the table's bucket
    layout (and the no-shuffle probe property) survives. Run AFTER
    ``dedup_increment`` — an appended doc probing itself is a no-op
    (equal ids are excluded) but wastes a bucket row comparison.

    Fails fast if the increment re-uses a currently-tombstoned doc_id
    (``store.check_append``) — run ``compact_store`` first.
    """
    # the store's ACTUAL bucket count governs the append, like
    # compact_store: a caller-supplied mismatch either fails the write
    # or silently mis-places rows for the zero-exchange probe
    n_buckets = S.table_buckets(spark, store) or n_buckets
    S.check_append(
        spark, store, _warehouse_path(spark, store), "doc_id", new_docs, id_col,
        "append_increment", "compact_store",
    )
    S.write_table(
        signature_band_rows(new_docs, text_col=text_col, id_col=id_col, n_bands=n_bands),
        store, None, ["bucket"], n_buckets, mode="append",
    )
    S.refresh(spark, store)


def _warehouse_path(spark: SparkSession, table: str) -> str:
    """Pinned under the REPO warehouse dir — the same place
    create_signature_store pins the store itself. Sidecars and
    compaction tmp dirs must live and die WITH the store's location: a
    session whose spark.sql.warehouse.dir points elsewhere would
    otherwise write the compacted data (and read tombstones) under a
    different root, orphaning the store's pinned directory."""
    return repo_warehouse_path(table)


def delete_keys(spark: SparkSession, store: str, doc_ids) -> int:
    """Tombstone ``doc_ids`` in the signature store:
    ``store.delete_keys``, no store data file touched (asserted in
    tests/test_incremental_dedup.py). Physical removal is deferred to
    :func:`compact_store`."""
    return S.delete_keys(spark, store, _warehouse_path(spark, store), "doc_id", doc_ids)


def deleted_count(spark: SparkSession, store: str) -> int:
    return S.deleted_count(spark, store, _warehouse_path(spark, store), "doc_id")


def live_store(spark: SparkSession, store: str) -> DataFrame:
    """Store band rows minus tombstoned doc_ids (``store.live``) — the
    view EVERY probe (batch ``dedup_increment``, streaming
    ``streaming_dedup_against_store``) reads, so takedowns are honored
    everywhere and the zero-store-side-Exchange probe property holds."""
    return S.live(spark, store, _warehouse_path(spark, store), "doc_id")


def compact_store(spark: SparkSession, store: str, n_buckets: int = 8) -> int:
    """Physically drop tombstoned band rows: rewrite the survivors
    under the same bucketed layout (``store.swap``: crash-safe, the
    original store and its tombstones stay untouched until the rename)
    and clear the tombstones. One pass over the store — run when
    deleted_count crosses a policy threshold, not per delete. Returns
    surviving band-row count."""
    base = _warehouse_path(spark, store)
    n_buckets = S.table_buckets(spark, store) or n_buckets
    S.swap(spark, store, live_store(spark, store), base, ["bucket"], n_buckets)
    S.drop_tombstones(spark, store, base)
    return spark.table(store).count()


def _est(a_prefix: str, b_prefix: str):
    matches = sum(
        F.when(F.col(f"{a_prefix}.mh{j}") == F.col(f"{b_prefix}.mh{j}"), 1).otherwise(0)
        for j in range(_N)
    )
    return matches / F.lit(float(_N))


def dedup_increment(
    spark: SparkSession,
    new_docs: DataFrame | None,
    store: str,
    threshold: float | None = None,
    n_bands: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    new_sig: DataFrame | None = None,
    prune: str = "auto",
    in_list_cap: int = 4096,
) -> DataFrame:
    """(doc_a, doc_b, est_jaccard) near-dup pairs touching the increment.

    Two joins, both keyed on the single ``bucket`` column:
    - increment × store: the store scan is bucket-aligned (ZERO
      store-side Exchange — only the increment is shuffled to the
      store's bucket layout);
    - increment × increment: new docs colliding with each other
      (a daily batch can contain its own duplicates).

    A doc present in both sides (re-ingest) never pairs with itself
    (equal ids excluded); pairs colliding in several buckets dedup in
    the final aggregate, exactly like the batch ``lsh_candidate_pairs``.

    ``prune`` cuts the store-side READ before the join (semantically a
    no-op — the inner join on bucket already discards non-matching
    store rows, so the result is identical):
    - ``"in"``: collect the increment's distinct bucket keys and push a
      literal IN predicate into the store scan. The store is
      sorted-by-bucket, so this reaches parquet row-group stats and
      SKIPS non-matching row groups — the probe reads ~increment-sized
      slices of a corpus-sized store.
    - ``"semi"``: broadcast left-semi join on bucket — no driver
      collect, no IN-list size limit; rows are dropped at scan-output
      rather than row-group level. The scale path when a large
      increment has millions of distinct buckets.
    - ``"auto"`` (default): ``"in"`` when the increment has at most
      ``in_list_cap`` distinct buckets, else ``"semi"``.
    - ``"off"``: the bare scan (the pre-pruning behavior).
    Either mode preserves the store's bucket layout (Filter and
    broadcast-semi both keep the child's outputPartitioning), so the
    zero-store-side-Exchange probe property is unchanged.
    """
    if prune not in ("auto", "in", "semi", "off"):
        raise ValueError(f"prune={prune!r}: expected auto|in|semi|off")
    new_bands = signature_band_rows(
        new_docs, text_col=text_col, id_col=id_col, n_bands=n_bands, sig=new_sig
    ).localCheckpoint(eager=False)
    store_bands = live_store(spark, store)
    if prune != "off":
        keys_df = new_bands.select("bucket").distinct()
        mode = prune
        keys: list[str] = []
        if prune in ("auto", "in"):
            # limit(cap+1): bounded driver cost however big the increment
            keys = [r[0] for r in keys_df.limit(in_list_cap + 1).collect()]
            if mode == "auto":
                mode = "in" if len(keys) <= in_list_cap else "semi"
        if mode == "in" and len(keys) > in_list_cap:
            raise ValueError(
                f"prune='in': {len(keys)}+ distinct buckets exceeds "
                f"in_list_cap={in_list_cap}; use prune='semi'"
            )
        if mode == "in":
            store_bands = store_bands.filter(F.col("bucket").isin(keys))
        else:
            store_bands = store_bands.join(
                F.broadcast(keys_df), "bucket", "semi"
            )

    n, s = new_bands.alias("n"), store_bands.alias("s")
    cross = n.join(s, F.col("n.bucket") == F.col("s.bucket")).filter(
        F.col("n.doc_id") != F.col("s.doc_id")
    )
    cross_pairs = cross.select(
        F.least(F.col("n.doc_id"), F.col("s.doc_id")).alias("doc_a"),
        F.greatest(F.col("n.doc_id"), F.col("s.doc_id")).alias("doc_b"),
        _est("n", "s").alias("est_raw"),
    )
    a, b = new_bands.alias("a"), new_bands.alias("b")
    within_pairs = (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            _est("a", "b").alias("est_raw"),
        )
    )
    out = (
        cross_pairs.unionByName(within_pairs)
        .groupBy("doc_a", "doc_b")
        .agg(F.round(F.max("est_raw"), 6).alias("est_jaccard"))
    )
    if threshold is not None:
        out = out.filter(F.col("est_jaccard") >= threshold)
    return out
