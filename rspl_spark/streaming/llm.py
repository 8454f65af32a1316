"""Streaming LLM-pipeline operators: near-duplicate detection over a
document stream.

``streaming_lsh_dedup``: each arriving document's MinHash signature is
computed as a codegen'd expression (same portable kernel as batch), then
exploded into LSH band rows; a stateful op keyed by (band, h1, h2) keeps
the signatures seen in that bucket and emits a candidate pair whenever a
new arrival collides with any of them. State per bucket is tiny (the
few colliding docs' signatures); the bucket key distributes uniformly —
the same shuffle discipline as the batch LSH join, but incremental.
``streaming_semantic_dedup``'s new-vs-new side is the same bounded
pair state keyed by k-means cell with a cosine score, and
``streaming_token_packing`` a running sum per source; all three are
step functions on the keyed-state template
(``streaming/stateful.py::keyed_state_stream``).
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, LongType, StructField, StructType

from rspl_spark.operators.dedup import MINHASH_COEFS, minhash_signatures
from rspl_spark.streaming.stateful import keyed_state_stream

_N = len(MINHASH_COEFS)
_BUCKET_STATE = StructType([StructField("seen", BinaryType())])


def _pair_state_stream(
    df: DataFrame,
    key_col: str,
    id_col: str,
    entries: Callable[[pd.DataFrame], list[tuple]],
    score: Callable[[tuple, tuple], float | None],
    threshold: float,
    ttl_seconds: float | None,
    cap: int | None,
    score_col: str,
) -> DataFrame:
    """New-vs-held pairs per ``key_col`` group with BOUNDED state: each
    arriving row (in ``id_col`` order) is scored against the group's held
    entries and then held itself. ``entries(batch)`` gives the arrivals
    as (id, *payload); ``score(old_payload, new_payload)`` is the pair
    score, None to skip the pair. Emits (doc_a, doc_b, ``score_col``)
    with doc_a < doc_b for scores >= ``threshold``.

    Held entries are (id, *payload, arrival_ms), oldest first — the
    list order both evictions rely on: ``cap`` drops the oldest beyond
    that many, and ``ttl_seconds`` drops entries older than the horizon
    on the group's next activity, plus the whole group via a
    processing-time timeout once it idles past the TTL. An emptied
    group's state is removed."""
    ttl_ms = None if ttl_seconds is None else max(1, int(ttl_seconds * 1000))

    def step(_key, held: list, batch, now):
        if ttl_ms is not None:
            horizon = now - ttl_ms
            held = [e for e in held if e[-1] > horizon]
        pairs = []
        for new_id, *new in entries(batch):
            for old in held:
                if old[0] == new_id:
                    continue
                sc = score(old[1:-1], new)
                if sc is not None and sc >= threshold:
                    a, b = sorted((old[0], new_id))
                    pairs.append((a, b, sc))
            held.append((new_id, *new, now))
            if cap is not None and len(held) > cap:
                del held[: len(held) - cap]  # oldest-first
        return (held or None), pairs

    return keyed_state_stream(
        df,
        key_col,
        step,
        _BUCKET_STATE,
        list,
        [("doc_a", "long"), ("doc_b", "long"), (score_col, "double")],
        order=[id_col],
        timeout_ms=ttl_ms,
        # no arrival in the group for a full TTL window: every held
        # entry is stale — drop the group's state entirely
        on_timeout=None if ttl_ms is None else (lambda _key, _held: (None, [])),
    )


def _signatures(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    # one source of truth: the batch kernel (staged projections, CSE-safe)
    out = minhash_signatures(docs, text_col=text_col, id_col=id_col)
    return out if id_col == "doc_id" else out.withColumnRenamed(id_col, "doc_id")


def streaming_lsh_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_bands: int = 4,
    threshold: float = 0.5,
    ttl_seconds: float | None = None,
    max_per_bucket: int | None = 1024,
    bands: DataFrame | None = None,
) -> DataFrame:
    """(doc_a, doc_b, est_jaccard) pairs, emitted incrementally.

    ``bands``: precomputed (doc_id, mh0..mh7, bucket) band rows (the
    ``signature_band_rows`` shape) — callers composing several readouts
    over the same stream pass one shared frame so the signature kernel
    appears once in the plan.

    doc_a is the previously seen document, doc_b the new arrival; pairs
    below ``threshold`` (estimated Jaccard = matching signature slots /
    slots) are suppressed. A pair colliding in several buckets may be
    emitted once per bucket — downstream consumers dedup by (a, b), as
    the batch formulation does with its final groupBy.

    State is BOUNDED — a 100 TB ingest runs for months, and per-bucket
    signature lists that only grow would eventually dominate the state
    store:

    - ``max_per_bucket`` (default 1024) caps each bucket's signature
      list, evicting oldest-first (arrival order); a new doc is compared
      against at most that many predecessors per bucket. Collisions are
      hash-bucketed, so a bucket holding >1024 near-identical docs is
      emitting pair floods anyway — the cap changes nothing for healthy
      buckets. ``None`` disables the cap.
    - ``ttl_seconds`` evicts signatures not refreshed within the horizon
      (processing-time): each entry carries its arrival time; stale
      entries are dropped on the bucket's next activity, and a bucket
      idle past the TTL is removed wholesale via a processing-time
      timeout. Pairs inside the TTL horizon are exactly the unbounded
      op's pairs; older history is the BATCH path's job (the store-backed
      ``dedup_increment`` is the full-history backstop).
    """
    if _N % n_bands:
        raise ValueError(f"n_bands={n_bands} must divide the {_N} signature slots")
    if max_per_bucket is not None and max_per_bucket < 1:
        raise ValueError("max_per_bucket must be >= 1 (or None to disable)")
    if ttl_seconds is not None and ttl_seconds <= 0:
        raise ValueError("ttl_seconds must be positive (or None to disable)")
    mh = [f"mh{j}" for j in range(_N)]
    if bands is None:
        per_band = _N // n_bands
        sig = _signatures(docs, text_col, id_col)
        # single explode, not an n_bands-way union (one signature subtree —
        # same rationale as the batch lsh_candidate_pairs); the bucket key
        # covers ALL of the band's slots so any n_bands dividing the slot
        # count produces disjoint bands
        buckets = F.array(
            *[
                F.concat_ws(
                    ":",
                    F.lit(band),
                    *[F.col(f"mh{per_band * band + i}") for i in range(per_band)],
                )
                for band in range(n_bands)
            ]
        )
        bands = sig.select("doc_id", *mh, F.explode(buckets).alias("bucket"))
    return _pair_state_stream(
        bands,
        "bucket",
        "doc_id",
        lambda batch: list(
            zip(batch["doc_id"].tolist(), zip(*(batch[c].tolist() for c in mh)))
        ),
        lambda held, arrival: sum(a == b for a, b in zip(held[0], arrival[0])) / _N,
        threshold,
        ttl_seconds,
        max_per_bucket,
        "est_jaccard",
    )


def streaming_dedup_against_store(
    docs: DataFrame,
    store_bands: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_bands: int = 4,
    threshold: float = 0.5,
    ttl_seconds: float | None = None,
    max_per_bucket: int | None = 1024,
) -> DataFrame:
    """Live ingest probing a PERSISTED corpus: (doc_a, doc_b, est_jaccard)
    pairs where a new arrival near-duplicates either the signature STORE
    (``operators/dedup_store.py`` — pass ``dedup_store.live_store(spark,
    store)`` so takedown tombstones are honored; ``spark.table(store)``
    reads the raw table including deleted docs) or another in-flight
    arrival.

    Composition of the two incremental paths:

    - new-vs-store: a stateless STREAM-STATIC join of the arrival's band
      rows against the store on the single ``bucket`` key — no streaming
      state at all; the store is the bucketed table the daily batch
      (``dedup_increment`` + ``append_increment``) maintains, so stream
      and batch probe the SAME artifact. Bucket layout keeps the static
      side's scan bucket-aligned per micro-batch.
    - new-vs-new: :func:`streaming_lsh_dedup` (bounded state: cap + TTL)
      catches duplicates between arrivals the store hasn't absorbed yet.

    A pair may surface once per colliding bucket and once per path —
    downstream dedups by (doc_a, doc_b), the batch formulation's final
    groupBy. Batch parity: after groupBy max(est), the emitted pairs are
    exactly ``dedup_increment(new, store)`` on the same prefix
    (tests/test_streaming_parity.py).

    The band rows are built ONCE and shared by both paths (one signature
    subtree in the logical plan). Spark still evaluates each union
    branch independently per micro-batch; a deployment that must pay
    the MinHash kernel strictly once per document materializes the batch
    in ``foreachBatch`` (persist → both joins → unpersist) at the cost
    of leaving the declarative sink API.
    """
    from rspl_spark.operators.dedup_store import _est, signature_band_rows

    new_bands = signature_band_rows(
        docs, text_col=text_col, id_col=id_col, n_bands=n_bands
    )
    n, s = new_bands.alias("n"), store_bands.alias("s")
    vs_store = (
        n.join(s, F.col("n.bucket") == F.col("s.bucket"))
        .filter(F.col("n.doc_id") != F.col("s.doc_id"))
        .select(
            F.least(F.col("n.doc_id"), F.col("s.doc_id")).alias("doc_a"),
            F.greatest(F.col("n.doc_id"), F.col("s.doc_id")).alias("doc_b"),
            _est("n", "s").alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= threshold)
    )
    vs_new = streaming_lsh_dedup(
        docs,
        text_col=text_col,
        id_col=id_col,
        n_bands=n_bands,
        threshold=threshold,
        ttl_seconds=ttl_seconds,
        max_per_bucket=max_per_bucket,
        bands=new_bands,
    )
    return vs_store.unionByName(vs_new)


_PACK_STATE = StructType([StructField("cum", LongType())])


def streaming_token_packing(
    docs: DataFrame,
    budget: int = 2048,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Streaming sequence packing: assign arriving documents to
    fixed-budget context bins by running token count, the cumulative sum
    carried ACROSS micro-batches in per-source state (one long per
    source — constant-size state, no watermark needed).

    Packing order is arrival order (doc_id within each micro-batch);
    when arrival follows doc_id order the result is bin-identical to the
    batch packer (``q_token_packing``) — asserted by the parity test.
    Scale-out is by source key, the same discipline as the batch
    sharded variant (``q_token_packing_sharded`` composes here too:
    feed a (source, shard) composite key as ``source_col``).
    """
    if budget <= 0:
        raise ValueError("budget must be positive")
    # NULL text counts 0 tokens explicitly: size(split(NULL)) is NULL
    # under ANSI (NaN in the pandas batch — int(NaN) kills the query)
    # and -1 under legacy (silently corrupts every later bin's running
    # sum); neither is a token count
    nt = (
        F.when(F.col(text_col).isNull(), F.lit(0))
        .otherwise(F.size(F.split(F.trim(F.col(text_col)), r"\s+")))
        .cast("long")
    )
    rows = docs.select(source_col, id_col, nt.alias("nt"))
    # schema derived from the input, not hardcoded — a string or int id
    # passes through with its real type instead of silently miscasting
    src_t = rows.schema[source_col].dataType.simpleString()
    id_t = rows.schema[id_col].dataType.simpleString()
    out_schema = f"`{source_col}` {src_t}, `{id_col}` {id_t}, nt long, bin long"

    def step(source, st, batch, _now):
        (cum,) = st
        # positional column access (0=source, 1=id, 2=nt — pinned by
        # the select above): itertuples+getattr breaks on column names
        # that aren't valid Python identifiers
        out = []
        for doc_id, n in zip(batch.iloc[:, 1], batch.iloc[:, 2]):
            out.append((source, doc_id, n, cum // budget))
            cum += int(n)
        return (cum,), out

    return keyed_state_stream(
        rows,
        source_col,
        step,
        _PACK_STATE,
        lambda: (0,),
        [(source_col, src_t), (id_col, id_t), ("nt", "long"), ("bin", "long")],
        order=[id_col],
    )


def ivf_ingest_with_retrain(
    vectors: DataFrame,
    initial_centroids: list[list[float]],
    sink,
    retrain_every: int = 0,
    refit=None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
):
    """``foreachBatch`` ingest loop: every micro-batch is assigned
    against the CURRENT codebook and handed to ``sink(assigned_df,
    batch_id)`` with an ``epoch`` column recording the codebook version;
    every ``retrain_every`` batches, ``refit(batch_df, centroids) ->
    new_centroids`` refreshes the codebook for SUBSEQUENT batches.

    This mirrors the reference's capability-driver pattern
    (examples/pelican.rs:310-337 — effects interpreted by a driver loop
    outside the stream) and how a 100 TB pipeline ingests embeddings:
    assignment is a frozen-codebook narrow op on the hot path; re-training
    is an out-of-band driver decision (here: a hook), never part of the
    per-row flow. Returns the started StreamingQuery builder — call
    ``.start()``/``awaitTermination`` like any writeStream.
    """
    from pyspark.sql import functions as _F

    from rspl_spark.operators.similarity import kmeans_assign

    state = {"centroids": [list(c) for c in initial_centroids], "n": 0, "epoch": 0}

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        assigned = kmeans_assign(
            batch_df, state["centroids"], vec_col=vec_col, id_col=id_col
        ).withColumn("epoch", _F.lit(state["epoch"]))
        sink(assigned, batch_id)
        state["n"] += 1
        if retrain_every and refit is not None and state["n"] % retrain_every == 0:
            state["centroids"] = [list(c) for c in refit(batch_df, state["centroids"])]
            state["epoch"] += 1

    return vectors.writeStream.foreachBatch(handle)


def semantic_prep(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(vec_id, emb double[], nrm, cid) — ONE projection definition for
    both sides of the semantic probe (store prep AND arrival prep), so
    stream and batch assign cells with the identical Arrow kernel and
    carry bit-identical norms. Works on static and streaming frames."""
    import numpy as np  # noqa: F401  (kernel dependency, fail at import)

    from rspl_spark.operators.similarity import _nearest_centroid_arrow

    dbl = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    nrm = F.sqrt(F.aggregate(dbl, F.lit(0.0), lambda s, v: s + v * v))
    best = _nearest_centroid_arrow(centroids)(F.col(vec_col))
    return df.select(
        F.col(id_col).alias("vec_id"),
        dbl.alias("emb"),
        nrm.alias("nrm"),
        best.getField("cid").alias("cid"),
    )


def streaming_semantic_dedup(
    arrivals: DataFrame,
    store_prepped: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    ttl_seconds: float | None = None,
    max_per_cell: int | None = 1024,
) -> DataFrame:
    """Embedding-space twin of :func:`streaming_dedup_against_store`:
    live embedding arrivals probe a PERSISTED semantic store and each
    other; emits (doc_a, doc_b, score) cosine pairs >= threshold.

    - new-vs-store: stateless STREAM-STATIC equi-join on the k-means
      cell id (``semantic_prep`` both sides with the centroids the
      batch pipeline trained — the blocking discipline of the batch
      ``semantic_dedup``), then one codegen dot per same-cell candidate.
      No streaming state; the store is the same prepped artifact the
      batch maintains.
    - new-vs-new: stateful per-cell comparison with BOUNDED state (the
      streaming_lsh_dedup contract: ``max_per_cell`` oldest-first cap +
      ``ttl_seconds`` horizon with processing-time timeout) — arrivals
      the store hasn't absorbed yet still pair inside the horizon.

    A pair may surface once per path; downstream dedups by (a, b) and
    takes max(score), after which the pairs inside the horizon equal the
    batch blocked formulation on the same prefix
    (tests/test_streaming_parity.py). Decisions derive downstream: an
    arrival is a DROP iff it appears as doc_b of any pair whose partner
    precedes it — the batch decision-table semantics for in-order ids.

    Scale: the stream side shuffles once on cid; per-cell work is
    bounded by the cell-size contract (centroid count scales with the
    corpus — see semantic_dedup's adaptive k) plus the state cap."""
    import numpy as np

    from rspl_spark.operators.similarity import dot

    if max_per_cell is not None and max_per_cell < 1:
        raise ValueError("max_per_cell must be >= 1 (or None to disable)")
    if ttl_seconds is not None and ttl_seconds <= 0:
        raise ValueError("ttl_seconds must be positive (or None to disable)")

    new = semantic_prep(arrivals, centroids, vec_col, id_col)
    n, s = new.alias("n"), store_prepped.alias("s")
    score = dot(F.col("n.emb"), F.col("s.emb")) / F.nullif(F.col("n.nrm") * F.col("s.nrm"), F.lit(0.0))
    vs_store = (
        n.join(s, F.col("n.cid") == F.col("s.cid"))
        .filter(F.col("n.vec_id") != F.col("s.vec_id"))
        .select(
            F.least(F.col("n.vec_id"), F.col("s.vec_id")).alias("doc_a"),
            F.greatest(F.col("n.vec_id"), F.col("s.vec_id")).alias("doc_b"),
            score.alias("score"),
        )
        .filter(F.col("score") >= threshold)
    )

    def cosine(held, arrival):
        # payloads are (emb ndarray, nrm)
        denom = arrival[1] * held[1]
        return None if denom == 0 else float(np.dot(arrival[0], held[0]) / denom)

    vs_new = _pair_state_stream(
        new,
        "cid",
        "vec_id",
        lambda batch: [
            (i, np.asarray(e, dtype=np.float64), float(nr))
            for i, e, nr in zip(
                batch["vec_id"].tolist(), batch["emb"].tolist(), batch["nrm"].tolist()
            )
        ],
        cosine,
        threshold,
        ttl_seconds,
        max_per_cell,
        "score",
    )
    return vs_store.unionByName(vs_new)


def pq_index_ingest(
    vectors: DataFrame,
    index: str,
    stale_threshold: float = 0.5,
    full_corpus=None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
):
    """``foreachBatch`` maintenance loop for the PERSISTED PQ index
    (operators/ann_store.py): every micro-batch is append-encoded with
    the index's STORED codebooks (a frozen-codebook narrow op — the hot
    path never trains), then the staleness hook runs: once appended
    rows exceed ``stale_threshold`` of the training base, the index is
    refit on ``full_corpus()`` (a callable returning the current full
    corpus — an out-of-band driver decision, same posture as
    ivf_ingest_with_retrain's refit hook; pass None to never refit).

    Returns the writeStream builder — call .start()/awaitTermination.
    The batch pipeline's create/append/refresh and this stream maintain
    the SAME table, so queries always probe one artifact."""
    from rspl_spark.operators.ann_store import append_index, refresh_index

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        append_index(
            batch_df.sparkSession,
            batch_df,
            index,
            vec_col=vec_col,
            id_col=id_col,
            tag=f"stream-batch-{batch_id}",
        )
        if full_corpus is not None:
            refresh_index(
                batch_df.sparkSession,
                full_corpus(),
                index,
                stale_threshold=stale_threshold,
                vec_col=vec_col,
                id_col=id_col,
            )

    return vectors.writeStream.foreachBatch(handle)
