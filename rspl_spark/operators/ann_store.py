"""Persisted ANN indexes (PQ, IVF, SRP): fit once, append increments,
query forever.

The in-session ANN gates refit and re-encode per session — fine for a
notebook, wrong for a pipeline that ingests daily embedding batches into
a corpus-sized index. Both run the same search kernels of
:mod:`rspl_spark.operators.similarity` (``pq_encode``/``pq_adc_topk``;
``centroid_frame``/``rank_cells``/``ivf_probe_topk``;
``srp_sketch_col``/``srp_band_rows``/``srp_band_topk``); this module
passes them the stored state over :func:`live_rows`. It persists BOTH
halves of an index once:

- the data-sized half (PQ codes, IVF cell assignments, SRP band rows,
  always keyed ``vec_id``) as a managed parquet table;
- the trained state (PQ codebooks, IVF centroids, SRP config) in the
  table's TBLPROPERTIES as JSON — metadata-sized, loaded driver-side in
  one catalog call, no data read.

Increments are encoded under the STORED state (encoding is a pure
function of it) and appended as new parquet files — no refit, no
rewrite of existing files. The trained state drifts as the corpus
grows; ``index_staleness`` tracks appended/base rows and
``refresh_index`` refits when the ratio crosses a threshold.

``append_index``, ``index_staleness``, ``refresh_index``, ``index_tag``
and ``compact_index`` read the kind from the table properties and take
the rest from one table keyed by kind (``_KINDS``). The store lifecycle
(tombstones, the crash-safe swap, the properties codec) is
``operators/store.py``; the ANN store's path is the session warehouse.

Probe semantics are identical to the in-session gates (shared code).
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rspl_spark.operators import store as S
from rspl_spark.operators.similarity import (
    centroid_frame,
    ivf_probe_topk,
    kmeans_fit,
    pq_adc_topk,
    pq_encode,
    pq_fit,
    rank_cells,
    srp_band_rows,
    srp_band_topk,
    srp_sketch_col,
    unit_prep,
)


def live_rows(spark: SparkSession, name: str) -> DataFrame:
    """The index minus tombstoned vec_ids — the view every probe (and
    any external consumer) reads so takedowns are honored."""
    return S.live(spark, name, S.warehouse_path(spark, name), "vec_id")


def delete_keys(spark: SparkSession, name: str, vec_ids) -> int:
    """Tombstone ``vec_ids`` in a persisted index (pq/ivf/srp alike):
    ``store.delete_keys``, no index data file rewritten (asserted in
    tests/test_ann_store.py). Physical removal is deferred to
    :func:`compact_index` or the next rebuild, which clears the
    tombstones — a fresh build defines a fresh membership."""
    return S.delete_keys(spark, name, S.warehouse_path(spark, name), "vec_id", vec_ids)


def deleted_count(spark: SparkSession, name: str) -> int:
    return S.deleted_count(spark, name, S.warehouse_path(spark, name), "vec_id")


def _index(spark: SparkSession, name: str) -> tuple[str, dict[str, str]]:
    """(kind, table properties) of a persisted index — one catalog call."""
    props = S.table_properties(spark, name) or {}
    for kind, spec in _KINDS.items():
        if spec.marker in props:
            return kind, props
    raise ValueError(f"{name!r} is not a persisted pq/ivf/srp index")


def _create(
    spark: SparkSession,
    df: DataFrame,
    name: str,
    kind: str,
    fit: Callable[[], dict[str, str]],
    vec_col: str,
    id_col: str,
    overwrite: bool,
    tag: str,
    n_partitions: int,
) -> str:
    """The one build body of ``create_{pq,ivf,srp}_index``: ``fit()``
    returns the trained state as properties, and the rows are encoded
    under it exactly as an append would encode them.

    Idempotent unless ``overwrite``: an existing table is reused as-is
    (its stored state wins — refitting silently would invalidate every
    row already on disk). ``tag`` names the build state so callers can
    recognize an index built by an earlier session (``index_tag``)
    instead of rebuilding."""
    if spark.catalog.tableExists(name):
        if not overwrite:
            return name
        spark.sql(f"DROP TABLE {name}")
    base = S.warehouse_path(spark, name)
    # a fresh build defines a fresh membership — stale tombstones from
    # the previous build must not shadow re-ingested ids
    S.drop_tombstones(spark, name, base)
    S.clear_layout(base)
    state = fit()
    spec = _KINDS[kind]
    S.write_table(
        spec.encode(spark, df, state, vec_col, id_col),
        name, base, list(spec.part_keys), n_partitions, bucketed=False,
    )
    S.refresh(spark, name)
    S.set_table_props(spark, name, {
        **state,
        f"{kind}.base_rows": str(spark.table(name).count()),
        f"{kind}.appended_rows": "0",
        f"{kind}.n_partitions": str(n_partitions),
        f"{kind}.tag": tag,
    })
    return name


def index_tag(spark: SparkSession, name: str) -> str | None:
    """The tag of the index's last build or append (None when no such
    table exists)."""
    if not spark.catalog.tableExists(name):
        return None
    kind, props = _index(spark, name)
    return props.get(f"{kind}.tag")


def append_index(
    spark: SparkSession,
    new_vecs: DataFrame,
    name: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    tag: str | None = None,
) -> int:
    """Encode the increment under the index's STORED state (PQ
    codebooks, IVF centroids, SRP config) and append.

    Append-only parquet files — existing rows never rewritten, never a
    refit. Returns the appended row count (SRP: band rows, vectors x
    bands), also accumulated in ``{kind}.appended_rows``, the
    staleness numerator. Fails fast on a wrong-dimension increment or
    one that re-uses a tombstoned id (``store.check_append``)."""
    kind, props = _index(spark, name)
    spec = _KINDS[kind]
    # a wrong-dimension increment silently corrupts the index: zip_with
    # over unequal-length arrays yields NULL dots, so every SRP bit
    # defaults to 0 and IVF/PQ cell assignment becomes arbitrary. One-row
    # driver check (limit-1 scan of the increment), never a full pass.
    row = new_vecs.select(F.size(F.col(vec_col)).alias("d")).first()
    if row is not None and row["d"] != spec.dim(props):
        raise ValueError(
            f"{kind} append: increment vector dim {row['d']} != "
            f"stored index dim {spec.dim(props)}"
        )
    S.check_append(
        spark, name, S.warehouse_path(spark, name), "vec_id", new_vecs, id_col,
        f"{kind} append", "compact_index",
    )
    # count the INCREMENT, not the table: two corpus-sized table counts
    # per daily append would dwarf the append itself at a large index.
    # localCheckpoint materializes the (increment-sized) encoding once
    # for both the count and the write.
    rows = spec.encode(spark, new_vecs, props, vec_col, id_col).localCheckpoint()
    n = rows.count()
    rows.write.mode("append").format("parquet").saveAsTable(name)
    S.refresh(spark, name)
    upd = {f"{kind}.appended_rows": str(int(props.get(f"{kind}.appended_rows", "0")) + n)}
    if tag is not None:
        upd[f"{kind}.tag"] = tag
    S.set_table_props(spark, name, upd)
    return n


def _staleness(kind: str, props: dict[str, str]) -> float:
    base = int(props.get(f"{kind}.base_rows", "0"))
    return int(props.get(f"{kind}.appended_rows", "0")) / max(base, 1)


def index_staleness(spark: SparkSession, name: str) -> float:
    """appended_rows / base_rows — how far the corpus has drifted from
    the trained state's training set."""
    return _staleness(*_index(spark, name))


def refresh_index(
    spark: SparkSession,
    df: DataFrame,
    name: str,
    stale_threshold: float = 0.5,
    tag: str = "refit",
    **fit_kw,
) -> bool:
    """Refit-on-drift hook: when staleness crosses the threshold,
    rebuild the index from ``df`` (the CURRENT full corpus) with its
    stored build parameters — new trained state, full re-encode, one
    rewrite. Returns True iff a refit ran. A pipeline calls this after
    each append; most days it's a metadata no-op."""
    kind, props = _index(spark, name)
    if _staleness(kind, props) < stale_threshold:
        return False
    spec = _KINDS[kind]
    stored = {p: int(props[f"{kind}.{p}"]) for p in spec.params}
    spec.create(spark, df, name, **{**stored, **fit_kw}, overwrite=True, tag=tag)
    return True


def compact_index(spark: SparkSession, name: str) -> int:
    """Physically remove tombstoned rows: rewrite the surviving rows
    under the same name/layout, clear the tombstone table, reset the
    row counters. Run when deleted_count/base_rows crosses a policy
    threshold — the rewrite costs one pass over the index (the same
    cost class as refresh, minus the refit).

    Crash-safe (``store.swap``): a failure before the rename leaves the
    index and its tombstones untouched, and the counter reset commits
    with the data at the rename. Returns the surviving row count.
    Trained state (codebooks/centroids/planes config) is preserved
    verbatim — compaction never refits."""
    kind, props = _index(spark, name)
    base = S.warehouse_path(spark, name)

    def stamp(old: dict[str, str], tmp: str) -> dict[str, str]:
        return {
            **S.carried(old),
            **{k: v for k, v in old.items() if k.startswith(f"{kind}.")},
            f"{kind}.base_rows": str(spark.table(tmp).count()),
            f"{kind}.appended_rows": "0",
        }

    new = S.swap(
        spark, name, live_rows(spark, name), base, list(_KINDS[kind].part_keys),
        # the layout the index was created with — a hardcoded 32 shrank
        # big indexes and ballooned small ones on every compaction
        int(props.get(f"{kind}.n_partitions", "32")),
        bucketed=False, stamp=stamp, old_props=props,
    )
    S.drop_tombstones(spark, name, base)
    return int(new[f"{kind}.base_rows"])


# --- Persisted PQ index -----------------------------------------------------
#
# The code table (vec_id, codes) is the 64x-compressed representation
# the ADC kernel scans; the codebooks (m * k * sub floats) ride in
# TBLPROPERTIES.


def create_pq_index(
    spark: SparkSession,
    df: DataFrame,
    name: str,
    m: int = 8,
    k: int = 16,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    overwrite: bool = False,
    tag: str = "base",
    n_partitions: int = 32,
) -> str:
    """Fit codebooks on ``df``, encode it, persist code table + books
    (reuse and ``tag`` semantics: ``_create``)."""

    def fit() -> dict[str, str]:
        cbs = pq_fit(df, vec_col=vec_col, id_col=id_col, m=m, k=k, iters=iters)
        return {"pq.codebooks": json.dumps(cbs), "pq.m": str(m), "pq.k": str(k),
                "pq.iters": str(iters)}

    return _create(spark, df, name, "pq", fit, vec_col, id_col, overwrite, tag, n_partitions)


def _pq_rows(
    spark: SparkSession, df: DataFrame, props: dict[str, str], vec_col: str, id_col: str
) -> DataFrame:
    enc = pq_encode(df, json.loads(props["pq.codebooks"]), vec_col=vec_col, id_col=id_col)
    # the persisted id column is ALWAYS vec_id — the tombstone set joins
    # on it, and IVF/SRP already normalize via unit_prep; a caller id
    # name surviving to disk broke every PQ delete/compact/probe
    return enc if id_col == "vec_id" else enc.withColumnRenamed(id_col, "vec_id")


def _pq_dim(props: dict[str, str]) -> int:
    cbs = json.loads(props["pq.codebooks"])
    return len(cbs) * len(cbs[0][0])


def pq_index_codebooks(spark: SparkSession, name: str) -> list[list[list[float]]]:
    """The stored codebooks — one catalog call, exact float round-trip
    (json repr), no data files touched."""
    return json.loads(_index(spark, name)[1]["pq.codebooks"])


def pq_index_topk(
    spark: SparkSession,
    name: str,
    queries: list[tuple[int, list[float]]],
    topk: int = 5,
) -> DataFrame:
    """ADC top-k over the persisted code table with the stored
    codebooks — same kernel and semantics as similarity.pq_adc_topk.
    Output rows name the id ``vec_id`` whatever id column the index was
    built from (``_pq_rows``). Tombstoned vec_ids (``delete_keys``) are
    filtered out."""
    return pq_adc_topk(
        live_rows(spark, name), pq_index_codebooks(spark, name), queries, topk=topk
    )


# --- Persisted IVF index ----------------------------------------------------
#
# Trained state: the k*d centroid matrix; the data-sized half:
# unit-prepped vectors + their cell assignment. Query = probe n_probe
# nearest cells against the stored centroids, exact rerank of those
# cells' rows (similarity.ivf_probe_topk).


def create_ivf_index(
    spark: SparkSession,
    df: DataFrame,
    name: str,
    k: int = 8,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    overwrite: bool = False,
    tag: str = "base",
    n_partitions: int = 32,
) -> str:
    """Train centroids on ``df`` (Lloyd k-means, deterministic init),
    assign every vector to its nearest-by-cosine cell, persist the
    assigned unit-prepped table + the centroids in TBLPROPERTIES
    (reuse and ``tag`` semantics: ``_create``)."""

    def fit() -> dict[str, str]:
        cents = kmeans_fit(df, vec_col=vec_col, id_col=id_col, k=k, iters=iters)
        return {"ivf.centroids": json.dumps(cents), "ivf.k": str(k), "ivf.iters": str(iters)}

    return _create(spark, df, name, "ivf", fit, vec_col, id_col, overwrite, tag, n_partitions)


def _ivf_rows(
    spark: SparkSession, df: DataFrame, props: dict[str, str], vec_col: str, id_col: str
) -> DataFrame:
    prep = unit_prep(df, "vec_id", "emb", "nrm", vec_col=vec_col, id_col=id_col)
    cents = json.loads(props["ivf.centroids"])
    return rank_cells(prep, centroid_frame(spark, cents), "vec_id", 1)


def ivf_index_centroids(spark: SparkSession, name: str) -> list[list[float]]:
    """The stored centroid matrix — one catalog call, exact float
    round-trip (json repr), no data files touched."""
    return json.loads(_index(spark, name)[1]["ivf.centroids"])


def ivf_index_topk(
    spark: SparkSession,
    name: str,
    queries: DataFrame,
    topk: int = 5,
    n_probe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(query_id, vec_id, score, rk): exact cosine top-k within the
    n_probe stored cells nearest each query. The centroid probe is a
    broadcast; the cell join reads every file of the table (it is
    written unbucketed, repartitioned by cid only to group each cell's
    rows), so the saving over brute force is in the pairs scored, not
    the bytes scanned."""
    centp = centroid_frame(spark, ivf_index_centroids(spark, name))
    qprep = unit_prep(queries, "query_id", "emb", "nrm", vec_col=vec_col, id_col=id_col)
    return ivf_probe_topk(live_rows(spark, name), qprep, centp, topk=topk, n_probe=n_probe)


# --- Persisted SRP band index -----------------------------------------------
#
# SRP needs no training — the hyperplanes are a pure function of
# (plane index, dim) — so the persisted state is just the band table
# plus the generation CONFIG in TBLPROPERTIES (planes/bands/dim pin
# the hash family; an append encoded under different config would
# silently never collide with existing buckets). Appends re-derive the
# planes from config; nothing is trained, but tag/row accounting (and
# so staleness) matches the other kinds.


def _srp_rows(
    spark: SparkSession, df: DataFrame, props: dict[str, str], vec_col: str, id_col: str
) -> DataFrame:
    planes, bands, dim = (int(props[f"srp.{k}"]) for k in ("planes", "bands", "dim"))
    prep = unit_prep(df, "vec_id", "emb", "nrm", vec_col=vec_col, id_col=id_col)
    return srp_band_rows(
        prep.withColumn("sketch", srp_sketch_col(F.col("emb"), planes, dim)), planes, bands
    )


def create_srp_index(
    spark: SparkSession,
    df: DataFrame,
    name: str,
    planes: int = 16,
    bands: int = 4,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    overwrite: bool = False,
    tag: str = "base",
    n_partitions: int = 32,
) -> str:
    """Persist the exploded (vec_id, band, bv) table with unit-prepped
    vectors, config in TBLPROPERTIES. planes must divide by bands."""
    if planes % bands:
        raise ValueError("planes must be divisible by bands")

    def fit() -> dict[str, str]:
        return {"srp.planes": str(planes), "srp.bands": str(bands), "srp.dim": str(dim)}

    return _create(spark, df, name, "srp", fit, vec_col, id_col, overwrite, tag, n_partitions)


def srp_index_config(spark: SparkSession, name: str) -> dict[str, int]:
    p = _index(spark, name)[1]
    return {k: int(p[f"srp.{k}"]) for k in ("planes", "bands", "dim")}


def srp_index_topk(
    spark: SparkSession,
    name: str,
    queries: DataFrame,
    topk: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(query_id, vec_id, score, rk): exact cosine rerank of stored
    vectors sharing >= 1 band value with the query, the queries banded
    under the stored config. The band join keys the shuffle; candidates
    dedup before scoring."""
    qbands = _srp_rows(spark, queries, _index(spark, name)[1], vec_col, id_col)
    return srp_band_topk(qbands, live_rows(spark, name), topk=topk)


# --- One table keyed by index kind ------------------------------------------


@dataclass(frozen=True)
class _Kind:
    marker: str  # the property only this kind stores
    part_keys: tuple[str, ...]  # repartition keys of the written table
    params: tuple[str, ...]  # build parameters a refit re-reads
    dim: Callable[[dict[str, str]], int]  # vector dim the stored state expects
    # (spark, vectors, props, vec_col, id_col) -> rows under the stored state
    encode: Callable[[SparkSession, DataFrame, dict[str, str], str, str], DataFrame]
    create: Callable[..., str]


_KINDS = {
    "pq": _Kind("pq.codebooks", (), ("m", "k", "iters", "n_partitions"),
                _pq_dim, _pq_rows, create_pq_index),
    "ivf": _Kind("ivf.centroids", ("cid",), ("k", "iters", "n_partitions"),
                 lambda p: len(json.loads(p["ivf.centroids"])[0]), _ivf_rows, create_ivf_index),
    "srp": _Kind("srp.planes", ("band", "bv"), ("planes", "bands", "dim", "n_partitions"),
                 lambda p: int(p["srp.dim"]), _srp_rows, create_srp_index),
}
