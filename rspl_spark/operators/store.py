"""The one lifecycle every persisted store shares: the ANN indexes
(``ann_store``), the MinHash signature store (``dedup_store``) and the
partial-aggregate store (``agg_store``). Each owns its payload and its
path policy and passes its base path in; this module owns the
properties codec, the layout helpers, the key tombstones and the
crash-safe :func:`swap` — the one commit where a rewrite's data and
properties (trained state, the streaming exactly-once record) become
visible together. Single-writer contract, like every store mutation.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import uuid
from typing import Callable
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# the per-store metadata file a base directory may hold; no swap or
# reap ever deletes it, so it can record where the live layout went
META = "_rspl_meta.json"
_TMP = "__swap_"


# --- properties -------------------------------------------------------------


def refresh(spark: SparkSession, name: str) -> None:
    """Drop every cached plan/file listing for ``name`` after a swap,
    rebuild or append changed the files behind it: a session that
    already read the table would otherwise plan against part-files
    that were just deleted (FAILED_READ_FILE.FILE_NOT_EXIST — a real
    long-lived-session bug, not test noise). A missing table is
    tolerated so recovery paths can call this unconditionally."""
    try:
        spark.sql(f"REFRESH TABLE {name}")
    except Exception:
        pass


def table_properties(spark: SparkSession, table: str) -> dict[str, str] | None:
    """All table properties as a dict (None only when the table does
    not exist — any OTHER failure propagates, because a guard that
    reads a transient metastore error as "no properties" would re-merge
    an already-committed batch)."""
    if not spark.catalog.tableExists(table):
        return None
    rows = spark.sql(f"SHOW TBLPROPERTIES {table}").collect()
    return {r["key"]: r["value"] for r in rows}


def table_property(spark: SparkSession, table: str, key: str) -> str | None:
    """Read one table property (None when absent or table missing)."""
    props = table_properties(spark, table)
    return None if props is None else props.get(key)


def _sql_str(v: str) -> str:
    """Escape a value for a single-quoted Spark SQL string literal
    (backslash is an escape character there, so it must double too —
    a Windows checkpoint path must round-trip byte-identical or the
    exactly-once identity comparison never matches again)."""
    return str(v).replace("\\", "\\\\").replace("'", "''")


def set_table_props(spark: SparkSession, table: str, props: dict[str, str]) -> None:
    if not props:
        return
    kv = ", ".join(f"'{_sql_str(k)}' = '{_sql_str(v)}'" for k, v in props.items())
    spark.sql(f"ALTER TABLE {table} SET TBLPROPERTIES ({kv})")


def carried(props: dict[str, str]) -> dict[str, str]:
    """The properties every rewrite carries forward: ``rspl.*`` only.
    Namespace any property that must survive later rewrites (merge,
    retract, compaction) as ``rspl.<yours>``."""
    return {k: v for k, v in props.items() if k.startswith("rspl.")}


# --- layout -----------------------------------------------------------------


def warehouse_path(spark: SparkSession, table: str) -> str:
    """``table``'s directory under the session's configured warehouse
    (the ANN store's path policy: a session pointed elsewhere gets its
    indexes there)."""
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    if warehouse.startswith("file:"):
        warehouse = warehouse[len("file:") :]
    return os.path.join(os.path.abspath(warehouse), table.lower())


def _detail(spark: SparkSession, name: str, field: str) -> str | None:
    # only the section AFTER '# Detailed Table Information' — a data
    # column literally named 'Location' would otherwise shadow the real
    # row, and the mis-parsed path reaches the stale-dir reaper (which
    # would then treat the LIVE directory as stale: data loss)
    in_detail = False
    for r in spark.sql(f"DESCRIBE FORMATTED {name}").collect():
        cn = r["col_name"].strip()
        if cn.startswith("# Detailed Table Information"):
            in_detail = True
        elif in_detail and cn == field:
            return r["data_type"].strip()
    return None


def table_buckets(spark: SparkSession, name: str) -> int | None:
    n = _detail(spark, name, "Num Buckets")
    return int(n) if n is not None and n.isdigit() else None


def table_location(spark: SparkSession, name: str) -> str | None:
    loc = _detail(spark, name, "Location")
    return urlparse(loc).path if loc is not None and loc.startswith("file:") else loc


def register_at(
    spark: SparkSession,
    name: str,
    path: str,
    bucket_keys: list[str] | None,
    n_buckets: int,
) -> None:
    """Register the parquet layout at ``path`` as table ``name`` —
    metadata only. With ``bucket_keys`` the DDL declares the layout
    ``bucketBy(n_buckets, *keys).sortBy(*keys)`` wrote, which is safe
    because each file name encodes its bucket id."""
    schema = spark.read.parquet(path).schema
    cols = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields)
    clustered = ""
    if bucket_keys:
        ks = ", ".join(f"`{k}`" for k in bucket_keys)
        clustered = f"CLUSTERED BY ({ks}) SORTED BY ({ks}) INTO {n_buckets} BUCKETS "
    spark.sql(
        f"CREATE TABLE {name} ({cols}) USING PARQUET {clustered}"
        f"LOCATION '{_sql_str(path)}'"
    )


def write_table(
    df: DataFrame,
    name: str,
    path: str | None,
    keys: list[str],
    n_parts: int,
    bucketed: bool = True,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` as table ``name`` at ``path`` (None: the existing
    table's location), repartitioned on ``keys`` into ``n_parts``
    (round-robin when ``keys`` is empty). ``bucketed`` adds the
    bucketBy/sortBy spec; Spark needs one file per bucket per write
    task for that layout to be recognized, hence the repartition."""
    writer = df.repartition(n_parts, *keys).write
    if bucketed:
        writer = writer.bucketBy(n_parts, *keys).sortBy(*keys)
    writer = writer.mode(mode).format("parquet")
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(name)


def clear_layout(base: str) -> None:
    """Remove every layout a store keeps on disk: the base directory
    and each versioned ``{base}.__v_*`` a swap moved the data to."""
    for d in [base, *glob.glob(f"{base}.__v_*")]:
        if os.path.isdir(d):
            shutil.rmtree(d, ignore_errors=True)


def read_meta(base: str) -> dict | None:
    path = os.path.join(base, META)
    if not os.path.isfile(path):
        return None
    with open(path) as f:
        return json.load(f)


def write_meta(base: str, meta: dict) -> None:
    # temp-name + rename: a crash mid-write must not leave a complete
    # layout paired with a truncated meta
    tmp = os.path.join(base, f"{META}.tmp")
    with open(tmp, "w") as f:
        json.dump(meta, f)
    os.replace(tmp, os.path.join(base, META))


def live_path(base: str) -> str:
    """Where the live layout is: the location the base's meta file
    recorded at the last swap, else the base directory itself."""
    loc = (read_meta(base) or {}).get("location")
    return os.path.join(os.path.dirname(base), loc) if loc else base


def _reap_dir(path: str) -> None:
    """Delete a superseded layout; a base directory keeps its meta."""
    if not os.path.isfile(os.path.join(path, META)):
        shutil.rmtree(path, ignore_errors=True)
        return
    for f in os.listdir(path):
        p = os.path.join(path, f)
        if os.path.isdir(p):
            shutil.rmtree(p, ignore_errors=True)
        elif f != META:
            os.remove(p)


# --- tombstones ---------------------------------------------------------------
#
# A delete (the takedown path) appends ids to a key-only EXTERNAL
# parquet sidecar at ``{base}__deleted``: a metadata write, no store
# data file touched. Probes read :func:`live`, whose anti join
# broadcasts the set and keeps the store's partitioning (no new
# Exchange). Compaction removes the rows and drops the set.


def _deleted(name: str) -> str:
    return f"{name}__deleted"


def tombstones(
    spark: SparkSession, name: str, base: str, key: str
) -> DataFrame | None:
    """The persisted tombstone set, or None. Tombstones OUTLIVE the
    session (a takedown must not resurrect when the driver restarts):
    a fresh catalog that finds the sidecar directory on disk
    re-registers it here."""
    dn = _deleted(name)
    if spark.catalog.tableExists(dn):
        return spark.table(dn)
    if os.path.isdir(f"{base}__deleted"):
        spark.sql(
            f"CREATE TABLE {dn} ({key} BIGINT) USING PARQUET "
            f"LOCATION '{_sql_str(base)}__deleted'"
        )
        return spark.table(dn)
    return None


def live(spark: SparkSession, name: str, base: str, key: str) -> DataFrame:
    """The store table minus tombstoned ``key``s — the view every probe
    (and any external consumer) reads so takedowns are honored."""
    tbl = spark.table(name)
    dead = tombstones(spark, name, base, key)
    if dead is not None:
        tbl = tbl.join(F.broadcast(dead), key, "left_anti")
    return tbl


def delete_keys(spark: SparkSession, name: str, base: str, key: str, ids) -> int:
    """Tombstone ``ids`` (an iterable or a single-column DataFrame).
    Returns the number appended; already-tombstoned ids are skipped,
    so repeat deletes are idempotent."""
    if isinstance(ids, DataFrame):
        new = ids.select(F.col(ids.columns[0]).cast("long").alias(key))
    else:
        new = spark.createDataFrame([(int(v),) for v in ids], f"{key} long")
    new = new.distinct()
    dead = tombstones(spark, name, base, key)
    if dead is not None:
        new = new.join(F.broadcast(dead), key, "left_anti")
    new = new.localCheckpoint()
    n = new.count()
    if n:
        dn = _deleted(name)
        writer = new.coalesce(1).write.mode("append").format("parquet")
        if not spark.catalog.tableExists(dn):
            writer = writer.option("path", f"{base}__deleted")
        writer.saveAsTable(dn)
        refresh(spark, dn)
    return n


def deleted_count(spark: SparkSession, name: str, base: str, key: str) -> int:
    dead = tombstones(spark, name, base, key)
    return dead.count() if dead is not None else 0


def drop_tombstones(spark: SparkSession, name: str, base: str) -> None:
    """Remove the tombstone table AND its directory — only when the
    store is rebuilt or compacted, i.e. a new membership supersedes
    the tombstones."""
    spark.sql(f"DROP TABLE IF EXISTS {_deleted(name)}")
    shutil.rmtree(f"{base}__deleted", ignore_errors=True)


def check_append(
    spark: SparkSession, name: str, base: str, key: str, df: DataFrame,
    id_col: str, what: str, compact: str,
) -> None:
    """Fail fast when an increment re-uses a currently-tombstoned id.

    With id-keyed tombstones there is NO correct silent behavior for a
    re-append: keeping the tombstone hides the new row (the probe
    anti-join can't tell old from new), and clearing it resurrects the
    stale physical row alongside the new one. Both corrupt answers
    silently, so the collision is the caller's to resolve: compact
    first (physically removes the old row and clears the tombstone),
    then append. Cost: one semi-join of the increment's keys against
    the broadcast tombstone set — never a pass over the store."""
    dead = tombstones(spark, name, base, key)
    if dead is None:
        return
    hit = (
        df.select(F.col(id_col).cast("long").alias(key))
        .join(F.broadcast(dead), key, "left_semi")
        .take(3)
    )
    if hit:
        ids = sorted(r[key] for r in hit)
        raise ValueError(
            f"{what}: increment contains tombstoned {key}s (e.g. {ids}); "
            f"a tombstone would silently hide the re-appended rows. Run "
            f"{compact}('{name}') first, then append."
        )


# --- the crash-safe swap --------------------------------------------------------


def reap_stale(spark: SparkSession, name: str, base: str) -> str | None:
    """Reap leftovers of previous FAILED swaps of ``name`` — tmp tables
    ``{name}__swap_*`` and versioned dirs ``{base}.__v_*`` other than
    the live location (a successful swap leaves the LIVE data under a
    ``.__v_`` path) — so repeated failures cannot accumulate unreaped
    warehouse directories.

    SAFETY GATE: if ``name`` is not registered — the DROP→RENAME crash
    window, where the ``.__v_`` dirs are the ONLY copies of the data —
    this reaps NOTHING: with no catalog entry there is no telling the
    former live data from a stale tmp. Recovery (re-register, then swap
    again) comes first. Returns the live location it spared."""
    if not spark.catalog.tableExists(name):
        return None
    live_loc = table_location(spark, name)
    if live_loc is None:
        # if the live location cannot be determined (DESCRIBE output
        # missing its Location row), the sweep below could not tell the
        # live directory from a stale one — reap nothing
        return None
    live_real = os.path.realpath(live_loc)
    prefix = f"{name.lower()}{_TMP}"
    for r in spark.sql("SHOW TABLES").collect():
        if not r["isTemporary"] and r["tableName"].startswith(prefix):
            loc = table_location(spark, r["tableName"])
            spark.sql(f"DROP TABLE IF EXISTS {r['tableName']}")
            if loc and os.path.realpath(loc) != live_real and os.path.isdir(loc):
                shutil.rmtree(loc, ignore_errors=True)
    for d in glob.glob(f"{base}.__v_*"):
        if os.path.isdir(d) and os.path.realpath(d) != live_real:
            shutil.rmtree(d, ignore_errors=True)
    return live_loc


def swap(
    spark: SparkSession,
    name: str,
    df: DataFrame,
    base: str,
    keys: list[str],
    n_parts: int,
    bucketed: bool = True,
    stamp: Callable[[dict[str, str], str], dict[str, str]] | None = None,
    old_props: dict[str, str] | None = None,
) -> dict[str, str]:
    """Replace live table ``name`` by ``df`` (whose plan may read
    ``name``), crash-safely; returns the properties it committed.

    ``df`` is written to a versioned tmp table at ``{base}.__v_{ver}``
    while the store is intact (a failure leaves it untouched), and the
    new properties — ``stamp(old_props, tmp_table)``, by default the
    old ``rspl.*`` ones (:func:`carried`) — are set on the tmp table
    BEFORE the DROP→RENAME, so data and properties commit together. If
    the rename fails, the ORIGINAL location is re-registered under
    ``name`` with its layout and pre-swap properties (the exactly-once
    record must survive recovery, or a replayed batch double-counts);
    the tmp table stays for inspection and the next swap reaps it. On
    success the base's meta file (if any) records the new location and
    the superseded directory is reaped. ``old_props``: the current
    properties if the caller already read them."""
    old_path = reap_stale(spark, name, base)
    old = old_props if old_props is not None else (table_properties(spark, name) or {})
    ver = uuid.uuid4().hex[:8]
    tmp, tmp_path = f"{name}{_TMP}{ver}", f"{base}.__v_{ver}"
    write_table(df, tmp, tmp_path, keys, n_parts, bucketed)
    new = stamp(old, tmp) if stamp is not None else carried(old)
    set_table_props(spark, tmp, new)
    spark.sql(f"DROP TABLE {name}")
    try:
        spark.sql(f"ALTER TABLE {tmp} RENAME TO {name}")
    except Exception:
        if old_path:
            register_at(spark, name, old_path, keys if bucketed else None, n_parts)
            set_table_props(spark, name, old)
            refresh(spark, name)
        raise
    refresh(spark, name)
    meta = read_meta(base)
    if meta is not None:
        write_meta(base, {**meta, "location": os.path.basename(tmp_path)})
    if old_path and os.path.isdir(old_path):
        _reap_dir(old_path)
    return new
