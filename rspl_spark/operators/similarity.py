"""Similarity kernels: the expression-based cosine (JVM/codegen — the
default) and an Arrow-vectorized pandas-UDF variant (the escape hatch for
kernels built-ins can't express, e.g. learned metrics; SURVEY §2.2
"embedding similarity … or a vectorized Pandas UDF").

Prefer the expression form: it stays inside whole-stage codegen with zero
Python. The pandas-UDF form processes Arrow batches with numpy — still
~10-100x faster than row-at-a-time Python, and the template to copy for
custom scoring functions.

The ANN search kernels (PQ ADC, IVF cells, SRP bands, the exact cosine
rerank) live here too, and are the one copy both the in-session gates
(queries/llm_ops.py) and the persisted index (operators/ann_store.py)
run.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType

from rspl_spark.plan_stats import grouped_map_parallelism


def _sq_dists(M: np.ndarray, C: np.ndarray) -> np.ndarray:
    """(n, k) squared L2 distances, bit-identical to
    ``((M[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)`` but computed
    in row chunks so the (chunk, k, d) temporary stays cache-resident
    instead of streaming an n·k·d·8-byte array through memory (65 MB at
    n=2000, k=64, d=64; 3.3 GB at n=100k — measured ~2x kernel time at
    gate shapes, unboundedly worse once the temp outgrows the cache).
    Chunking the ROW axis cannot change results: each (row, centroid)
    cell is reduced over d in the same numpy pairwise order regardless
    of how many rows share the temporary (asserted bit-equal in
    tests/test_kmeans.py). NOT the BLAS |a|²+|c|²−2a·c form on purpose —
    that reassociates the arithmetic and can flip argmin ties, which the
    DuckDB oracle twins replay exactly."""
    n = M.shape[0]
    k, d = C.shape
    # ~2 MB temporary; floor keeps tiny codebooks from degrading to
    # row-at-a-time python looping
    rows = max(16, (1 << 21) // max(k * d * 8, 1))
    if n <= rows:
        return ((M[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
    # dtype from the same broadcast-subtract the one-shot branch does,
    # so both branches agree for any input dtype (r15 ADVICE: all
    # current callers pass float64, but a float32 caller must not get
    # a silently widened result from one branch only)
    out = np.empty((n, k), dtype=np.result_type(M.dtype, C.dtype))
    for i in range(0, n, rows):
        m = M[i : i + rows]
        out[i : i + len(m)] = ((m[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
    return out


def dot(a: Column, b: Column) -> Column:
    """Float dot product of two array<double> columns: a sequential
    left-to-right sum from 0.0, the order the oracle's LIST_SUM replays.
    The one copy every cosine, projection, probe and rerank builds on."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, v: s + v)


def cosine_expr(a: Column, b: Column) -> Column:
    """Codegen'd cosine over two array<float/double> columns (double math)."""
    da = F.transform(a, lambda x: x.cast("double"))
    db = F.transform(b, lambda x: x.cast("double"))
    na = F.sqrt(F.aggregate(da, F.lit(0.0), lambda s, v: s + v * v))
    nb = F.sqrt(F.aggregate(db, F.lit(0.0), lambda s, v: s + v * v))
    # NULLIF guard: under ANSI mode (Spark 4 default) a zero-norm vector
    # would raise DIVIDE_BY_ZERO and kill the query; null is the right
    # "undefined similarity" answer.
    return dot(da, db) / F.nullif(na * nb, F.lit(0.0))


def kmeans_fit(
    df,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 8,
    iters: int = 5,
    sample_frac: float | None = None,
) -> list[list[float]]:
    """Lloyd's k-means with deterministic init (first k vectors by id).

    ``sample_frac`` (0 < f < 1) fits on a DETERMINISTIC md5-hash sample
    of the rows instead of the full corpus — the fit cost is O(rows *
    k * d) per iteration, and past the adaptive-k cap the fit, not the
    assignment, is the bottleneck, so bounding the row side is how the
    fit stays fixed-cost while the corpus grows. The sample is a pure
    function of the id (no RNG, no seed state): the same corpus always
    fits the same centroids. Assignment of the FULL corpus with the
    resulting centroids is unchanged — sampling biases the fit only by
    centroid placement noise (parity-tested in tests/test_kmeans.py).
    Falls back to the full fit if the sample would hold fewer than k
    rows (init needs k vectors).

    The iterative-algorithm pattern (SURVEY §2.2: driver-side control
    flow around distributed passes): per iteration ONE narrow
    mapInPandas pass computes both the assignment and the per-partition
    partial sums (Σ vectors, count) per cluster — k×(d+2) numbers per
    partition collected, combined driver-side into the new means. No
    shuffle at all inside an iteration (the old posexplode → groupBy
    (cid, dim) update shuffled n×d rows per iteration and janino-compiled
    a fresh k×d-literal assignment expression each round — compile time
    alone dominated the fit, DEVNOTES r3). Centroids stay driver-side
    (k × d doubles); the data never leaves the cluster. Distance:
    squared L2; ties to the lowest cid.
    """
    # Memoize the centroid TRAJECTORY per (input df, k) on the session:
    # several gate queries train codebooks on the same memoized load()
    # DataFrame with different iteration counts, and Lloyd iteration n is
    # a pure function of iteration n-1 — so fit(iters=2) is a prefix of
    # fit(iters=3). The cache stores every iteration's snapshot and
    # extends it on demand; re-running from scratch would pay a full job
    # + analysis of the k*d-literal assignment expression per iteration.
    # Keyed on the DataFrame object (load() returns the same object per
    # session); the entry pins df so its id() cannot be reused by a
    # successor DataFrame after GC (which would alias the key).
    spark = df.sparkSession

    def _fit_frame() -> DataFrame:
        # resolved LAZILY, only when an iteration actually runs: the
        # sample-size probe is a Spark job, and a trajectory-cache HIT
        # must stay a pure dict lookup (the cache exists precisely to
        # avoid per-call jobs)
        if sample_frac is not None and 0 < sample_frac < 1.0:
            # deterministic hash-sample: md5(id) as a uniform draw in [0, 1M)
            draw = (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(F.lit("kmfit:"), F.col(id_col).cast("string"))
                        ),
                        1,
                        15,
                    ),
                    16,
                    10,
                ).cast("long")
                % 1000000
            )
            sampled = df.filter(draw < int(sample_frac * 1000000))
            # init needs k vectors; a too-small sample falls back to full
            if sampled.limit(k).count() >= k:
                return sampled
        return df

    fit_df = None
    cache: dict = getattr(spark, "_rspl_kmeans_cache", None)
    if cache is None:
        cache = {}
        spark._rspl_kmeans_cache = cache
    key = (id(df), vec_col, id_col, k, sample_frac)
    if key in cache:
        traj = cache[key][1]
    else:
        # bounded: evict oldest entries so per-call DataFrames (which
        # never hit — fresh object each call) cannot grow the cache or
        # pin inputs without limit in a long-lived session
        while len(cache) >= 8:
            cache.pop(next(iter(cache)))
        fit_df = _fit_frame()
        init_rows = fit_df.orderBy(id_col).limit(k).select(vec_col).collect()
        traj = [[[float(x) for x in r[vec_col]] for r in init_rows]]
        cache[key] = (df, traj)
    if len(traj) > iters:
        return [list(c) for c in traj[iters]]

    centroids = [list(c) for c in traj[-1]]
    if fit_df is None and len(traj) - 1 < iters:
        fit_df = _fit_frame()
    for _ in range(len(traj) - 1, iters):
        C = np.asarray(centroids, dtype=np.float64)
        k_, d_ = C.shape

        def partials(batches):
            S = np.zeros((k_, d_))
            N = np.zeros(k_, dtype=np.int64)
            for pdf in batches:
                M = np.stack(pdf.iloc[:, 0].to_numpy()).astype(np.float64)
                d2 = _sq_dists(M, C)
                cid = np.argmin(d2, axis=1)
                np.add.at(S, cid, M)
                np.add.at(N, cid, 1)
            nz = np.nonzero(N)[0]
            if len(nz):
                yield pd.DataFrame(
                    {
                        "cid": nz.astype(np.int32),
                        "n": N[nz],
                        "s": [S[c].tolist() for c in nz],
                    }
                )

        parts = (
            fit_df.select(vec_col)
            .mapInPandas(partials, "cid int, n long, s array<double>")
            .collect()
        )
        S = np.zeros((k_, d_))
        N = np.zeros(k_, dtype=np.int64)
        for r in parts:
            S[r["cid"]] += np.asarray(r["s"])
            N[r["cid"]] += r["n"]
        new_c = C.copy()  # empty clusters keep their previous centroid
        nz = N > 0
        new_c[nz] = S[nz] / N[nz, None]
        centroids = [[float(x) for x in row] for row in new_c]
        traj.append([list(c) for c in centroids])
    return centroids


def _nearest_centroid_arrow(centroids: list[list[float]]):
    """Nearest-centroid kernel: per batch, one (n, k, d) numpy pass →
    (cid, dist2) DataFrame.

    Why Arrow, not a codegen expression: an expression form embeds k×d
    literals, so every NEW codebook generates fresh janino source — the
    first fit against an 8×64 codebook was measured at ~10s of compile
    time (DEVNOTES r3), dwarfing the actual training. This kernel has no
    codegen step at all; the codebook rides the closure (pickled once
    per stage, the broadcast-codebook pattern). Ties resolve to the
    LOWEST cid (np.argmin takes the first minimum), the oracle's
    ``ORDER BY dist, cid``.
    """
    C = np.asarray(centroids, dtype=np.float64)  # (k, d)

    @pandas_udf("cid int, dist2 double")
    def _nearest(v: pd.Series) -> pd.DataFrame:
        M = np.stack(v.to_numpy()).astype(np.float64)  # (n, d)
        d2 = _sq_dists(M, C)  # (n, k)
        cid = np.argmin(d2, axis=1)
        return pd.DataFrame(
            {"cid": cid.astype(np.int32), "dist2": d2[np.arange(len(cid)), cid]}
        )

    return _nearest


def kmeans_assign(
    df,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
):
    """(id, cid, dist2): nearest-centroid assignment — one narrow pass
    of the numpy kernel :func:`_nearest_centroid_arrow`. Works unchanged
    on a streaming frame (frozen-codebook ingest)."""
    best = _nearest_centroid_arrow(centroids)(F.col(vec_col))
    return df.select(
        id_col,
        best.getField("cid").alias("cid"),
        F.round(best.getField("dist2"), 6).alias("dist2"),
    )


def unit_prep(
    e: DataFrame,
    id_alias: str,
    emb_alias: str,
    nrm_alias: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Per-side cosine prep: double-cast array + L2 norm computed ONCE
    per input row, BEFORE the pair join — the per-pair work then reduces
    to a single dot product + division. Evaluation order matches
    cosine_expr exactly (cast→multiply→sum, sqrt per side, na*nb) so
    results are bit-compatible with the fused form."""
    dbl = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    return e.select(F.col(id_col).alias(id_alias), dbl.alias(emb_alias)).withColumn(
        nrm_alias,
        F.sqrt(F.aggregate(F.col(emb_alias), F.lit(0.0), lambda s, v: s + v * v)),
    )


def exact_scored_pairs(
    cand,
    probes,
    score_alias: str = "raw_score",
    *,
    allow_quadratic: bool = False,
    broadcast_probes: bool = True,
):
    """ALL-PAIRS cosine scoring of ``cand`` (columns a_emb/a_nrm from
    :func:`unit_prep`) against ``probes`` (b_emb/b_nrm): O(|cand|·|probes|)
    pairs — the exact-semantics oracle/recall anchor, NOT the scale path.

    Guarded: refuses to build the plan unless ``allow_quadratic=True``,
    so nothing routes an SF-scaled table into a cartesian product by
    accident. At corpus scale use the blocked formulations instead —
    IVF cells (``q_cosine_topk_ivf_trained``), SRP sign-bands
    (``q_cosine_topk_srp``), or trained-cell pair mining
    (``q_embedding_cosine_pairs``); this operator is for provably small
    probe sets (broadcast) and parity checks.
    """
    if not allow_quadratic:
        raise ValueError(
            "exact_scored_pairs is O(|cand| x |probes|): pass "
            "allow_quadratic=True only for small/bounded inputs; the scale "
            "paths are the IVF / SRP / trained-cell blocked operators."
        )
    right = F.broadcast(probes) if broadcast_probes else probes
    return cand.crossJoin(right).withColumn(
        score_alias,
        dot(F.col("a_emb"), F.col("b_emb")) / F.nullif(F.col("a_nrm") * F.col("b_nrm"), F.lit(0.0)),
    )


PIN_MIN_ROWS = 65536  # below this, skip the parallelism pin (see below)


def _pin_parallelism(
    df: DataFrame, est_rows: int | None, cols: list[str], cap: int | None = None
) -> DataFrame:
    """Repartition ``df`` on ``cols`` to the grouped-map parallelism
    (at most ``cap``), unless the caller counted fewer than
    ``PIN_MIN_ROWS`` input rows. Without a count the pin applies."""
    if est_rows is not None and est_rows < PIN_MIN_ROWS:
        return df
    par = grouped_map_parallelism(df.sparkSession)
    if cap is not None:
        par = max(1, min(par, cap))
    return df.repartition(par, *cols)


def cell_cosine_pairs(
    prepped: DataFrame,
    cell_col: str = "cid",
    id_col: str = "vec_id",
    emb_col: str = "emb",
    nrm_col: str = "nrm",
    min_raw: float | None = None,
    est_rows: int | None = None,
    n_cells: int | None = None,
) -> DataFrame:
    """All within-cell cosine pairs (id_a < id_b) via one BLAS pass per
    cell: ``applyInPandas`` groups on the cell key, computes the cell's
    full similarity matrix as ``M @ M.T`` and emits the upper triangle —
    (id_a, id_b, raw_score).

    Why not a self-join: joining the prepped table to itself on the cell
    key materializes BOTH embedding arrays per candidate pair through
    the shuffle and scores each pair with an interpreted higher-order
    dot — measured 3x slower than this form at sf0.1 (the arrays cross
    the wire once per ROW here, once per PAIR there). The quadratic work
    still happens, but inside numpy where it belongs.

    ``min_raw`` pre-filters in the kernel so only near-threshold
    survivors cross Arrow back; callers applying a threshold on a
    ROUNDED score must pass ``threshold - 1e-6`` and re-filter exactly
    (rounding stays Spark-side so its HALF_UP semantics are unchanged).
    Zero-norm vectors never pair (undefined similarity — the NULLIF
    discipline of cosine_expr).

    Scale: the shuffle is one row per vector keyed by cell — the IVF
    blocking discipline; a cell must fit one task's memory, which is the
    codebook-sizing contract (k chosen so corpus/k cells are bounded;
    sub-block skewed cells by salting the cell key before this op).

    ``est_rows``/``n_cells`` (optional, from a caller that already
    counted — semantic_dedup's adaptive-k count) make the parallelism
    pin SCALE-AWARE: below ``PIN_MIN_ROWS`` the whole kernel is
    sub-second and the extra repartition is pure overhead (measured
    r13: +4-8% on the sf0.1 embedding_pairs steady-state), so small
    inputs skip the pin and let AQE coalesce; large inputs pin, capped
    at ``n_cells`` (partitions beyond the number of distinct cells are
    empty tasks). With neither hint, the pin applies — the conservative
    default for the regime this kernel targets.
    """
    # id type derived from the input, not hardcoded long: a string
    # doc id would fail (or an int32 silently widen) at Arrow conversion
    id_t = prepped.schema[id_col].dataType.simpleString()
    out_schema = f"`{id_col}_a` {id_t}, `{id_col}_b` {id_t}, raw_score double"

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col)
        ids = pdf[id_col].to_numpy()
        M = np.stack(pdf[emb_col].to_numpy()).astype(np.float64)
        nrm = pdf[nrm_col].to_numpy()
        S = M @ M.T
        denom = np.outer(nrm, nrm)
        i, j = np.triu_indices(len(ids), 1)
        d = denom[i, j]
        ok = d != 0
        raw = np.where(ok, S[i, j] / np.where(ok, d, 1.0), np.nan)
        keep = ok if min_raw is None else ok & (raw >= min_raw)
        return pd.DataFrame(
            {
                f"{id_col}_a": ids[i][keep],
                f"{id_col}_b": ids[j][keep],
                "raw_score": raw[keep],
            }
        )

    # Pin the grouped-map parallelism (same fix as dsl/interpreter.py):
    # AQE coalesces this exchange by shuffle-BYTE size, but the kernel's
    # cost is QUADRATIC in cell rows — byte size systematically
    # underestimates compute here, and the coalesced read was observed
    # packing the cells onto a fraction of the machine. An explicit
    # repartition on the cell key satisfies the grouping's distribution
    # requirement (no second Exchange) and is exempt from coalescing.
    # Scale-aware: skipped when the caller counted the input small.
    prepped = _pin_parallelism(prepped, est_rows, [cell_col], n_cells)
    return prepped.groupBy(cell_col).applyInPandas(fn, out_schema)


def cell_cosine_pairs_blocked(
    prepped: DataFrame,
    max_cell_rows: int = 4096,
    cell_col: str = "cid",
    id_col: str = "vec_id",
    emb_col: str = "emb",
    nrm_col: str = "nrm",
    min_raw: float | None = None,
    est_rows: int | None = None,
) -> DataFrame:
    """:func:`cell_cosine_pairs` with BOUNDED per-task memory: cells
    larger than ``max_cell_rows`` are split into B = ceil(n/max) blocks
    and every block PAIR (bi <= bj) becomes its own task — the
    triangle-join grid. A row in block b is shipped to the B grid cells
    containing b (shuffle cost x B for oversized cells only; healthy
    cells keep B=1 and degenerate to the plain kernel), and each task
    holds at most 2 * max_cell_rows vectors whatever the skew.

    This closes cell_cosine_pairs' "a cell must fit one task's memory"
    contract from the OTHER side: adaptive centroid count
    (semantic_dedup's k = n/target_cell) bounds the EXPECTED cell size;
    the grid bounds the WORST CASE — one pathological hot cell (near-
    constant embeddings, a crawler loop) cannot OOM an executor, it
    just fans out into B(B+1)/2 bounded tasks. Pair set is identical to
    the unblocked kernel (parity-tested); block ids are assigned by
    row_number within the cell, so the split is deterministic."""
    cnt = prepped.groupBy(cell_col).agg(F.count(F.lit(1)).alias("_n"))
    w = Window.partitionBy(cell_col).orderBy(id_col)
    rows = (
        prepped.join(cnt, cell_col)
        .withColumn("_B", F.ceil(F.col("_n") / max_cell_rows).cast("int"))
        .withColumn("_blk", ((F.row_number().over(w) - 1) % F.col("_B")))
    )
    # one grid entry per (row, partner block): (bi, bj) with bi <= bj
    grid = F.concat(
        F.transform(
            F.sequence(F.col("_blk"), F.col("_B") - 1),
            lambda j: F.struct(F.col("_blk").alias("bi"), j.alias("bj")),
        ),
        # sequence(0, -1) would generate a DESCENDING [0, -1] — guard
        # block 0 with an empty array instead
        F.when(
            F.col("_blk") > 0,
            F.transform(
                F.sequence(F.lit(0), F.col("_blk") - 1),
                lambda i: F.struct(i.alias("bi"), F.col("_blk").alias("bj")),
            ),
        ).otherwise(F.array().cast("array<struct<bi:int,bj:int>>")),
    )
    exploded = rows.select(
        cell_col, id_col, emb_col, nrm_col, "_blk",
        F.explode(grid).alias("_g"),
    ).select(
        cell_col, id_col, emb_col, nrm_col, "_blk",
        F.col("_g.bi").alias("_bi"), F.col("_g.bj").alias("_bj"),
    )
    # id type derived from the input, not hardcoded long: a string
    # doc id would fail (or an int32 silently widen) at Arrow conversion
    id_t = prepped.schema[id_col].dataType.simpleString()
    out_schema = f"`{id_col}_a` {id_t}, `{id_col}_b` {id_t}, raw_score double"

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col)
        bi, bj = pdf["_bi"].iat[0], pdf["_bj"].iat[0]
        ids = pdf[id_col].to_numpy()
        M = np.stack(pdf[emb_col].to_numpy()).astype(np.float64)
        nrm = pdf[nrm_col].to_numpy()
        if bi == bj:
            # diagonal grid cell: triangle within the block
            S = M @ M.T
            denom = np.outer(nrm, nrm)
            i, j = np.triu_indices(len(ids), 1)
        else:
            la = (pdf["_blk"] == bi).to_numpy()
            lb = ~la
            S = M[la] @ M[lb].T
            denom = np.outer(nrm[la], nrm[lb])
            i, j = np.meshgrid(
                np.arange(int(la.sum())), np.arange(int(lb.sum())), indexing="ij"
            )
            i, j = i.ravel(), j.ravel()
            ids_a, ids_b = ids[la], ids[lb]
        if bi == bj:
            a_ids, b_ids = ids[i], ids[j]
        else:
            a_ids, b_ids = ids_a[i], ids_b[j]
        d = denom[i, j]
        ok = d != 0
        raw = np.where(ok, S[i, j] / np.where(ok, d, 1.0), np.nan)
        keep = ok if min_raw is None else ok & (raw >= min_raw)
        lo = np.minimum(a_ids, b_ids)
        hi = np.maximum(a_ids, b_ids)
        return pd.DataFrame(
            {
                f"{id_col}_a": lo[keep],
                f"{id_col}_b": hi[keep],
                "raw_score": raw[keep],
            }
        )

    # same parallelism pin as cell_cosine_pairs: quadratic per-task
    # compute, so AQE's byte-size coalescing is the wrong objective;
    # same scale-awareness (small counted inputs skip the pin). No
    # n_cells cap here — the grid multiplies groups past the cell count.
    exploded = _pin_parallelism(exploded, est_rows, [cell_col, "_bi", "_bj"])
    return (
        exploded.groupBy(cell_col, "_bi", "_bj")
        .applyInPandas(fn, out_schema)
    )


# DoubleType() (not the DDL string "double"): the string form parses the
# DDL through the active session at import time — importable only with a
# running SparkContext.
@pandas_udf(DoubleType())
def cosine_pandas(a: pd.Series, b: pd.Series) -> pd.Series:
    """Arrow-vectorized cosine: each batch becomes two (n, d) numpy
    matrices; one fused BLAS pass per batch. Zero-norm vectors yield
    null — the same "undefined similarity" answer as cosine_expr's
    NULLIF guard, so the two kernels stay interchangeable (a raw 0/0
    would emit NaN, which silently poisons averages and comparisons)."""
    # float64 like every sibling kernel (cosine_expr casts to double,
    # the arrow/kmeans/pq kernels .astype(np.float64)): an array<float>
    # column scored in float32 disagrees with cosine_expr at the 6th
    # decimal, breaking the documented kernel interchangeability
    ma = np.stack(a.to_numpy()).astype(np.float64)
    mb = np.stack(b.to_numpy()).astype(np.float64)
    dots = np.einsum("ij,ij->i", ma, mb)
    norms = np.linalg.norm(ma, axis=1) * np.linalg.norm(mb, axis=1)
    zero = norms == 0
    out = dots / np.where(zero, 1.0, norms)
    return pd.Series(np.where(zero, np.nan, out)).where(~zero, None)


# --- Product quantization (PQ): the memory-compression ANN path -------------
#
# IVF prunes WHICH vectors a query scores; SRP prunes via hash bands; PQ
# compresses the vectors THEMSELVES: split each d-dim vector into m
# subvectors, k-means each subspace into k codes, store vectors as m
# small ints (here 4 bytes instead of 64 float32s — 64x). Scoring is
# ADC (asymmetric distance computation): the query stays exact; per
# query a tiny m x k lookup table of subspace dot products is built
# driver-side, and each stored vector's approximate inner product is m
# table lookups — no per-pair float dot at all. At 100 TB this is the
# difference between scanning embeddings and scanning 1/64th of the
# bytes with cheaper per-row math; the codes table is narrow, the scan
# is shuffle-free, and per-partition top-k bounds what reaches the
# final merge. (Jégou et al., "Product Quantization for Nearest
# Neighbor Search", TPAMI 2011 — concept attribution.)


def pq_fit(
    df: DataFrame,
    m: int = 4,
    k: int = 16,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[list[list[float]]]:
    """Train m per-subspace codebooks (k centroids each) with the same
    deterministic Lloyd semantics as :func:`kmeans_fit` (init = first k
    subvectors by id; squared-L2 argmin, ties to the lowest code; empty
    codes keep their centroid) — but FUSED: every iteration is ONE
    mapInPandas pass computing all m subspaces' partial sums together
    (m*k*(sub+1) floats per partition), not m separate jobs. Same scan
    count as a single k-means fit however many subspaces — 16 passes →
    2 at m=8/iters=2, measured 15.4s → ~2s on 200k x 64d. Per-subspace
    results are bitwise identical to slicing first and running
    kmeans_fit per subspace (same partition iteration order, same
    np.add.at accumulation), which is what the PQ oracle replays.

    Session-memoized per (input df, params): the fit collects only
    m * k * (d/m) driver-side floats, never the data."""
    spark = df.sparkSession
    cache = getattr(spark, "_rspl_pq_cache", None)
    if cache is None:
        cache = {}
        spark._rspl_pq_cache = cache
    key = (id(df), vec_col, id_col, m, k, iters)
    if key in cache:
        return [[list(c) for c in cb] for cb in cache[key][1]]
    first = df.select(F.size(vec_col)).first()
    if first is None:
        raise ValueError("pq_fit: empty input")
    d = first[0]
    if d % m != 0:
        raise ValueError(f"dim {d} not divisible by m={m} subspaces")
    sub = d // m
    init_rows = df.orderBy(id_col).limit(k).select(vec_col).collect()
    if len(init_rows) < k:
        raise ValueError(f"need at least k={k} vectors to init codebooks")
    # C[s] = (k, sub) codebook for subspace s
    C = [
        np.asarray(
            [[float(x) for x in r[vec_col][s * sub : (s + 1) * sub]] for r in init_rows]
        )
        for s in range(m)
    ]
    for _ in range(iters):
        Cs = [c.copy() for c in C]

        def partials(batches):
            S = np.zeros((m, k, sub))
            N = np.zeros((m, k), dtype=np.int64)
            for pdf in batches:
                M = np.stack(pdf.iloc[:, 0].to_numpy()).astype(np.float64)
                for s in range(m):
                    Ms = M[:, s * sub : (s + 1) * sub]
                    d2 = _sq_dists(Ms, Cs[s])
                    cid = np.argmin(d2, axis=1)
                    np.add.at(S[s], cid, Ms)
                    np.add.at(N[s], cid, 1)
            out = {"s": [], "cid": [], "n": [], "v": []}
            for s in range(m):
                for c in np.nonzero(N[s])[0]:
                    out["s"].append(s)
                    out["cid"].append(int(c))
                    out["n"].append(int(N[s][c]))
                    out["v"].append(S[s][c].tolist())
            if out["s"]:
                yield pd.DataFrame(out)

        parts = (
            df.select(vec_col)
            .mapInPandas(partials, "s int, cid int, n long, v array<double>")
            .collect()
        )
        S = np.zeros((m, k, sub))
        N = np.zeros((m, k), dtype=np.int64)
        for r in parts:
            S[r["s"], r["cid"]] += np.asarray(r["v"])
            N[r["s"], r["cid"]] += r["n"]
        for s in range(m):
            nz = N[s] > 0
            C[s][nz] = S[s][nz] / N[s][nz, None]
    codebooks = [[[float(x) for x in row] for row in c] for c in C]
    while len(cache) >= 8:
        cache.pop(next(iter(cache)))
    cache[key] = (df, codebooks)
    return [[list(c) for c in cb] for cb in codebooks]


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, codes): each vector quantized to m subspace code ids — the
    compressed representation ADC scans. One narrow Arrow pass; the
    codebooks ride the closure (broadcast-small). Ties to the lowest
    code id (np.argmin first-minimum), mirroring kmeans_assign. Works
    unchanged on a streaming frame (frozen-codebook ingest)."""
    C = [np.asarray(cb, dtype=np.float64) for cb in codebooks]
    m = len(C)
    sub = C[0].shape[1]

    @pandas_udf("array<int>")
    def _codes(v: pd.Series) -> pd.Series:
        M = np.stack(v.to_numpy()).astype(np.float64)
        cols = []
        for s in range(m):
            Ms = M[:, s * sub : (s + 1) * sub]
            d2 = _sq_dists(Ms, C[s])
            cols.append(np.argmin(d2, axis=1).astype(np.int32))
        codes = np.stack(cols, axis=1)
        return pd.Series(list(codes))

    return df.select(id_col, _codes(F.col(vec_col)).alias("codes"))


def pq_adc_topk(
    encoded: DataFrame,
    codebooks: list[list[list[float]]],
    queries: list[tuple[int, list[float]]],
    topk: int = 5,
    id_col: str = "vec_id",
) -> DataFrame:
    """ADC top-k: approximate inner-product search over PQ codes.

    ``queries`` are (query_id, exact vector) pairs (driver-side — a
    probe set, not a table). Per query the m x k LUT of subspace dots is
    computed with SEQUENTIAL float addition, matching the oracle's
    order-guaranteed LIST_SUM(LIST(... ORDER BY dim)) accumulation.
    Residual ULP drift can still enter via the codebook values
    themselves (group-by AVG on both engines has no guaranteed order);
    round(6) on the output plus value-separated top-k ranks absorb it. The kernel scans the
    codes ONCE per partition, accumulates every query's scores via m
    table lookups, and emits only the per-partition top-k — the global
    merge then ranks nq * topk * n_partitions rows, so no corpus-sized
    shuffle exists anywhere. Output: (query_id, vec_id, adc, rk),
    self-matches excluded, ties to the lowest vec_id."""
    C = [np.asarray(cb, dtype=np.float64) for cb in codebooks]
    m = len(C)
    sub = C[0].shape[1]
    qids = [int(q) for q, _ in queries]
    lut = np.empty((len(queries), m, C[0].shape[0]), dtype=np.float64)
    for qi, (_, vec) in enumerate(queries):
        for s in range(m):
            qs = [float(x) for x in vec[s * sub : (s + 1) * sub]]
            for c in range(C[s].shape[0]):
                acc = 0.0
                for a, b in zip(qs, C[s][c]):
                    acc = acc + a * float(b)
                lut[qi, s, c] = acc

    def scan(batches):
        best: dict[int, tuple[np.ndarray, np.ndarray]] = {}
        for pdf in batches:
            if not len(pdf):
                continue
            codes = np.stack(pdf["codes"].to_numpy()).astype(np.int64)
            ids = pdf[id_col].to_numpy()
            for qi, qid in enumerate(qids):
                adc = lut[qi, 0, codes[:, 0]].copy()
                for s in range(1, m):
                    adc = adc + lut[qi, s, codes[:, s]]
                keep = ids != qid
                a, i = adc[keep], ids[keep]
                if qi in best:
                    pa, pi = best[qi]
                    a, i = np.concatenate([pa, a]), np.concatenate([pi, i])
                if len(a) > topk:
                    # partial top-k, ties to lowest id: sort by (-adc, id)
                    order = np.lexsort((i, -a))[:topk]
                    a, i = a[order], i[order]
                best[qi] = (a, i)
        out = {"query_id": [], id_col: [], "adc": []}
        for qi, (a, i) in best.items():
            out["query_id"].extend([qids[qi]] * len(a))
            out[id_col].extend(i.tolist())
            out["adc"].extend(a.tolist())
        yield pd.DataFrame(out)

    part = encoded.mapInPandas(
        scan, schema=f"query_id long, {id_col} long, adc double"
    )
    return topk_by_score(part, topk, item=id_col, score="adc", out="adc").orderBy("query_id", "rk")


# --- IVF cells and SRP bands: candidate search + exact cosine rerank -------
#
# One path for the in-session gates (fit or sketch, then probe within
# the session) and the persisted index (operators/ann_store.py, which
# passes its stored centroids / SRP config). Every kernel takes the
# trained state or config as plain arguments and unit-prepped rows
# (vec_id, emb, nrm from :func:`unit_prep`), so it cannot tell a
# persisted table from a session frame.


def centroid_frame(spark, centroids: list[list[float]]) -> DataFrame:
    """(cid, cemb, cnrm): the driver-side centroid matrix as a small
    in-memory frame, cells numbered 0..k-1, norms computed once."""
    cent = spark.createDataFrame(
        [(ci, [float(x) for x in c]) for ci, c in enumerate(centroids)],
        "cid long, cemb array<double>",
    )
    cnrm = F.sqrt(F.aggregate(F.col("cemb"), F.lit(0.0), lambda s, v: s + v * v))
    return cent.select("cid", "cemb", cnrm.alias("cnrm"))


def rank_cells(prep: DataFrame, centp: DataFrame, id_col: str, n_keep: int) -> DataFrame:
    """(id, emb, nrm, cid) for each row's n_keep most-cosine-similar
    cells, ties to the lowest cid: broadcast the (tiny) centroid frame,
    window-rank per row. Pure codegen — one dot product per (row, cell).
    n_keep=1 is the cell assignment, n_keep=n_probe the query probe."""
    csim = (
        dot(F.col("emb"), F.col("cemb")) / F.nullif(F.col("nrm") * F.col("cnrm"), F.lit(0.0))
    ).alias("csim")
    w = Window.partitionBy(id_col).orderBy(F.desc("csim"), F.asc("cid"))
    return (
        prep.crossJoin(F.broadcast(centp))
        .select(id_col, "emb", "nrm", "cid", csim)
        .withColumn("crk", F.row_number().over(w))
        .filter(F.col("crk") <= n_keep)
        .select(id_col, "emb", "nrm", "cid")
    )


def topk_by_score(
    scored: DataFrame,
    k: int,
    part: str = "query_id",
    item: str = "vec_id",
    score: str = "raw_score",
    out: str = "score",
) -> DataFrame:
    """(part, item, out, rk): the ``k`` highest-``score`` rows per
    ``part`` value, ranked 1..k by ROW_NUMBER with ties to the lowest
    ``item``, the score rounded to 6dp as ``out``. The rank window sits
    directly under the filter, so Spark plans it as a WindowGroupLimit."""
    w = Window.partitionBy(part).orderBy(F.desc(score), F.asc(item))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(part, item, F.round(score, 6).alias(out), "rk")
    )


def cosine_rerank(cand: DataFrame, topk: int) -> DataFrame:
    """(query_id, vec_id, score, rk): exact cosine top-k over candidate
    (query, stored vector) pairs — columns query_id/q_emb/q_nrm and
    vec_id/emb/nrm — ties to the lowest vec_id, score rounded to 6dp."""
    scored = cand.select(
        "query_id",
        "vec_id",
        (dot(F.col("q_emb"), F.col("emb")) / F.nullif(F.col("q_nrm") * F.col("nrm"), F.lit(0.0))).alias("raw_score"),
    )
    return topk_by_score(scored, topk).orderBy("query_id", "rk")


def ivf_probe_topk(
    cells: DataFrame, queries: DataFrame, centp: DataFrame, topk: int, n_probe: int
) -> DataFrame:
    """(query_id, vec_id, score, rk): exact cosine top-k within the
    n_probe cells nearest each query. ``cells`` is (vec_id, emb, nrm,
    cid) — :func:`rank_cells` with n_keep=1; ``queries`` is (query_id,
    emb, nrm). The candidate set shrinks by ~cells/probes and the cell
    id keys the join; self-matches are excluded."""
    probes = rank_cells(queries, centp, "query_id", n_probe).select(
        "query_id", F.col("emb").alias("q_emb"), F.col("nrm").alias("q_nrm"), "cid"
    )
    cand = probes.join(cells, "cid").filter(F.col("vec_id") != F.col("query_id"))
    return cosine_rerank(cand, topk)


def _srp_signs(p: int, dim: int) -> list[int]:
    """Deterministic ±1 hyperplane p (Knuth-multiply hash — linear
    correlation between planes is fine for bucket-then-rerank; see
    :func:`rp_signs` for the isometry-grade mixer)."""
    return [
        1 if ((p * dim + d) * 2654435761 % 4294967296) >> 31 else -1
        for d in range(dim)
    ]


def srp_sketch_col(emb: Column, planes: int, dim: int) -> Column:
    """planes-bit SRP sketch as a long: bit p = (dot(emb, plane_p) >= 0)."""
    dbl = F.transform(emb, lambda x: x.cast("double"))
    bits = None
    for p in range(planes):
        signs = F.array(*[F.lit(float(s)) for s in _srp_signs(p, dim)])
        bit = F.when(dot(dbl, signs) >= 0, F.lit(1 << p)).otherwise(F.lit(0))
        bits = bit if bits is None else bits + bit
    return bits.cast("long")


def srp_band_rows(sk: DataFrame, planes: int, bands: int) -> DataFrame:
    """(vec_id, emb, nrm, band, bv): one row per (vector, band) of a
    sketched frame (vec_id, emb, nrm, sketch) — band b holds sketch bits
    [b * planes/bands, (b + 1) * planes/bands)."""
    band_bits = planes // bands
    return sk.select(
        "vec_id",
        "emb",
        "nrm",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright("sketch", band_bits * b)
                        .bitwiseAND(F.lit((1 << band_bits) - 1))
                        .alias("bv"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("b"),
    ).select("vec_id", "emb", "nrm", "b.band", "b.bv")


def srp_band_topk(qbands: DataFrame, bands: DataFrame, topk: int) -> DataFrame:
    """(query_id, vec_id, score, rk): exact cosine rerank of the band
    rows sharing >= 1 band value with a query's band rows (both sides
    from :func:`srp_band_rows`). The band join keys the shuffle;
    candidates dedup before scoring; self-matches are excluded."""
    qb = qbands.select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
        "band",
        "bv",
    )
    cand = (
        qb.join(bands, ["band", "bv"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "q_emb", "q_nrm", "vec_id", "emb", "nrm")
        .distinct()
    )
    return cosine_rerank(cand, topk)


def semantic_dedup(
    e: DataFrame,
    threshold: float = 0.4,
    k: int | None = None,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    target_cell: int = 512,
    max_cell_rows: int | None = None,
    max_k: int = 4096,
    fit_sample_frac: float | None = None,
) -> DataFrame:
    """Embedding-space near-duplicate dedup, end to end: trained-cell
    blocking (kmeans_fit/assign) → in-cell BLAS cosine pairs ≥ threshold
    → O(log n) connected components → one representative per cluster
    (the minimum id — the component label itself).

    Returns one row PER INPUT vector: (id, cluster, keep) with keep = 1
    exactly when the vector is its cluster's representative (singletons
    keep themselves). This is the decision table a curation pipeline
    joins against to drop semantic duplicates — the embedding-space
    sibling of MinHash dedup, and every stage is the keyed/blocked
    formulation that scales: no all-pairs scan, shuffles keyed on cell
    then on node id.

    ``k`` defaults to n / target_cell (capped at ``max_k``): with a FIXED
    cell count, cell size grows with the corpus and the in-cell pair
    scan is O(n^2 / k) — measured super-linear in the sf0.1->sf3 sweep.
    Scaling the cell count keeps per-cell work bounded, so total pair
    work grows ~linearly; the kmeans fit itself is O(n * k * d) per
    iter, which the cap bounds (beyond it, fit on a sample).

    ``max_cell_rows`` (optional) additionally bounds the WORST-CASE
    task via :func:`cell_cosine_pairs_blocked` — adaptive k bounds the
    expected cell size, the grid bounds a pathological hot cell."""
    from rspl_spark.operators.dedup import connected_components_star

    # ``fit_sample_frac`` lets a caller trade centroid placement noise
    # for fit cost even BELOW the cap (the fit is O(rows * k * d); at
    # the sf10 operating point — adaptive k=390 over 200k vectors — a
    # 1/8 sample cuts the fit 91.3s -> 29.9s at +0.64% inertia, see
    # DEVNOTES round 8). Default None keeps the exact fit so gate
    # hashes are byte-stable.
    fit_frac = fit_sample_frac
    n = None
    if k is None:
        # cap: the Lloyd fit is O(rows * k * d) per iteration — past
        # max_k the fit itself becomes the bottleneck (a k=4096 fit
        # over 500k 64-d vectors is ~131 GFLOP per pass). Beyond the
        # cap, fit on a deterministic hash-sample sized to the corpus
        # where k first hit the cap (max_k * target_cell rows) — the
        # fit cost stays CONSTANT as the corpus grows while assignment
        # still covers every vector; sampling only adds centroid
        # placement noise (parity-tested in tests/test_kmeans.py).
        n = e.count()
        desired = max(8, n // target_cell)
        k = min(max_k, desired)
        if desired > max_k:
            fit_frac = max_k * target_cell / n
    cents = kmeans_fit(e, vec_col, id_col, k, iters, sample_frac=fit_frac)
    assign = kmeans_assign(e, cents, vec_col, id_col).select(id_col, "cid")
    prepped = unit_prep(e, id_col, "emb", "nrm", vec_col, id_col).join(assign, id_col)
    # n (when the adaptive-k path counted) makes the kernel's
    # parallelism pin scale-aware: small corpora skip the extra
    # repartition, large ones pin capped at the cell count
    if max_cell_rows is not None:
        pairs = cell_cosine_pairs_blocked(
            prepped, max_cell_rows, min_raw=threshold - 1e-6, id_col=id_col,
            est_rows=n,
        )
    else:
        pairs = cell_cosine_pairs(
            prepped, min_raw=threshold - 1e-6, id_col=id_col,
            est_rows=n, n_cells=k,
        )
    edges = (
        pairs.select(
            F.col(f"{id_col}_a").alias("doc_a"),
            F.col(f"{id_col}_b").alias("doc_b"),
            F.round("raw_score", 6).alias("score"),
        )
        .filter(F.col("score") >= threshold)
    )
    cc = connected_components_star(edges)
    return (
        e.select(id_col)
        .join(cc.withColumnRenamed("doc_id", id_col), id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("cluster"), F.col(id_col)).alias("cluster"),
        )
        .withColumn(
            "keep", (F.col("cluster") == F.col(id_col)).cast("long")
        )
    )


# --- Random projection (Johnson-Lindenstrauss) ------------------------------


def rp_signs(j: int, in_dim: int) -> list[int]:
    """Deterministic ±1 row j of the projection matrix via the
    splitmix64 finalizer (full avalanche). The SRP planes' single
    Knuth-multiply hash is LINEAR in the index, which leaves rows of
    the matrix correlated — fine for bucketing-then-rerank, fatal for
    an isometry (measured distance ratio 0.54 instead of ~1). Signs are
    generated driver-side and baked as literals into both the Spark
    expression and the oracle SQL, so the mixer needs no SQL replay."""
    M = (1 << 64) - 1

    def mix(x: int) -> int:
        x = (x + 0x9E3779B97F4A7C15) & M
        x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & M
        x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & M
        return x ^ (x >> 31)

    return [1 if mix(j * in_dim + i) & 1 else -1 for i in range(in_dim)]


def random_projection(
    df: DataFrame,
    out_dim: int,
    in_dim: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """JL dimensionality reduction: project each vector onto ``out_dim``
    deterministic ±1 directions, scaled by 1/sqrt(out_dim) so expected
    pairwise distances are preserved (Johnson & Lindenstrauss 1984;
    Achlioptas 2003 for the ±1 construction — concept attributions).

    Pure codegen: out_dim zip_with/aggregate dot products against
    literal sign vectors — a narrow projection, no Python, no shuffle.
    The cheap first stage before PQ/IVF when the raw dimensionality
    itself is the cost driver: 64 -> 16 dims quarters every downstream
    distance computation and the codebook sizes."""
    dbl = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    scale = 1.0 / float(np.sqrt(out_dim))
    comps = []
    for j in range(out_dim):
        signs = F.array(*[F.lit(float(s)) for s in rp_signs(j, in_dim)])
        comps.append(dot(dbl, signs) * F.lit(scale))
    return df.select(id_col, F.array(*comps).alias("projected"))


# --- PCA top component: distributed covariance + power iteration ------------


def pca_power_fit(
    df: DataFrame,
    iters: int = 3,
    vec_col: str = "embedding",
) -> tuple[list[float], list[float]]:
    """(mean, top principal direction) via ONE covariance pass + driver
    power iteration.

    The pass emits per-partition (Σx, Σxxᵀ, n) partials — d + d² floats
    per partition — so the d×d covariance C = Σxxᵀ/n − μμᵀ lands on the
    driver in a single narrow scan (fits comfortably to d ≈ a few
    thousand; beyond that the matvec itself must distribute, a different
    regime). Power iteration then runs driver-side from the fixed
    all-ones/√d start — a deterministic sequence with NO eigenvector
    sign ambiguity, which is what makes the SQL oracle replay possible
    (an eigh-based fit is sign/order-ambiguous across engines). The
    returned direction is unit-norm after ``iters`` un-normalized
    multiplies (values scale like λ^iters — safe for small iters).
    """
    first = df.select(F.size(vec_col)).first()
    if first is None:
        raise ValueError("pca_power_fit: empty input")
    d = first[0]

    def partials(batches):
        sx = np.zeros(d)
        sxx = np.zeros((d, d))
        n = 0
        for pdf in batches:
            if not len(pdf):
                continue
            M = np.stack(pdf.iloc[:, 0].to_numpy()).astype(np.float64)
            sx += M.sum(axis=0)
            sxx += M.T @ M
            n += len(M)
        if n:
            yield pd.DataFrame({"sx": [sx.tolist()], "sxx": [sxx.ravel().tolist()], "n": [n]})

    parts = (
        df.select(vec_col)
        .mapInPandas(partials, "sx array<double>, sxx array<double>, n long")
        .collect()
    )
    sx = np.zeros(d)
    sxx = np.zeros((d, d))
    n = 0
    for r in parts:
        sx += np.asarray(r["sx"])
        sxx += np.asarray(r["sxx"]).reshape(d, d)
        n += r["n"]
    if n == 0:
        raise ValueError("pca_power_fit: empty input")
    mu = sx / n
    cov = sxx / n - np.outer(mu, mu)
    v = np.full(d, 1.0 / np.sqrt(d))
    for _ in range(iters):
        v = cov @ v
    v = v / np.linalg.norm(v)
    return [float(x) for x in mu], [float(x) for x in v]


def pca_project(
    df: DataFrame,
    mean: list[float],
    component: list[float],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, proj): centered projection onto the component — one codegen
    dot against literals minus a constant shift (μ·v̂), narrow, no
    Python in the plan."""
    dbl = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    comp = F.array(*[F.lit(float(c)) for c in component])
    shift = float(sum(m * c for m, c in zip(mean, component)))
    return df.select(id_col, (dot(dbl, comp) - F.lit(shift)).alias("proj"))


def int8_encode(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, codes array<tinyint>, scale double): symmetric per-vector
    max-abs scalar quantization — scale = max|x|/127, code = round(x/scale)
    (floor(x/scale + 0.5): Spark's HALF_UP round and DuckDB's differ at
    exact .5, the floor form is engine-identical). The 4x memory
    compression path for ANN candidate scoring: codes are one byte per
    dimension and the candidate dot product becomes exact integer
    arithmetic. Zero vectors quantize to NULL (scale would be 0).
    """
    dbl = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    scale = F.nullif(
        F.array_max(F.transform(dbl, lambda x: F.abs(x))) / 127.0, F.lit(0.0)
    )
    staged = df.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("_v"), scale.alias("scale")
    )
    codes = F.transform(
        F.col("_v"),
        lambda x: F.floor(x.cast("double") / F.col("scale") + 0.5).cast("tinyint"),
    )
    # NULL scale would otherwise yield an array OF nulls — collapse it so
    # the zero-vector contract is a NULL codes column, not [NULL, ...].
    return staged.select(
        "id", F.when(F.col("scale").isNotNull(), codes).alias("codes"), "scale"
    )


def int8_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    candidates: int = 32,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Quantized ANN search: rank candidates by the EXACT-INTEGER dot of
    int8 codes (deterministic across engines — no float accumulation in
    the selection step), keep ``candidates`` per query, then rerank those
    with the exact float cosine. Output (query_id, vec_id, score, rk),
    rk <= k by (cosine desc, vec_id), score rounded to 6dp.

    Scale shape: the corpus is scanned as CODES ONLY (1 byte/dim — 4x
    less than float32 off disk and through memory); the query codes
    broadcast; candidate selection is a per-partition integer kernel +
    one WindowGroupLimit; only the surviving candidates x queries rows
    (<= |Q|*candidates) fetch float vectors for the rerank join.
    Self-matches (same id) are excluded.
    """
    if k > candidates:
        raise ValueError("int8_topk: k must be <= candidates")
    cc = (
        int8_encode(corpus, vec_col, id_col)
        .filter(F.col("scale").isNotNull())
        .select(F.col("id").alias("cid"), F.col("codes").alias("ccodes"))
    )
    qc = (
        int8_encode(queries, vec_col, id_col)
        .filter(F.col("scale").isNotNull())
        .select(F.col("id").alias("qid"), F.col("codes").alias("qcodes"))
    )
    # tinyint*tinyint would stay in byte range under ANSI — promote to int
    # per term, accumulate exact in long (|dot| <= dim * 127^2).
    int_dot = F.aggregate(
        F.zip_with(
            F.col("ccodes"), F.col("qcodes"), lambda a, b: a.cast("int") * b.cast("int")
        ),
        F.lit(0).cast("long"),
        lambda s, v: s + v.cast("long"),
    )
    wc = Window.partitionBy("qid").orderBy(F.desc("int_dot"), F.asc("cid"))
    cand = (
        cc.join(F.broadcast(qc), F.col("cid") != F.col("qid"))
        .select("qid", "cid", int_dot.alias("int_dot"))
        .withColumn("crk", F.row_number().over(wc))
        .filter(F.col("crk") <= candidates)
        .select("qid", "cid")
    )
    a = unit_prep(corpus, "cid", "a_emb", "a_nrm", vec_col, id_col)
    b = unit_prep(queries, "qid", "b_emb", "b_nrm", vec_col, id_col)
    scored = (
        cand.join(a, "cid")
        .join(F.broadcast(b), "qid")
        .select(
            F.col("qid").alias("query_id"),
            F.col("cid").alias("vec_id"),
            (
                dot(F.col("a_emb"), F.col("b_emb"))
                / F.nullif(F.col("a_nrm") * F.col("b_nrm"), F.lit(0.0))
            ).alias("raw_score"),
        )
    )
    return topk_by_score(scored, k)
