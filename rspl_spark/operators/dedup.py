"""Deduplication operators (SURVEY.md §2.2 LLM extensions): exact,
MinHash+LSH, SimHash, n-gram Jaccard. Reusable API over any DataFrame
with (id, text) — the oracle-gated queries in rspl_spark.queries.llm_ops
are thin bindings of these to the testdata.

Portability device shared with the DuckDB oracles: H(s) = bigint of the
first 15 hex chars of md5(s) — identical in Spark (`conv`) and DuckDB
(`CAST('0x'||... AS BIGINT)`).

Scale design:
- signatures are per-row scalar expressions (no explode → no row blowup);
  md5 runs once per TOKEN (see with_hashed_shingles note);
- LSH banding turns O(n²) pair search into an equi-join keyed on
  (band, hash) — uniform shuffle distribution;
- the exact-Jaccard verifier is the post-filter you run on LSH candidates
  at scale, not on the full corpus.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType, StringType

MERSENNE_P = 2147483647  # 2^31 - 1

MINHASH_COEFS = [
    (1000000007, 12345),
    (998244353, 54321),
    (769230769, 98765),
    (611949517, 13579),
    (500000003, 24680),
    (370000037, 11111),
    (299999977, 77777),
    (199999991, 55555),
]

_SH_C1 = 1000003
_SH_C2 = 999983


def portable_hash(col: Column) -> Column:
    """60-bit deterministic hash identical in Spark and DuckDB."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def string_shingles(col: Column, k: int = 3) -> Column:
    """Distinct word k-shingles as array<string> (explode-once paths)."""
    toks = F.split(F.trim(col), r"\s+")
    n = F.size(toks)
    idx = F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, k)))
    )


def shingle_combine(th: Column) -> Column:
    """Combine a token-hash array COLUMN into distinct 3-window shingle
    hashes. ``th`` must be a materialized column reference — Spark does
    not CSE subexpressions inside higher-order-function lambdas, so
    passing the hash-array expression re-evaluates it per element_at →
    O(tokens²) md5 calls (measured 7x slowdown at sf0.1)."""
    n = F.size(th)
    idx = F.sequence(F.lit(1), F.greatest(n - 2, F.lit(1)))
    return F.array_distinct(
        F.transform(
            idx,
            lambda i: (
                F.element_at(th, i) * _SH_C1
                + F.coalesce(F.try_element_at(th, i + 1), F.lit(0).cast("long")) * _SH_C2
                + F.coalesce(F.try_element_at(th, i + 2), F.lit(0).cast("long"))
            )
            % MERSENNE_P,
        )
    )


def with_hashed_shingles(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, sh): staged projections — token hashes materialized as a
    column between stages so md5 runs once per token (CollapseProject
    keeps multi-use non-cheap producers separate).

    NULL-text docs are EXCLUDED (no content, no shingles): their hash
    array is NULL, which the minhash fold's least() would silently skip
    — every contentless doc would share the INIT signature and
    near-dup-match every other one."""
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    th = F.transform(toks, lambda t: portable_hash(t) % MERSENNE_P)
    return (
        df.filter(F.col(text_col).isNotNull())
        .select(id_col, th.alias("th"))
        .select(id_col, shingle_combine(F.col("th")).alias("sh"))
    )


def minhash_sig(hashes: Column) -> Column:
    """All k minhash slots in ONE aggregate pass over the hashed shingle
    array (one traversal; expressing each slot separately re-evaluates
    the array k times)."""
    init = F.array(*[F.lit(MERSENNE_P).cast("long")] * len(MINHASH_COEFS))
    return F.aggregate(
        hashes,
        init,
        lambda acc, h: F.array(
            *[
                F.least(F.element_at(acc, j + 1), (F.lit(a) * h + F.lit(b)) % MERSENNE_P)
                for j, (a, b) in enumerate(MINHASH_COEFS)
            ]
        ),
    )


def minhash_cols(sig_arr: Column) -> list[Column]:
    return [F.element_at(sig_arr, j + 1).alias(f"mh{j}") for j in range(len(MINHASH_COEFS))]


def minhash_signatures(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, mh0..mh7) MinHash signature table."""
    return (
        with_hashed_shingles(df, text_col, id_col)
        .select(id_col, minhash_sig(F.col("sh")).alias("sig"))
        .select(id_col, *minhash_cols(F.col("sig")))
    )


def lsh_candidate_pairs(
    sig: DataFrame, id_col: str = "doc_id", n_bands: int = 4, threshold: float | None = None
) -> DataFrame:
    """Near-dup pairs via LSH banding over an 8-slot signature table.

    Bands carry the FULL signature so the (band, h1, h2) self-join yields
    both sides' signatures in one shuffle; pairs colliding in multiple
    bands dedup in the final agg. Returns (doc_a, doc_b, est_jaccard).
    """
    n_slots = len(MINHASH_COEFS)
    if n_slots % n_bands:
        raise ValueError(f"n_bands={n_bands} must divide the {n_slots} signature slots")
    per_band = n_slots // n_bands
    # One explode instead of an n_bands-way union: the union form repeats
    # the (expensive) signature expression subtree once per band — n_bands×
    # the planning work and, uncached, n_bands× the runtime signature
    # computation. Exploding an array of (band, key) structs keeps a
    # single signature subtree and one pass over the rows. The band key
    # concatenates ALL of the band's per_band slots (values are integers,
    # so ':'-joined strings are collision-free) — every n_bands dividing
    # the slot count works, not just the two-slot default.
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    ":", *[F.col(f"mh{per_band * b + i}") for i in range(per_band)]
                ).alias("bkey"),
            )
            for b in range(n_bands)
        ]
    )
    # NULL signatures (NULL/empty text -> every mh slot NULL) must not
    # band: concat_ws SKIPS NULLs, so all such docs would share the ''
    # band key in every band — m contentless docs producing m² bogus
    # candidate pairs on a dirty corpus
    sig = sig.filter(F.col("mh0").isNotNull())
    bands = sig.select(
        F.col(id_col).alias("doc_id"),
        *[f"mh{j}" for j in range(n_slots)],
        F.explode(band_structs).alias("_b"),
    ).select(
        "doc_id",
        *[f"mh{j}" for j in range(n_slots)],
        F.col("_b.band").alias("band"),
        F.col("_b.bkey").alias("bkey"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    matches = sum(
        F.when(F.col(f"a.mh{j}") == F.col(f"b.mh{j}"), 1).otherwise(0)
        for j in range(n_slots)
    )
    out = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            (matches / F.lit(float(n_slots))).alias("est_raw"),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.round(F.max("est_raw"), 6).alias("est_jaccard"))
    )
    if threshold is not None:
        out = out.filter(F.col("est_jaccard") >= threshold)
    return out


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Content-hash grouping; keeper = min id. (hash, keeper_id, n_copies).

    NULL text rows are EXCLUDED: md5(NULL) is NULL and groupBy treats
    NULLs as equal, so documents with MISSING content would otherwise
    cluster as exact copies of each other and be deduplicated away."""
    return (
        df.filter(F.col(text_col).isNotNull())
        .select(id_col, F.md5(F.col(text_col)).alias("h"))
        .groupBy("h")
        .agg(F.min(id_col).alias("keeper_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def duplicated_shingle_fraction(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document fraction of its distinct word 3-shingles that also
    occur in at least one OTHER document — the corpus-level signal behind
    exact-substring deduplication (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"), at shingle granularity:
    a document whose shingles are mostly shared is boilerplate or a
    near-copy even when no single pair-join candidate fires.

    Shape: explode distinct shingles once, count distinct docs per
    shingle (shuffle keyed on shingle — uniform unless one shingle
    dominates the corpus), join back, re-aggregate per doc. Both
    aggregations are partial-agg friendly; nothing is quadratic.
    """
    # localCheckpoint: the exploded shingle table feeds both the per-
    # shingle doc counts and the probe side of the join below; without
    # materialization the split/transform/explode runs twice per query
    # (same rationale as ngram_jaccard_pairs). eager=False so merely
    # BUILDING the query (explain, plan dumps) doesn't execute the scan.
    sh = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(string_shingles(F.col(text_col))).alias("s"),
    ).localCheckpoint(eager=False)
    # count(*), NOT countDistinct: string_shingles array_distincts per
    # doc, so (s, doc_id) pairs are already unique and the values are
    # equal — but countDistinct plans an expand + extra aggregation
    # phase over the corpus-sized shingle table (measured 90s -> 42s at
    # sf10 for the whole op).
    docs_per = sh.groupBy("s").agg(F.count(F.lit(1)).alias("nd"))
    return (
        sh.join(docs_per, "s")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.when(F.col("nd") > 1, 1).otherwise(0)).alias("n_shared"),
        )
        .select(
            "doc_id",
            F.col("n_shingles").cast("long").alias("n_shingles"),
            F.col("n_shared").cast("long").alias("n_shared"),
            F.round(
                F.col("n_shared").cast("double") / F.col("n_shingles"), 6
            ).alias("shared_frac"),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_jaccard: float = 0.1,
    candidates: DataFrame | None = None,
    allow_quadratic: bool = False,
) -> DataFrame:
    """Exact pairwise word-shingle Jaccard ≥ min_jaccard (the verifier).

    Pass ``candidates`` — a (doc_a, doc_b) frame, normally the LSH
    banding output — to verify ONLY those pairs: two keyed joins, work
    linear in candidate-pair shingles. Without candidates the op is the
    full shingle self-join, whose output is quadratic in per-shingle
    document counts (measured divergent at sf10 on the collision-dense
    synthetic corpus — could not finish), so that path now requires
    ``allow_quadratic=True``, the exact_scored_pairs contract."""
    if candidates is None and not allow_quadratic:
        raise ValueError(
            "ngram_jaccard_pairs without candidates is an all-pairs "
            "shingle self-join (quadratic in per-shingle doc counts); "
            "pass candidates=<LSH pairs> or allow_quadratic=True"
        )
    # localCheckpoint, not cache(): the shingle table is read three times
    # (sizes + both join sides) and a per-call cache() entry is never
    # unpersisted — in a long-lived session each invocation would pin
    # another copy. Checkpoint blocks are released when the DataFrame is
    # garbage-collected (ContextCleaner), so this is self-limiting.
    # eager=False: building the query (explain, plan dumps) must not
    # execute the scan.
    sh = df.select(
        F.col(id_col).alias("doc_id"), F.explode(string_shingles(F.col(text_col))).alias("s")
    ).localCheckpoint(eager=False)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    if candidates is not None:
        # candidate-driven: shingles of doc_a joined to doc_b's on the
        # shingle value, keyed by the pair — pairs with no common
        # shingle drop out here, correctly (their jaccard is 0).
        # Canonicalize FIRST: a reversed (b, a) duplicate or a self
        # pair (a, a) in the input would survive the raw distinct()
        # as a doubled or jaccard=1 row; least/greatest + the <
        # filter enforce the same doc_a < doc_b orientation the
        # all-pairs path gets from its join condition.
        cand = (
            candidates.select(
                F.least("doc_a", "doc_b").alias("doc_a"),
                F.greatest("doc_a", "doc_b").alias("doc_b"),
            )
            .filter(F.col("doc_a") < F.col("doc_b"))
            .distinct()
        )
        pa = cand.join(
            sh.select(F.col("doc_id").alias("doc_a"), F.col("s")), "doc_a"
        )
        inter = (
            pa.join(
                sh.select(F.col("doc_id").alias("doc_b"), F.col("s")),
                ["doc_b", "s"],
            )
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("n_common"))
        )
    else:
        a, b = sh.alias("a"), sh.alias("b")
        inter = (
            a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
            .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
            .agg(F.count(F.lit(1)).alias("n_common"))
        )
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    jac = F.col("n_common").cast("double") / (F.col("sa.n") + F.col("sb.n") - F.col("n_common"))
    return (
        inter.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .filter(jac >= min_jaccard)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


def connected_components(
    edges: DataFrame, src: str = "doc_a", dst: str = "doc_b", max_iters: int = 20
) -> DataFrame:
    """(doc_id, cluster) — cluster = min doc_id reachable through the
    (undirected) edge set. The keep-one-per-cluster step after near-dup
    pair mining.

    Iterative min-label propagation with a driver-side fixpoint check:
    per iteration one join + one agg, both keyed on node id. Label
    propagation advances ONE HOP per iteration, so iterations ~ graph
    diameter — fine for shallow near-dup clusters; for deep/chain-shaped
    graphs use :func:`connected_components_star` (O(log n) rounds).

    Lineage is truncated with localCheckpoint every 3 iterations (a
    cached-only loop re-grows the plan tree each round and eventually
    overwhelms the optimizer); non-convergence at max_iters raises a
    warning instead of silently splitting clusters.
    """
    from pyspark.sql import functions as F

    und = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionByName(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
    )
    und.cache()
    labels = (
        und.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("comp", F.col("node"))
    )
    changed = 0
    for i in range(max_iters):
        nbr_min = (
            und.join(labels, und.b == labels.node)
            .groupBy(F.col("a").alias("node2"))
            .agg(F.min("comp").alias("nbr_comp"))
        )
        new_labels = (
            labels.join(nbr_min, labels.node == F.col("node2"), "left")
            .select(
                "node",
                F.least(F.col("comp"), F.coalesce(F.col("nbr_comp"), F.col("comp"))).alias(
                    "comp"
                ),
            )
        )
        if (i + 1) % 3 == 0:
            new_labels = new_labels.localCheckpoint(eager=False)
        else:
            new_labels.cache()
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), F.col("n.node") == F.col("o.node"))
            .filter(F.col("n.comp") != F.col("o.comp"))
            .limit(1)
            .count()
        )
        # the fixpoint check above was the last reader of the PREVIOUS
        # labels — release it, or every iteration pins another snapshot
        # in executor storage for the job's lifetime
        if i > 0:
            labels.unpersist()
        labels = new_labels
        if changed == 0:
            break
    und.unpersist()
    if changed != 0:
        import warnings

        warnings.warn(
            f"connected_components did not converge in {max_iters} iterations; "
            "clusters deeper than the iteration budget are split. Use "
            "connected_components_star (O(log n) rounds) for deep graphs.",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels.select(F.col("node").alias("doc_id"), F.col("comp").alias("cluster"))


# Size gate for the driver union-find fast path. MEASURED, not guessed
# (docs/bench/r16_cc_path_ab.json — interleaved A/B on mixed
# chain+cluster graphs, noop sink, median of 3): the driver path wins
# 5.0x at 10k edges, 4.3x at 65k, 3.9x at 262k, and still 2.9x at 1M
# (the trend converges toward inversion somewhere above that). The
# default stops at 262144 — ~4 MB of long pairs, broadcast-class bytes
# even for string ids — rather than the largest measured win, because
# the collect's byte size scales with id width the edge count cannot
# see. 0 disables the fast path.
_CC_DRIVER_MAX_EDGES = 262144


def _cc_union_find_driver(e: DataFrame) -> DataFrame:
    """Exact min-label connected components of a SMALL canonical edge
    frame (columns u, v; no self-loops), computed driver-side by
    union-find with path compression. Returns the same (doc_id,
    cluster) rows the star fixpoint yields: one row per node appearing
    in any edge, labeled with its component's minimum id. Driver memory
    and the rows pickled back through createDataFrame grow with the
    edge count, which ``_CC_DRIVER_MAX_EDGES`` bounds."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for row in e.collect():
        u, v = row[0], row[1]
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[ru] = rv
    comp_min: dict = {}
    roots = {x: find(x) for x in parent}
    for x, r in roots.items():
        m = comp_min.get(r)
        if m is None or x < m:
            comp_min[r] = x
    out_rows = [(x, comp_min[roots[x]]) for x in sorted(parent)]
    from pyspark.sql.types import StructField, StructType

    fields = e.schema.fields
    schema = StructType(
        [
            StructField("doc_id", fields[0].dataType, True),
            StructField("cluster", fields[1].dataType, True),
        ]
    )
    return e.sparkSession.createDataFrame(out_rows, schema)


def connected_components_star(
    edges: DataFrame, src: str = "doc_a", dst: str = "doc_b", max_iters: int = 30
) -> DataFrame:
    """(doc_id, cluster) by alternating large-star / small-star rounds —
    the two-phase MapReduce CC algorithm (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14). Reach roughly DOUBLES
    per round, so a diameter-d graph converges in O(log d) rounds where
    plain label propagation needs d — the scale path for chain-shaped
    near-dup graphs (a 1000-node chain converges in ~12 rounds, see
    tests/test_scale_patterns.py).

    large-star: every node u links its LARGER neighbors to
    m = min(N(u) ∪ {u});  small-star: every node links its smaller
    neighbors (and itself) to the minimum. Both are one groupBy + one
    join keyed on node id; the edge set stays within a constant factor
    of the input. Fixpoint when the (canonical, deduped) edge set stops
    changing; at that point edges form stars (node → component min).

    Self-loops in the input are ignored (an id paired only with itself
    does not appear in the output — LSH pair miners emit doc_a < doc_b,
    so this does not arise in the dedup pipeline).
    """
    e = (
        edges.select(
            F.greatest(F.col(src), F.col(dst)).alias("u"),
            F.least(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    n_edges = e.count()
    # SIZE-GATED driver fast path (r16, guide §1.2 step 1 — the gate
    # profile showed 3 star rounds over a 173-EDGE graph costing ~6s of
    # pure per-stage scheduling: ~5 shuffles + 2 jobs per round over
    # sub-KB data). Below the cutover the canonical edge set is
    # collected (bounded: 262144 edges ≈ 4 MB of long pairs — the
    # broadcast-threshold class, not a data-sized collect) and labeled
    # by exact union-find with min-id roots, which is BIT-IDENTICAL to
    # the star fixpoint (each node keyed to its component minimum —
    # integer labels, no floats, no ties). Above the cutover, or under
    # a small caller iteration budget (where the legacy path could
    # return a partial non-converged labeling that exact union-find
    # would NOT reproduce: star CC converges in ~log2(diameter) rounds
    # and diameter <= n_edges; on all measured graphs the legacy path
    # converges within a budget of log2(n_edges)+4, where the two
    # agree), the distributed path is byte-for-byte the one that always
    # ran. Only integral and string ids take the fast path: union-find
    # orders ids with Python's `<`, which matches Spark's ordering for
    # those but not for floats (Spark puts NaN above every number and
    # treats NaN = NaN; Python NaN comparisons are all False).
    # Crossover measured in docs/bench/r16_cc_path_ab.json
    # (``_CC_DRIVER_MAX_EDGES``; 0 disables).
    import math as _math

    _iters_safe = _math.ceil(_math.log2(max(n_edges, 2))) + 4
    if (
        isinstance(e.schema["u"].dataType, (IntegralType, StringType))
        and 0 < n_edges <= _CC_DRIVER_MAX_EDGES
        and max_iters >= _iters_safe
    ):
        return _cc_union_find_driver(e)
    converged = False
    for _ in range(max_iters):
        # large-star over symmetric neighborhoods: m ≤ a < b, so output
        # (b, m) keeps the larger→smaller orientation small-star expects.
        und = e.selectExpr("u as a", "v as b").unionByName(
            e.selectExpr("v as a", "u as b")
        )
        mins = und.groupBy("a").agg(F.min("b").alias("mb"))
        mins = mins.select("a", F.least(F.col("a"), F.col("mb")).alias("m"))
        ls = (
            und.join(mins, "a")
            .filter(F.col("b") > F.col("a"))
            .select(F.col("b").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star over the larger→smaller edges: every u links its
        # (all-smaller) neighbors and itself to their minimum.
        smins = ls.groupBy("u").agg(F.min("v").alias("m"))
        ss = (
            ls.join(smins, "u")
            .select(F.col("v").alias("nu"), F.col("m").alias("nv"))
            .unionByName(smins.select(F.col("u").alias("nu"), F.col("m").alias("nv")))
            .filter(F.col("nu") != F.col("nv"))
            .distinct()
            .selectExpr("nu as u", "nv as v")
            .localCheckpoint(eager=False)  # every round: truncate lineage
        )
        new_n = ss.count()
        if new_n == n_edges and ss.subtract(e).limit(1).count() == 0:
            e = ss
            converged = True
            break
        e, n_edges = ss, new_n
    if not converged and max_iters > 0 and n_edges > 0:
        import warnings

        warnings.warn(
            f"connected_components_star did not converge in {max_iters} rounds",
            RuntimeWarning,
            stacklevel=2,
        )
    # Fixpoint edges are stars node→root; roots label themselves.
    return (
        e.select(F.col("u").alias("doc_id"), F.col("v").alias("cluster"))
        .unionByName(e.select(F.col("v").alias("doc_id"), F.col("v").alias("cluster")))
        .distinct()
    )


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """32-bit SimHash per document: per-bit weighted vote of token hashes."""
    toks = F.array_distinct(F.split(F.trim(F.col(text_col)), r"\s+"))
    hs = F.transform(toks, portable_hash)

    def vote_bit(i: int):
        # closure factory, NOT a default-arg lambda: pyspark binds one
        # lambda variable per declared parameter, so a 3-param lambda
        # would turn `i` into a Column.
        mask = F.lit(1 << i)
        return F.aggregate(
            F.col("hs"),
            F.lit(0),
            lambda acc, h: acc + F.when((h.bitwiseAND(mask)) != 0, 1).otherwise(-1),
        )

    sh = None
    for i in range(32):
        bit = F.when(vote_bit(i) >= 0, F.lit(1 << i)).otherwise(F.lit(0))
        sh = bit if sh is None else sh + bit
    # NULL text has NO signature: the all-NULL vote would otherwise
    # collapse every contentless doc to simhash 0, clustering them with
    # each other and any genuine signature-0 document
    return df.select(id_col, hs.alias("hs")).select(
        id_col,
        F.when(F.col("hs").isNotNull(), sh).cast("long").alias("simhash"),
    )


def cdc_chunks(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    divisor: int = 8,
) -> DataFrame:
    """Content-defined chunking over word tokens (the FastCDC idea at
    token granularity): a chunk boundary falls AFTER any token whose
    portable hash ≡ 0 (mod ``divisor``), giving ~divisor-token average
    chunks whose boundaries depend only on content — an insertion shifts
    at most one chunk instead of re-aligning every fixed-width window.
    This is the exact-substring dedup primitive (Lee et al. 2022): dedup
    by chunk hash survives edits that fixed chunking does not.

    One narrow pass: the boundary computation is a per-row HOF pipeline
    (no shuffle), the row blowup is the inherent one-row-per-chunk.
    Output: (id, chunk_idx, chunk_hash, n_chunk_tokens).
    """
    if divisor < 1:
        raise ValueError("divisor must be >= 1")
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    base = df.select(F.col(id_col), toks.alias("_toks")).withColumn(
        "_h", F.transform(F.col("_toks"), lambda t: portable_hash(t) % MERSENNE_P)
    )
    n = F.size(F.col("_toks"))
    idx = F.sequence(F.lit(1), n)
    bounds = F.filter(idx, lambda i: F.element_at(F.col("_h"), i) % divisor == 0)
    starts = F.concat(F.array(F.lit(1)), F.transform(bounds, lambda b: b + 1))
    ends = F.concat(bounds, F.array(n))
    # equal-length by construction; only the LAST span can be empty
    # (boundary on the final token), so posexplode positions stay dense
    # after the start<=end filter
    spans = F.zip_with(starts, ends, lambda s, e: F.struct(s.alias("s"), e.alias("e")))
    chunk = F.array_join(
        F.slice(F.col("_toks"), F.col("_span.s"), F.col("_span.e") - F.col("_span.s") + 1),
        " ",
    )
    return (
        base.select(id_col, "_toks", F.posexplode(spans).alias("_pos", "_span"))
        .filter(F.col("_span.s") <= F.col("_span.e"))
        .select(
            id_col,
            F.col("_pos").cast("long").alias("chunk_idx"),
            F.md5(chunk).alias("chunk_hash"),
            (F.col("_span.e") - F.col("_span.s") + 1).cast("long").alias("n_chunk_tokens"),
        )
    )


def simhash_clusters(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sig: DataFrame | None = None,
) -> DataFrame:
    """Linear-output SimHash dedup: (doc_id, cluster, keep) — one row
    per document, keep = 1 iff the doc is its cluster's minimum id.

    Why this exists: materializing near-dup PAIRS is quadratic in the
    identical-signature group sizes — measured fatal at sf10, where the
    synthetic corpus's signature groups make hamming<=1 pair output
    explode into the billions while this formulation stays linear. The
    trick is to collapse identical signatures FIRST (one groupBy; a
    group is a clique, represented by its min id), mine hamming<=1
    edges only between DISTINCT signature values (two 16-bit bands,
    pigeonhole-exact for <=1 on the 32-bit hash; candidate space is
    distinct-signatures sized, not corpus sized), run O(log n)
    connected components over the representative graph, then broadcast
    the decision back through the signature — no in-clique pair is ever
    materialized. The cluster label is the component's minimum doc id.
    """
    sh = sig if sig is not None else simhash(df, text_col=text_col, id_col=id_col)
    # NULL signatures (NULL text) are excluded from clustering — they
    # would otherwise group as one NULL cluster (groupBy treats NULLs
    # as equal) and then silently vanish in the final USING join
    sh = sh.filter(F.col("simhash").isNotNull())
    sigs = sh.groupBy("simhash").agg(F.min(id_col).alias("rep"))
    bands = sigs.select(
        "simhash",
        "rep",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftright("simhash", 16 * i)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("bv"),
                    )
                    for i in range(2)
                ]
            )
        ).alias("b"),
    ).select("simhash", "rep", "b.band", "b.bv")
    a, b = bands.alias("a"), bands.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.rep") < F.col("b.rep")),
        )
        .filter(
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            )
            <= 1
        )
        .select(F.col("a.rep").alias("doc_a"), F.col("b.rep").alias("doc_b"))
        .distinct()
    )
    cc = connected_components_star(edges)
    rep_cluster = sigs.join(
        cc.withColumnRenamed("doc_id", "rep"), "rep", "left"
    ).select(
        "simhash", F.coalesce(F.col("cluster"), F.col("rep")).alias("cluster")
    )
    return (
        sh.join(rep_cluster, "simhash")
        .select(
            id_col,
            "cluster",
            (F.col("cluster") == F.col(id_col)).cast("long").alias("keep"),
        )
    )
