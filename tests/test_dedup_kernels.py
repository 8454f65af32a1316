"""Dedup kernel guards: the exact-Jaccard verifier's candidate path
(the scale formulation) vs the guarded full self-join."""

def test_jaccard_candidate_path_matches_full_join(spark):
    """The candidate-driven verifier (the scale path: verify LSH pairs
    only) equals the full self-join restricted to those pairs, and the
    unguarded full join now refuses without allow_quadratic."""
    import pytest
    from pyspark.sql import functions as F

    from rspl_spark.catalog import load
    from rspl_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
        ngram_jaccard_pairs,
    )

    d = load(spark, "/root/testdata/sf0.001", "documents").localCheckpoint()
    with pytest.raises(ValueError, match="allow_quadratic"):
        ngram_jaccard_pairs(d)

    cand = lsh_candidate_pairs(minhash_signatures(d), threshold=0.5).select(
        "doc_a", "doc_b"
    ).localCheckpoint()
    assert cand.count() > 0
    got = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in ngram_jaccard_pairs(d, min_jaccard=0.1, candidates=cand).collect()
    }
    full = ngram_jaccard_pairs(d, min_jaccard=0.1, allow_quadratic=True)
    want = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in full.join(cand, ["doc_a", "doc_b"], "semi").collect()
    }
    assert got == want
    assert len(got) > 0


def test_jaccard_candidates_canonicalized(spark):
    """ADVICE r6: reversed duplicates and self-pairs in the candidates
    frame must not yield doubled or jaccard=1 self rows — the candidate
    path canonicalizes to doc_a < doc_b before the shingle joins."""
    from rspl_spark.operators.dedup import ngram_jaccard_pairs

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again"),
            (2, "the quick brown fox jumps over the lazy dog again and often"),
        ],
        "doc_id long, text string",
    )
    messy = spark.createDataFrame(
        [(1, 2), (2, 1), (1, 1), (2, 2)], "doc_a long, doc_b long"
    )
    rows = ngram_jaccard_pairs(
        docs, min_jaccard=0.0, candidates=messy
    ).collect()
    assert len(rows) == 1
    assert (rows[0]["doc_a"], rows[0]["doc_b"]) == (1, 2)
    assert rows[0]["jaccard"] < 1.0


def test_null_text_not_clustered_as_duplicates(spark):
    """Review fixes: NULL-text documents must not cluster with each
    other — exact_dedup excludes them (md5(NULL) groups all of them
    together), LSH banding drops NULL signatures (concat_ws turns
    all-NULL slots into identical '' band keys), and simhash yields a
    NULL signature (not 0) that simhash_clusters excludes."""
    from pyspark.sql import functions as F

    from rspl_spark.operators.dedup import (
        exact_dedup,
        lsh_candidate_pairs,
        minhash_signatures,
        simhash,
        simhash_clusters,
    )

    rows = [(1, None), (2, None), (3, "real text here"), (4, "real text here")]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    ex = exact_dedup(df).collect()
    assert {(r["keeper_id"], r["n_copies"]) for r in ex} == {(3, 2)}

    pairs = lsh_candidate_pairs(minhash_signatures(df)).collect()
    assert {(r["doc_a"], r["doc_b"]) for r in pairs} == {(3, 4)}

    sh = {r["doc_id"]: r["simhash"] for r in simhash(df).collect()}
    assert sh[1] is None and sh[2] is None and sh[3] == sh[4]

    cl = simhash_clusters(df).collect()
    assert {r["doc_id"] for r in cl} == {3, 4}  # NULL docs excluded
    assert {r["cluster"] for r in cl} == {3}


def test_cc_driver_fast_path_parity_and_gating(spark):
    """r16 size-gated driver union-find in connected_components_star:
    bit-identical to the distributed star fixpoint (same (doc_id,
    cluster=min id) rows, same schema), engaged only under the edge
    cutover AND an iteration budget covering guaranteed star
    convergence (log2(n_edges)+4), disabled by conf 0."""
    import random

    from rspl_spark.operators.dedup import connected_components_star

    rng = random.Random(11)
    pairs = [(i, i + 1) for i in range(200)]  # chain: needs several rounds
    pairs += [
        (1000 + rng.randrange(40), 1000 + rng.randrange(40)) for _ in range(120)
    ]
    pairs += [(5000, 5000), (6000, 6001), (6001, 6000)]  # self-loop + dup
    df = spark.createDataFrame(pairs, "doc_a long, doc_b long")

    spark.conf.set("spark.rspl.ccDriverMaxEdges", "0")  # force distributed
    try:
        want_df = connected_components_star(df)
        want = sorted(map(tuple, want_df.collect()))
    finally:
        spark.conf.unset("spark.rspl.ccDriverMaxEdges")
    got_df = connected_components_star(df)  # default: fast path engaged
    got = sorted(map(tuple, got_df.collect()))
    assert got == want
    assert got_df.schema == want_df.schema
    # chain collapsed to one min-labeled cluster, self-loop-only node absent
    assert {c for d, c in got if d <= 200} == {0}
    assert all(d != 5000 for d, _ in got)
    # structural gating check: the fast path returns a local/RDD-backed
    # frame; a small iteration budget (<20) keeps the legacy distributed
    # path (exact union-find could otherwise mask a non-converged
    # labeling), whose plan is the star-rounds Union shape
    fast_plan = got_df._jdf.queryExecution().optimizedPlan().toString()
    slow_plan = connected_components_star(df, max_iters=5)._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD" in fast_plan or "LocalRelation" in fast_plan
    assert "Union" in slow_plan


def test_cc_float_ids_with_nan_stay_on_distributed_path(spark):
    """Float ids are gated off the driver union-find: Python's `<` and
    dict keys treat every NaN as distinct and unordered, while Spark
    treats NaN = NaN and orders it above every number. Default labels
    must equal the forced-distributed ones, NaN node included."""
    from rspl_spark.operators.dedup import connected_components_star

    nan = float("nan")
    pairs = [(1.0, 2.0), (2.0, nan), (nan, 5.0), (7.0, 8.0), (8.0, 9.5)]
    df = spark.createDataFrame(pairs, "doc_a double, doc_b double")

    def labels(out):
        # NaN != NaN in tuples: compare NaN as a sentinel string
        key = lambda x: "nan" if x != x else x  # noqa: E731
        return {(key(d), key(c)) for d, c in out.collect()}

    spark.conf.set("spark.rspl.ccDriverMaxEdges", "0")  # force distributed
    try:
        want = labels(connected_components_star(df))
    finally:
        spark.conf.unset("spark.rspl.ccDriverMaxEdges")
    spark.conf.set("spark.rspl.ccDriverMaxEdges", "1000000")  # size gate open
    try:
        default = connected_components_star(df)
        got = labels(default)
    finally:
        spark.conf.unset("spark.rspl.ccDriverMaxEdges")
    assert got == want
    assert want == {
        (1.0, 1.0), (2.0, 1.0), (5.0, 1.0), ("nan", 1.0), (7.0, 7.0), (8.0, 7.0), (9.5, 7.0)
    }
    assert "Union" in default._jdf.queryExecution().optimizedPlan().toString()
