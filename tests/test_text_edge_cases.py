"""Degenerate-input hardening: empty, whitespace-only, and single-token
documents must flow through every text/dedup operator without raising —
under ANSI mode (Spark 4 default) an unguarded division kills the whole
job, and a 100 TB corpus WILL contain empty documents."""

from __future__ import annotations

import pytest

from rspl_spark.operators.dedup import (
    exact_dedup,
    minhash_signatures,
    simhash,
    with_hashed_shingles,
)
from rspl_spark.operators.text import (
    fingerprint,
    language_id,
    quality_score,
    text_stats,
    tfidf_top_terms,
)

ROWS = [(0, ""), (1, "   "), (2, "x"), (3, "a a a a a"), (4, "\t\n "), (5, "normal text here")]


def test_tfidf_materialize_window_and_result_identity(spark, tmp_path, monkeypatch):
    """r16 scale-gated materialization of the (doc, term) aggregate:
    the policy engages only inside the measured leaf-bytes window
    (docs/bench/r16_tfidf_mat_sweep.json), and the materialized result
    is IDENTICAL to the plain two-scan plan."""
    from rspl_spark.operators import text
    from rspl_spark.operators.text import (
        _TFIDF_MAT_MAX_LEAF_BYTES,
        _TFIDF_MAT_MIN_LEAF_BYTES,
        _tfidf_materialize,
        tfidf_top_terms,
    )

    # a LogicalRDD leaf (createDataFrame) has no real size stats —
    # Catalyst reports Long.Max, which the window reads as "huge" and
    # keeps plain (the safe direction for unknown sizes)
    mem_df = spark.createDataFrame(
        [(0, "a b"), (1, "b c")], "doc_id long, text string"
    )
    assert _tfidf_materialize(mem_df) is False
    # parquet-backed frame: leaf bytes are the actual file size (a few
    # KB here — under the 2 MiB default window minimum)
    path = str(tmp_path / "corpus")
    spark.createDataFrame(
        [(i, f"w{i % 7} w{i % 5} w{i % 3} common") for i in range(200)],
        "doc_id long, text string",
    ).write.parquet(path)
    df = spark.read.parquet(path)
    assert _tfidf_materialize(df) is False
    # window edges (same frame, thresholds moved around it)
    with monkeypatch.context() as m:
        m.setattr(text, "_TFIDF_MAT_MIN_LEAF_BYTES", 1)
        assert _tfidf_materialize(df) is True  # now >= min and < max
        m.setattr(text, "_TFIDF_MAT_MAX_LEAF_BYTES", 2)
        assert _tfidf_materialize(df) is False  # above the window
    # on: window [1, max); off: max 0
    with monkeypatch.context() as m:
        m.setattr(text, "_TFIDF_MAT_MIN_LEAF_BYTES", 1)
        assert _tfidf_materialize(df) is True
        got_on = sorted(map(tuple, tfidf_top_terms(df, k=2).collect()))
    with monkeypatch.context() as m:
        m.setattr(text, "_TFIDF_MAT_MAX_LEAF_BYTES", 0)
        assert _tfidf_materialize(df) is False
        got_off = sorted(map(tuple, tfidf_top_terms(df, k=2).collect()))
    assert got_on == got_off and len(got_on) == 400
    # defaults sane: window is non-empty and ordered
    assert 0 < _TFIDF_MAT_MIN_LEAF_BYTES < _TFIDF_MAT_MAX_LEAF_BYTES


@pytest.fixture(scope="module")
def degenerate(spark):
    return spark.createDataFrame(ROWS, "doc_id long, text string")


@pytest.mark.parametrize(
    "op",
    [text_stats, quality_score, language_id, fingerprint, simhash,
     minhash_signatures, with_hashed_shingles, exact_dedup, tfidf_top_terms],
    ids=lambda f: f.__name__,
)
def test_op_survives_degenerate_text(spark, degenerate, op):
    rows = op(degenerate).collect()
    assert rows  # produced output, raised nothing


def test_empty_text_stats_are_null_not_error(spark, degenerate):
    out = {r["doc_id"]: r for r in text_stats(degenerate).collect()}
    assert out[0]["nonspace_ratio"] is None  # undefined, not a crash
    assert out[5]["nonspace_ratio"] is not None


def test_bigram_lm_separates_in_domain_text(spark):
    """Documents in the training language must score LOWER average
    bigram surprisal than out-of-domain documents on average — the
    point of a perplexity filter. Plus structural edge cases: short
    docs get n_bigrams=0/null score, every input row appears."""
    from pyspark.sql import functions as F

    from rspl_spark.catalog import load
    from rspl_spark.operators.text import bigram_lm_score

    d = load(spark, "/root/testdata/sf0.001", "documents")
    out = bigram_lm_score(d, F.col("lang") == "en")
    assert out.count() == d.count()
    j = out.join(d.select("doc_id", "lang"), "doc_id")
    means = {
        r["is_en"]: r["m"]
        for r in j.groupBy((F.col("lang") == "en").alias("is_en"))
        .agg(F.avg("avg_nll").alias("m"))
        .collect()
    }
    assert means[True] < means[False]


def test_bigram_lm_short_doc_edge_cases(spark):
    from pyspark.sql import functions as F

    from rspl_spark.operators.text import bigram_lm_score

    rows = [(0, "hello world hello world", "en"),
            (1, "hello", "en"),
            (2, "", "en"),
            (3, "unseen tokens entirely novel", "de")]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {r["doc_id"]: r for r in bigram_lm_score(df, F.col("lang") == "en").collect()}
    assert out[0]["n_bigrams"] == 3
    assert out[1]["n_bigrams"] == 0 and out[1]["avg_nll"] is None
    assert out[2]["n_bigrams"] == 0 and out[2]["avg_nll"] is None
    # all-unseen doc: every bigram gets the 1/(0+V) floor → -ln(1/V).
    # Training vocab V=3: hello, world, and the '' token the empty doc
    # contributes (split('') yields ['']) — same in the SQL oracle.
    import math

    assert out[3]["n_bigrams"] == 3
    assert abs(out[3]["avg_nll"] - math.log(3.0)) < 1e-9


def test_line_dedup_removes_boilerplate_preserves_order(spark):
    """Corpus-wide line dedup: a line shared by >= min_docs documents
    vanishes from every document; within-doc repeats of a UNIQUE line
    survive (the threshold counts distinct docs, not occurrences); the
    surviving lines keep their original order; a fully-boilerplate doc
    comes back empty rather than disappearing."""
    from pyspark.sql import functions as F  # noqa: F401

    from rspl_spark.operators.text import line_dedup

    banner = "accept cookies to continue"
    docs = [
        (1, f"unique alpha\n{banner}\nunique beta"),
        (2, f"{banner}\nsolo gamma\nsolo gamma"),
        (3, banner),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r["doc_id"]: r for r in line_dedup(df, min_docs=2).collect()}
    assert len(out) == 3
    assert out[1]["clean_text"] == "unique alpha\nunique beta"
    assert out[1]["n_lines_removed"] == 1
    # within-doc repetition of a unique line is NOT boilerplate
    assert out[2]["clean_text"] == "solo gamma\nsolo gamma"
    assert out[2]["n_lines_kept"] == 2
    # fully-boilerplate doc present with empty text
    assert out[3]["clean_text"] == "" and out[3]["n_lines_kept"] == 0


def test_line_dedup_identity_when_no_cross_doc_repeats(spark):
    """Property: when every line is globally unique, line_dedup is the
    identity (modulo separator normalization) — nothing removed, text
    reassembles byte-identically."""
    from rspl_spark.operators.text import line_dedup

    docs = [
        (i, "\n".join(f"doc{i} line{j} payload" for j in range(1 + i % 4)))
        for i in range(40)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r["doc_id"]: r for r in line_dedup(df, min_docs=2).collect()}
    for i, text in docs:
        assert out[i]["clean_text"] == text
        assert out[i]["n_lines_removed"] == 0


def test_line_dedup_null_text_behaves_as_empty(spark):
    """A NULL-text document must not vanish: it behaves exactly like
    an empty document (one '' line) and keeps its output row —
    split(NULL) would otherwise explode to zero rows and drop it."""
    from rspl_spark.operators.text import line_dedup

    banner = "accept cookies to continue"
    docs = [
        (1, f"unique alpha\n{banner}"),
        (2, f"{banner}\nunique beta"),
        (3, None),
        (4, ""),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r["doc_id"]: r for r in line_dedup(df, min_docs=2).collect()}
    assert set(out) == {1, 2, 3, 4}
    # NULL doc ≡ empty doc: identical counts and clean_text. The ''
    # line appears in BOTH docs (3 and 4), so it is itself boilerplate
    # here and both come back fully scrubbed — the point is they come
    # back at all, with matching totals.
    for k in (3, 4):
        assert out[k]["clean_text"] == ""
        assert out[k]["n_lines_kept"] == 0
        assert out[k]["n_lines_removed"] == 1
    assert out[1]["clean_text"] == "unique alpha"


def test_bm25_duplicate_query_terms_weight_contribution(spark):
    """Bag-of-terms: repeating a query term doubles its contribution;
    a query with both terms repeated scales every score by the repeat
    count, leaving the ranking intact."""
    from rspl_spark.operators.text import bm25_search

    docs = [
        (1, "spark shuffle spark partition"),
        (2, "spark only once here"),
        (3, "nothing relevant at all"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    single = {r["doc_id"]: r["score"] for r in bm25_search(df, ["spark"]).collect()}
    double = {r["doc_id"]: r["score"] for r in bm25_search(df, ["spark", "spark"]).collect()}
    assert set(single) == {1, 2}
    for d in single:
        assert abs(double[d] - 2 * single[d]) < 1e-5


def test_bm25_empty_docs_do_not_skew_avgdl(spark):
    """Empty/whitespace docs count dl = 0, not 1: scores over a corpus
    with empty docs appended must differ from the no-empties corpus
    ONLY through N (the idf numerator), never through avgdl."""
    import math

    from rspl_spark.operators.text import bm25_search

    base = [(1, "alpha beta gamma"), (2, "alpha alpha delta")]
    with_empty = base + [(3, ""), (4, "   \t ")]
    df = spark.createDataFrame(with_empty, "doc_id long, text string")
    out = {r["doc_id"]: r for r in bm25_search(df, ["alpha"]).collect()}
    assert set(out) == {1, 2}
    # hand-computed: N=4, df=2, idf=ln(1+(4-2+0.5)/(2+0.5)); avgdl=6/4=1.5
    # (six real tokens over four docs — the empty docs contribute 0)
    k1, b = 1.2, 0.75
    idf = math.log(1 + (4 - 2 + 0.5) / (2 + 0.5))
    avgdl = 6 / 4
    for doc_id, tf, dl in ((1, 1.0, 3), (2, 2.0, 3)):
        expect = idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))
        assert abs(out[doc_id]["score"] - round(expect, 6)) < 1e-6


def test_bigram_kernel_matches_jvm_explode(spark):
    """The Arrow bigram-counting kernel must be bit-identical to the
    JVM split+explode formulation — including the single-token doc
    edge case (the lone token stands in for a bigram) and empty/
    whitespace docs (the '' token)."""
    from pyspark.sql import functions as F

    from rspl_spark.catalog import load
    from rspl_spark.operators.text import bigram_count_kernel

    d = load(spark, "/root/testdata/sf0.001", "documents").unionByName(
        spark.createDataFrame(
            [(90001, "solo", "syn"), (90002, "", "syn"), (90003, "  ", "syn"),
             (90004, "a b a b a", "syn")],
            "doc_id long, text string, source string",
        ).select("doc_id", "text", "source"),
        allowMissingColumns=True,
    )
    toks = F.split(F.trim(F.col("text")), r"\s+")
    n = F.size(toks)
    idx = F.sequence(F.lit(1), F.greatest(n - 1, F.lit(1)))
    bigrams = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, 2)))
    ref = {
        r["bigram"]: r["n"]
        for r in d.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .collect()
    }
    got = {r["bigram"]: r["n"] for r in bigram_count_kernel(d).collect()}
    assert got == ref
    assert got.get("solo") is not None  # single-token doc contributed


def test_bigram_kernel_java_whitespace_and_null_text_parity(spark):
    """Python \\s matches Unicode whitespace (NBSP, EM SPACE) that Java
    \\s does not — the kernel must split on Java's class only, and NULL
    text must vanish exactly like split(NULL)+explode drops the row."""
    from pyspark.sql import functions as F

    from rspl_spark.operators.text import bigram_count_kernel

    d = spark.createDataFrame(
        [
            (1, "x y z"),          # NBSP binds x-y into ONE token
            (2, "p q"),             # EM SPACE: single token doc
            (3, None),                    # dropped, not counted as ''
            (4, "a\tb\nc"),              # Java \s members still split
        ],
        "doc_id long, text string",
    )
    toks = F.split(F.trim(F.col("text")), r"\s+")
    n = F.size(toks)
    idx = F.sequence(F.lit(1), F.greatest(n - 1, F.lit(1)))
    bigrams = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, 2)))
    ref = {
        r["bigram"]: r["n"]
        for r in d.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .collect()
    }
    got = {r["bigram"]: r["n"] for r in bigram_count_kernel(d).collect()}
    # the transform/slice JVM form above fabricates '' for the NULL-text
    # row (concat_ws over a NULL slice); the ORACLE's UNNEST over a NULL
    # list drops the row entirely -- the kernel matches the oracle
    assert ref.pop("") == 1
    assert got == ref
    assert "x y z" in got      # NBSP token survived intact
    assert got.get("p q") == 1  # single-token doc edge case
    assert "" not in got             # NULL text did not fabricate a '' token


def test_bigram_lm_empty_train_slice_scores_null(spark):
    """Review fix: an empty training slice must score NULL ('no model'),
    not -Infinity for every bigram (which makes a downstream quality
    cut keep or drop everything arbitrarily)."""
    from pyspark.sql import functions as F

    from rspl_spark.operators.text import bigram_lm_score

    df = spark.createDataFrame(
        [(1, "a b c", "en"), (2, "d e f", "de")],
        "doc_id long, text string, lang string",
    )
    out = bigram_lm_score(df, train_filter=F.col("lang") == "xx")
    assert all(r["avg_nll"] is None for r in out.collect())
