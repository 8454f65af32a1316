"""Text-analysis operators (SURVEY.md §2.2 LLM extensions): token/word
counting, quality scoring, language-ID heuristic, winnowing fingerprint,
TF-IDF. All codegen'd scalar expressions or keyed aggregations — no
Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "for", "on", "with")

LANG_MARKERS = {
    "en": ("the", "and", "is", "of"),
    "de": ("der", "und", "ist", "das"),
    "fr": ("le", "et", "est", "les"),
    "es": ("el", "y", "es", "los"),
}


def text_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document counting/ratio features (length, tokens, words,
    stopword ratio, repetition)."""
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_tokens = F.size(toks)
    return df.select(
        id_col,
        F.length(text_col).cast("long").alias("n_chars_actual"),
        n_tokens.cast("long").alias("n_tokens"),
        F.size(F.regexp_extract_all(F.col(text_col), F.lit("[a-zA-Z]+"), 0))
        .cast("long")
        .alias("n_words"),
        F.round(
            F.length(F.replace(F.col(text_col), F.lit(" "), F.lit(""))).cast("double")
            # NULLIF: an empty document would raise DIVIDE_BY_ZERO under
            # ANSI mode (Spark 4 default) and kill the whole job; null
            # is the right "undefined ratio" answer.
            / F.nullif(F.length(text_col), F.lit(0)),
            6,
        ).alias("nonspace_ratio"),
        F.round(
            F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t))).cast("double")
            / F.greatest(n_tokens, F.lit(1)),
            6,
        ).alias("stopword_ratio"),
        F.round(n_tokens.cast("double") / F.size(F.array_distinct(toks)), 6).alias(
            "repetition"
        ),
    )


def quality_expr(text_col: str = "text"):
    """Quality score as a reusable column expression (so pipelines can
    fuse it into a single scan instead of joining operator outputs)."""
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    n = F.size(toks).cast("double")
    uniq = F.greatest(F.size(F.array_distinct(toks)), F.lit(1)).cast("double")
    length_score = F.least(F.lit(1.0), n / 60)
    rep_penalty = F.lit(1.0) - F.least(F.lit(1.0), n / uniq / 5)
    return F.round(length_score * 0.5 + rep_penalty * 0.5, 6)


def quality_score(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep/drop signal: length score + repetition penalty, in [0, 1]."""
    quality = quality_expr(text_col)
    return df.select(
        id_col,
        quality.alias("quality"),
        F.when(quality >= 0.5, 1).otherwise(0).alias("keep"),
    )


def _lang_hits_exprs(text_col: str = "text"):
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    hits = {}
    for lang, words in LANG_MARKERS.items():
        arr = F.array(*[F.lit(w) for w in words])
        hits[lang] = F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))
    return hits


def _lang_pred_from_hits(en, de, fr, es):
    return (
        F.when((en >= de) & (en >= fr) & (en >= es) & (en > 0), "en")
        .when((de >= fr) & (de >= es) & (de > 0), "de")
        .when((fr >= es) & (fr > 0), "fr")
        .when(es > 0, "es")
        .otherwise("unknown")
    )


def lang_pred_expr(text_col: str = "text"):
    """Predicted language as one reusable column expression."""
    h = _lang_hits_exprs(text_col)
    return _lang_pred_from_hits(h["en"], h["de"], h["fr"], h["es"])


def language_id(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Marker-word-hit heuristic with a deterministic argmax over
    LANG_MARKERS; 'unknown' when nothing hits."""
    hits = _lang_hits_exprs(text_col)
    out = df.select(
        id_col,
        hits["en"].cast("long").alias("en_hits"),
        hits["de"].cast("long").alias("de_hits"),
        hits["fr"].cast("long").alias("fr_hits"),
        hits["es"].cast("long").alias("es_hits"),
    )
    en, de, fr, es = (F.col(c) for c in ("en_hits", "de_hits", "fr_hits", "es_hits"))
    return out.withColumn("pred_lang", _lang_pred_from_hits(en, de, fr, es))


def fingerprint(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Winnowing-style min/max over a stride-4 rolling window of 8-char
    shingle hashes. Scalar expression, no explode."""
    idx = F.sequence(F.lit(1), F.greatest(F.length(text_col) - 7, F.lit(1)), F.lit(4))
    hashes = F.transform(idx, lambda i: F.md5(F.substring(F.col(text_col), i, F.lit(8))))
    return df.select(
        id_col,
        F.array_min(hashes).alias("fp_min"),
        F.array_max(hashes).alias("fp_max"),
    )


def _rep_counts_kernel(text_col: str, id_col: str):
    """mapInPandas kernel: per-doc integer repetition stats, fully
    vectorized across the batch (one pd.factorize + np.unique per gram
    size for ALL docs at once — no per-doc Python loop beyond the
    tokenizing pass). Emits only exact integers; the fractional
    signals stay Spark-side expressions so rounding/division semantics
    are engine-identical."""
    import numpy as np
    import pandas as pd

    def kernel(batches):
        for pdf in batches:
            toks_per_doc: list[list[str]] = []
            keep_idx: list[int] = []
            texts = pdf[text_col]
            for i in range(len(pdf)):
                t = texts.iloc[i]
                if t is None or (isinstance(t, float) and pd.isna(t)):
                    continue
                s = t.strip()
                # split(trim(x), '\s+') on all-whitespace input yields
                # the single empty token — replicated here
                toks_per_doc.append(s.split() if s else [""])
                keep_idx.append(i)
            D = len(keep_idx)
            if D == 0:
                continue
            nt = np.asarray([len(t) for t in toks_per_doc], dtype=np.int64)
            doc_of = np.repeat(np.arange(D, dtype=np.int64), nt)
            flat: list[str] = []
            for t in toks_per_doc:
                flat.extend(t)
            codes = pd.factorize(np.asarray(flat, dtype=object))[0].astype(np.int64)
            V = int(codes.max()) + 1
            # doc-scoped token codes (distinct (doc, token) pairs)
            f1 = pd.factorize(doc_of * V + codes)[0].astype(np.int64)
            W1 = int(f1.max()) + 1
            _, idx1, cnt1 = np.unique(f1, return_index=True, return_counts=True)
            top1 = np.zeros(D, dtype=np.int64)
            np.maximum.at(top1, doc_of[idx1], cnt1)
            # bigrams: adjacent positions within the same doc
            adj = doc_of[:-1] == doc_of[1:]
            key2_all = f1[:-1] * W1 + f1[1:]
            doc2 = doc_of[:-1]
            f2_valid = (
                pd.factorize(key2_all[adj])[0].astype(np.int64) if adj.any() else
                np.empty(0, dtype=np.int64)
            )
            top2 = np.zeros(D, dtype=np.int64)
            if len(f2_valid):
                _, idx2, cnt2 = np.unique(
                    f2_valid, return_index=True, return_counts=True
                )
                np.maximum.at(top2, doc2[adj][idx2], cnt2)
            # trigrams: pair code at i combined with token code at i+2
            dup3 = np.zeros(D, dtype=np.int64)
            if len(f2_valid):
                f2_all = np.full(len(key2_all), -1, dtype=np.int64)
                f2_all[adj] = f2_valid
                adj3 = adj[:-1] & adj[1:]
                if adj3.any():
                    key3 = f2_all[:-1][adj3] * W1 + f1[2:][adj3]
                    doc3 = doc_of[:-2][adj3]
                    _, idx3, cnt3 = np.unique(
                        key3, return_index=True, return_counts=True
                    )
                    rep = cnt3 > 1
                    np.add.at(dup3, doc3[idx3[rep]], cnt3[rep])
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].iloc[keep_idx].values,
                    "_t1_total": nt,
                    "_t1_top": top1,
                    "_t2_total": np.maximum(nt - 1, 0),
                    "_t2_top": top2,
                    "_t3_total": np.maximum(nt - 2, 0),
                    "_t3_dup": dup3,
                }
            )

    return kernel


def repetition_signals(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style within-document repetition filters (Rae et al. 2021,
    "Scaling Language Models", §A1.1): the fraction of the document
    covered by its most frequent token / 2-gram, and the fraction of
    3-gram occurrences that are repeats. High values flag boilerplate
    and degenerate (looping) text that survives length/stopword filters.

    Token-fraction variant (the paper counts characters; tokens keep the
    oracle exact under multi-space normalization). Docs shorter than k
    tokens yield NULL for the k-gram fractions rather than a degenerate
    1.0.

    ZERO-shuffle formulation (r7): every signal is a function of ONE
    document's tokens, so the per-(doc, gram) counting runs inside an
    Arrow-batched mapInPandas kernel — one factorize + unique per gram
    size for the whole batch, no per-doc Python — and the plan is scan
    → kernel → project: the corpus is never exchanged. Measured at
    sf10 (27.5M tokens): three-chain explode+shuffle 26.9s; in-row
    HOF fold 67.9s (higher-order functions are INTERPRETED, not
    codegen'd — the per-element lambda costs ~0.8µs and dominates);
    this kernel 4.4s (6.2x). The kernel emits integer stats only; the
    divisions and round(6) remain Spark expressions, so oracle
    semantics are untouched. At 100 TB the explode form re-shuffles
    the corpus three times; this is a map-only pass.
    """
    out_schema = (
        f"{id_col} {df.schema[id_col].dataType.simpleString()}, "
        "_t1_total long, _t1_top long, _t2_total long, _t2_top long, "
        "_t3_total long, _t3_dup long"
    )
    stats = df.select(id_col, text_col).mapInPandas(
        _rep_counts_kernel(text_col, id_col), out_schema
    )
    frac = lambda a, b: F.round(F.col(a).cast("double") / F.col(b), 6)  # noqa: E731
    return stats.select(
        id_col,
        F.col("_t1_total").alias("n_tokens"),
        frac("_t1_top", "_t1_total").alias("top_token_frac"),
        F.when(F.col("_t2_total") >= 1, frac("_t2_top", "_t2_total")).alias(
            "top_bigram_frac"
        ),
        F.when(F.col("_t3_total") >= 1, frac("_t3_dup", "_t3_total")).alias(
            "dup_trigram_frac"
        ),
    )


# Scale window for materializing the tfidf (doc, term) aggregate, in
# LEAF input bytes of the corpus frame. SET BY THE r16 MEASURED SWEEP
# (docs/bench/r16_tfidf_mat_sweep.json), not guessed:
#   0.59 MB corpus (the sf0.1 gate): materializing LOSES ~11% (r15
#     measured the same direction) — the extra job barrier dominates;
#   2.7 / 26.8 / 80 MB: materializing WINS 24% / 13% / 17%;
#   268 MB (54M aggregate rows): localCheckpoint blocks EXHAUST the
#     8 GB local heap (fatal OOM) while the plain plan completes.
# The upper bound is a LOCAL-MODE memory guard, placed between the
# largest measured win (80 MB) and the measured failure (268 MB). It is
# the value to revisit for a cluster with real executor memory: at
# 100 TB, avoiding the second full corpus scan is the first-order win
# (guide §8: decide on small rows, scan heavy bytes once) and the
# aggregate belongs in durable storage rather than localCheckpoint
# blocks anyway.
_TFIDF_MAT_MIN_LEAF_BYTES = 2 * 2**20
_TFIDF_MAT_MAX_LEAF_BYTES = 128 * 2**20


def _tfidf_materialize(df: DataFrame) -> bool:
    """Materialize-in-WINDOW policy for the tfidf (doc, term) aggregate:
    the blocks are much smaller than the token-explode recompute they
    save, so the trade loses only while the fixed extra-job constant
    dominates (tiny corpora) or once the blocks threaten local memory
    (huge corpora; see the sweep table above). Engages when the corpus
    frame's leaf input bytes lie in [``_TFIDF_MAT_MIN_LEAF_BYTES``,
    ``_TFIDF_MAT_MAX_LEAF_BYTES``); unknown size (-1) keeps the plain
    two-scan plan."""
    from rspl_spark.plan_stats import leaf_input_bytes

    return _TFIDF_MAT_MIN_LEAF_BYTES <= leaf_input_bytes(df) < _TFIDF_MAT_MAX_LEAF_BYTES


def tfidf_top_terms(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 3
) -> DataFrame:
    """Top-k TF-IDF terms per document: explode → tf and df aggregations
    → window top-k. Shuffles keyed on term or doc throughout.

    The corpus size enters as a broadcast 1-row aggregate (not an eager
    ``df.count()``), so the whole thing stays a single job and the source
    is scanned once."""
    n_docs_df = df.agg(F.count(F.lit(1)).cast("double").alias("_n_docs"))
    toks = df.select(id_col, F.explode(F.split(F.trim(text_col), r"\s+")).alias("term"))
    # tf normalization: sum(n) over a doc-partitioned window, measured
    # fastest of three formulations at sf0.1 (window 1.15s steady-state
    # vs groupBy+join 1.41s — the join double-computes the exploded
    # counts — vs carrying size(split) through the explode 3.75s). The
    # window's sort key is just doc_id over already-aggregated rows;
    # DEVNOTES records the A/B.
    tf_raw = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("n"))
    # tf_raw feeds BOTH the tf branch and the dfreq branch under
    # different keys, so without materialization the corpus is scanned
    # and token-exploded TWICE (visible in plans/r15/q_tfidf_*.txt).
    # Materialization is SCALE-GATED (guide §2.4/§5 + r15 verdict ask
    # #1): the (doc, term) aggregate is far smaller than the exploded
    # token stream, so checkpointing it wins once the corpus is big
    # enough to amortize the extra job barrier (~0.4s locally), and at
    # 100 TB avoiding a second full corpus scan is the first-order win;
    # below the window the barrier dominates (r15: 0.58s -> 1.14s at
    # the 585 KB sf0.1 corpus), above it the blocks threaten local
    # memory. Window measured, not guessed:
    # docs/bench/r16_tfidf_mat_sweep.json.
    if _tfidf_materialize(df):
        tf_raw = tf_raw.localCheckpoint(eager=False)
    tf = tf_raw.withColumn(
        "tf", F.col("n").cast("double") / F.sum("n").over(Window.partitionBy(id_col))
    )
    # document frequency from the (doc, term) aggregate, NOT
    # countDistinct over the raw token stream: (doc, term) rows are
    # already distinct, so COUNT(*) per term is the same integer.
    # (r16 correction of the r15 claim: Catalyst plans countDistinct
    # as distinct-then-count already, so this form is equivalent, not
    # faster — kept because it is the honest expression of the grain.)
    dfreq = tf_raw.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs_df))
        .withColumn("tfidf_raw", F.col("tf") * F.log(F.col("_n_docs") / (1.0 + F.col("df"))))
        .drop("_n_docs")
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf_raw"), F.asc("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(id_col, "term", F.round("tfidf_raw", 6).alias("tfidf"), "rk")
    )


def _bigram_pairs(toks: Column) -> Column:
    """array<struct<a,b>> of adjacent token pairs; empty below 2 tokens.

    zip_with over two shifted slices, not transform+element_at: per-index
    element_at generated ~2x slower code at sf0.1 (5.0s vs 2.3s for the
    265k-pair explode); a posexplode+lead window is faster still locally
    (1.1s) but pays a (doc, pos) shuffle — the slice form is narrow, so
    it composes with the downstream count shuffles without adding one."""
    sz = F.size(toks)
    n = F.greatest(sz - 1, F.lit(0))
    return F.zip_with(
        F.slice(toks, 1, n),
        F.slice(toks, 2, n),
        lambda x, y: F.struct(x.alias("a"), y.alias("b")),
    )


def pmi_collocations(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    top_k: int = 50,
) -> DataFrame:
    """Top collocations by pointwise mutual information over adjacent
    whitespace-token pairs: (a, b, n_ab, pmi) with
    pmi = ln(n_ab · N / (n_a· · n·_b)) — n_a·/n·_b are the token's
    counts as bigram FIRST/SECOND element, N the total bigram count.

    The statistical upgrade over raw top-bigrams (q_top_bigrams finds
    "of the"; PMI finds "San Francisco"): frequency is normalized away,
    so only pairs that co-occur far above chance survive. ``min_count``
    guards the classic PMI pathology (a hapax pair scores ln N).

    One corpus scan → pair explode → ONE count shuffle at bigram-type
    grain; the marginals are two windows over that (small) grain and
    the grand total a 1-row broadcast. Counts convert to double before
    the ratio (products can pass 2^53 at corpus scale — the rounding is
    deterministic IEEE, identical in any engine, unlike BIGINT
    overflow which wraps in Spark and promotes in DuckDB). Ranking is
    on the ROUNDED score with (a, b) tie-break, so the top-k cut is
    engine-stable."""
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    pairs = df.select(F.explode(_bigram_pairs(toks)).alias("pr"))
    big = pairs.groupBy(
        F.col("pr.a").alias("a"), F.col("pr.b").alias("b")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_ab"))
    tot = big.agg(F.sum("n_ab").alias("n_total"))
    wa = Window.partitionBy("a")
    wb = Window.partitionBy("b")
    scored = (
        big.withColumn("_na", F.sum("n_ab").over(wa))
        .withColumn("_nb", F.sum("n_ab").over(wb))
        .crossJoin(F.broadcast(tot))
        .withColumn(
            "pmi",
            F.round(
                F.log(
                    F.col("n_ab").cast("double")
                    * F.col("n_total").cast("double")
                    / (F.col("_na").cast("double") * F.col("_nb").cast("double"))
                ),
                6,
            ),
        )
    )
    return (
        scored.where(F.col("n_ab") >= min_count)
        .select("a", "b", "n_ab", "pmi")
        .orderBy(F.col("pmi").desc(), "a", "b")
        .limit(top_k)
    )


def bigram_lm_score(
    df: DataFrame,
    train_filter: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Perplexity-style quality filter: score every document by the
    average negative log-probability of its bigrams under an add-one-
    smoothed bigram model TRAINED on the ``train_filter`` slice (the
    CCNet pattern — rank corpus text by how well an in-domain language
    model predicts it; docs the model finds surprising are the
    out-of-domain / low-quality tail).

    P(b|a) = (c2(a,b) + 1) / (c1(a) + V): c2/c1 are bigram/prefix counts
    over the training slice, V its unigram vocabulary. All counts are
    distributed aggregations; scoring joins each corpus bigram against
    the count tables keyed on the bigram itself — the shuffles are keyed
    on (a, b) and a, never on documents, and the model "parameters" are
    two count tables that stay on the cluster (contrast logreg_fit's
    driver-side weights: n-gram models are data-sized, so the DATA is
    the model and it must never be collected).

    Output: (id, n_bigrams, avg_nll) — one row per input document; docs
    with fewer than 2 tokens get n_bigrams = 0 and null avg_nll.
    """
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    base = df.select(
        id_col, train_filter.alias("_train"), _bigram_pairs(toks).alias("_pairs"),
        toks.alias("_toks"),
    )
    bg = base.select(
        id_col, "_train", F.explode("_pairs").alias("p")
    ).select(id_col, "_train", F.col("p.a").alias("a"), F.col("p.b").alias("b"))
    train = bg.filter(F.col("_train"))
    c2 = train.groupBy("a", "b").agg(F.count(F.lit(1)).alias("n2"))
    c1 = train.groupBy("a").agg(F.count(F.lit(1)).alias("n1"))
    vocab = (
        base.filter(F.col("_train"))
        .select(F.explode("_toks").alias("tk"))
        .agg(F.countDistinct("tk").alias("vs"))
    )
    terms = (
        bg.join(c2, ["a", "b"], "left")
        .join(c1, ["a"], "left")
        .crossJoin(F.broadcast(vocab))
        .select(
            id_col,
            (
                # vs = 0 (EMPTY training slice) must yield NULL, not
                # -log(1/0) = -Infinity for every bigram — all docs
                # tying at -inf makes a downstream quality cut keep or
                # drop everything arbitrarily; NULL says "no model"
                F.when(
                    F.col("vs") > 0,
                    -F.log(
                        (F.coalesce(F.col("n2"), F.lit(0)) + F.lit(1.0))
                        / (F.coalesce(F.col("n1"), F.lit(0)) + F.col("vs"))
                    ),
                )
            ).alias("nll"),
        )
    )
    per_doc = terms.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.avg("nll").alias("avg_nll"),
    )
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
            F.col("avg_nll"),
        )
    )


def line_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
    min_docs: int = 2,
) -> DataFrame:
    """Corpus-wide line/passage deduplication (the RefinedWeb /
    CCNet-style boilerplate pass — concept attribution): a line whose
    exact text appears in >= ``min_docs`` DISTINCT documents is
    boilerplate (nav menus, cookie banners, licence headers) and is
    removed from every document; the survivors are reassembled in
    original order.

    Returns (id, clean_text, n_lines_kept, n_lines_removed) — one row
    per input document (a fully-boilerplate document comes back with
    clean_text = '' and n_lines_kept = 0, it is not silently dropped;
    a NULL-text document behaves exactly like an empty one — one ''
    line — rather than vanishing from the output).

    Scale shape: explode keyed on line -> one partial-agg count
    (boilerplate detection), then the boilerplate set — tiny relative
    to the corpus by construction (only REPEATED lines survive the
    HAVING) — broadcasts into a left-anti join, and reassembly is one
    shuffle keyed on doc id with an in-row array_sort on the (pos,
    line) structs (positions are unique ints — deterministic order,
    unlike raw collect_list). The corpus is shuffled twice total; the
    dominant text payload moves through the line-keyed exchange once.
    ``sep`` is a regex (escape literal separators).
    """
    if min_docs < 2:
        raise ValueError("min_docs must be >= 2 (1 would delete every line)")
    # NULL text coalesces to '' so the doc still explodes to one empty
    # line and keeps its output row — split(NULL) would explode to
    # zero rows and silently drop the document from the totals frame.
    lines = df.select(
        F.col(id_col),
        F.posexplode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), sep)
        ).alias("pos", "line"),
    )
    boiler = (
        lines.groupBy("line")
        .agg(F.countDistinct(id_col).alias("_nd"))
        .filter(F.col("_nd") >= min_docs)
        .select("line")
    )
    kept = lines.join(F.broadcast(boiler), "line", "left_anti")
    # the join separator is always a literal newline (``sep`` is a
    # regex and cannot be inverted in general)
    joiner = "\n"
    reassembled = kept.groupBy(id_col).agg(
        F.concat_ws(
            joiner,
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda x: x.getField("line"),
            ),
        ).alias("clean_text"),
        F.count(F.lit(1)).cast("long").alias("n_lines_kept"),
    )
    totals = lines.groupBy(id_col).agg(F.count(F.lit(1)).cast("long").alias("_n_total"))
    return (
        totals.join(reassembled, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
            F.coalesce(F.col("n_lines_kept"), F.lit(0)).cast("long").alias("n_lines_kept"),
            (F.col("_n_total") - F.coalesce(F.col("n_lines_kept"), F.lit(0)))
            .cast("long")
            .alias("n_lines_removed"),
        )
    )


def bm25_search(
    df: DataFrame,
    query_terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    k: int = 10,
) -> DataFrame:
    """BM25 keyword search: score every document against a bag of query
    terms with the Robertson/Sparck-Jones formulation Lucene uses
    (idf = ln(1 + (N - df + 0.5)/(df + 0.5))) and return the top-k.

    Returns (doc_id, score, n_terms_hit, rk), rk 1..k ranked by
    (rounded score desc, doc_id) — ranking on the ROUNDED score keeps
    the order replayable across engines whose group-sum float order
    differs.

    Bag-of-terms semantics: a term repeated in the query weights its
    contribution by its query-side count (Lucene's boost-by-repetition
    behavior), not set semantics. Empty/whitespace-only documents
    count dl = 0 (the empty token is not a token) and therefore
    contribute 0 — not 1 — to avgdl.

    Scale shape: the query-term filter lands immediately after the
    explode, so only matching (doc, term) rows ever reach a shuffle —
    the corpus itself is scanned once and never re-keyed. df-per-term
    (<= |query| rows) and the (N, avgdl) 1-row aggregate broadcast into
    the scoring projection; the final top-k is a single-partition
    row_number over <= |corpus| pre-aggregated rows (use a
    TakeOrdered-style limit for interactive use; the window form here
    keeps rk deterministic for the gate).
    """
    from collections import Counter

    qcounts = Counter(str(t) for t in query_terms)
    terms = sorted(qcounts)
    if not terms:
        raise ValueError("query_terms must be non-empty")
    base = df.select(
        F.col(id_col),
        # drop the '' token split() yields for empty/whitespace docs so
        # dl/avgdl reflect real token counts (dl = 0 for empty docs)
        F.filter(
            F.split(F.trim(F.coalesce(F.col(text_col), F.lit(""))), r"\s+"),
            lambda x: x != F.lit(""),
        ).alias("_ts"),
    ).select(F.col(id_col), F.col("_ts"), F.size("_ts").cast("long").alias("dl"))
    stats = base.agg(
        F.count(F.lit(1)).cast("double").alias("_N"),
        F.avg("dl").alias("_avgdl"),
    )
    hits = (
        base.select(F.col(id_col), F.col("dl"), F.explode("_ts").alias("term"))
        .filter(F.col("term").isin(terms))
    )
    tf = hits.groupBy(id_col, "dl", "term").agg(
        F.count(F.lit(1)).cast("double").alias("tf")
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).cast("double").alias("_df"))
    idf = F.log(
        F.lit(1.0) + (F.col("_N") - F.col("_df") + F.lit(0.5)) / (F.col("_df") + F.lit(0.5))
    )
    denom = F.col("tf") + F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("dl").cast("double") / F.col("_avgdl")
    )
    # query-side term frequency: a repeated query term multiplies its
    # contribution (bag-of-terms, matching the documented semantics)
    qmap = F.create_map(
        *[x for t in terms for x in (F.lit(t), F.lit(float(qcounts[t])))]
    )
    contrib = (
        F.element_at(qmap, F.col("term")) * idf * F.col("tf") * F.lit(k1 + 1.0) / denom
    )
    per_doc = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .groupBy(id_col)
        .agg(
            F.round(F.sum(contrib), 6).alias("score"),
            F.count(F.lit(1)).cast("long").alias("n_terms_hit"),
        )
    )
    w = Window.orderBy(F.desc("score"), F.asc(id_col))
    return (
        per_doc.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
    )


def bigram_count_kernel(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-partition bigram partial counts as ONE vectorized Arrow pass
    (the repetition-signals kernel discipline, text.py::
    repetition_signals): tokenize and count inside a mapInPandas
    Counter, emit (bigram, n) partials — at most |vocab| rows per
    partition — and let one tiny groupBy-sum merge them.

    Why not explode: the JVM split+transform+explode form materializes
    one row PER OCCURRENCE (27.5M at sf10) before the aggregate; the
    kernel collapses each partition to its distinct bigrams before
    anything is shuffled, and the Python Counter beats the codegen'd
    array pipeline on this shape (measured 3.3x at sf1, bit-identical
    results — see DEVNOTES round 8; the CMS-prefilter alternative is
    the recorded negative result there).

    Tokenization mirrors split(trim(text), '\\s+') exactly, including
    the single-token edge case where the lone token stands in for a
    bigram (the established q_top_bigrams semantics). Exactly means:
    the split class is Java's \\s = [ \\t\\n\\x0b\\f\\r] — NOT Python's
    Unicode \\s, which also matches NBSP/EM-SPACE and would fragment
    non-ASCII text differently than the JVM/DuckDB forms — and NULL
    text is skipped entirely, matching split(NULL)+explode dropping
    the row."""
    import re as _re
    from collections import Counter

    import pandas as pd

    _java_ws = _re.compile("[ \t\n\x0b\f\r]+")

    def kernel(batches):
        for pdf in batches:
            c: Counter = Counter()
            for text in pdf[text_col]:
                if not isinstance(text, str):  # None / NaN null forms
                    continue
                toks = _java_ws.split(text.strip(" "))
                n = len(toks)
                if n == 1:
                    c[toks[0]] += 1
                else:
                    for i in range(n - 1):
                        c[toks[i] + " " + toks[i + 1]] += 1
            if c:
                yield pd.DataFrame(
                    {"bigram": list(c.keys()), "n": list(c.values())}
                )

    return (
        df.select(text_col)
        .mapInPandas(kernel, "bigram string, n long")
        .groupBy("bigram")
        .agg(F.sum("n").cast("long").alias("n"))
    )
