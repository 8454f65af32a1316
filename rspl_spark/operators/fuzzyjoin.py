"""Fuzzy string join: all pairs whose character-trigram Jaccard
similarity reaches a threshold, WITHOUT the O(n²) cross join.

The scale path is prefix filtering (the AllPairs/PPJoin family): order
every row's trigram set by global token rarity; a pair with
Jaccard ≥ t = NUM/DEN must overlap in at least ⌈t·|x|⌉ tokens, so if
two rows share NO token among their first |x| − ⌈t·|x|⌉ + 1 rarest
tokens they cannot reach the threshold — candidate generation becomes
an equi-join on those prefix tokens only. By construction the join key
is a RARE token (the frequent ones sort to the suffix), so the shuffle
is skew-resistant; the quadratic blow-up a frequent-token inverted
index would cause never materializes.

Threshold arithmetic is exact-integer end to end (NUM/DEN rational,
ceil via (a+b−1) div b, intersection/union as BIGINT counts), so an
independent engine reproduces the exact pair set; the only float is the
final reported jaccard ratio.

Cost: one corpus shuffle to build ranked token arrays, one prefix-token
equi-join, and a verification join that fetches arrays only for
surviving candidate pairs. Rarity ordering is the (count, token) struct
itself — no global rank window and no vocabulary broadcast, so the
q-gram universe is free to GROW with the corpus (q = 5–6 at 10⁵+
distinct strings; a saturated trigram vocabulary degrades candidate
generation toward quadratic — measured, DEVNOTES round 8 session 2).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def char_trigrams(s: Column, q: int = 3) -> Column:
    """Distinct character q-grams of ``s`` (default trigrams); strings
    shorter than q chars contribute their whole text as the single gram
    (so '' → {''}).

    Pick q by corpus scale: the q-gram vocabulary is ≤ |Σ|^q, and
    prefix filtering only prunes while tokens stay RARE relative to the
    row count — at ~10⁵+ distinct strings a trigram universe saturates
    and candidate generation degrades toward quadratic (measured,
    DEVNOTES round 8 session 2); q=5..6 keeps the vocabulary growing
    ahead of the corpus."""
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(s) - (q - 1), F.lit(1))),
            lambda i: s.substr(i, F.lit(q)),
        )
    )


def _validate_q(q) -> None:
    """Fail fast on a malformed ``q``: only the literal string 'auto'
    or a positive int are meaningful — a typo like 'Auto' or '3'
    previously flowed into char_trigrams and died with an opaque
    TypeError deep in expression building (ADVICE r14)."""
    if isinstance(q, str):
        if q != "auto":
            raise ValueError(
                f"q={q!r}: the only string value is 'auto' "
                "(delegate to choose_q); pass an int otherwise"
            )
    elif not isinstance(q, int) or isinstance(q, bool) or q < 1:
        raise ValueError(f"q={q!r}: need a positive int or 'auto'")


def choose_q(
    df: DataFrame,
    str_col: str,
    base_q: int = 3,
    max_q: int = 8,
    target_avg: float = 10.0,
    sample_rows: int = 500_000,
) -> int:
    """Smallest q in [base_q, max_q] whose corpus-wide avg_gram_count
    (occurrences per distinct q-gram, :func:`gram_frequency_stats`) is
    ≤ ``target_avg`` — the executable form of the rule the module
    docstring states in prose: prefix filtering prunes only while
    tokens stay RARE relative to the row count, so grow q until the
    average is single-digit-ish. Returns ``max_q`` if no q qualifies
    (the caller should then prefer MinHash-LSH banding).

    Cost: one scan + one count-distinct aggregate per trial q (the
    1-row stats collect is a driver-side planning decision, not a
    hot-path collect). Above ``sample_rows`` non-null strings the
    trials run on a deterministic uniform sample instead of up to
    (max_q - base_q + 1) full corpus scans (ADVICE r14): the sampled
    average is extrapolated by the row ratio n/sample_n, which is
    exact in the saturated-vocabulary regime this guard exists for
    (distinct grams ~constant, so avg grows linearly with rows) and
    over-estimates in the unsaturated regime — the safe direction,
    since it can only push q higher, never let a saturated q=3
    through. Below the threshold (every oracle gate scale) the
    behavior is bit-identical to the unsampled path."""
    n = df.filter(F.col(str_col).isNotNull()).count()
    scale = 1.0
    if n > 2 * sample_rows:
        frac = sample_rows / n
        df = df.sample(fraction=frac, seed=7)
        sampled_n = df.filter(F.col(str_col).isNotNull()).count()
        if sampled_n:
            scale = n / sampled_n
    for q in range(base_q, max_q + 1):
        row = gram_frequency_stats(df, str_col, q).collect()[0]
        avg = row["avg_gram_count"]
        if avg is not None and avg * scale <= target_avg:
            return q
    return max_q


def fuzzy_self_join(
    df: DataFrame,
    id_col: str,
    str_col: str,
    threshold_num: int,
    threshold_den: int = 100,
    q: int | str = 3,
) -> DataFrame:
    """All pairs (id_a < id_b) with q-gram-Jaccard ≥ num/den.

    Output: (id_a, id_b, inter, size_a, size_b, jaccard) where inter is
    the exact trigram-set intersection size and jaccard = inter/union.
    NULL strings are dropped (no trigram set to compare).

    ``q="auto"`` delegates to :func:`choose_q` (grow q until the gram
    vocabulary outpaces the corpus) — at 10⁵+ distinct strings a fixed
    q=3 saturates and candidate generation degrades toward quadratic
    (measured: 843 s at n=5·10⁴ mostly-distinct strings vs seconds at
    the auto-chosen q; docs/bench/r14_fuzzyjoin_scale.json).
    """
    if not (0 < threshold_num <= threshold_den):
        raise ValueError("fuzzy_self_join: need 0 < num <= den")
    num, den = int(threshold_num), int(threshold_den)
    _validate_q(q)
    if q == "auto":
        q = choose_q(df.select(F.col(str_col).alias("s")), "s")

    base = df.select(
        F.col(id_col).alias("id"), F.col(str_col).alias("s")
    ).filter(F.col("s").isNotNull())
    # materialize the tokenized rows ONCE: tg feeds the vocab aggregate
    # AND the ranked-rows aggregate — different exchanges, so
    # ReusedExchange cannot share the projection and the q-gram substr
    # chain would run twice over the corpus. Unlike the triangle-counts
    # trade (r12: blocks dwarf a cheap recompute), the gram kernel is
    # the expensive side and the win GROWS with scale — measured
    # interleaved A/B at the operator's target regime: 19.1 -> 13.4 s
    # at n=5*10^4, 18.1 -> 7.3 s at n=2*10^5
    # (docs/bench/r15_fuzzyjoin_gram_ab.json). Same pattern
    # edit_distance_self_join already uses for its three-consumer tg.
    # Lifecycle notes (r15 ADVICE): the checkpoint blocks live until the
    # driver GCs the RDD (ContextCleaner) — a long-lived session running
    # many fuzzy joins retains each call's (id, toks) blocks until then;
    # and localCheckpoint is non-recoverable on executor loss, fine in
    # local mode — a cluster deployment should swap in persist() or a
    # reliable checkpoint dir (same call shape).
    tg = base.select(
        "id", char_trigrams(F.col("s"), q).alias("toks")
    ).localCheckpoint(eager=False)
    toks = tg.select("id", F.explode("toks").alias("tok"))

    # Global rarity ORDER without a global rank: the (cnt, tok) struct
    # sorts identically to a dense rarity rank, so no single-partition
    # row_number window and no vocab broadcast — the token↔count join
    # is an ordinary shuffle join that scales with the vocabulary
    # (which GROWS with the corpus for q >= 5; keeping tokens rarer
    # than the row count is what keeps candidates near-linear).
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    rows = (
        toks.join(vocab, "tok")
        .groupBy("id")
        .agg(F.sort_array(F.collect_list(F.struct("cnt", "tok"))).alias("ranks"))
        .select("id", "ranks", F.size("ranks").alias("sz"))
    )

    # prefix length = sz - ceil(t*sz) + 1, exact-integer ceil via div
    plen = F.col("sz") - F.expr(f"(sz * {num} + {den - 1}) div {den}") + F.lit(1)
    pref = rows.select(
        "id", "sz", F.explode(F.slice("ranks", F.lit(1), plen)).alias("r")
    )
    a, b = pref.alias("a"), pref.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.r") == F.col("b.r"))
            & (F.col("a.id") < F.col("b.id"))
            # size filter: Jaccard >= t forces min_size >= t * max_size
            & (
                F.least(F.col("a.sz"), F.col("b.sz")) * den
                >= F.greatest(F.col("a.sz"), F.col("b.sz")) * num
            ),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )

    va = rows.select(
        F.col("id").alias("id_a"), F.col("ranks").alias("ra"), F.col("sz").alias("size_a")
    )
    vb = rows.select(
        F.col("id").alias("id_b"), F.col("ranks").alias("rb"), F.col("sz").alias("size_b")
    )
    verified = (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("ra", "rb")).cast("long").alias("inter"),
            F.col("size_a").cast("long").alias("size_a"),
            F.col("size_b").cast("long").alias("size_b"),
        )
        .filter(
            F.col("inter") * den
            >= num * (F.col("size_a") + F.col("size_b") - F.col("inter"))
        )
    )
    return verified.select(
        "id_a",
        "id_b",
        "inter",
        "size_a",
        "size_b",
        F.round(
            F.col("inter")
            / (F.col("size_a") + F.col("size_b") - F.col("inter")),
            6,
        ).alias("jaccard"),
    )


def raw_trigrams(s: Column) -> Column:
    """Untagged character 3-grams of ``s`` as an array column."""
    return F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(s) - 2, F.lit(1))),
        lambda i: s.substr(i, F.lit(3)),
    )


def tag_occurrences(grams: Column) -> Column:
    """Tag each gram with its occurrence index ('abc#0', 'abc#1', …).
    Pass a MATERIALIZED column (a prior select's output), never the
    gram-generating expression itself: subexpressions inside HOF
    lambdas are not CSE'd (the measured-7x trap shingle_combine's
    docstring documents), so an inlined generator would re-run the
    substr chain once per element on top of the inherent O(L²)
    prefix-count compares."""
    return F.transform(
        grams,
        lambda x, i: F.concat(
            x,
            F.lit("#"),
            F.size(F.filter(F.slice(grams, F.lit(1), i), lambda y: y == x)),
        ),
    )


def positional_trigrams(s: Column) -> Column:
    """Occurrence-tagged character 3-grams: each gram carries its
    occurrence index within the row ('abc#0', 'abc#1', …), so a SET
    intersection of these tokens equals the MULTISET gram intersection —
    which is what the q-gram edit-distance lemma bounds. One-shot
    convenience form; staged pipelines should materialize
    :func:`raw_trigrams` in a select and tag in the NEXT select."""
    return tag_occurrences(raw_trigrams(s))


def edit_distance_self_join(
    df: DataFrame,
    id_col: str,
    str_col: str,
    k: int,
    max_short_rows: int = 10_000,
) -> DataFrame:
    """All pairs (id_a < id_b) with Levenshtein distance ≤ k, without
    the O(n²) cross join. Output: (id_a, id_b, dist).

    Scale path — the q-gram lemma (Ukkonen): one edit destroys at most
    q=3 positional grams, so dist ≤ k forces a multiset gram overlap of
    ≥ max(|Ga|,|Gb|) − 3k; ranking each row's occurrence-tagged grams by
    global rarity, a qualifying pair must then share one of each side's
    3k+1 RAREST tokens — candidate generation is an equi-join on that
    constant-size prefix, plus the |len_a − len_b| ≤ k residual.
    Candidates verify with the exact levenshtein() (JVM-side, and
    identical in DuckDB — unit-cost Levenshtein both).

    Strings too short for the lemma (fewer than 3k+1 grams, i.e.
    length < 3k+3) are handled exactly via a broadcast of the short
    set against the length-compatible slice (their partners are at most
    k longer, so both sides of that path are bounded-length);
    ``max_short_rows`` guards the broadcast — exceeding it raises
    rather than silently degrading to quadratic work.
    """
    if k < 1:
        raise ValueError("edit_distance_self_join: k must be >= 1")
    prefix_n = 3 * k + 1
    base = df.select(F.col(id_col).alias("id"), F.col(str_col).alias("s")).filter(
        F.col("s").isNotNull()
    )
    # grams materialize in a child select so the occurrence-tagging
    # lambda references a COLUMN, not the substr-generating expression
    # (HOF lambdas get no CSE — re-running the generator per element
    # was the dominant per-row cost)
    tg = base.select(
        "id", "s", F.length("s").alias("ln"), raw_trigrams(F.col("s")).alias("_g")
    ).select(
        "id", "s", "ln", tag_occurrences(F.col("_g")).alias("toks")
    )
    # the trigram frame feeds the long side (vocab + ranks), the short
    # side, AND the short-partner path — materialize ONCE (also reused
    # by the build-time short-count guard below)
    tg = tg.localCheckpoint()
    long_side = tg.filter(F.size("toks") >= prefix_n)
    short_side = tg.filter(F.size("toks") < prefix_n)

    toks = long_side.select("id", F.explode("toks").alias("tok"))
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    # (cnt, tok) struct IS the rarity order — no global rank window,
    # no vocab broadcast (occurrence-tagged vocabs grow with the corpus)
    rows = (
        toks.join(vocab, "tok")
        .groupBy("id")
        .agg(F.sort_array(F.collect_list(F.struct("cnt", "tok"))).alias("ranks"))
        .join(long_side.select("id", "ln"), "id")
        .select("id", "ln", F.explode(F.slice("ranks", 1, prefix_n)).alias("r"))
    )
    a, b = rows.alias("a"), rows.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.r") == F.col("b.r"))
            & (F.col("a.id") < F.col("b.id"))
            & (F.abs(F.col("a.ln") - F.col("b.ln")) <= k),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )

    # exact short-string path: shorts pair with anything within k length
    n_short = short_side.count()
    if n_short > max_short_rows:
        raise ValueError(
            f"edit_distance_self_join: {n_short} strings shorter than "
            f"{prefix_n + 2} chars exceed max_short_rows={max_short_rows}; "
            "dedupe or raise the cap explicitly."
        )
    if n_short:
        sh = short_side.select(
            F.col("id").alias("s_id"), F.col("ln").alias("s_ln")
        )
        partner = tg.select(F.col("id").alias("p_id"), F.col("ln").alias("p_ln"))
        extra = (
            partner.join(
                F.broadcast(sh),
                (F.abs(F.col("p_ln") - F.col("s_ln")) <= k)
                & (F.col("p_id") != F.col("s_id")),
            )
            .select(
                F.least("p_id", "s_id").alias("id_a"),
                F.greatest("p_id", "s_id").alias("id_b"),
            )
            .distinct()
        )
        cand = cand.unionByName(extra).distinct()

    sa = base.select(F.col("id").alias("id_a"), F.col("s").alias("_sa"))
    sb = base.select(F.col("id").alias("id_b"), F.col("s").alias("_sb"))
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.levenshtein("_sa", "_sb").cast("long").alias("dist"),
        )
        .filter(F.col("dist") <= k)
    )


def gram_frequency_stats(
    df: DataFrame, str_col: str, q: int = 3
) -> DataFrame:
    """One row (n_rows, n_distinct_grams, n_gram_occurrences,
    avg_gram_count): the diagnostic that picks ``q`` BEFORE running a
    prefix-filtered join. Prefix filtering prunes only while tokens
    stay rare — avg_gram_count near 1 means candidates ≈ true matches;
    in the hundreds it means the candidate join degenerates toward
    quadratic regardless of threshold (measured on the synthetic
    corpus: 2.8M 6-gram occurrences over 3,565 distinct grams — avg
    787 — stalled the candidate stage; q=16 brought the average to 2.5
    and the join back to seconds). Rule of thumb: grow q until
    avg_gram_count is single-digit, or switch to MinHash-LSH banding
    (operators/dedup.py) whose collision rate is set by band geometry,
    not token frequency."""
    toks = df.filter(F.col(str_col).isNotNull()).select(
        F.explode(char_trigrams(F.col(str_col), q)).alias("tok")
    )
    per = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    n_rows = df.filter(F.col(str_col).isNotNull()).count()
    return per.agg(
        F.lit(n_rows).cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_distinct_grams"),
        F.sum("cnt").cast("long").alias("n_gram_occurrences"),
        (F.sum("cnt") / F.count(F.lit(1))).alias("avg_gram_count"),
    )


def _ranked_rows(tg: DataFrame, vocab: DataFrame) -> DataFrame:
    """(id, ranks, sz) from a tokenized (id, toks) frame, with ranks =
    the row's q-gram set ordered by the shared (cnt, tok) rarity
    structs — both join sides must rank against the SAME vocabulary for
    prefix filtering to hold."""
    toks = tg.select("id", F.explode("toks").alias("tok"))
    return (
        toks.join(vocab, "tok")
        .groupBy("id")
        .agg(F.sort_array(F.collect_list(F.struct("cnt", "tok"))).alias("ranks"))
        .select("id", "ranks", F.size("ranks").alias("sz"))
    )


def fuzzy_join(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    right_id: str,
    str_col: str,
    threshold_num: int,
    threshold_den: int = 100,
    q: int | str = 3,
) -> DataFrame:
    """Two-table record linkage: all (left, right) pairs with
    q-gram-Jaccard ≥ num/den over ``str_col``. Same prefix-filtered
    plan as :func:`fuzzy_self_join`, with the rarity vocabulary built
    over the UNION of both sides (a shared total order is what makes
    the prefix lemma hold across tables). Output: (id_l, id_r, inter,
    size_l, size_r, jaccard); a key present in both tables may match
    itself — cross-table self-pairs are real matches here.
    """
    if not (0 < threshold_num <= threshold_den):
        raise ValueError("fuzzy_join: need 0 < num <= den")
    num, den = int(threshold_num), int(threshold_den)
    _validate_q(q)
    lb = left.select(F.col(left_id).alias("id"), F.col(str_col).alias("s")).filter(
        F.col("s").isNotNull()
    )
    rb = right.select(F.col(right_id).alias("id"), F.col(str_col).alias("s")).filter(
        F.col("s").isNotNull()
    )
    if q == "auto":
        # the shared vocabulary spans both sides, so q must be chosen
        # over the union too
        q = choose_q(lb.select("s").unionByName(rb.select("s")), "s")
    # tokenize each side ONCE (lazy localCheckpoint): the toks feed the
    # shared vocabulary AND the side's ranked rows — different
    # exchanges, no ReusedExchange — so without materialization the
    # q-gram substr chain runs twice per side (same measured trade as
    # fuzzy_self_join: docs/bench/r15_fuzzyjoin_gram_ab.json; same
    # lifecycle caveats too — blocks retained until RDD GC, and
    # non-recoverable on executor loss: cluster deployments should use
    # persist()/reliable checkpoints instead).
    ltg = lb.select(
        "id", char_trigrams(F.col("s"), q).alias("toks")
    ).localCheckpoint(eager=False)
    rtg = rb.select(
        "id", char_trigrams(F.col("s"), q).alias("toks")
    ).localCheckpoint(eager=False)
    all_toks = ltg.select(F.explode("toks").alias("tok")).unionByName(
        rtg.select(F.explode("toks").alias("tok"))
    )
    vocab = all_toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))

    def pref(rows: DataFrame) -> DataFrame:
        plen = (
            F.col("sz") - F.expr(f"(sz * {num} + {den - 1}) div {den}") + F.lit(1)
        )
        return rows.select(
            "id", "sz", F.explode(F.slice("ranks", F.lit(1), plen)).alias("r")
        )

    lrows = _ranked_rows(ltg, vocab)
    rrows = _ranked_rows(rtg, vocab)
    a, b = pref(lrows).alias("a"), pref(rrows).alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.r") == F.col("b.r"))
            & (
                F.least(F.col("a.sz"), F.col("b.sz")) * den
                >= F.greatest(F.col("a.sz"), F.col("b.sz")) * num
            ),
        )
        .select(F.col("a.id").alias("id_l"), F.col("b.id").alias("id_r"))
        .distinct()
    )
    va = lrows.select(
        F.col("id").alias("id_l"), F.col("ranks").alias("ra"), F.col("sz").alias("size_l")
    )
    vb = rrows.select(
        F.col("id").alias("id_r"), F.col("ranks").alias("rb"), F.col("sz").alias("size_r")
    )
    return (
        cand.join(va, "id_l")
        .join(vb, "id_r")
        .select(
            "id_l",
            "id_r",
            F.size(F.array_intersect("ra", "rb")).cast("long").alias("inter"),
            F.col("size_l").cast("long").alias("size_l"),
            F.col("size_r").cast("long").alias("size_r"),
        )
        .filter(
            F.col("inter") * den
            >= num * (F.col("size_l") + F.col("size_r") - F.col("inter"))
        )
        .select(
            "id_l",
            "id_r",
            "inter",
            "size_l",
            "size_r",
            F.round(
                F.col("inter") / (F.col("size_l") + F.col("size_r") - F.col("inter")),
                6,
            ).alias("jaccard"),
        )
    )
