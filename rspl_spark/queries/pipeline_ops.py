"""Pipeline-operations gates (round 8, session 2): PSI drift, SCD
Type-2 dimension maintenance, trigram-similarity fuzzy join, int8
quantized ANN search, ORC source/sink roundtrip.

Same determinism discipline as the rest of the registry (see
queries/__init__.py): explicit ORDER BY on a unique key, floats rounded
in-query, integer arithmetic wherever accumulation order could differ,
identical aliases on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from rspl_spark.catalog import load
from rspl_spark.queries import query

# ---------------------------------------------------------------------------
# PSI drift: click-vs-error event-value distributions, 16 equal-width
# bins over the pooled min/max, Laplace smoothing 0.5. KS (q_ks_drift)
# is the max-gap monitor; PSI is the magnitude monitor — a broad small
# shift that hides from KS still accumulates bin-by-bin here. The only
# float steps per bin are one division and one ln (both correctly
# rounded IEEE ops) — round(6) absorbs ≤1-ulp engine drift.
# ---------------------------------------------------------------------------

_PSI_BINS = 16
_PSI_S = 0.5

_PSI_CTES = f"""
WITH pooled AS (
  SELECT CAST(value AS DOUBLE) AS v,
         CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS a,
         CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS b
  FROM events WHERE event_type IN ('click', 'error')
),
mm AS (
  SELECT MIN(v) AS mn,
         CASE WHEN MAX(v) = MIN(v) THEN 1.0 ELSE MAX(v) - MIN(v) END AS span
  FROM pooled
),
cnt AS (
  SELECT CAST(LEAST(FLOOR((v - mn) * {_PSI_BINS} / span), {_PSI_BINS - 1}) AS BIGINT) AS bin,
         SUM(a) AS c_a, SUM(b) AS c_b
  FROM pooled CROSS JOIN mm
  GROUP BY 1
),
spine AS (SELECT CAST(UNNEST(GENERATE_SERIES(0, {_PSI_BINS - 1})) AS BIGINT) AS bin),
full_bins AS (
  SELECT s.bin,
         CAST(COALESCE(c.c_a, 0) AS BIGINT) AS c_a,
         CAST(COALESCE(c.c_b, 0) AS BIGINT) AS c_b
  FROM spine s LEFT JOIN cnt c ON s.bin = c.bin
),
tot AS (
  SELECT CAST(SUM(c_a) AS BIGINT) AS n_a, CAST(SUM(c_b) AS BIGINT) AS n_b
  FROM full_bins
),
contrib AS (
  SELECT bin, c_a, c_b, n_a, n_b,
         ((c_a + {_PSI_S}) / (n_a + {_PSI_S * _PSI_BINS})
          - (c_b + {_PSI_S}) / (n_b + {_PSI_S * _PSI_BINS}))
         * LN(((c_a + {_PSI_S}) / (n_a + {_PSI_S * _PSI_BINS}))
              / ((c_b + {_PSI_S}) / (n_b + {_PSI_S * _PSI_BINS}))) AS contrib
  FROM full_bins CROSS JOIN tot
)
"""

_PSI_ORACLE = (
    _PSI_CTES
    + """
SELECT ROUND(SUM(contrib), 6) AS psi, n_a, n_b
FROM contrib
GROUP BY n_a, n_b
"""
)

_PSI_BINS_ORACLE = (
    _PSI_CTES
    + """
SELECT bin, c_a, c_b, ROUND(contrib, 6) AS contrib
FROM contrib
ORDER BY bin
"""
)


def _psi_frames(spark: SparkSession, sf_dir: str):
    from rspl_spark.operators.drift import psi_bins

    e = load(spark, sf_dir, "events")
    return psi_bins(
        e,
        "value",
        F.col("event_type") == "click",
        F.col("event_type") == "error",
        bins=_PSI_BINS,
        smoothing=_PSI_S,
    )


@query("q_psi_drift", oracle=_PSI_ORACLE, tags=("llm", "curation", "drift"))
def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    b = _psi_frames(spark, sf_dir)
    return (
        b.groupBy("n_a", "n_b")
        .agg(F.round(F.sum("contrib"), 6).alias("psi"))
        .select("psi", "n_a", "n_b")
    )


@query("q_psi_drift_bins", oracle=_PSI_BINS_ORACLE, tags=("llm", "curation", "drift"))
def q_psi_drift_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    b = _psi_frames(spark, sf_dir)
    return b.select(
        "bin", "c_a", "c_b", F.round("contrib", 6).alias("contrib")
    ).orderBy("bin")


# ---------------------------------------------------------------------------
# Int8-quantized ANN search: candidate selection by EXACT integer code
# dots (engine-exact, deterministic (dot, vec_id) ranking — no float in
# the selection step), float cosine rerank of the surviving 32 per
# query. Companion to q_embedding_quantize_int8 (the codes) and
# q_cosine_topk_bruteforce (the exact anchor / recall reference).
# ---------------------------------------------------------------------------

_I8_CAND = 32
_I8_K = 5

_I8_COS = (
    "LIST_SUM(LIST_TRANSFORM(LIST_ZIP({a}, {b}), p -> "
    "CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) / "
    "(SQRT(LIST_SUM(LIST_TRANSFORM({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * "
    "SQRT(LIST_SUM(LIST_TRANSFORM({b}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))"
)

_I8_TOPK_ORACLE = f"""
WITH enc AS (
  SELECT vec_id, embedding,
         NULLIF(LIST_MAX(LIST_TRANSFORM(embedding, x -> ABS(CAST(x AS DOUBLE)))) / 127.0, 0.0)
           AS scale
  FROM embeddings
),
codes AS (
  SELECT vec_id, embedding,
         LIST_TRANSFORM(embedding,
                        x -> CAST(FLOOR(CAST(x AS DOUBLE) / scale + 0.5) AS BIGINT)) AS q
  FROM enc WHERE scale IS NOT NULL
),
cand AS (
  SELECT query_id, vec_id,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY dot DESC, vec_id) AS crk
  FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
           CAST(LIST_SUM(LIST_TRANSFORM(LIST_ZIP(c.q, q.q), p -> p[1] * p[2])) AS BIGINT) AS dot
    FROM (SELECT * FROM codes WHERE vec_id < 10) q
    JOIN codes c ON c.vec_id <> q.vec_id
  ) t
)
SELECT query_id, vec_id, score, rk FROM (
  SELECT ca.query_id, ca.vec_id,
         ROUND({_I8_COS.format(a="a.embedding", b="b.embedding")}, 6) AS score,
         ROW_NUMBER() OVER (PARTITION BY ca.query_id
                            ORDER BY {_I8_COS.format(a="a.embedding", b="b.embedding")} DESC,
                                     ca.vec_id) AS rk
  FROM cand ca
  JOIN embeddings a ON a.vec_id = ca.vec_id
  JOIN embeddings b ON b.vec_id = ca.query_id
  WHERE ca.crk <= {_I8_CAND}
) r WHERE rk <= {_I8_K}
ORDER BY query_id, rk
"""


@query("q_cosine_topk_int8", oracle=_I8_TOPK_ORACLE, tags=("llm", "similarity"))
def q_cosine_topk_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rspl_spark.operators.similarity import int8_topk

    e = load(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    return int8_topk(e, q, k=_I8_K, candidates=_I8_CAND).orderBy("query_id", "rk")


# ---------------------------------------------------------------------------
# SCD Type-2 dimension maintenance over events: user_id's tracked
# attribute is event_type, observation time is ts, intra-ts ties break
# on event_id (none in the synthetic data, but the rule is part of the
# operator contract). Three gates:
#   q_scd2_build          full-history build
#   q_scd2_merge_rebuild  build(<=cutoff) + merge(>cutoff batch) — the
#                         oracle is the FULL-history build, so the gate
#                         IS the merge≡rebuild contract
#   q_scd2_snapshot_at    point-in-time view
# ---------------------------------------------------------------------------

_SCD2_CUT = "2024-01-16 00:00:00"
_SCD2_AT = "2024-01-20 00:00:00"

_SCD2_CTES = """
WITH snaps AS (
  SELECT user_id, event_type, ts FROM (
    SELECT user_id, event_type, ts,
           ROW_NUMBER() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
    FROM events
  ) d WHERE rn = 1
),
flagged AS (
  SELECT user_id, event_type, ts,
         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts) AS prev_t,
         LAG(1) OVER (PARTITION BY user_id ORDER BY ts) AS seen
  FROM snaps
),
changes AS (
  SELECT user_id, event_type, ts AS valid_from
  FROM flagged
  WHERE seen IS NULL OR event_type IS DISTINCT FROM prev_t
),
dim AS (
  SELECT user_id, event_type, valid_from,
         LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from) AS valid_to,
         CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY valid_from) AS BIGINT)
           AS version
  FROM changes
)
"""

_SCD2_SELECT = """
SELECT user_id, event_type, valid_from, valid_to,
       CAST(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_current,
       version
FROM dim
ORDER BY user_id, version
"""

_SCD2_BUILD_ORACLE = _SCD2_CTES + _SCD2_SELECT

_SCD2_SNAPSHOT_ORACLE = (
    _SCD2_CTES
    + f"""
SELECT user_id, event_type, valid_from, version
FROM dim
WHERE valid_from <= TIMESTAMP '{_SCD2_AT}'
  AND (valid_to IS NULL OR TIMESTAMP '{_SCD2_AT}' < valid_to)
ORDER BY user_id
"""
)


def _scd2_out(dim: DataFrame) -> DataFrame:
    return dim.select(
        "user_id",
        "event_type",
        "valid_from",
        "valid_to",
        F.col("is_current").cast("long").alias("is_current"),
        F.col("version").cast("long").alias("version"),
    ).orderBy("user_id", "version")


@query("q_scd2_build", oracle=_SCD2_BUILD_ORACLE, tags=("llm", "warehouse"))
def q_scd2_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rspl_spark.operators.scd import scd2_build

    e = load(spark, sf_dir, "events")
    dim = scd2_build(e, ["user_id"], ["event_type"], "ts", order_cols=["event_id"])
    return _scd2_out(dim)


@query("q_scd2_merge_rebuild", oracle=_SCD2_BUILD_ORACLE, tags=("llm", "warehouse"))
def q_scd2_merge_rebuild(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rspl_spark.operators.scd import scd2_build, scd2_merge

    e = load(spark, sf_dir, "events")
    cut = F.lit(_SCD2_CUT).cast("timestamp")
    dim1 = scd2_build(
        e.filter(F.col("ts") <= cut),
        ["user_id"],
        ["event_type"],
        "ts",
        order_cols=["event_id"],
    )
    merged = scd2_merge(
        dim1,
        e.filter(F.col("ts") > cut),
        ["user_id"],
        ["event_type"],
        "ts",
        order_cols=["event_id"],
    )
    return _scd2_out(merged)


@query("q_scd2_snapshot_at", oracle=_SCD2_SNAPSHOT_ORACLE, tags=("llm", "warehouse"))
def q_scd2_snapshot_at(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rspl_spark.operators.scd import scd2_build, scd2_snapshot

    e = load(spark, sf_dir, "events")
    dim = scd2_build(e, ["user_id"], ["event_type"], "ts", order_cols=["event_id"])
    snap = scd2_snapshot(dim, _SCD2_AT)
    return snap.select(
        "user_id",
        "event_type",
        "valid_from",
        F.col("version").cast("long").alias("version"),
    ).orderBy("user_id")


# ---------------------------------------------------------------------------
# Fuzzy string join: trigram-Jaccard >= 0.75 over synthesized part
# descriptions (name+type+brand — p_name alone is a 64-value vocab, all
# pairs would be trivial dups). The Spark side is the prefix-filtered
# AllPairs plan (equi-join on rare prefix tokens, never O(n^2)); the
# oracle is the brute-force definition on a bounded key slice — prefix
# filtering is exact, so the two must agree pair-for-pair. Integer
# threshold arithmetic keeps the pair set engine-exact.
# ---------------------------------------------------------------------------

_FJ_NUM, _FJ_DEN = 75, 100
_FJ_KEYCAP = 400

_FUZZY_ORACLE = f"""
WITH src AS (
  SELECT p_partkey AS id, p_name || ' ' || p_type || ' ' || p_brand AS s
  FROM part WHERE p_partkey <= {_FJ_KEYCAP}
),
tg AS (
  SELECT id,
         LIST_DISTINCT(LIST_TRANSFORM(GENERATE_SERIES(1, GREATEST(LENGTH(s) - 2, 1)),
                                      i -> SUBSTR(s, CAST(i AS INT), 3))) AS t
  FROM src
)
SELECT id_a, id_b, inter, size_a, size_b,
       ROUND(CAST(inter AS DOUBLE) / (size_a + size_b - inter), 6) AS jaccard
FROM (
  SELECT a.id AS id_a, b.id AS id_b,
         CAST(LEN(LIST_INTERSECT(a.t, b.t)) AS BIGINT) AS inter,
         CAST(LEN(a.t) AS BIGINT) AS size_a,
         CAST(LEN(b.t) AS BIGINT) AS size_b
  FROM tg a JOIN tg b ON a.id < b.id
) p
WHERE inter * {_FJ_DEN} >= {_FJ_NUM} * (size_a + size_b - inter)
ORDER BY id_a, id_b
"""


@query("q_fuzzy_join_trigram", oracle=_FUZZY_ORACLE, tags=("llm", "dedup", "join"))
def q_fuzzy_join_trigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rspl_spark.operators.fuzzyjoin import fuzzy_self_join

    p = load(spark, sf_dir, "part").filter(F.col("p_partkey") <= _FJ_KEYCAP)
    src = p.select(
        "p_partkey",
        F.concat_ws(" ", "p_name", "p_type", "p_brand").alias("s"),
    )
    out = fuzzy_self_join(src, "p_partkey", "s", _FJ_NUM, _FJ_DEN)
    return out.orderBy("id_a", "id_b")


# ---------------------------------------------------------------------------
# ORC source/sink roundtrip: a lineitem slice written as ORC, read back
# through the ORC reader, aggregated — the oracle computes the same
# aggregate straight from the parquet, so the gate proves write+read
# value fidelity (ORC stores doubles bit-exact; sums here are exact
# integers/cents so group order cannot matter). Rounds out the batch
# source matrix (parquet/csv/json gates live in the catalog tests).
# ---------------------------------------------------------------------------

_ORC_PRED_SQL = "l_orderkey % 7 = 0"

_ORC_ORACLE = f"""
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
       CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS sum_base_cents
FROM lineitem
WHERE {_ORC_PRED_SQL}
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@query("q_orc_roundtrip", oracle=_ORC_ORACLE, tags=("source", "sink"))
def q_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os

    from rspl_spark.operators.store import warehouse_path
    from rspl_spark.queries.llm_ops import _memo_artifact

    l = load(spark, sf_dir, "lineitem")
    slug = _os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    path = warehouse_path(spark, f"orc_lineitem_{slug}")

    def build():
        (
            l.filter(F.expr(_ORC_PRED_SQL))
            .select("l_orderkey", "l_returnflag", "l_quantity", "l_extendedprice")
            .write.mode("overwrite")
            .orc(path)
        )
        return spark.range(1)  # marker: the memo caches the WRITE, reads stay ORC

    _memo_artifact(spark, ("orc_roundtrip", sf_dir), build)
    back = spark.read.orc(path)
    return (
        back.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("l_quantity").cast("long")).cast("long").alias("sum_qty"),
            F.sum(
                F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long")
            ).cast("long").alias("sum_base_cents"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# Point-in-time fact enrichment against the SCD2 dimension — THE
# no-leakage training-data join: each fact row sees exactly the
# dimension version that was valid at its own timestamp, never a later
# one. Equi key (user_id) + interval predicate; per-key version lists
# are small, so the range residual rides the key join.
# ---------------------------------------------------------------------------

_SCD2_ENRICH_ORACLE = (
    _SCD2_CTES
    + """
SELECT f.event_id, f.user_id, f.ts, d.event_type AS state_at_ts,
       d.version
FROM (SELECT event_id, user_id, ts FROM events WHERE event_id % 11 = 0) f
JOIN dim d
  ON f.user_id = d.user_id
 AND d.valid_from <= f.ts
 AND (d.valid_to IS NULL OR f.ts < d.valid_to)
ORDER BY f.event_id
"""
)


@query("q_scd2_fact_enrich", oracle=_SCD2_ENRICH_ORACLE, tags=("llm", "warehouse"))
def q_scd2_fact_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rspl_spark.operators.scd import scd2_build

    e = load(spark, sf_dir, "events")
    # dim and facts share lineage (both derive from e) — rename the dim
    # side to disjoint columns so the self-join resolves unambiguously
    dim = scd2_build(
        e, ["user_id"], ["event_type"], "ts", order_cols=["event_id"]
    ).select(
        F.col("user_id").alias("d_user"),
        F.col("event_type").alias("state_at_ts"),
        "valid_from",
        "valid_to",
        F.col("version").cast("long").alias("version"),
    )
    facts = e.filter(F.col("event_id") % 11 == 0).select("event_id", "user_id", "ts")
    joined = facts.join(
        dim,
        (F.col("user_id") == F.col("d_user"))
        & (F.col("valid_from") <= F.col("ts"))
        & (F.col("valid_to").isNull() | (F.col("ts") < F.col("valid_to"))),
    )
    return joined.select(
        "event_id", "user_id", "ts", "state_at_ts", "version"
    ).orderBy("event_id")


# ---------------------------------------------------------------------------
# Winsorization: events.value clipped per event_type at the exact 5%
# order statistics. Rank-based bounds (actual data values at integer
# ranks) rather than interpolated percentiles — interpolation rules
# differ across engines, ranks don't; with duplicate values the value
# AT a rank is unique even though row_number among ties is not. The
# clipped sum hashes as exact integer cents.
# ---------------------------------------------------------------------------

_WZ_NUM, _WZ_DEN = 5, 100

_WINSORIZE_ORACLE = f"""
WITH ranked AS (
  SELECT event_type, value AS v,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM events WHERE value IS NOT NULL
),
keyed AS (
  SELECT event_type, v, rn,
         (n * {_WZ_NUM} + {_WZ_DEN - 1}) // {_WZ_DEN} AS klo,
         n + 1 - (n * {_WZ_NUM} + {_WZ_DEN - 1}) // {_WZ_DEN} AS khi
  FROM ranked
),
bounds AS (
  SELECT event_type, MIN(v) AS lo, MAX(v) AS hi
  FROM keyed WHERE rn = klo OR rn = khi
  GROUP BY event_type
)
SELECT e.event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(MIN(b.lo), 6) AS lo,
       ROUND(MIN(b.hi), 6) AS hi,
       CAST(SUM(CASE WHEN e.value < b.lo THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_lo,
       CAST(SUM(CASE WHEN e.value > b.hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_hi,
       CAST(SUM(CAST(FLOOR(LEAST(GREATEST(e.value, b.lo), b.hi) * 100 + 0.5) AS BIGINT))
            AS BIGINT) AS sum_clipped_cents
FROM events e JOIN bounds b ON e.event_type = b.event_type
WHERE e.value IS NOT NULL
GROUP BY e.event_type
ORDER BY e.event_type
"""


@query("q_winsorize", oracle=_WINSORIZE_ORACLE, tags=("llm", "curation"))
def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rspl_spark.operators.curation import winsorize

    e = load(spark, sf_dir, "events")
    out = winsorize(e, "value", ["event_type"], _WZ_NUM, _WZ_DEN, keep_bounds=True)
    return (
        out.filter(F.col("value").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.min("bound_lo"), 6).alias("lo"),
            F.round(F.min("bound_hi"), 6).alias("hi"),
            F.sum("clip_lo").cast("long").alias("n_clip_lo"),
            F.sum("clip_hi").cast("long").alias("n_clip_hi"),
            F.sum(F.floor(F.col("clipped") * 100 + 0.5).cast("long"))
            .cast("long")
            .alias("sum_clipped_cents"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Data-quality audit: declared expectations in ONE scan. Predicate
# rules fold into a single aggregate and unpivot to a row per rule;
# the uniqueness rule is one count-distinct. The synthetic lineitem
# violates some on purpose-ish (discount range is generous, the
# (orderkey, linenumber) pair is documented NON-unique) — the point is
# exact violation counts, not zeros.
# ---------------------------------------------------------------------------

_AUDIT_ORACLE = """
SELECT rule, n_violations, n_checked FROM (
  SELECT 'qty_range' AS rule,
         CAST(SUM(CASE WHEN l_quantity BETWEEN 1 AND 50 THEN 0 ELSE 1 END) AS BIGINT)
           AS n_violations,
         CAST(COUNT(*) AS BIGINT) AS n_checked
  FROM lineitem
  UNION ALL
  SELECT 'discount_range',
         CAST(SUM(CASE WHEN l_discount BETWEEN 0.0 AND 0.08 THEN 0 ELSE 1 END) AS BIGINT),
         CAST(COUNT(*) AS BIGINT)
  FROM lineitem
  UNION ALL
  SELECT 'flag_domain',
         CAST(SUM(CASE WHEN l_returnflag IN ('A', 'N', 'R') THEN 0 ELSE 1 END) AS BIGINT),
         CAST(COUNT(*) AS BIGINT)
  FROM lineitem
  UNION ALL
  SELECT 'shipdate_not_null',
         CAST(SUM(CASE WHEN l_shipdate IS NOT NULL THEN 0 ELSE 1 END) AS BIGINT),
         CAST(COUNT(*) AS BIGINT)
  FROM lineitem
  UNION ALL
  SELECT 'line_key_unique',
         CAST(COUNT(*) - COUNT(DISTINCT l_orderkey * 100 + l_linenumber) AS BIGINT),
         CAST(COUNT(*) AS BIGINT)
  FROM lineitem
  WHERE l_orderkey IS NOT NULL AND l_linenumber IS NOT NULL
) t
ORDER BY rule
"""


@query("q_quality_audit", oracle=_AUDIT_ORACLE, tags=("llm", "curation", "quality"))
def q_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rspl_spark.operators.quality import audit

    li = load(spark, sf_dir, "lineitem")
    out = audit(
        li,
        predicate_rules={
            "qty_range": F.col("l_quantity").between(1, 50),
            "discount_range": F.col("l_discount").between(0.0, 0.08),
            "flag_domain": F.col("l_returnflag").isin("A", "N", "R"),
            "shipdate_not_null": F.col("l_shipdate").isNotNull(),
        },
        unique_rules={"line_key_unique": ["l_orderkey", "l_linenumber"]},
    )
    return out.orderBy("rule")


# ---------------------------------------------------------------------------
# Peak concurrency: the maximum number of simultaneously-open user
# sessions (q_sessionize's 30-minute-gap sessions as the intervals).
# The sweep collapses ±1 deltas per DISTINCT boundary timestamp (V
# rows, not 2n, through the cumulative window — the KS discipline);
# half-open [start, end) so a session ending exactly when another
# starts never double-counts.
# ---------------------------------------------------------------------------

_PEAK_ORACLE = """
WITH sessions AS (
  SELECT user_id, MIN(ts) AS sess_start, MAX(ts) + INTERVAL 30 MINUTE AS sess_end
  FROM (
    SELECT user_id, ts,
           SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
    FROM (
      SELECT user_id, ts, event_id,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       <= INTERVAL 30 MINUTE THEN 0 ELSE 1 END AS is_new
      FROM events
    ) flagged
  ) numbered
  GROUP BY user_id, sess_id
),
deltas AS (
  SELECT sess_start AS t, 1 AS d FROM sessions
  UNION ALL
  SELECT sess_end AS t, -1 AS d FROM sessions
),
per_t AS (SELECT t, SUM(d) AS net FROM deltas GROUP BY t),
running AS (
  SELECT SUM(net) OVER (ORDER BY t
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS open_after_t
  FROM per_t
)
SELECT CAST(MAX(open_after_t) AS BIGINT) AS peak,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM sessions) AS n_intervals
FROM running
"""


@query("q_peak_concurrency", oracle=_PEAK_ORACLE, tags=("window", "analytics"))
def q_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rspl_spark.operators.intervals import peak_concurrency
    from rspl_spark.streaming import session_agg

    e = load(spark, sf_dir, "events")
    sessions = session_agg(
        e, "ts", "30 minutes", {"n_events": F.count(F.lit(1))}, keys=["user_id"]
    )
    return peak_concurrency(sessions, "sess_start", "sess_end")


# ---------------------------------------------------------------------------
# Edit-distance join: all pairs within Levenshtein distance 2 over the
# same synthesized part descriptions. Spark side blocks by the q-gram
# lemma (share one of the 3k+1 globally-rarest occurrence-tagged
# trigrams + length filter) and verifies with the built-in
# levenshtein(); the oracle is the brute-force definition (both engines
# implement unit-cost Levenshtein). Complements the Jaccard fuzzy join:
# thresholded set overlap vs bounded sequence edits.
# ---------------------------------------------------------------------------

_ED_K = 2

_EDIT_JOIN_ORACLE = f"""
WITH src AS (
  SELECT p_partkey AS id, p_name || ' ' || p_type || ' ' || p_brand AS s
  FROM part WHERE p_partkey <= {_FJ_KEYCAP}
)
SELECT a.id AS id_a, b.id AS id_b,
       CAST(LEVENSHTEIN(a.s, b.s) AS BIGINT) AS dist
FROM src a JOIN src b ON a.id < b.id
WHERE ABS(LENGTH(a.s) - LENGTH(b.s)) <= {_ED_K}
  AND LEVENSHTEIN(a.s, b.s) <= {_ED_K}
ORDER BY id_a, id_b
"""


@query("q_edit_distance_join", oracle=_EDIT_JOIN_ORACLE, tags=("llm", "dedup", "join"))
def q_edit_distance_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rspl_spark.operators.fuzzyjoin import edit_distance_self_join

    p = load(spark, sf_dir, "part").filter(F.col("p_partkey") <= _FJ_KEYCAP)
    src = p.select(
        "p_partkey",
        F.concat_ws(" ", "p_name", "p_type", "p_brand").alias("s"),
    )
    out = edit_distance_self_join(src, "p_partkey", "s", _ED_K)
    return out.orderBy("id_a", "id_b")


# ---------------------------------------------------------------------------
# Table diff between two derived order snapshots (old = keys % 9 != 0,
# new = keys % 7 != 0 with price bumped on % 5 == 0 and status flipped
# on % 11 == 0): every key classified inserted/deleted/changed/
# unchanged with its exact changed-column list. One full-outer join on
# the key; null-safe per-column compare in-row.
# ---------------------------------------------------------------------------

_DIFF_ORACLE = """
WITH old_snap AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders WHERE o_orderkey % 9 <> 0
),
new_snap AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 11 = 0 THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
         CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1.0 ELSE o_totalprice END
           AS o_totalprice
  FROM orders WHERE o_orderkey % 7 <> 0
),
j AS (
  SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
         o.o_orderkey IS NULL AS ins, n.o_orderkey IS NULL AS del,
         o.o_orderstatus IS DISTINCT FROM n.o_orderstatus AS c_status,
         o.o_totalprice IS DISTINCT FROM n.o_totalprice AS c_price
  FROM old_snap o FULL OUTER JOIN new_snap n ON o.o_orderkey = n.o_orderkey
)
SELECT o_orderkey,
       CASE WHEN ins THEN 'inserted' WHEN del THEN 'deleted'
            WHEN c_status OR c_price THEN 'changed' ELSE 'unchanged' END AS change_kind,
       COALESCE(CASE WHEN ins OR del THEN ''
            ELSE ARRAY_TO_STRING(LIST_SORT(
                   LIST_FILTER(['o_orderstatus', 'o_totalprice'],
                     x -> (x = 'o_orderstatus' AND c_status)
                       OR (x = 'o_totalprice' AND c_price))), '|')
       END, '') AS changed_cols
FROM j
ORDER BY o_orderkey
"""


@query("q_table_diff", oracle=_DIFF_ORACLE, tags=("warehouse", "quality"))
def q_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rspl_spark.operators.diff import table_diff

    o = load(spark, sf_dir, "orders")
    old_snap = o.filter(F.col("o_orderkey") % 9 != 0).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    new_snap = o.filter(F.col("o_orderkey") % 7 != 0).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 11 == 0, F.lit("X"))
        .otherwise(F.col("o_orderstatus"))
        .alias("o_orderstatus"),
        F.when(F.col("o_orderkey") % 5 == 0, F.col("o_totalprice") + 1.0)
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
    )
    d = table_diff(old_snap, new_snap, ["o_orderkey"])
    return d.select(
        "o_orderkey",
        "change_kind",
        F.concat_ws("|", "changed_cols").alias("changed_cols"),
    ).orderBy("o_orderkey")


# ---------------------------------------------------------------------------
# Two-table fuzzy join (record linkage): part catalog slice A
# (keys 1..400) linked against slice B (keys 401..800) on the same
# synthesized description strings, Jaccard >= 0.75. The rarity
# vocabulary is built over BOTH sides — a shared total order is what
# keeps the prefix lemma valid across tables.
# ---------------------------------------------------------------------------

_LINK_ORACLE = f"""
WITH sa AS (
  SELECT p_partkey AS id, p_name || ' ' || p_type || ' ' || p_brand AS s
  FROM part WHERE p_partkey BETWEEN 1 AND {_FJ_KEYCAP}
),
sb AS (
  SELECT p_partkey AS id, p_name || ' ' || p_type || ' ' || p_brand AS s
  FROM part WHERE p_partkey BETWEEN {_FJ_KEYCAP + 1} AND {2 * _FJ_KEYCAP}
),
tga AS (
  SELECT id, LIST_DISTINCT(LIST_TRANSFORM(GENERATE_SERIES(1, GREATEST(LENGTH(s) - 2, 1)),
                                          i -> SUBSTR(s, CAST(i AS INT), 3))) AS t
  FROM sa
),
tgb AS (
  SELECT id, LIST_DISTINCT(LIST_TRANSFORM(GENERATE_SERIES(1, GREATEST(LENGTH(s) - 2, 1)),
                                          i -> SUBSTR(s, CAST(i AS INT), 3))) AS t
  FROM sb
)
SELECT id_l, id_r, inter, size_l, size_r,
       ROUND(CAST(inter AS DOUBLE) / (size_l + size_r - inter), 6) AS jaccard
FROM (
  SELECT a.id AS id_l, b.id AS id_r,
         CAST(LEN(LIST_INTERSECT(a.t, b.t)) AS BIGINT) AS inter,
         CAST(LEN(a.t) AS BIGINT) AS size_l,
         CAST(LEN(b.t) AS BIGINT) AS size_r
  FROM tga a CROSS JOIN tgb b
) p
WHERE inter * {_FJ_DEN} >= {_FJ_NUM} * (size_l + size_r - inter)
ORDER BY id_l, id_r
"""


@query("q_fuzzy_link_two_tables", oracle=_LINK_ORACLE, tags=("llm", "dedup", "join"))
def q_fuzzy_link_two_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rspl_spark.operators.fuzzyjoin import fuzzy_join

    p = load(spark, sf_dir, "part")
    s = F.concat_ws(" ", "p_name", "p_type", "p_brand").alias("s")
    left = p.filter(F.col("p_partkey").between(1, _FJ_KEYCAP)).select("p_partkey", s)
    right = p.filter(
        F.col("p_partkey").between(_FJ_KEYCAP + 1, 2 * _FJ_KEYCAP)
    ).select("p_partkey", s)
    out = fuzzy_join(left, right, "p_partkey", "p_partkey", "s", _FJ_NUM, _FJ_DEN)
    return out.orderBy("id_l", "id_r")


# ---------------------------------------------------------------------------
# Event-rate anomaly flags: hourly counts per event_type, a bucket is
# anomalous when (n_buckets*c - S)^2 > 9*(n_buckets*SS - S^2) — the
# z>3 test cleared of every float: both sides BIGINT, so each flag is
# engine-exact (a float z-score would flip boundary buckets on 1-ulp
# drift). The monitoring complement to KS/PSI: those watch value
# distributions, this watches arrival rates.
# ---------------------------------------------------------------------------

_RATE_ORACLE = """
WITH counts AS (
  SELECT event_type, DATE_TRUNC('hour', ts) AS bucket_ts,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
),
moments AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n_buckets,
         CAST(SUM(n) AS BIGINT) AS s,
         CAST(SUM(n * n) AS BIGINT) AS ss
  FROM counts GROUP BY event_type
)
SELECT c.event_type, c.bucket_ts, c.n,
       CAST(CASE WHEN (CAST(m.n_buckets AS DOUBLE) * c.n - m.s)
                      * (CAST(m.n_buckets AS DOUBLE) * c.n - m.s)
                      > 9 * (CAST(m.n_buckets AS DOUBLE) * m.ss
                             - CAST(m.s AS DOUBLE) * m.s)
                 THEN 1 ELSE 0 END AS BIGINT) AS flag,
       m.n_buckets
FROM counts c JOIN moments m ON c.event_type = m.event_type
ORDER BY c.event_type, c.bucket_ts
"""


@query("q_rate_anomalies", oracle=_RATE_ORACLE, tags=("llm", "curation", "drift"))
def q_rate_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rspl_spark.operators.drift import rate_anomalies

    e = load(spark, sf_dir, "events")
    out = rate_anomalies(e, "ts", ["event_type"], bucket="hour", z=3)
    return out.orderBy("event_type", "bucket_ts")


# ---------------------------------------------------------------------------
# HLL set algebra: |A∩B| ≈ |A| + |B| − |A∪B| over part-key sets of the
# 'A' vs 'R' return-flag slices. The Spark union estimate comes from
# MERGING the two register tables (per-idx max — no data rescan); the
# oracle builds its union sketch on the unioned rows, which is equal
# BY THE MERGEABILITY LAW the sketch tests pin. The overlap primitive
# for audience/dedup planning at 100 TB: two m-row sketches answer all
# four cardinalities.
# ---------------------------------------------------------------------------


def _hll_sub(pred: str) -> str:
    from rspl_spark.operators.sketches import hll_sql

    ctes = hll_sql(f"(SELECT l_partkey FROM lineitem WHERE {pred}) t", "l_partkey")
    return f"(WITH {ctes} SELECT approx_distinct FROM hest)"


_HLL_INTERSECT_ORACLE = f"""
SELECT a.est_a, b.est_b, u.est_union,
       ROUND(a.est_a + b.est_b - u.est_union, 2) AS est_intersect
FROM (SELECT approx_distinct AS est_a FROM {_hll_sub("l_returnflag = 'A'")} ta) a
CROSS JOIN (SELECT approx_distinct AS est_b FROM {_hll_sub("l_returnflag = 'R'")} tb) b
CROSS JOIN (SELECT approx_distinct AS est_union
            FROM {_hll_sub("l_returnflag IN ('A', 'R')")} tu) u
"""


@query("q_hll_intersect", oracle=_HLL_INTERSECT_ORACLE, tags=("llm", "sketch"))
def q_hll_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rspl_spark.operators.sketches import hll_intersect_estimate

    li = load(spark, sf_dir, "lineitem")
    return hll_intersect_estimate(
        li, "l_partkey", F.col("l_returnflag") == "A", F.col("l_returnflag") == "R"
    )


# ---------------------------------------------------------------------------
# χ² independence: documents lang × source contingency. Cell terms
# (n·O − R·C)²/(n·R·C) with every factor an exact integer carried in
# double (BIGINT products overflow first and the engines disagree on
# overflow; doubles below 2^53 are exact and IEEE-identical).
# ---------------------------------------------------------------------------

_CHI2_ORACLE = """
WITH cells AS (
  SELECT CASE WHEN lang IS NULL THEN '∅'
              ELSE 'v:' || CAST(lang AS VARCHAR) END AS a,
         CASE WHEN source IS NULL THEN '∅'
              ELSE 'v:' || CAST(source AS VARCHAR) END AS b,
         CAST(COUNT(*) AS BIGINT) AS o
  FROM documents GROUP BY 1, 2
),
ra AS (SELECT a, CAST(SUM(o) AS BIGINT) AS r FROM cells GROUP BY a),
cb AS (SELECT b, CAST(SUM(o) AS BIGINT) AS c FROM cells GROUP BY b),
tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM cells),
grid AS (
  SELECT ra.a, cb.b, ra.r, cb.c, CAST(COALESCE(cells.o, 0) AS BIGINT) AS o
  FROM ra CROSS JOIN cb LEFT JOIN cells ON cells.a = ra.a AND cells.b = cb.b
),
termed AS (
  SELECT n,
         (CAST(n AS DOUBLE) * CAST(o AS DOUBLE) - CAST(r AS DOUBLE) * CAST(c AS DOUBLE))
         * (CAST(n AS DOUBLE) * CAST(o AS DOUBLE) - CAST(r AS DOUBLE) * CAST(c AS DOUBLE))
         / (CAST(n AS DOUBLE) * CAST(r AS DOUBLE) * CAST(c AS DOUBLE)) AS term
  FROM grid CROSS JOIN tot
)
SELECT ROUND(SUM(term), 6) AS chi2,
       (SELECT CAST((COUNT(DISTINCT a) - 1) AS BIGINT) FROM cells)
         * (SELECT CAST((COUNT(DISTINCT b) - 1) AS BIGINT) FROM cells) AS dof,
       n
FROM termed GROUP BY n
"""


@query("q_chi_square", oracle=_CHI2_ORACLE, tags=("llm", "curation", "drift"))
def q_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rspl_spark.operators.drift import chi_square

    d = load(spark, sf_dir, "documents")
    return chi_square(d, "lang", "source")


# ---------------------------------------------------------------------------
# Near-dup cluster representatives: instead of keep-first, keep the
# BEST-QUALITY document of every MinHash-LSH cluster (tie: min doc_id)
# and every unclustered doc. The curation upgrade over naive dedup —
# when near-dups differ in quality you want to drop the worse copy,
# not whichever arrived first. Reuses q_dedup_clusters' recursive-CTE
# closure and q_text_quality's scoring, so the oracle is assembled
# from both proven parts.
# ---------------------------------------------------------------------------


def _cluster_reps_oracle() -> str:
    from rspl_spark.queries.llm_ops import _QUALITY_SQL_EXPR, _clusters_oracle

    base = _clusters_oracle()
    head, tail = base.split("SELECT src AS doc_id", 1)
    assert head.rstrip().endswith(")"), "clusters oracle shape changed"
    return (
        head.rstrip()
        + """,
c AS (SELECT src AS doc_id, MIN(dst) AS cluster FROM reach GROUP BY src),
q AS (SELECT doc_id, """
        + _QUALITY_SQL_EXPR
        + """ AS quality FROM documents),
ranked AS (
  SELECT c.doc_id, c.cluster,
         ROW_NUMBER() OVER (PARTITION BY c.cluster
                            ORDER BY q.quality DESC, c.doc_id) AS rk
  FROM c JOIN q ON c.doc_id = q.doc_id
)
SELECT q.doc_id,
       CAST(COALESCE(r.cluster, -1) AS BIGINT) AS cluster,
       q.quality,
       CAST(CASE WHEN r.doc_id IS NULL OR r.rk = 1 THEN 1 ELSE 0 END AS BIGINT) AS keep
FROM q LEFT JOIN ranked r ON q.doc_id = r.doc_id
ORDER BY q.doc_id
"""
    )


@query(
    "q_cluster_representatives",
    oracle=_cluster_reps_oracle(),
    tags=("llm", "dedup", "iterative"),
)
def q_cluster_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rspl_spark.operators.dedup import (
        connected_components_star,
        lsh_candidate_pairs,
        minhash_signatures,
    )
    from rspl_spark.operators.text import quality_score
    from rspl_spark.queries.llm_ops import _memo_artifact

    d = load(spark, sf_dir, "documents")
    sig = _memo_artifact(
        spark, ("minhash_sig", sf_dir), lambda: minhash_signatures(d)
    )
    pairs = lsh_candidate_pairs(sig, threshold=0.25)
    clusters = connected_components_star(pairs)  # (doc_id, cluster), clustered only
    q = quality_score(d).select("doc_id", "quality")
    # rank ONLY clustered docs (cluster tables are small); ranking the
    # unclustered majority would funnel them into one NULL partition
    wc = Window.partitionBy("cluster").orderBy(F.desc("quality"), F.asc("doc_id"))
    reps = (
        clusters.join(q, "doc_id")
        .withColumn("rk", F.row_number().over(wc))
        .select("doc_id", "cluster", "rk")
    )
    out = q.join(F.broadcast(reps), "doc_id", "left")
    return out.select(
        "doc_id",
        F.coalesce("cluster", F.lit(-1)).cast("long").alias("cluster"),
        "quality",
        (F.col("rk").isNull() | (F.col("rk") == 1)).cast("long").alias("keep"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Composite: what changed between two dimension instants? table_diff
# over scd2_snapshot(T1) vs scd2_snapshot(T2) — the "week-over-week
# dimension delta" report, built from two already-gated operators
# composing. Users created between the instants classify as inserted;
# state flips as changed with the exact column list.
# ---------------------------------------------------------------------------

_SCD2_T1 = "2024-01-10 00:00:00"
_SCD2_T2 = _SCD2_AT  # 2024-01-20

_SNAP_DIFF_ORACLE = (
    _SCD2_CTES
    + f""",
s1 AS (
  SELECT user_id, event_type FROM dim
  WHERE valid_from <= TIMESTAMP '{_SCD2_T1}'
    AND (valid_to IS NULL OR TIMESTAMP '{_SCD2_T1}' < valid_to)
),
s2 AS (
  SELECT user_id, event_type FROM dim
  WHERE valid_from <= TIMESTAMP '{_SCD2_T2}'
    AND (valid_to IS NULL OR TIMESTAMP '{_SCD2_T2}' < valid_to)
)
SELECT COALESCE(s1.user_id, s2.user_id) AS user_id,
       CASE WHEN s1.user_id IS NULL THEN 'inserted'
            WHEN s2.user_id IS NULL THEN 'deleted'
            WHEN s1.event_type IS DISTINCT FROM s2.event_type THEN 'changed'
            ELSE 'unchanged' END AS change_kind,
       COALESCE(CASE WHEN s1.user_id IS NULL OR s2.user_id IS NULL THEN ''
            WHEN s1.event_type IS DISTINCT FROM s2.event_type THEN 'event_type'
            ELSE '' END, '') AS changed_cols
FROM s1 FULL OUTER JOIN s2 ON s1.user_id = s2.user_id
ORDER BY user_id
"""
)


@query("q_scd2_snapshot_diff", oracle=_SNAP_DIFF_ORACLE, tags=("warehouse", "quality"))
def q_scd2_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rspl_spark.operators.diff import table_diff
    from rspl_spark.operators.scd import scd2_build, scd2_snapshot

    e = load(spark, sf_dir, "events")
    dim = scd2_build(e, ["user_id"], ["event_type"], "ts", order_cols=["event_id"])
    s1 = scd2_snapshot(dim, _SCD2_T1).select("user_id", "event_type")
    s2 = scd2_snapshot(dim, _SCD2_T2).select("user_id", "event_type")
    d = table_diff(s1, s2, ["user_id"])
    return d.select(
        "user_id",
        "change_kind",
        F.concat_ws("|", "changed_cols").alias("changed_cols"),
    ).orderBy("user_id")
