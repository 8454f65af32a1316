"""Regular-grid time-series gates (operators/timeseries.py): gap-fill
(LOCF + linear interpolation), exact-replay EWMA, rolling median, and
MAD outlier fences — the dense-grid reconstruction the reference's
paced stream combinators presume (src/combinators.rs ticks every
bucket; telemetry doesn't).

All five gates run at the BUCKET grain: events is aggregated to
(user_id | event_type, 6-hour bucket) first — MIN(value) per bucket is
order-independent and exact, so every downstream float enters the
gap-fill/EWMA arithmetic bit-identical across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rspl_spark.catalog import load
from rspl_spark.streaming.sources import scratch_dir
from rspl_spark.queries import query

_EWMA_W = 16
# exact powers of two as literals: repr() is shortest-round-trip, so
# both engines parse back the SAME double — no runtime pow anywhere
_PW = [2.0 ** -k for k in range(_EWMA_W + 1)]
_PW_SQL = "[" + ", ".join(repr(x) for x in _PW) + "]"


def _bucketed(spark: SparkSession, sf_dir: str, key: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy(F.col(key), F.window("ts", "6 hours").alias("w"))
        .agg(
            F.min("value").alias("v"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
        .select(key, F.col("w.start").alias("bts"), "v", "n")
    )


_OBS_CTE = """
WITH obs AS (
  SELECT {key} AS k, TIME_BUCKET(INTERVAL 6 HOUR, ts) AS bts,
         MIN(value) AS v, COUNT(*) AS n
  FROM events GROUP BY 1, 2
)
"""

_GAPFILL_CTES = (
    _OBS_CTE
    + """,
bounds AS (SELECT k, MIN(bts) AS t0, MAX(bts) AS t1 FROM obs GROUP BY k),
spine AS (
  SELECT k, UNNEST(generate_series(t0, t1, INTERVAL 6 HOUR)) AS bts FROM bounds
),
grid AS (
  SELECT s.k, s.bts, o.v, o.n, (o.k IS NOT NULL) AS observed
  FROM spine s LEFT JOIN obs o ON s.k = o.k AND s.bts = o.bts
)
"""
)

_LOCF_ORACLE = (
    _GAPFILL_CTES.format(key="user_id")
    + """
SELECT k AS user_id, CAST(bts AS TIMESTAMP) AS bts,
       LAST_VALUE(v IGNORE NULLS) OVER (
         PARTITION BY k ORDER BY bts ROWS UNBOUNDED PRECEDING) AS v,
       CAST(COALESCE(n, 0) AS BIGINT) AS n,
       CAST(NOT observed AS BIGINT) AS is_gap
FROM grid
ORDER BY user_id, bts
"""
)


@query("q_gapfill_locf", oracle=_LOCF_ORACLE, tags=("timeseries", "window"))
def q_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense 6-hour grid per user; gaps carry the last observation
    forward (v) / zero-fill the event count (n)."""
    from rspl_spark.operators.timeseries import gapfill

    obs = _bucketed(spark, sf_dir, "user_id")
    filled = gapfill(
        obs, ["user_id"], "bts", "6 HOURS", {"v": "locf", "n": "zero"}
    )
    return filled.select(
        "user_id",
        "bts",
        "v",
        F.col("n").cast("long").alias("n"),
        F.col("is_gap").cast("long").alias("is_gap"),
    ).orderBy("user_id", "bts")


_INTERP_ORACLE = (
    _GAPFILL_CTES.format(key="user_id")
    + """,
br AS (
  SELECT k, bts, v, observed,
    LAST_VALUE(v IGNORE NULLS) OVER (
      PARTITION BY k ORDER BY bts ROWS UNBOUNDED PRECEDING) AS pv,
    LAST_VALUE(CASE WHEN v IS NOT NULL THEN bts END IGNORE NULLS) OVER (
      PARTITION BY k ORDER BY bts ROWS UNBOUNDED PRECEDING) AS pt,
    FIRST_VALUE(v IGNORE NULLS) OVER (
      PARTITION BY k ORDER BY bts
      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
    FIRST_VALUE(CASE WHEN v IS NOT NULL THEN bts END IGNORE NULLS) OVER (
      PARTITION BY k ORDER BY bts
      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
  FROM grid
)
SELECT k AS user_id, CAST(bts AS TIMESTAMP) AS bts,
       CASE WHEN v IS NOT NULL THEN v
            WHEN nv IS NULL THEN pv
            WHEN pv IS NULL THEN nv
            ELSE ROUND(pv + (nv - pv) *
                 (CAST(EPOCH_US(bts) - EPOCH_US(pt) AS DOUBLE)
                  / CAST(EPOCH_US(nt) - EPOCH_US(pt) AS DOUBLE)), 6)
       END AS v,
       CAST(NOT observed AS BIGINT) AS is_gap
FROM br
ORDER BY user_id, bts
"""
)


@query("q_gapfill_interp", oracle=_INTERP_ORACLE, tags=("timeseries", "window"))
def q_gapfill_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense 6-hour grid per user; interior gaps linearly interpolated
    between the bracketing observations (microsecond-weighted).
    Identical arithmetic both sides: pv/nv are exact MIN doubles, the
    lerp is one sub/mul/add chain, rounded only on filled rows."""
    from rspl_spark.operators.timeseries import gapfill

    obs = _bucketed(spark, sf_dir, "user_id").drop("n")
    filled = gapfill(obs, ["user_id"], "bts", "6 HOURS", {"v": "linear"})
    return filled.select(
        "user_id", "bts", "v", F.col("is_gap").cast("long").alias("is_gap")
    ).orderBy("user_id", "bts")


_EWMA_ORACLE = (
    _OBS_CTE.format(key="user_id")
    + f""",
lw AS (
  SELECT k, bts, v,
         LIST(v) OVER (PARTITION BY k ORDER BY bts
                       ROWS BETWEEN {_EWMA_W - 1} PRECEDING AND CURRENT ROW) AS l
  FROM obs
)
SELECT k AS user_id, CAST(bts AS TIMESTAMP) AS bts, v,
       ROUND(
         LIST_SUM(LIST_TRANSFORM(RANGE(1, LEN(l) + 1),
                  i -> l[i] * ({_PW_SQL})[LEN(l) - i + 1]))
         / (2.0 - 2.0 * ({_PW_SQL})[LEN(l) + 1]), 6) AS ewma
FROM lw
ORDER BY user_id, bts
"""
)


@query("q_ewma", oracle=_EWMA_ORACLE, tags=("timeseries", "window"))
def q_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Half-life-one EWMA over the trailing 16 observed buckets per
    user. Exact-replay arithmetic: literal power-of-two weights,
    sequential fold, one final division (operators/timeseries.ewma)."""
    from rspl_spark.operators.timeseries import ewma

    obs = _bucketed(spark, sf_dir, "user_id").drop("n")
    return (
        ewma(obs, ["user_id"], "bts", "v", window=_EWMA_W)
        .select("user_id", "bts", "v", "ewma")
        .orderBy("user_id", "bts")
    )


_RMED_ORACLE = (
    _OBS_CTE.format(key="user_id")
    + """
SELECT k AS user_id, CAST(bts AS TIMESTAMP) AS bts, v,
       ROUND(QUANTILE_CONT(v, 0.5) OVER (
         PARTITION BY k ORDER BY bts
         ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 6) AS rmedian
FROM obs
ORDER BY user_id, bts
"""
)


@query("q_rolling_median", oracle=_RMED_ORACLE, tags=("timeseries", "window"))
def q_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact trailing 7-bucket median per user (Spark percentile ≡
    DuckDB QUANTILE_CONT, both linear-interpolating)."""
    from rspl_spark.operators.timeseries import rolling_median

    obs = _bucketed(spark, sf_dir, "user_id").drop("n")
    return (
        rolling_median(obs, ["user_id"], "bts", "v", n_buckets=7)
        .select("user_id", "bts", "v", "rmedian")
        .orderBy("user_id", "bts")
    )


_MAD_ORACLE = (
    _OBS_CTE.format(key="event_type")
    + """,
med AS (SELECT k, QUANTILE_CONT(v, 0.5) AS med FROM obs GROUP BY k),
wm AS (SELECT o.k, o.bts, o.v, m.med FROM obs o
       JOIN med m ON o.k IS NOT DISTINCT FROM m.k),
mad AS (SELECT k, QUANTILE_CONT(ABS(v - med), 0.5) AS mad FROM wm GROUP BY k)
SELECT w.k AS event_type, CAST(w.bts AS TIMESTAMP) AS bts, w.v,
       ROUND(w.med, 6) AS med, ROUND(d.mad, 6) AS mad,
       CAST(ABS(w.v - w.med) > 3.0 * d.mad AS BIGINT) AS is_outlier
FROM wm w JOIN mad d ON w.k IS NOT DISTINCT FROM d.k
ORDER BY event_type, bts
"""
)


@query("q_mad_outliers", oracle=_MAD_ORACLE, tags=("timeseries", "curation"))
def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD fences per event_type over the bucket grain — the
    robust outlier flag a lone wild value cannot hide from (it drags a
    mean/stddev fence, not a median one)."""
    from rspl_spark.operators.timeseries import mad_outliers

    obs = _bucketed(spark, sf_dir, "event_type").drop("n")
    out = mad_outliers(obs, ["event_type"], "v", k=3.0)
    return out.select(
        "event_type",
        "bts",
        "v",
        F.round("med", 6).alias("med"),
        F.round("mad", 6).alias("mad"),
        F.col("is_outlier").cast("long").alias("is_outlier"),
    ).orderBy("event_type", "bts")


# ------------------------------------------------------ streaming parity
# The streaming twins (streaming/timeseries.py) observed to a finite
# in-order prefix (availableNow over mtime-ordered chunks) must equal
# the batch grid — so they get FULL oracles, not rows-only checks: the
# same reference discipline (streams/mod.rs:62-77 finite-prefix
# observation) the other streaming parity tests use, lifted into the
# correctness gate itself.


def _stream_obs(spark: SparkSession, sf_dir: str, n_chunks: int = 3):
    """The q_gapfill obs frame chunked into in-order micro-batches on a
    temp dir; returns (streaming DataFrame, dir). Chunking is
    executor-side (``write_sorted_chunks``: one range shuffle — no
    ``orderBy().toPandas()``, so the harness device itself is
    scale-honest). The sink run in ``_drain`` completes before the
    gate returns, after which the dir is deleted there."""
    import tempfile

    from rspl_spark.streaming.sources import file_stream, write_sorted_chunks

    obs = _bucketed(spark, sf_dir, "user_id").drop("n")
    tmp = scratch_dir("rspl_ts_stream_")
    write_sorted_chunks(obs, tmp, ["bts", "user_id"], n_chunks)
    return file_stream(spark, tmp, "user_id long, bts timestamp, v double"), tmp


def _drain(out: DataFrame, name: str, tmp_dir: str) -> DataFrame:
    """Run the stream to completion into a memory table, then reap the
    chunk dir (the availableNow run has fully consumed it; the memory
    table is independent of the files)."""
    import shutil
    import uuid

    from rspl_spark.streaming.sources import run_to_memory_sink

    table = f"{name}_{uuid.uuid4().hex[:8]}"
    try:
        run_to_memory_sink(out, table, timeout_s=300, source_dirs=[tmp_dir])
    finally:
        shutil.rmtree(tmp_dir, ignore_errors=True)
    return out.sparkSession.table(table)


_STREAM_LOCF_ORACLE = (
    _GAPFILL_CTES.format(key="user_id")
    + """
SELECT CAST(k AS VARCHAR) AS user_id, CAST(bts AS TIMESTAMP) AS bts,
       LAST_VALUE(v IGNORE NULLS) OVER (
         PARTITION BY k ORDER BY bts ROWS UNBOUNDED PRECEDING) AS v,
       CAST(NOT observed AS BIGINT) AS is_gap
FROM grid
ORDER BY user_id, bts
"""
)


@query(
    "q_gapfill_stream_locf",
    oracle=_STREAM_LOCF_ORACLE,
    tags=("timeseries", "streaming"),
)
def q_gapfill_stream_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gapfill_stream (keyed applyInPandasWithState; O(1) state: last
    bucket + one double per fill column) over an in-order 3-chunk file
    stream — the appended rows across all micro-batches ARE the batch
    LOCF grid."""
    from rspl_spark.streaming.timeseries import gapfill_stream

    stream, tmp = _stream_obs(spark, sf_dir)
    out = gapfill_stream(stream, "user_id", "bts", "6 hours", {"v": "locf"})
    got = _drain(out, "t_q_gapfill_stream", tmp)
    return got.select(
        "user_id", "bts", "v", F.col("is_gap").cast("long").alias("is_gap")
    ).orderBy("user_id", "bts")


_STREAM_EWMA_ORACLE = (
    _OBS_CTE.format(key="user_id")
    + f""",
lw AS (
  SELECT k, bts, v,
         LIST(v) OVER (PARTITION BY k ORDER BY bts
                       ROWS BETWEEN {_EWMA_W - 1} PRECEDING AND CURRENT ROW) AS l
  FROM obs
)
SELECT CAST(k AS VARCHAR) AS user_id, CAST(bts AS TIMESTAMP) AS bts, v,
       ROUND(
         LIST_SUM(LIST_TRANSFORM(RANGE(1, LEN(l) + 1),
                  i -> l[i] * ({_PW_SQL})[LEN(l) - i + 1]))
         / (2.0 - 2.0 * ({_PW_SQL})[LEN(l) + 1]), 6) AS ewma
FROM lw
ORDER BY user_id, bts
"""
)


@query(
    "q_ewma_stream",
    oracle=_STREAM_EWMA_ORACLE,
    tags=("timeseries", "streaming"),
)
def q_ewma_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ewma_stream (keyed state = trailing ≤16 doubles) over the same
    chunked stream — bit-exact against the batch fold: the Python
    accumulation replays the identical IEEE-double sequence, so the
    oracle needs no extra slack."""
    from rspl_spark.streaming.timeseries import ewma_stream

    stream, tmp = _stream_obs(spark, sf_dir)
    out = ewma_stream(stream, "user_id", "bts", "v", window=_EWMA_W)
    got = _drain(out, "t_q_ewma_stream", tmp)
    return got.select("user_id", "bts", "v", "ewma").orderBy("user_id", "bts")


# --------------------------------------------------------------- resample
# bucket → aggregate → gapfill as ONE operator call — the single most
# common telemetry query. The corpus is scanned once (plan-pinned in
# tests/test_timeseries.py); fills exercise all three grid methods at
# once (locf value, zero-filled count, null-on-gap sum).

_RESAMPLE_ORACLE = """
WITH obs AS (
  SELECT user_id AS k, TIME_BUCKET(INTERVAL 6 HOUR, ts) AS bts,
         MIN(value) AS v, COUNT(*) AS n, ROUND(SUM(value), 6) AS sv
  FROM events GROUP BY 1, 2
),
bounds AS (SELECT k, MIN(bts) AS t0, MAX(bts) AS t1 FROM obs GROUP BY k),
spine AS (
  SELECT k, UNNEST(generate_series(t0, t1, INTERVAL 6 HOUR)) AS bts FROM bounds
),
grid AS (
  SELECT s.k, s.bts, o.v, o.n, o.sv, (o.k IS NOT NULL) AS observed
  FROM spine s LEFT JOIN obs o ON s.k = o.k AND s.bts = o.bts
)
SELECT k AS user_id, CAST(bts AS TIMESTAMP) AS bts,
       LAST_VALUE(v IGNORE NULLS) OVER (
         PARTITION BY k ORDER BY bts ROWS UNBOUNDED PRECEDING) AS v,
       CAST(COALESCE(n, 0) AS BIGINT) AS n,
       sv,
       CAST(NOT observed AS BIGINT) AS is_gap
FROM grid
ORDER BY user_id, bts
"""


@query("q_resample", oracle=_RESAMPLE_ORACLE, tags=("timeseries", "window"))
def q_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-call downsample: events → dense per-user 6-hour grid with
    LOCF'd min, zero-filled event count, and NULL-on-gap sum — the
    composite `resample` (operators/timeseries.py) chaining bucket agg
    and gapfill over ONE corpus scan."""
    from rspl_spark.operators.timeseries import resample

    e = load(spark, sf_dir, "events")
    out = resample(
        e,
        ["user_id"],
        "ts",
        "6 hours",
        aggs={
            "v": F.min("value"),
            "n": F.count(F.lit(1)).cast("long"),
            "sv": F.round(F.sum("value"), 6),
        },
        fills={"v": "locf", "n": "zero"},
    )
    return out.select(
        "user_id",
        F.col("ts").alias("bts"),
        "v",
        "n",
        "sv",
        F.col("is_gap").cast("long").alias("is_gap"),
    ).orderBy("user_id", "bts")


_STREAM_RMED_ORACLE = (
    _OBS_CTE.format(key="user_id")
    + """
SELECT CAST(k AS VARCHAR) AS user_id, CAST(bts AS TIMESTAMP) AS bts, v,
       ROUND(QUANTILE_CONT(v, 0.5) OVER (
         PARTITION BY k ORDER BY bts
         ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 6) AS rmedian
FROM obs
ORDER BY user_id, bts
"""
)


@query(
    "q_rolling_median_stream",
    oracle=_STREAM_RMED_ORACLE,
    tags=("timeseries", "streaming"),
)
def q_rolling_median_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rolling_median_stream (keyed state = trailing ≤7 doubles) over
    the chunked stream — the sorted-tail interpolation replays Spark's
    exact percentile (lower + (upper−lower)·0.5), which ≡ DuckDB
    QUANTILE_CONT."""
    from rspl_spark.streaming.timeseries import rolling_median_stream

    stream, tmp = _stream_obs(spark, sf_dir)
    out = rolling_median_stream(stream, "user_id", "bts", "v", n_buckets=7)
    got = _drain(out, "t_q_rmed_stream", tmp)
    return got.select("user_id", "bts", "v", "rmedian").orderBy("user_id", "bts")


# -------------------------------------------- rolling distinct (HLL merge)
# "distinct users in the trailing W days" — the sliding-cardinality
# question an exact COUNT(DISTINCT) answers only by re-scanning every
# window (W× the corpus) or holding all (bucket, key) pairs. Mergeable
# HLL registers are built once per bucket and max-merged per window at
# register grain (operators/sketches.py::rolling_distinct_hll); the
# oracle replays the identical registers + estimate literals.

_RD_W = 4  # trailing 4 × 1-day buckets
_RD_STEP_US = 86_400_000_000


def _rolling_hll_oracle() -> str:
    from rspl_spark.operators.sketches import HLL_P, hll_alpha

    m = 1 << HLL_P
    wbits = 60 - HLL_P
    numer = repr(hll_alpha(m) * m * m * float(1 << (wbits + 1)))
    return f"""
WITH src AS (
  SELECT FLOOR(EPOCH_US(ts) / {_RD_STEP_US}) AS bidx,
         CAST('0x' || SUBSTR(MD5(CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
  FROM events WHERE user_id IS NOT NULL
),
hreg AS (
  SELECT bidx, idx, CAST(MAX(rank) AS BIGINT) AS mj FROM (
    SELECT bidx, h % {m} AS idx,
           CASE WHEN h // {m} = 0 THEN {wbits + 1}
                ELSE {wbits + 1} - LENGTH(BIN(h // {m})) END AS rank
    FROM src
  ) r GROUP BY bidx, idx
),
mb AS (SELECT MAX(bidx) AS maxb FROM hreg),
ex AS (
  SELECT UNNEST(generate_series(CAST(bidx AS BIGINT),
                CAST(LEAST(bidx + {_RD_W - 1}, (SELECT maxb FROM mb)) AS BIGINT)))
           AS bout,
         idx, mj
  FROM hreg
),
merged AS (SELECT bout, idx, MAX(mj) AS mj FROM ex GROUP BY bout, idx),
hagg AS (
  SELECT bout,
         CAST(SUM(1::BIGINT << CAST({wbits + 1} - mj AS INT)) AS BIGINT)
           + ({m} - COUNT(*)) * (1::BIGINT << {wbits + 1}) AS s,
         {m} - COUNT(*) AS v
  FROM merged GROUP BY bout
)
SELECT MAKE_TIMESTAMP(CAST(bout * {_RD_STEP_US} AS BIGINT)) AS bts,
       ROUND(CASE WHEN {numer} / CAST(s AS DOUBLE) <= {2.5 * m}
                   AND v > 0
                  THEN {float(m)!r} * LN({float(m)!r} / CAST(v AS DOUBLE))
                  ELSE {numer} / CAST(s AS DOUBLE) END, 2) AS approx_distinct
FROM hagg
ORDER BY bts
"""


@query(
    "q_rolling_distinct_hll",
    oracle=_rolling_hll_oracle(),
    tags=("timeseries", "sketch"),
)
def q_rolling_distinct_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate distinct users over the trailing 4 days, one row per
    day — corpus scanned ONCE (bucket registers), windows max-merged at
    register grain."""
    from rspl_spark.operators.sketches import rolling_distinct_hll

    e = load(spark, sf_dir, "events")
    out = rolling_distinct_hll(
        e, "user_id", "ts", step="1 day", window_buckets=_RD_W
    )
    return out.orderBy("bts")


_RQ_NBINS = 256
_RQ_QS = (0.5, 0.95)


def _rolling_quantile_oracle() -> str:
    qvals = ", ".join(f"({float(q)!r})" for q in _RQ_QS)
    nb = float(_RQ_NBINS)
    return f"""
WITH base AS (
  SELECT FLOOR(EPOCH_US(ts) / {_RD_STEP_US}) AS bidx, CAST(value AS DOUBLE) AS v
  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
),
hstats AS (SELECT CAST(MIN(v) AS DOUBLE) AS _lo, CAST(MAX(v) AS DOUBLE) AS _hi
           FROM base),
hbins AS (
  SELECT bidx,
         CASE WHEN s._hi = s._lo THEN 0
              ELSE LEAST({_RQ_NBINS - 1},
                         CAST(FLOOR((v - s._lo) / ((s._hi - s._lo) / {nb!r}))
                              AS INT))
         END AS bin,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM base CROSS JOIN hstats s
  GROUP BY ALL
),
mb AS (SELECT MAX(bidx) AS maxb FROM hbins),
ex AS (
  SELECT UNNEST(generate_series(CAST(bidx AS BIGINT),
                CAST(LEAST(bidx + {_RD_W - 1}, (SELECT maxb FROM mb)) AS BIGINT)))
           AS bout,
         bin, cnt
  FROM hbins
),
merged AS (SELECT bout, bin, CAST(SUM(cnt) AS BIGINT) AS cnt
           FROM ex GROUP BY bout, bin),
wn AS (
  SELECT bout, bin, cnt,
         CAST(SUM(cnt) OVER (PARTITION BY bout) AS BIGINT) AS n,
         CAST(SUM(cnt) OVER (PARTITION BY bout ORDER BY bin
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
  FROM merged
)
SELECT MAKE_TIMESTAMP(CAST(bout * {_RD_STEP_US} AS BIGINT)) AS bts, q,
       ROUND(CASE WHEN s._hi = s._lo THEN s._lo
                  ELSE s._lo + ((s._hi - s._lo) / {nb!r})
                        * (CAST(bin AS DOUBLE)
                           + (q * CAST(n AS DOUBLE) - CAST(cum - cnt AS DOUBLE))
                             / CAST(cnt AS DOUBLE))
             END, 4) AS est
FROM wn CROSS JOIN hstats s CROSS JOIN (VALUES {qvals}) qs(q)
WHERE CAST(cum - cnt AS DOUBLE) < q * CAST(n AS DOUBLE)
  AND q * CAST(n AS DOUBLE) <= CAST(cum AS DOUBLE)
ORDER BY bts, q
"""


@query(
    "q_rolling_quantiles_hist",
    oracle=_rolling_quantile_oracle(),
    tags=("timeseries", "sketch"),
)
def q_rolling_quantiles_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p50/p95 of event value over the trailing 4 days, one row per
    (day, q) — per-bucket histogram bins summed per window at bin
    grain (sketches.py::rolling_hist_quantiles); an exact sliding
    percentile re-sorts every window's raw rows."""
    from rspl_spark.operators.sketches import rolling_hist_quantiles

    e = load(spark, sf_dir, "events")
    out = rolling_hist_quantiles(
        e, "value", "ts", step="1 day", window_buckets=_RD_W,
        qs=_RQ_QS, nbins=_RQ_NBINS,
    )
    return out.orderBy("bts", "q")
