"""Behavioral-analytics gates (operators/behavior.py): weekly cohort
retention and the event-type Markov transition matrix over the events
table — the population-level complement to the per-entity FSM gates
(q_dsl_fsm_keyed; tests/events.rs states-as-continuations).

Determinism: both gates are exact integer counts until one final
division rounded to 6dp; the transition ordering ties on ``ts`` are
broken by the UNIQUE ``event_id``, so the pair multiset is
reproducible in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from rspl_spark.catalog import load
from rspl_spark.streaming.sources import scratch_dir
from rspl_spark.queries import query

_RETENTION_ORACLE = """
WITH up AS (
  SELECT DISTINCT user_id AS u, CAST(DATE_TRUNC('week', ts) AS DATE) AS p
  FROM events
),
upc AS (
  SELECT u, p, MIN(p) OVER (PARTITION BY u) AS cohort FROM up
),
counts AS (
  SELECT cohort, CAST(DATEDIFF('day', cohort, p) / 7 AS BIGINT) AS "offset",
         CAST(COUNT(*) AS BIGINT) AS n_active
  FROM upc GROUP BY 1, 2
)
SELECT cohort, "offset", n_active,
       MAX(CASE WHEN "offset" = 0 THEN n_active END)
         OVER (PARTITION BY cohort) AS n_cohort,
       ROUND(CAST(n_active AS DOUBLE)
             / CAST(MAX(CASE WHEN "offset" = 0 THEN n_active END)
                    OVER (PARTITION BY cohort) AS DOUBLE), 6) AS retention
FROM counts
ORDER BY cohort, "offset"
"""


@query("q_cohort_retention", oracle=_RETENTION_ORACLE, tags=("behavior",))
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohorts by first activity; n_active per week offset and
    the retention ratio — one events scan, two shuffles, exact integers
    until the final division."""
    from rspl_spark.operators.behavior import cohort_retention

    e = load(spark, sf_dir, "events")
    return cohort_retention(e, "user_id", "ts", period="week").orderBy(
        "cohort", "offset"
    )


_TRANSITION_ORACLE = """
WITH pairs AS (
  SELECT LAG(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS prev_state,
         event_type AS state
  FROM events
  WHERE event_type IS NOT NULL  -- NULL states dropped, like the operator
)
SELECT prev_state, state, CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(CAST(COUNT(*) AS DOUBLE)
             / CAST(SUM(COUNT(*)) OVER (PARTITION BY prev_state) AS DOUBLE),
             6) AS p
FROM pairs
WHERE prev_state IS NOT NULL
GROUP BY prev_state, state
ORDER BY prev_state, state
"""


@query("q_transition_matrix", oracle=_TRANSITION_ORACLE, tags=("behavior",))
def q_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order event-type transition matrix per user, row-normalized
    — ties on ts broken by the unique event_id so the matrix is
    run-reproducible."""
    from rspl_spark.operators.behavior import transition_matrix

    e = load(spark, sf_dir, "events")
    return transition_matrix(
        e, "user_id", "ts", "event_type", tiebreak_cols=["event_id"]
    ).orderBy("prev_state", "state")


_PMI_ORACLE = r"""
WITH toks AS (
  SELECT STRING_SPLIT_REGEX(TRIM(text), '\s+') AS t FROM documents
),
pairs AS (
  SELECT t[i] AS a, t[i + 1] AS b
  FROM toks, UNNEST(RANGE(1, GREATEST(LEN(t), 1))) AS r(i)
),
big AS (SELECT a, b, COUNT(*) AS n_ab FROM pairs GROUP BY a, b),
tot AS (SELECT SUM(n_ab) AS n_total FROM big),
scored AS (
  SELECT a, b, CAST(n_ab AS BIGINT) AS n_ab,
    ROUND(LN(CAST(n_ab AS DOUBLE)
             * CAST((SELECT n_total FROM tot) AS DOUBLE)
          / (CAST(SUM(n_ab) OVER (PARTITION BY a) AS DOUBLE)
             * CAST(SUM(n_ab) OVER (PARTITION BY b) AS DOUBLE))), 6) AS pmi
  FROM big
)
SELECT a, b, n_ab, pmi
FROM scored WHERE n_ab >= 20
ORDER BY pmi DESC, a, b
LIMIT 100
"""


@query("q_pmi_collocations", oracle=_PMI_ORACLE, tags=("behavior", "text"))
def q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 collocations by PMI (min bigram count 20) over the
    documents corpus — the above-chance co-occurrence ranking raw
    top-bigrams can't give (operators/text.py::pmi_collocations)."""
    from rspl_spark.operators.text import pmi_collocations

    d = load(spark, sf_dir, "documents")
    return pmi_collocations(d, "text", min_count=20, top_k=100)


_TRANSITION_STREAM_ORACLE = """
WITH pairs AS (
  SELECT CAST(user_id AS VARCHAR) AS user_id,
         LAG(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS prev_state,
         event_type AS state
  FROM events
)
SELECT prev_state, state, CAST(COUNT(*) AS BIGINT) AS n
FROM pairs
WHERE prev_state IS NOT NULL
GROUP BY prev_state, state
ORDER BY prev_state, state
"""


@query(
    "q_transition_pairs_stream",
    oracle=_TRANSITION_STREAM_ORACLE,
    tags=("behavior", "streaming"),
)
def q_transition_pairs_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streamed transition pairs (keyed state = ONE string per user,
    streaming/timeseries.py::transition_pairs_stream) drained over an
    in-order 3-chunk file stream, then aggregated — the pair multiset
    over the finite prefix equals the batch lag exactly."""
    import shutil
    import tempfile
    import uuid

    from pyspark.sql import functions as F

    from rspl_spark.streaming.sources import (
        file_stream,
        run_to_memory_sink,
        write_sorted_chunks,
    )
    from rspl_spark.streaming.timeseries import transition_pairs_stream

    e = load(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type", "event_id"
    )
    tmp = scratch_dir("rspl_trans_stream_")
    table = f"t_q_trans_stream_{uuid.uuid4().hex[:8]}"
    try:
        # executor-side in-order chunking: one range shuffle, no
        # orderBy().toPandas() through the driver
        write_sorted_chunks(e, tmp, ["ts", "event_id"], 3)
        stream = file_stream(
            spark, tmp,
            "user_id long, ts timestamp, event_type string, event_id long",
        )
        out = transition_pairs_stream(
            stream, "user_id", "ts", "event_type", tiebreak_cols=["event_id"]
        )
        run_to_memory_sink(out, table, timeout_s=300, source_dirs=[tmp])
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return (
        spark.table(table)
        .groupBy("prev_state", "state")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy("prev_state", "state")
    )
