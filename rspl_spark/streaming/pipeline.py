"""Streaming training-data curation pipeline: the composed, end-to-end
shape a 100 TB ingest actually runs —

    raw docs ──▶ quality score ──▶ language filter ──▶ exact dedup
                (codegen exprs)     (codegen exprs)     (content-hash in
                                                         keyed state)
               ──▶ curated docs

Quality/language stages are stateless Catalyst expressions (stream-safe
narrow ops); dedup holds seen content-hashes in per-bucket state — the
hash keys the shuffle, so state is uniformly distributed and each bucket
holds only its own hashes. The dedup stage is a step function on the
keyed-state template (``streaming/stateful.py::keyed_state_stream``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, StructField, StructType

from rspl_spark.operators.text import lang_pred_expr, quality_expr
from rspl_spark.streaming.stateful import keyed_state_stream

_SEEN_STATE = StructType([StructField("seen", BinaryType())])


def curate_stream(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_quality: float = 0.3,
    keep_langs: tuple[str, ...] = ("en",),
    n_hash_buckets: int = 64,
) -> DataFrame:
    """(doc_id, text, quality, pred_lang) — documents that pass quality,
    language, and first-seen exact-dedup gates. Streaming frames only
    (the dedup stage is applyInPandasWithState); the batch equivalent is
    operators.text.quality_score/language_id + operators.dedup.exact_dedup.
    """
    # FUSED signal computation (quality_expr/lang_pred_expr exist for
    # exactly this): one narrow projection over the stream. The previous
    # formulation joined quality_score/language_id outputs back onto the
    # source — three scans, and in streaming mode two unwatermarked
    # stream-stream self-joins whose state retains the whole corpus.
    scored = (
        docs.select(
            id_col,
            text_col,
            quality_expr(text_col).alias("quality"),
            lang_pred_expr(text_col).alias("pred_lang"),
        )
        .filter((F.col("quality") >= min_quality) & F.col("pred_lang").isin(*keep_langs))
        .withColumn("h", F.md5(F.col(text_col)))
        # pmod, not abs: abs(hash) overflows under ANSI mode when hash
        # lands on Integer.MIN_VALUE (one doc in ~2^32 kills the query)
        .withColumn("bucket", F.pmod(F.hash("h"), F.lit(n_hash_buckets)))
    )

    # id type derived from the input, not hardcoded long: the id_col
    # parameter invites string doc ids, which a `long` output schema
    # would crash on at Arrow conversion inside the running query
    id_t = docs.schema[id_col].dataType.simpleString()

    def dedup(_bucket, seen: set, batch, _now):
        # the first-seen keeper must be the min doc_id of the batch
        rows = []
        # positional access (column order pinned by the select in
        # `scored`): itertuples+getattr breaks on column names that
        # aren't valid Python identifiers
        cols = list(batch.columns)
        i_id, i_txt = cols.index(id_col), cols.index(text_col)
        i_q, i_l, i_h = (
            cols.index("quality"), cols.index("pred_lang"), cols.index("h")
        )
        for r in batch.itertuples(index=False):
            h = r[i_h]
            if h in seen:
                continue
            seen.add(h)
            rows.append((r[i_id], r[i_txt], r[i_q], r[i_l]))
        return seen, rows

    return keyed_state_stream(
        scored,
        "bucket",
        dedup,
        _SEEN_STATE,
        set,
        [(id_col, id_t), (text_col, "string"), ("quality", "double"), ("pred_lang", "string")],
        order=[id_col],
    )
