"""Fluent user-facing API — the ergonomic entry point a user of the
reference switches to. Two facades:

**Streams** (the reference's own surface — combinator terms over a
(seq, value) frame):

    from rspl_spark.api import stream_of

    out = (stream_of(df, value_col="value")
           .filter(lambda v: v > 0)
           .map(lambda v: v * 2)
           .to_df())              # compiled if possible, else interpreted

The pipeline records an rspl term (compose of combinators, reference
semantics exactly); ``to_df`` tries the Catalyst compiler first and falls
back to the keyed mapInArrow interpreter for stateful terms.

**Tables** (the engine's analytic operator families — graph, behavioral,
time-series, rolling sketches — discoverable in one place instead of
per-module imports):

    from rspl_spark.api import analytics

    ranks = analytics(edges).pagerank(n_iter=10).df
    grid  = (analytics(events)
             .resample(keys=["user_id"], time_col="ts", step="6 HOURS",
                       aggs={"v": F.min("value")}, fills={"v": "locf"})
             .where("is_gap"))    # chain straight into DataFrame ops

Every method is a thin binding of the operator module that owns the
semantics (``rspl_spark.operators.*``); the facade adds discoverability,
not behavior.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from rspl_spark.dsl.combinators import (
    MapSP,
    alternate as _alternate,
    bind as _bind,
    compose,
    filter_sp,
    map_sp,
)
from rspl_spark.dsl.compiler import CompileError, compile_batch, with_dense_ordinal
from rspl_spark.dsl.core import StreamProcessor
from rspl_spark.dsl.interpreter import interpret_batch


class RStream:
    """A (seq, value) DataFrame plus a pending rspl term."""

    def __init__(
        self,
        df: DataFrame,
        value_col: str = "value",
        seq_col: str = "seq",
        key_col: str | None = None,
        _term: StreamProcessor | None = None,
        dense_input: bool = False,
    ):
        self._df = df
        self._value_col = value_col
        self._seq_col = seq_col
        self._key_col = key_col
        self._term = _term
        self._dense_input = dense_input

    def _with(self, sp: StreamProcessor) -> "RStream":
        term = sp if self._term is None else compose(self._term, sp)
        return RStream(
            self._df,
            self._value_col,
            self._seq_col,
            self._key_col,
            term,
            dense_input=self._dense_input,
        )

    def map(self, fn, expr_fn=None, py_fn=None) -> "RStream":
        return self._with(map_sp(fn, expr_fn=expr_fn, py_fn=py_fn))

    def filter(self, pred, expr_fn=None, py_fn=None) -> "RStream":
        return self._with(filter_sp(pred, expr_fn=expr_fn, py_fn=py_fn))

    def then(self, sp: StreamProcessor) -> "RStream":
        """Append an arbitrary term (FSM, alternate, multi-Get window…)."""
        return self._with(sp)

    def alternate_with(self, sp: StreamProcessor) -> "RStream":
        term = self._term if self._term is not None else map_sp(lambda x: x)
        return RStream(
            self._df,
            self._value_col,
            self._seq_col,
            self._key_col,
            _alternate(term, sp),
            dense_input=self._dense_input,
        )

    def bind(self, f) -> "RStream":
        term = self._term if self._term is not None else map_sp(lambda x: x)
        return RStream(
            self._df,
            self._value_col,
            self._seq_col,
            self._key_col,
            _bind(term, f),
            dense_input=self._dense_input,
        )

    def to_df(self, out_type: str | None = None, dense_seq: bool = True) -> DataFrame:
        """Execute: compiled (native Catalyst plan) when the term allows,
        otherwise interpreted (``out_type`` required for that path).

        Seq contract (unified across both paths): the output ``seq`` is a
        DENSE per-stream output ordinal starting at 0 — the interpreter
        numbers outputs that way natively; the compiled path renumbers
        with :func:`with_dense_ordinal` (parallel range partitioning, NOT
        a single-task global window) only when the term can actually
        leave gaps. Length-preserving terms over a dense input (pure map
        chains, alternate-of-maps from ``to_stream_df``/``generate``
        sources) skip the renumber entirely. Pass ``dense_seq=False`` to
        keep raw source ordinals."""
        if self._term is None:
            return self._df
        if self._key_col is None:
            try:
                out = compile_batch(
                    self._term,
                    self._df,
                    self._value_col,
                    self._seq_col,
                    dense_seq=self._dense_input,
                )
                if dense_seq and not (self._dense_input and _length_preserving(self._term)):
                    out = (
                        with_dense_ordinal(out, self._seq_col, "_dense")
                        .drop(self._seq_col)
                        .withColumnRenamed("_dense", self._seq_col)
                        .select(self._seq_col, self._value_col)
                    )
                return out
            except CompileError:
                pass
            except Exception:
                # A one-lambda term whose function is Python-only blows
                # up when applied to a Column (TypeError/ValueError, not
                # CompileError). If the caller supplied out_type they
                # explicitly sanctioned the interpreter — fall back;
                # otherwise surface the real error.
                if out_type is None:
                    raise
        if out_type is None:
            raise CompileError(
                "term is stateful (or keyed) — pass out_type for the interpreter path"
            )
        return interpret_batch(
            self._term,
            self._df,
            out_type,
            value_col=self._value_col,
            seq_col=self._seq_col,
            key_col=self._key_col,
        )


def stream_of(
    df: DataFrame,
    value_col: str = "value",
    seq_col: str = "seq",
    key_col: str | None = None,
    dense_input: bool = False,
) -> RStream:
    """``dense_input=True`` declares the frame's ``seq`` dense and
    0-based (anything from ``to_stream_df``/``generate_range``) —
    position-dependent compiled lowerings then use ``seq`` directly and
    length-preserving terms skip output renumbering altogether."""
    return RStream(df, value_col, seq_col, key_col, dense_input=dense_input)


class AnalyticsFrame:
    """A DataFrame plus the analytic operator families as methods.

    Each method returns a NEW ``AnalyticsFrame`` over the operator's
    result, so calls chain; ``.df`` unwraps, and any unknown attribute
    (``where``, ``select``, ``collect`` …) delegates to the underlying
    DataFrame — a delegated DataFrame method returns the plain
    DataFrame, ending the fluent chain.
    """

    def __init__(self, df: DataFrame):
        self.df = df

    def __getattr__(self, name):
        # guard: without this, attribute lookup before __init__ ran
        # (deepcopy/pickle reconstruction) recurses on 'df' forever
        if name == "df" or name.startswith("_"):
            raise AttributeError(name)
        return getattr(self.df, name)

    def _wrap(self, df: DataFrame) -> "AnalyticsFrame":
        return AnalyticsFrame(df)

    # ---------------------------------------------------- graph family
    def pagerank(self, n_iter: int = 10, damping: float = 0.85,
                 src_col: str = "src", dst_col: str = "dst",
                 n_partitions: int | None = None, tol: float | None = None,
                 reset_df: DataFrame | None = None,
                 weight_col: str | None = None):
        """PageRank over this frame's edge list; ``reset_df`` seeds make
        it personalized, ``weight_col`` makes flow weight-proportional
        (operators/graph.py)."""
        from rspl_spark.operators.graph import pagerank

        return self._wrap(pagerank(
            self.df, n_iter=n_iter, damping=damping, src_col=src_col,
            dst_col=dst_col, n_partitions=n_partitions, tol=tol,
            reset_df=reset_df, weight_col=weight_col,
        ))

    def khop_distances(self, sources: DataFrame, max_hops: int,
                       src_col: str = "src", dst_col: str = "dst",
                       node_col: str = "node"):
        """Shortest directed hop distance from ``sources`` (graph.py)."""
        from rspl_spark.operators.graph import khop_distances

        return self._wrap(khop_distances(
            self.df, sources, max_hops, src_col=src_col, dst_col=dst_col,
            node_col=node_col,
        ))

    def triangle_counts(self, src_col: str = "src", dst_col: str = "dst"):
        """Per-node triangle participation counts (graph.py)."""
        from rspl_spark.operators.graph import triangle_counts

        return self._wrap(triangle_counts(self.df, src_col=src_col, dst_col=dst_col))

    # ------------------------------------------------- behavior family
    def cohort_retention(self, user_col: str, ts_col: str, period: str = "week"):
        """First-activity cohorts + retention ratios (behavior.py)."""
        from rspl_spark.operators.behavior import cohort_retention

        return self._wrap(cohort_retention(self.df, user_col, ts_col, period=period))

    def transition_matrix(self, key_col: str, ts_col: str, state_col: str,
                          tiebreak_cols: list[str] | None = None):
        """First-order Markov transition matrix (behavior.py)."""
        from rspl_spark.operators.behavior import transition_matrix

        return self._wrap(transition_matrix(
            self.df, key_col, ts_col, state_col, tiebreak_cols=tiebreak_cols,
        ))

    def pmi_collocations(self, text_col: str = "text", min_count: int = 5,
                         top_k: int = 50):
        """Top collocations by PMI over adjacent token pairs (text.py)."""
        from rspl_spark.operators.text import pmi_collocations

        return self._wrap(pmi_collocations(
            self.df, text_col=text_col, min_count=min_count, top_k=top_k,
        ))

    # ---------------------------------------------- time-series family
    def gapfill(self, keys: list[str], time_col: str, step: str,
                fills: dict[str, str], mark_gaps: bool = True,
                max_gap_buckets: int | None = 100_000):
        """Fill missing buckets of an already-bucketed frame (timeseries.py)."""
        from rspl_spark.operators.timeseries import gapfill

        return self._wrap(gapfill(
            self.df, keys, time_col, step, fills, mark_gaps=mark_gaps,
            max_gap_buckets=max_gap_buckets,
        ))

    def resample(self, keys: list[str], time_col: str, step: str,
                 aggs: dict, fills: dict[str, str], mark_gaps: bool = True,
                 max_gap_buckets: int | None = 100_000):
        """Bucket → aggregate → gap-fill in one call (timeseries.py)."""
        from rspl_spark.operators.timeseries import resample

        return self._wrap(resample(
            self.df, keys, time_col, step, aggs, fills, mark_gaps=mark_gaps,
            max_gap_buckets=max_gap_buckets,
        ))

    def ewma(self, keys: list[str], time_col: str, value_col: str,
             window: int = 16, out_col: str = "ewma"):
        """Trailing-window EWMA, exact-replay arithmetic (timeseries.py)."""
        from rspl_spark.operators.timeseries import ewma

        return self._wrap(ewma(
            self.df, keys, time_col, value_col, window=window, out_col=out_col,
        ))

    def rolling_median(self, keys: list[str], time_col: str, value_col: str,
                       n_buckets: int = 7, out_col: str = "rmedian"):
        """Exact trailing-window median (timeseries.py)."""
        from rspl_spark.operators.timeseries import rolling_median

        return self._wrap(rolling_median(
            self.df, keys, time_col, value_col, n_buckets=n_buckets,
            out_col=out_col,
        ))

    def mad_outliers(self, group_cols: list[str], value_col: str, k: float = 3.0):
        """Median/MAD outlier fences per group (timeseries.py)."""
        from rspl_spark.operators.timeseries import mad_outliers

        return self._wrap(mad_outliers(self.df, group_cols, value_col, k=k))

    def consolidate_records(self, key_cols: list[str],
                            priority: list[tuple[str, str]],
                            value_cols: list[str] | None = None,
                            completeness_first: bool = False):
        """Golden-record survivorship per key (curation.py)."""
        from rspl_spark.operators.curation import consolidate_records

        return self._wrap(consolidate_records(
            self.df, key_cols, priority, value_cols=value_cols,
            completeness_first=completeness_first,
        ))

    def group_split(self, group_col: str,
                    weights: dict[str, int] | None = None,
                    out_col: str = "split"):
        """Leakage-free deterministic split by group hash (curation.py)."""
        from rspl_spark.operators.curation import group_split

        return self._wrap(group_split(
            self.df, group_col, weights=weights, out_col=out_col,
        ))

    def cdf_match(self, group_cols: list[str], value_col: str,
                  n_grid: int = 1000, out_col: str = "calibrated",
                  reference_df: DataFrame | None = None,
                  rank_col: str = "pct_rank"):
        """Cross-source score calibration by CDF matching (curation.py)."""
        from rspl_spark.operators.curation import cdf_match

        return self._wrap(cdf_match(
            self.df, group_cols, value_col, n_grid=n_grid, out_col=out_col,
            reference_df=reference_df, rank_col=rank_col,
        ))

    # ------------------------------------------- rolling-sketch family
    def rolling_distinct_hll(self, key_col: str, ts_col: str,
                             step: str = "1 day", window_buckets: int = 7):
        """Approx distinct keys per trailing window via merged HLL
        registers (sketches.py)."""
        from rspl_spark.operators.sketches import rolling_distinct_hll

        return self._wrap(rolling_distinct_hll(
            self.df, key_col, ts_col, step=step, window_buckets=window_buckets,
        ))

    def rolling_hist_quantiles(self, value_col: str, ts_col: str,
                               step: str = "1 day", window_buckets: int = 7,
                               qs: tuple[float, ...] = (0.5, 0.95),
                               nbins: int = 256):
        """Histogram-interpolated quantiles per trailing window
        (sketches.py)."""
        from rspl_spark.operators.sketches import rolling_hist_quantiles

        return self._wrap(rolling_hist_quantiles(
            self.df, value_col, ts_col, step=step,
            window_buckets=window_buckets, qs=qs, nbins=nbins,
        ))

    def topk_exact(self, key_col: str, k: int, w: int = 1 << 16):
        """EXACT top-k heavy hitters of ``key_col`` by occurrence count,
        CMS-prefiltered so the exchange never carries the full
        distinct-key vocabulary (sketches.py)."""
        from rspl_spark.operators.sketches import cms_topk_exact

        return self._wrap(cms_topk_exact(self.df, key_col, k, w=w))


def analytics(df: DataFrame) -> AnalyticsFrame:
    """Wrap ``df`` in the analytic-operator facade (see module doc)."""
    return AnalyticsFrame(df)


class StreamAnalyticsFrame:
    """The STREAMING twins of the analytic families as fluent methods
    over a streaming DataFrame — mirror of :class:`AnalyticsFrame`, so
    the batch operator and its incremental form read identically:
    ``analytics(df).ewma(...)`` ↔ ``stream_analytics(s).ewma(...)``.

    Methods returning a streaming DataFrame wrap it for chaining with
    any further stream transformation; ``.df`` unwraps; unknown
    attributes delegate to the underlying DataFrame (``writeStream``
    ends the chain the same way ``collect`` does on the batch facade).
    ``merge_into_agg_store`` is terminal: it STARTS the query and
    returns the StreamingQuery handle.
    """

    def __init__(self, df: DataFrame):
        self.df = df

    def __getattr__(self, name):
        if name == "df" or name.startswith("_"):
            raise AttributeError(name)
        return getattr(self.df, name)

    def _wrap(self, df: DataFrame) -> "StreamAnalyticsFrame":
        return StreamAnalyticsFrame(df)

    # ---------------------------------------------- time-series twins
    def gapfill(self, key_col: str, time_col: str, step: str,
                fills: dict[str, str], mark_gaps: bool = True,
                max_gap_buckets: int | None = 100_000):
        """Incremental dense-grid gap fill (streaming/timeseries.py);
        streamable fills only (locf/zero/null)."""
        from rspl_spark.streaming.timeseries import gapfill_stream

        return self._wrap(gapfill_stream(
            self.df, key_col, time_col, step, fills, mark_gaps=mark_gaps,
            max_gap_buckets=max_gap_buckets,
        ))

    def ewma(self, key_col: str, time_col: str, value_col: str,
             window: int = 16, out_col: str = "ewma"):
        """Exact-replay trailing-window EWMA (streaming/timeseries.py)."""
        from rspl_spark.streaming.timeseries import ewma_stream

        return self._wrap(ewma_stream(
            self.df, key_col, time_col, value_col, window=window,
            out_col=out_col,
        ))

    def rolling_median(self, key_col: str, time_col: str, value_col: str,
                       n_buckets: int = 7, out_col: str = "rmedian"):
        """Exact trailing-window median (streaming/timeseries.py)."""
        from rspl_spark.streaming.timeseries import rolling_median_stream

        return self._wrap(rolling_median_stream(
            self.df, key_col, time_col, value_col, n_buckets=n_buckets,
            out_col=out_col,
        ))

    def transition_pairs(self, key_col: str, ts_col: str, state_col: str,
                         tiebreak_cols: list[str] | None = None):
        """Streaming Markov transition pairs; aggregate the drained
        pairs for the matrix (streaming/timeseries.py)."""
        from rspl_spark.streaming.timeseries import transition_pairs_stream

        return self._wrap(transition_pairs_stream(
            self.df, key_col, ts_col, state_col, tiebreak_cols=tiebreak_cols,
        ))

    # ------------------------------------------------- behavior twins
    def funnel(self, stages: list[str], user_col: str = "user_id",
               ts_col: str = "ts", type_col: str = "event_type"):
        """Incremental ordered funnel (streaming/analytics.py)."""
        from rspl_spark.streaming.analytics import streaming_funnel

        return self._wrap(streaming_funnel(
            self.df, stages, user_col=user_col, ts_col=ts_col,
            type_col=type_col,
        ))

    def cohort_retention(self, user_col: str = "user_id",
                         ts_col: str = "ts"):
        """Incremental weekly cohort memberships — each (cohort, offset)
        emitted once as it first appears (streaming/analytics.py);
        aggregate the drain for the retention table."""
        from rspl_spark.streaming.analytics import cohort_retention_stream

        return self._wrap(cohort_retention_stream(
            self.df, user_col=user_col, ts_col=ts_col,
        ))

    # --------------------------------------------------- sketch twins
    def hll(self, key_col: str, group_cols: tuple[str, ...] = ()):
        """Live HLL registers, bounded state (streaming/analytics.py);
        drain complete-mode and feed ``hll_estimate``."""
        from rspl_spark.streaming.analytics import streaming_hll

        return self._wrap(streaming_hll(self.df, key_col, group_cols=group_cols))

    def cms(self, key_col: str, w: int = 64, d: int = 3,
            weight_col: str | None = None):
        """Live count-min sketch cells (streaming/analytics.py)."""
        from rspl_spark.streaming.analytics import streaming_cms

        return self._wrap(streaming_cms(
            self.df, key_col, w=w, d=d, weight_col=weight_col,
        ))

    def hist(self, col: str, lo: float, hi: float, nbins: int = 256,
             group_cols: tuple[str, ...] = ()):
        """Live fixed-range histogram bins (streaming/analytics.py);
        feed ``hist_estimate_from_bins`` for quantiles."""
        from rspl_spark.streaming.analytics import streaming_hist

        return self._wrap(streaming_hist(
            self.df, col, lo, hi, nbins=nbins, group_cols=group_cols,
        ))

    def bloom(self, key_col: str, m_bits: int = 1 << 14, k: int = 3):
        """Live Bloom membership words (streaming/analytics.py)."""
        from rspl_spark.streaming.analytics import streaming_bloom

        return self._wrap(streaming_bloom(self.df, key_col, m_bits=m_bits, k=k))

    # ------------------------------------------------ terminal starts
    def merge_into_agg_store(self, store: str, keys: list[str],
                             measures: dict[str, tuple[str, str]],
                             checkpoint: str | None = None,
                             trigger_available_now: bool = True):
        """START folding this stream into a persisted agg store,
        exactly-once per (checkpoint, batch); returns the
        StreamingQuery (streaming/analytics.py)."""
        from rspl_spark.streaming.analytics import stream_merge_into_agg_store

        return stream_merge_into_agg_store(
            self.df, store, keys, measures, checkpoint=checkpoint,
            trigger_available_now=trigger_available_now,
        )


def stream_analytics(df: DataFrame) -> StreamAnalyticsFrame:
    """Wrap a STREAMING ``df`` in the streaming-twin facade."""
    return StreamAnalyticsFrame(df)


def _length_preserving(sp: StreamProcessor) -> bool:
    """True only for terms that emit exactly one output per input in
    order (pure map chains; alternate of two pure maps) — the terms
    whose output ordinals equal their input ordinals."""
    from rspl_spark.dsl.combinators import AlternateSP, ComposeSP

    if isinstance(sp, MapSP):
        return True
    if isinstance(sp, ComposeSP):
        return _length_preserving(sp.sp1) and _length_preserving(sp.sp2)
    if isinstance(sp, AlternateSP):
        return isinstance(sp.sp1, MapSP) and isinstance(sp.sp2, MapSP)
    return False
