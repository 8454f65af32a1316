"""Structured-Streaming surface (SURVEY.md §2.2 "Streaming").

- sources: file/rate streams with the reference's seeded-channel semantics
  (overeager_receivers.rs:29-32 — the seed is the stream's first element).
- windows: tumbling / sliding / session windows + watermarks.
- stateful: the keyed streaming-state template every keyed operator
  (analytics, llm, pipeline, timeseries) runs a step function on, and
  the Mealy machine that runs any DSL StreamProcessor across
  micro-batches with its continuation carried in state (the streaming
  analog of dsl.interpreter).
"""

from rspl_spark.streaming.sources import (  # noqa: F401
    decode_kafka_records,
    kafka_stream,
    seeded_batch_stream,
    write_sorted_chunks,
    write_stream_chunks,
    file_stream,
)
from rspl_spark.streaming.windows import (  # noqa: F401
    session_agg,
    sliding_agg,
    tumbling_agg,
)
from rspl_spark.streaming.stateful import (  # noqa: F401
    mealy_backend,
    run_mealy,
    run_mealy_stream,
    run_mealy_stream_tws,
)
from rspl_spark.streaming.analytics import streaming_funnel  # noqa: F401
from rspl_spark.streaming.timeseries import (  # noqa: F401
    ewma_stream,
    gapfill_stream,
    rolling_median_stream,
    transition_pairs_stream,
)
