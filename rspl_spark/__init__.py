"""rspl_spark — a PySpark-native analytics engine with the capabilities of
shtsoft/rspl (a coinductive stream-processor DSL), re-expressed Spark-first.

Layers:
- ``rspl_spark.session``   — SparkSession factory tuned for local[32] and scale.
- ``rspl_spark.catalog``   — testdata loaders / view registration.
- ``rspl_spark.dsl``       — the rspl language: Get/Put stream processors,
  combinators (map, filter, compose, alternate, bind, generate), a compiler
  lowering stateless terms to native DataFrame expressions, and a stateful
  interpreter running residual terms over key-sorted partitions via
  mapInArrow.
- ``rspl_spark.operators`` — relational operator surface (joins, aggs,
  windows, set ops, as-of join, dedup, similarity, text analysis).
- ``rspl_spark.streaming`` — Structured Streaming sources/sinks and the
  keyed-FSM stateful template.
"""

from rspl_spark.session import get_spark  # noqa: F401

__version__ = "0.1.0"


def _register_worker_safe_pickling() -> None:
    """Pickle the closure-bearing modules BY VALUE.

    Python workers don't inherit the driver's sys.path: if the harness
    imports this package from a file path (cwd elsewhere), functions
    pickled by reference (eval_sp, run_prefix, Get/Put, the multimodal
    decoders) hit ModuleNotFoundError on the worker. By-value
    registration ships the code inside the closure instead.
    """
    try:
        from pyspark import cloudpickle

        from rspl_spark import pyworker
        from rspl_spark.dsl import combinators, core, interpreter
        from rspl_spark.operators import multimodal, similarity
        from rspl_spark.streaming import llm as streaming_llm
        from rspl_spark.streaming import pipeline as streaming_pipeline
        from rspl_spark.streaming import stateful

        for m in (
            core,
            combinators,
            interpreter,
            multimodal,
            pyworker,
            similarity,
            stateful,
            streaming_llm,
            streaming_pipeline,
        ):
            cloudpickle.register_pickle_by_value(m)
    except Exception:  # pragma: no cover — best-effort hardening
        pass


_register_worker_safe_pickling()
