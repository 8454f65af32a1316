"""The rspl stream-processor DSL, re-expressed for Spark.

A ``StreamProcessor`` denotes a function ``Stream[A] -> Stream[B]``
(reference: src/lib.rs:187). Terms are built from ``Get`` / ``Put``
(src/lib.rs:188-199) and the six combinators (src/combinators.rs):
``map_sp, filter_sp, compose, alternate, bind, generate``.

Two execution paths:
- **compile** (rspl_spark.dsl.compiler): lowers the stateless fragment
  (map/filter/compose chains, closed-form generate) to native DataFrame
  expressions — Catalyst fuses them (its analog of the reference's Put/Get
  fusion, src/combinators.rs:101-120).
- **interpret** (rspl_spark.dsl.interpreter): runs ANY term, including
  stateful ones (alternate, multi-Get windows, FSMs), via one mapInArrow
  pass over partitions sorted by (key, seq), one ``eval_sp`` per key run —
  the Spark analog of the trampolined ``eval`` (src/lib.rs:249-285).
"""

from rspl_spark.dsl.core import Get, Put, StreamProcessor, eval_sp  # noqa: F401
from rspl_spark.dsl.combinators import (  # noqa: F401
    alternate,
    bind,
    compose,
    filter_sp,
    generate,
    map_sp,
    paced_generate,
)
from rspl_spark.dsl.compiler import compile_batch, generate_range  # noqa: F401
from rspl_spark.dsl.interpreter import interpret_batch  # noqa: F401
