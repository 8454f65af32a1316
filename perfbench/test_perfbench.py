"""Tests of the benchmark's own helpers.

    python -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import pytest

from perfbench import gen
from perfbench.tracing import Span, Tracer, covered, percentile, self_time, tail_percentile


@pytest.mark.parametrize("n,expected", [
    (0, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0),
    (99, 75.0), (100, 90.0), (200, 95.0), (999, 95.0), (1000, 99.0),
])
def test_tail_percentile_leaves_ten_samples_beyond(n, expected):
    p = tail_percentile(n)
    assert p == expected
    if p is not None:
        xs = list(range(n))
        assert sum(1 for x in xs if x > percentile(xs, p)) >= 10


def test_percentile_is_nearest_rank():
    xs = [5, 1, 4, 2, 3]
    assert percentile(xs, 50) == 3
    assert percentile(xs, 100) == 5
    assert percentile(xs, 1) == 1


def test_self_time_subtracts_union_of_children_clipped_to_parent():
    parent = Span(0, "p", 0.0, 10.0, None, "r")
    kids = [Span(1, "a", 1.0, 3.0, 0, "r"), Span(2, "b", 2.0, 5.0, 0, "r"),
            Span(3, "c", 8.0, 12.0, 0, "r")]
    # children cover [1, 5] and [8, 10] inside the parent: 6 of its 10 s
    assert self_time(parent, kids) == pytest.approx(4.0)
    assert covered([(1, 3), (2, 5), (8, 12)]) == pytest.approx(8.0)


def test_tracer_records_nesting_and_self_time():
    tr = Tracer("run-1", enabled=True)
    with tr.span("outer") as outer:
        with tr.span("inner") as inner:
            pass
    assert inner.parent == outer.id and inner.run == "run-1"
    assert tr.self_time(outer) == pytest.approx(outer.duration - inner.duration)
    off = Tracer("run-2", enabled=False)
    with off.span("outer") as s:
        assert s is None
    assert off.spans == []


def test_generators_are_deterministic_per_seed():
    assert gen.content_hash(gen.events(7, 5000, 100)) == gen.content_hash(gen.events(7, 5000, 100))
    assert gen.content_hash(gen.events(7, 5000, 100)) != gen.content_hash(gen.events(8, 5000, 100))
    assert gen.content_hash(gen.documents(7, 300)) == gen.content_hash(gen.documents(7, 300))
    assert gen.content_hash(gen.documents(7, 300)) != gen.content_hash(gen.documents(8, 300))


def test_rss_sampler_sees_jvm_and_python_workers(tmp_path, monkeypatch):
    """The sampler must count the JVM child and the Python workers it
    forks, not only the benchmark process."""
    pytest.importorskip("pyspark")
    monkeypatch.setenv("SPARK_LOCAL_DIRS", str(tmp_path))
    from rspl_spark.session import get_spark

    from perfbench.probes import RssSampler

    spark = get_spark("perfbench-test", cpus=2)
    try:
        with RssSampler(interval_s=0.05) as rss:
            df = spark.range(2000).selectExpr("id % 4 AS k", "id AS v")
            out = df.groupBy("k").applyInPandas(lambda p: p.head(1), "k long, v long")
            assert len(out.collect()) == 4
            cur = rss.sample()
        assert cur["jvm"] > 0
        assert cur["n_python"] >= 2  # this process and at least one worker
        assert rss.peak["total"] >= cur["jvm"] + cur["python"]
        assert rss.peak["python"] > 0
    finally:
        spark.stop()
