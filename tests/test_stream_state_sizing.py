"""Scale-adaptive streaming state width (r15 optimization).

AQE cannot coalesce streaming shuffles, so the finite-replay harness
sizes ``spark.sql.shuffle.partitions`` per stream from the replay
volume (bytes / advisory partition size, clamped to the configured
shuffle width), with a compute-parallelism floor for Python-stateful
streams. These tests pin the sizing rule's edges: tiny input → 1,
large input → saturates at the session width (the cluster plan is
unchanged), Python-stateful floors at grouped-map parallelism, and
the session conf is restored after a sized run — including when the
stream raises.
"""

from __future__ import annotations

import os

import pytest

from rspl_spark.dsl import map_sp
from rspl_spark.plan_stats import grouped_map_parallelism, tree_bytes
from rspl_spark.streaming import run_mealy_stream
from rspl_spark.streaming.sources import sized_stream_shuffle, stream_state_partitions


def _advisory_and_cap(spark):
    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return 64 * 2**20, cap


def test_tiny_input_collapses_to_one_partition(spark):
    assert stream_state_partitions(spark, 10_000) == 1


def test_large_input_saturates_at_session_width(spark):
    advisory, cap = _advisory_and_cap(spark)
    # 1 TB of replay >> advisory: width = configured shuffle width, so
    # the rule is invisible at cluster scale
    assert stream_state_partitions(spark, 2**40) == cap


def test_width_scales_with_bytes_between_extremes(spark):
    advisory, cap = _advisory_and_cap(spark)
    # 2 advisory units of expanded bytes -> 2 partitions (expansion 4x)
    bytes_for_two = (2 * advisory) // 4
    got = stream_state_partitions(spark, bytes_for_two)
    assert 1 <= got <= cap
    assert got == min(cap, 2)


def test_python_stateful_floors_at_grouped_map_parallelism(spark, tmp_path):
    d = tmp_path / "chunks"
    d.mkdir()
    (d / "part-00000").write_bytes(b"x" * 100)  # tiny: byte width = 1
    old = spark.conf.get("spark.sql.shuffle.partitions")
    keyed = run_mealy_stream(
        spark.readStream.format("rate").load().selectExpr(
            "'k' AS key", "value AS seq", "value"
        ),
        lambda: map_sp(lambda v: v),
        "long",
    )
    with sized_stream_shuffle(keyed, [str(d)]):
        got = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert got == max(1, grouped_map_parallelism(spark))
    assert spark.conf.get("spark.sql.shuffle.partitions") == old


def test_conf_restored_after_sized_scope_even_on_error(spark, tmp_path):
    d = tmp_path / "chunks"
    d.mkdir()
    (d / "part-00000").write_bytes(b"x" * 100)
    old = spark.conf.get("spark.sql.shuffle.partitions")
    with pytest.raises(RuntimeError):
        with sized_stream_shuffle(spark.range(1), [str(d)]):
            assert spark.conf.get("spark.sql.shuffle.partitions") == "1"
            raise RuntimeError("stream blew up")
    assert spark.conf.get("spark.sql.shuffle.partitions") == old


def test_none_source_dirs_is_a_noop(spark):
    old = spark.conf.get("spark.sql.shuffle.partitions")
    with sized_stream_shuffle(spark.range(1), None) as n:
        assert n is None
        assert spark.conf.get("spark.sql.shuffle.partitions") == old


def test_concurrent_sized_scopes_serialize(spark, tmp_path):
    """r15 verdict ask #7: two concurrent replays must not interleave
    their set/restore of the session-global shuffle width (set-set-
    restore-restore would leave the narrowed width behind). The lock
    serializes them: while one scope is open the second blocks, so the
    conf seen inside each scope is that scope's own width and the
    session value is restored once both exit."""
    import threading
    import time as _time

    d = tmp_path / "chunks"
    d.mkdir()
    (d / "part-00000").write_bytes(b"x" * 100)  # tiny: byte width = 1
    old = spark.conf.get("spark.sql.shuffle.partitions")
    entered = threading.Event()
    release = threading.Event()
    second_done = threading.Event()
    widths_inside: list[str] = []

    def first():
        with sized_stream_shuffle(spark.range(1), [str(d)]):
            entered.set()
            release.wait(timeout=10)

    def second():
        with sized_stream_shuffle(spark.range(1), [str(d)]):
            widths_inside.append(spark.conf.get("spark.sql.shuffle.partitions"))
        second_done.set()

    t1 = threading.Thread(target=first)
    t2 = threading.Thread(target=second)
    t1.start()
    assert entered.wait(timeout=10)
    t2.start()
    _time.sleep(0.2)
    # second replay is blocked on the lock while the first holds it
    assert not second_done.is_set()
    release.set()
    t1.join(timeout=10)
    assert second_done.wait(timeout=10)
    t2.join(timeout=10)
    assert widths_inside == ["1"]
    assert spark.conf.get("spark.sql.shuffle.partitions") == old


def test_tree_bytes_walks_nested_dirs(tmp_path):
    (tmp_path / "a").mkdir()
    (tmp_path / "a" / "f1").write_bytes(b"x" * 10)
    (tmp_path / "a" / "b").mkdir()
    (tmp_path / "a" / "b" / "f2").write_bytes(b"y" * 20)
    assert tree_bytes([str(tmp_path)]) == 30
    assert tree_bytes(None) == 0
    assert tree_bytes([os.path.join(str(tmp_path), "missing")]) == 0
