"""The size policy's width rules (rspl_spark/plan_stats.py): the AQE
advisory rule under every advisory-size spelling Spark accepts, and
the shuffle-width fallback for a non-integer value."""

from __future__ import annotations

from types import SimpleNamespace

import pytest

from rspl_spark.plan_stats import advisory_width, grouped_map_parallelism, shuffle_width

ADVISORY = "spark.sql.adaptive.advisoryPartitionSizeInBytes"


@pytest.mark.parametrize("case", ["tiny", "huge", "two_units"])
@pytest.mark.parametrize(
    "spelling,unit",
    [
        ("64MB", 64 * 2**20),
        ("64m", 64 * 2**20),
        ("1g", 2**30),
        ("1024kb", 2**20),
        (str(3 * 2**20), 3 * 2**20),
    ],
)
def test_advisory_width(spark, spelling, unit, case):
    cap = shuffle_width(spark)
    n_bytes, want = {
        "tiny": (10_000, 1),
        "huge": (2**50, cap),
        "two_units": (2 * unit, min(cap, 2)),
    }[case]
    old = spark.conf.get(ADVISORY)
    spark.conf.set(ADVISORY, spelling)
    try:
        assert advisory_width(spark, n_bytes) == want
    finally:
        spark.conf.set(ADVISORY, old)


def _fake_session(shuffle: str, cores: int):
    conf = {"spark.sql.shuffle.partitions": shuffle}
    return SimpleNamespace(
        conf=SimpleNamespace(get=lambda k, d=None: conf.get(k, d)),
        sparkContext=SimpleNamespace(defaultParallelism=cores),
    )


def test_non_integer_shuffle_width_falls_back_to_spark_default():
    auto = _fake_session("auto", 8)
    assert shuffle_width(auto) == 200
    assert advisory_width(auto, 2**50) == 200
    assert grouped_map_parallelism(auto) == 200
    assert grouped_map_parallelism(_fake_session("3", 8)) == 8
    assert grouped_map_parallelism(_fake_session("64", 8)) == 64
