"""The shared measurement harness (tools/ab.py) and the registry timer
built on it (tools/time_registry.py), on tiny frames."""

from __future__ import annotations

import json
import statistics
import sys
from types import SimpleNamespace

import pytest
from pyspark.sql import functions as F

from tools import ab, time_registry

SHUFFLE = "spark.sql.shuffle.partitions"


def test_conf_flip_block_records_runs_stats_probes_and_rotates(spark):
    df = spark.range(200).select((F.col("id") % 7).alias("k"), F.col("id").alias("v"))
    before = spark.conf.get(SHUFFLE)
    res = ab.block(
        spark,
        dict.fromkeys(("p2", "p3"), lambda: df.groupBy("k").agg(F.sum("v").alias("s"))),
        reps=3,
        conf={"p2": {SHUFFLE: "2"}, "p3": {SHUFFLE: "3"}},
    )
    assert spark.conf.get(SHUFFLE) == before
    assert res["order"] == [["p2", "p3"], ["p3", "p2"], ["p2", "p3"]]
    assert res["rows"] == 7
    for v in ("p2", "p3"):
        assert len(res["runs"][v]) == 3
        assert res["median"][v] == round(statistics.median(res["runs"][v]), 3)
        stats = res["stats"][v]
        assert stats["jobs"] >= 1 and stats["stages"] >= 1 and stats["shuffle_mb"] > 0
    assert set(res["probes"]) == {"single_s", "parallel_s"}
    assert all(len(p) == 2 and min(p) > 0 for p in res["probes"].values())


def test_block_raises_before_timing_when_a_variant_differs(spark):
    calls = {"five": 0, "six": 0}

    def build(name, n):
        def make():
            calls[name] += 1
            return spark.range(n)
        return make

    with pytest.raises(ValueError, match="disagree"):
        ab.block(spark, {"five": build("five", 5), "six": build("six", 6)}, reps=2)
    assert calls == {"five": 1, "six": 1}  # built for the hash only, never timed


def test_lone_variant_is_timed_without_a_hash_run(spark):
    calls = []

    def make():
        calls.append(1)
        return spark.range(5)

    res = ab.block(spark, {"only": make}, reps=2)
    assert len(calls) == 2 == len(res["runs"]["only"])  # the timed runs, nothing else
    assert res["hash"] is None and res["rows"] is None


def test_time_registry_resume_skips_an_entry_marked_ok(spark, tmp_path, monkeypatch):
    import rspl_spark.queries
    import rspl_spark.session

    def rerun(spark, sf_dir):
        raise AssertionError("re-ran an entry already marked ok")

    reg = {"q_done": SimpleNamespace(fn=rerun),
           "q_new": SimpleNamespace(fn=lambda s, sf_dir: s.range(10))}
    monkeypatch.setattr(rspl_spark.queries, "load_registry", lambda: reg)
    monkeypatch.setattr(rspl_spark.session, "get_spark", lambda *a, **k: spark)
    sf = tmp_path / "sf0.5"
    sf.mkdir()
    out = tmp_path / "times.json"
    out.write_text(json.dumps({"queries": {"q_done": {"sf0.5": {"sec": 1.0, "status": "ok"}}}}))
    monkeypatch.setattr(sys, "argv", ["time_registry.py", "--json", str(out), "--resume", str(sf)])

    assert time_registry.main() == 0
    got = json.loads(out.read_text())
    assert got["queries"]["q_done"]["sf0.5"] == {"sec": 1.0, "status": "ok"}
    assert got["queries"]["q_new"]["sf0.5"]["status"] == "ok"
    assert got["total_sec"]["sf0.5"] >= 1.0
