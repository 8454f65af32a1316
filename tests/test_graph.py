"""Graph operator tests (operators/graph.py): PageRank invariants and
hand-computable fixed points; triangle counting on enumerable graphs
(K4, paths, shared-edge triangles) plus a randomized cross-check of
the degree-orientation enumeration against a naive id-ordered one.
"""

from __future__ import annotations

import math
import random

import pytest
from pyspark.sql import functions as F

from rspl_spark.operators.graph import pagerank, triangle_counts


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src string, dst string")


# ---------------------------------------------------------------- pagerank


def test_pagerank_cycle_fixed_point(spark):
    """A directed cycle is the uniform fixed point for ANY damping —
    every node keeps rank 1/n."""
    e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "a")])
    got = {r["node"]: r["rank"] for r in pagerank(e, n_iter=7).collect()}
    for v in got.values():
        assert math.isclose(v, 1 / 3, abs_tol=1e-12)


def test_pagerank_mass_conserved_with_dangling(spark):
    """Ranks sum to 1 even when most nodes are dangling (the mass
    redistribution path)."""
    e = _edges(spark, [("a", "b"), ("a", "c"), ("b", "d")])  # c, d dangle
    ranks = pagerank(e, n_iter=5)
    total = ranks.agg(F.sum("rank")).collect()[0][0]
    assert math.isclose(total, 1.0, abs_tol=1e-9)
    got = {r["node"]: r["rank"] for r in ranks.collect()}
    # b and c split a's rank equally — identical by symmetry (a's only
    # inflow is the uniform base + dangling share, same as everyone's
    # floor), and every rank is strictly positive
    assert got["b"] == got["c"]
    assert all(v > 0 for v in got.values())


def test_pagerank_hand_computed_one_iteration(spark):
    """One synchronous iteration on a 2-node graph, checked against the
    formula by hand: a→b, b dangling."""
    e = _edges(spark, [("a", "b")])
    got = {r["node"]: r["rank"] for r in pagerank(e, n_iter=1).collect()}
    d, n = 0.85, 2
    base = (1 - d) / n
    dmass = 0.5  # b held 1/2 and has no out-edges
    exp_a = base + d * (0 + dmass / n)
    exp_b = base + d * (0.5 / 1 + dmass / n)
    assert math.isclose(got["a"], exp_a, abs_tol=1e-12)
    assert math.isclose(got["b"], exp_b, abs_tol=1e-12)


def test_pagerank_validates_params(spark):
    e = _edges(spark, [("a", "b")])
    with pytest.raises(ValueError, match="n_iter"):
        pagerank(e, n_iter=0)
    with pytest.raises(ValueError, match="damping"):
        pagerank(e, damping=1.0)


# ---------------------------------------------------------- triangle_counts


def test_triangles_k4_every_node_in_three(spark):
    nodes = ["a", "b", "c", "d"]
    e = _edges(
        spark, [(u, v) for i, u in enumerate(nodes) for v in nodes[i + 1 :]]
    )
    got = {r["node"]: r["n_triangles"] for r in triangle_counts(e).collect()}
    assert got == {n: 3 for n in nodes}  # K4 = 4 triangles, 3 per node


def test_triangles_path_has_none(spark):
    e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "d")])
    assert triangle_counts(e).count() == 0


def test_triangles_shared_edge_and_direction_duplicates(spark):
    """Two triangles sharing edge (b,c); reversed/duplicate/self-loop
    rows must not change the count (undirected simple-graph
    semantics)."""
    e = _edges(
        spark,
        [
            ("a", "b"), ("b", "a"),  # duplicate in both directions
            ("b", "c"), ("a", "c"),
            ("c", "d"), ("b", "d"),
            ("d", "d"),  # self-loop dropped
        ],
    )
    got = {r["node"]: r["n_triangles"] for r in triangle_counts(e).collect()}
    assert got == {"a": 1, "b": 2, "c": 2, "d": 1}


def test_triangles_random_graph_matches_naive(spark):
    """Degree-orientation enumeration == naive a<b<c enumeration on a
    random graph (independent formulations)."""
    rng = random.Random(20260815)
    nodes = [f"n{i:02d}" for i in range(24)]
    pairs = sorted(
        {
            tuple(sorted(rng.sample(nodes, 2)))
            for _ in range(140)
        }
    )
    adj = set(pairs)
    naive: dict[str, int] = {}
    for i, a in enumerate(nodes):
        for j in range(i + 1, len(nodes)):
            for k in range(j + 1, len(nodes)):
                b, c = nodes[j], nodes[k]
                if ((a, b) in adj) and ((a, c) in adj) and ((b, c) in adj):
                    for x in (a, b, c):
                        naive[x] = naive.get(x, 0) + 1
    got = {
        r["node"]: r["n_triangles"]
        for r in triangle_counts(_edges(spark, list(pairs))).collect()
    }
    assert got == naive


# ---------------------------------------------------------- khop_distances


def test_khop_bfs_shortest_distances(spark):
    """Chain with a shortcut: BFS must report the SHORTEST hop count,
    and stop at max_hops."""
    from rspl_spark.operators.graph import khop_distances

    e = _edges(
        spark,
        [("s", "a"), ("a", "b"), ("b", "c"), ("c", "d"), ("s", "c")],
    )
    src = spark.createDataFrame([("s",)], "node string")
    got = {
        r["node"]: r["dist"]
        for r in khop_distances(e, src, max_hops=2).collect()
    }
    assert got == {"s": 0, "a": 1, "c": 1, "b": 2, "d": 2}
    # d reached at 2 via the s->c shortcut, NOT 4 via the chain
    full = {
        r["node"]: r["dist"]
        for r in khop_distances(e, src, max_hops=10).collect()
    }
    assert full == got  # frontier empties; loop exits early


def test_khop_direction_and_unreachable(spark):
    from rspl_spark.operators.graph import khop_distances

    e = _edges(spark, [("a", "b"), ("c", "b")])
    src = spark.createDataFrame([("a",)], "node string")
    got = {
        r["node"]: r["dist"]
        for r in khop_distances(e, src, max_hops=5).collect()
    }
    assert got == {"a": 0, "b": 1}  # c unreachable (edge points AT b)


def test_khop_multiple_sources_and_zero_hops(spark):
    from rspl_spark.operators.graph import khop_distances

    e = _edges(spark, [("a", "b"), ("x", "y")])
    src = spark.createDataFrame([("a",), ("x",), ("a",)], "node string")
    got = {
        r["node"]: r["dist"]
        for r in khop_distances(e, src, max_hops=0).collect()
    }
    assert got == {"a": 0, "x": 0}  # dedup'd sources, no expansion
    import pytest as _pt

    with _pt.raises(ValueError, match="max_hops"):
        khop_distances(e, src, max_hops=-1)


# ---------------------------------------------------------------- plan pins


def test_pagerank_lineage_is_cut_per_iteration(spark):
    """The returned rank frame's plan must hang off the LAST checkpoint
    (LogicalRDD), not re-derive all iterations from the raw edges — the
    unbounded-plan-growth failure mode of naive iterative Spark."""
    e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "a")])
    ranks = pagerank(e, n_iter=6)
    plan = ranks._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD" in plan  # rooted at a checkpoint
    # a lineage-preserving loop would nest 6 iterations of joins here;
    # the checkpointed plan has NO join at all (the last iteration's
    # result is materialized)
    assert "Join" not in plan


def test_triangle_counts_no_cartesian(spark):
    from rspl_spark.queries import load_registry

    reg = load_registry()
    df = reg["q_triangle_counts"].fn(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pagerank_empty_graph_returns_empty(spark):
    e = spark.createDataFrame([], "src string, dst string")
    out = pagerank(e, n_iter=3)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["node", "rank"]


def test_pagerank_tol_early_exit_and_convergence(spark):
    """r11: tol stops iteration once the L1 rank delta drops below it.
    A huge tol stops after ONE iteration (bit-exact with n_iter=1); a
    tiny tol under a large budget lands within epsilon of the full
    fixed-iteration fixpoint."""
    from rspl_spark.operators.graph import pagerank

    e = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 2)], "src long, dst long"
    )
    one = {(r["node"], r["rank"]) for r in pagerank(e, n_iter=1).collect()}
    early = {
        (r["node"], r["rank"])
        for r in pagerank(e, n_iter=10, tol=10.0).collect()
    }
    assert early == one  # L1 delta is always < 10 → stop after iter 1
    full = {r["node"]: r["rank"] for r in pagerank(e, n_iter=60).collect()}
    conv = {
        r["node"]: r["rank"]
        for r in pagerank(e, n_iter=60, tol=1e-12).collect()
    }
    assert max(abs(full[n] - conv[n]) for n in full) < 1e-9
    import pytest

    with pytest.raises(ValueError, match="tol"):
        pagerank(e, tol=0.0)


def test_personalized_pagerank_seed_semantics(spark):
    """r11: reset_df seeds — mass re-enters only through seeds; seeds
    absent from the graph are ignored (filtered before normalizing);
    a fully-absent seed set raises; two-column weights respected."""
    import pytest

    from rspl_spark.operators.graph import pagerank

    e = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (4, 1)], "src long, dst long"
    )
    seeds = spark.createDataFrame([(1,), (99,)], "node long")  # 99 not in graph
    ranks = {r["node"]: r["rank"] for r in pagerank(e, n_iter=8, reset_df=seeds).collect()}
    assert 99 not in ranks
    assert abs(sum(ranks.values()) - 1.0) < 1e-9  # mass conserved
    # node 4 has no in-edges and is not a seed: rank exactly 0
    assert ranks[4] == 0.0
    # weighted seeds, one iteration: closed form replayed exactly.
    # reset = (1:0.25, 3:0.75); every node has out-degree 1, no dangling:
    # r1(v) = 0.15*reset(v) + 0.85*sum_{u->v} reset(u)
    w = spark.createDataFrame([(1, 1.0), (3, 3.0)], "node long, w double")
    rw = {r["node"]: r["rank"] for r in pagerank(e, n_iter=1, reset_df=w).collect()}
    d = 0.85
    assert rw[1] == (1.0 - d) * 0.25 + d * (0.75 + 0.0)  # from 3 and 4
    assert rw[2] == (1.0 - d) * 0.0 + d * 0.25           # from 1
    assert rw[3] == (1.0 - d) * 0.75 + d * 0.0           # from 2 (reset 0)
    assert rw[4] == 0.0
    with pytest.raises(ValueError, match="reset_df"):
        pagerank(e, reset_df=spark.createDataFrame([(99,)], "node long"))


def test_weighted_pagerank_semantics(spark):
    """r11: weight_col — rank flows out proportionally to edge weight;
    NULL/non-positive-weight edges dropped (source may become
    dangling). One-iteration closed form checked exactly."""
    from rspl_spark.operators.graph import pagerank

    # 1 -> 2 (w=3), 1 -> 3 (w=1): node 2 gets 3/4 of 1's outflow
    e = spark.createDataFrame(
        [(1, 2, 3.0), (1, 3, 1.0), (2, 1, 1.0), (3, 1, None)],
        "src long, dst long, w double",
    )
    # the NULL-weight edge 3->1 is dropped: 3 becomes dangling
    r = {
        row["node"]: row["rank"]
        for row in pagerank(e, n_iter=1, weight_col="w").collect()
    }
    d, n = 0.85, 3
    base = (1.0 - d) / n
    init = 1.0 / n
    dmass = init  # node 3 dangles
    assert r[2] == base + d * (init * 3.0 / 4.0 + dmass / n)
    assert r[3] == base + d * (init * 1.0 / 4.0 + dmass / n)
    assert r[1] == base + d * (init * 1.0 / 1.0 + dmass / n)
    # uniform weights == unweighted (same IEEE shape after the division)
    eu = spark.createDataFrame(
        [(1, 2, 1.0), (2, 3, 1.0), (3, 1, 1.0)], "src long, dst long, w double"
    )
    rw = {x["node"]: x["rank"] for x in pagerank(eu, n_iter=3, weight_col="w").collect()}
    ru = {x["node"]: x["rank"] for x in pagerank(eu.drop("w"), n_iter=3).collect()}
    assert all(abs(rw[k] - ru[k]) < 1e-12 for k in ru)


def test_personalized_pagerank_rejects_negative_weights(spark):
    """r11 self-review fix: a negative per-seed weight would become a
    negative teleport probability (garbage ranks that still sum to 1)."""
    import pytest

    from rspl_spark.operators.graph import pagerank

    e = spark.createDataFrame([(1, 2), (2, 1)], "src long, dst long")
    bad = spark.createDataFrame([(1, 2.0), (2, -1.0)], "node long, w double")
    with pytest.raises(ValueError, match="positive"):
        pagerank(e, reset_df=bad)


def test_khop_null_endpoints_dropped(spark):
    """Review fix: NULL edge endpoints are not nodes — unguarded, a
    NULL dst was re-added at EVERY hop (the visited anti-join on
    'node' can never match NULL == NULL)."""
    from rspl_spark.operators.graph import khop_distances

    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (1, None), (2, None)], "src long, dst long"
    )
    srcs = spark.createDataFrame([(1,)], "node long")
    out = khop_distances(edges, srcs, max_hops=3)
    rows = {(r["node"], r["dist"]) for r in out.collect()}
    assert rows == {(1, 0), (2, 1)}  # no NULL node rows at any distance


def test_adaptive_width_rule(spark):
    """r15 optimization pin: the materialized-frame width derives from
    counted rows via the AQE advisory rule — tiny graphs get 1
    partition, huge byte estimates saturate at the session shuffle
    width."""
    from rspl_spark.operators.graph import _EDGE_ROW_BYTES, pagerank
    from rspl_spark.plan_stats import advisory_width

    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert advisory_width(spark, 10 * _EDGE_ROW_BYTES) == 1
    assert advisory_width(spark, 10**12 * _EDGE_ROW_BYTES) == cap
    # the rule is live in pagerank (tiny graph -> 1-partition frames):
    # ranks on a 3-node chain still come out exact (semantics pinned by
    # test_pagerank_* above; this run just exercises the width path)
    e = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    assert pagerank(e, n_iter=1).count() == 3
