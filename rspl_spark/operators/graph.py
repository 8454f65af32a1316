"""Distributed graph analytics over edge-list DataFrames: PageRank
(power iteration) and exact triangle counting (degree orientation).

The reference engine's coinductive streams model per-entity evolution;
graph measures are the cross-entity complement a pipeline needs once
entities LINK (who-bought-from-whom, co-occurrence). Connected
components already exist for dedup clusters (operators/dedup.py);
this module adds the two other workhorse graph ops.

Scale design (the part that matters at 100 TB):

- ``pagerank``: each iteration is ONE aggregation shuffle (contribs by
  dst) + ONE join of the rank vector back to the node set. The edge
  list — the big side — is degree-annotated, hash-partitioned on src,
  and ``localCheckpoint``'d ONCE up front; every iteration re-reads
  that materialization instead of re-shuffling raw edges (on a real
  cluster swap localCheckpoint for a reliable checkpoint dir — same
  call shape). Ranks are |V| rows (small side): AQE broadcasts them
  into the edge join when they fit. Each iteration's result is
  checkpointed to CUT LINEAGE — without it the plan doubles per
  iteration and the job dies on plan explosion long before data size
  matters. Dangling mass (rank parked on nodes with no out-edges) is
  folded back uniformly via a 1-row broadcast cross join — never a
  driver-side collect.
- ``triangle_counts``: canonical a<b edge set, then each edge oriented
  from the (degree, node)-SMALLER endpoint to the larger. Every
  triangle is then generated by exactly one wedge at its
  smallest-degree vertex, and the wedge fan-out per node is bounded by
  its ORIENTED out-degree ≤ O(sqrt(|E|)) — the classic trick that
  keeps a power-law hub from exploding the wedge join (a raw wedge
  join at a degree-10M hub is 10^14 pairs; oriented it is ~|E|^1.5
  total across the whole graph).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rspl_spark.plan_stats import advisory_width

# unsafe-row estimates for the iteration frames' width: a node row is
# one short string id (~40B header+payload); an edge row is two ids plus
# a long degree/weight (~96B). Conservative (errs toward MORE
# partitions); only the order of magnitude matters.
_NODE_ROW_BYTES = 64
_EDGE_ROW_BYTES = 96


def pagerank(
    edges: DataFrame,
    n_iter: int = 10,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
    n_partitions: int | None = None,
    tol: float | None = None,
    reset_df: DataFrame | None = None,
    weight_col: str | None = None,
) -> DataFrame:
    """(node, rank) after ``n_iter`` synchronous power iterations;
    ranks sum to 1 (dangling mass redistributed uniformly each step).

    ``weight_col`` names an edge-weight column: a node's rank then
    flows out proportionally to edge weight (contribution =
    rank · w / Σ out-weights) instead of uniformly per edge — the form
    a co-occurrence or purchase graph actually wants, where edge
    multiplicity IS signal. Weights must be positive; rows with NULL
    or non-positive weight are dropped BEFORE the node set is derived,
    so a node with no positive-weight edge in either direction leaves
    the graph entirely (it shrinks N and is absent from the output); a
    node that keeps only in-edges (it remains a dst of some surviving
    edge) is the one that becomes dangling. Composes with ``reset_df``.

    ``reset_df`` makes it PERSONALIZED PageRank — the
    recommendation-adjacent form ("rank everything from these seeds"):
    a one-column frame of seed nodes (uniform teleport over them) or a
    two-column (node, weight) frame. The teleport vector replaces the
    uniform 1/N everywhere it appears: initial ranks, the (1−d)
    restart term, and the dangling-mass redistribution — so rank mass
    only ever re-enters through the seeds and ranks still sum to 1.
    Seeds are restricted to nodes present in the graph, then weights
    normalized to sum 1 (a seed set fully absent from the graph
    raises). The seed frame must be small relative to |V| (it is
    joined once onto the node set and carried as one extra column).

    ``n_partitions`` pins the width of the materialized node/edge
    frames (every per-iteration stage runs that many tasks); the
    default ``None`` derives it from the counted edge rows via the AQE
    advisory-size rule, clamped to the session shuffle width — see
    :func:`rspl_spark.plan_stats.advisory_width`.

    ``tol`` adds convergence stopping: iterate until the L1 rank delta
    (Σ|rank_k − rank_{k−1}|) drops below ``tol`` or ``n_iter`` is
    reached, whichever is first — at scale a fixed iteration count
    either wastes converged rounds or stops short, so ``n_iter``
    becomes the BUDGET and ``tol`` the goal. Costs one extra |V|-row
    join + scalar aggregate per iteration (a bounded driver-side
    scalar, not a rank-vector collect). ``None`` (default) keeps the
    exact fixed-iteration semantics the oracle gate replays.

    Parallel edges are NOT deduplicated — a repeated (src, dst) row
    contributes twice, i.e. the input is treated as a multigraph;
    ``.distinct()`` the edge list first for simple-graph semantics.
    Node ids may be any orderable type. Arithmetic note: contribution
    sums are floating-point groupBy aggregates (order nondeterministic
    in any engine) — consumers should round for cross-engine
    comparison; everything else is elementwise IEEE ops that replay
    identically.
    """
    if n_iter < 1:
        raise ValueError("pagerank: n_iter must be >= 1")
    if not 0.0 < damping < 1.0:
        raise ValueError("pagerank: damping must be in (0, 1)")
    if tol is not None and tol <= 0.0:
        raise ValueError("pagerank: tol must be positive (or None)")
    if weight_col is not None:
        e = edges.select(
            F.col(src_col).alias("src"),
            F.col(dst_col).alias("dst"),
            F.col(weight_col).cast("double").alias("w"),
        ).where(F.col("w") > 0)
    else:
        e = edges.select(
            F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
        )
    # ONE edge build per call: e feeds nodes, deg and e_deg, which live
    # in SEPARATE eager-checkpoint jobs below — without this lazy
    # materialization the caller's upstream plan (typically a join +
    # distinct) re-executes once per setup job (measured r15 at sf0.1:
    # 3 rebuilds of the orders⋈lineitem edge list per pagerank call).
    # Per-invocation only — blocks are released when the frame is GC'd.
    e = e.localCheckpoint(eager=False)
    n_edges = e.count()  # materializes e; sizes the widths below
    # AQE cannot re-plan localCheckpoint'd frames (no Exchange), so a
    # fixed width is paid as that many tasks per stage per iteration
    # whatever the volume (measured r15: the 4-iteration gate spent most
    # of its non-setup time launching 32-task stages over ~1 MB frames)
    spark = e.sparkSession
    width_n = n_partitions or advisory_width(spark, 2 * n_edges * _NODE_ROW_BYTES)  # |V| <= 2|E|
    width_e = n_partitions or advisory_width(spark, n_edges * _EDGE_ROW_BYTES)
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .repartition(width_n, "node")
        .localCheckpoint()
    )
    n_total = nodes.count()
    if n_total == 0:
        # empty graph → empty result (graceful, like triangle_counts /
        # khop_distances), not a ZeroDivisionError from 1/n
        return nodes.select("node", F.lit(0.0).alias("rank"))
    # big side materialized ONCE, partitioned on the per-iteration join
    # key. The out-degree rides the SAME exchange as the repartition (a
    # window over the src partitions) instead of a separate groupBy
    # shuffle + join back — one pass over |E| fewer in setup. Window
    # COUNT is integer-exact; the weighted form's SUM reorders float
    # addends, which only matters for non-integer weights (documented
    # aggregate nondeterminism, same class as the contrib sums).
    from pyspark.sql.window import Window

    deg_w = Window.partitionBy("src")
    deg_expr = (
        F.sum("w").over(deg_w).alias("out_w")
        if weight_col is not None
        else F.count(F.lit(1)).over(deg_w).alias("out_deg")
    )
    e_deg = (
        e.repartition(width_e, "src")
        .select("*", deg_expr)
        .localCheckpoint()
    )
    # srcs-with-out-edges, small (≤|V| rows): reused for the dangling
    # test; derived from the materialized e_deg blocks, not a fresh scan
    has_out = e_deg.select("src").distinct().localCheckpoint()
    base = (1.0 - damping) / n_total  # same IEEE sequence as the SQL replay
    if reset_df is not None:
        rcols = reset_df.columns
        w = (
            F.col(rcols[1]).cast("double")
            if len(rcols) > 1
            else F.lit(1.0)
        )
        seeds = (
            reset_df.select(F.col(rcols[0]).alias("node"), w.alias("w"))
            .groupBy("node")
            .agg(F.sum("w").alias("w"))
            .join(nodes, "node")  # teleport only to nodes IN the graph
        )
        w_total, w_min = seeds.agg(F.sum("w"), F.min("w")).collect()[0]
        if w_total is None or w_total <= 0.0:
            raise ValueError(
                "pagerank: reset_df has no positive-weight seed present"
                " in the graph"
            )
        if w_min <= 0.0:
            # a negative per-seed weight would become a NEGATIVE
            # teleport probability and silently produce garbage ranks
            # that still sum to 1 — the same contract as weight_col
            raise ValueError("pagerank: reset_df weights must be positive")
        # node set annotated ONCE with its teleport probability
        nodes = (
            nodes.join(seeds, "node", "left")
            .select(
                "node",
                (
                    F.coalesce(F.col("w"), F.lit(0.0)) / F.lit(float(w_total))
                ).alias("reset"),
            )
            .repartition(width_n, "node")
            .localCheckpoint()
        )
        ranks = nodes.select("node", F.col("reset").alias("rank"))
    else:
        ranks = nodes.select("node", F.lit(1.0 / n_total).alias("rank"))
    for it in range(n_iter):
        contrib_expr = (
            F.col("rank") * F.col("w") / F.col("out_w")
            if weight_col is not None
            else F.col("rank") / F.col("out_deg")
        )
        contribs = (
            e_deg.join(ranks, e_deg["src"] == ranks["node"])
            .select(F.col("dst").alias("node"), contrib_expr.alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("contrib"))
        )
        dangle = ranks.join(
            has_out, ranks["node"] == has_out["src"], "left_anti"
        ).agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dmass"))
        if reset_df is not None:
            rank_expr = F.lit(1.0 - damping) * F.col("reset") + F.lit(
                damping
            ) * (
                F.coalesce(F.col("contrib"), F.lit(0.0))
                + F.col("dmass") * F.col("reset")
            )
        else:
            rank_expr = F.lit(base) + F.lit(damping) * (
                F.coalesce(F.col("contrib"), F.lit(0.0))
                + F.col("dmass") / F.lit(float(n_total))
            )
        new_ranks = (
            nodes.join(contribs, "node", "left")
            .crossJoin(F.broadcast(dangle))
            .select("node", rank_expr.alias("rank"))
            # cut lineage: without this the plan DOUBLES per iteration
            .localCheckpoint()
        )
        if tol is not None and it < n_iter - 1:
            # L1 delta over two |V|-row checkpointed frames → 1 scalar
            delta = (
                new_ranks.alias("n")
                .join(ranks.alias("o"), "node")
                .agg(
                    F.sum(F.abs(F.col("n.rank") - F.col("o.rank"))).alias("d")
                )
                .collect()[0]["d"]
            )
            ranks = new_ranks
            if delta is not None and delta < tol:
                break
        else:
            ranks = new_ranks
    return ranks


def khop_distances(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int,
    src_col: str = "src",
    dst_col: str = "dst",
    node_col: str = "node",
) -> DataFrame:
    """(node, dist) — length of the shortest DIRECTED path from any
    node in ``sources`` (a one-column DataFrame) within ``max_hops``
    hops; source nodes themselves report dist 0. Nodes not reached
    within the budget are absent.

    Frontier BFS: iteration k joins only the NEW frontier (nodes first
    reached at distance k−1) against the edge list — never the whole
    visited set — so per-iteration work is O(edges out of the
    frontier). Each round's frontier is ``localCheckpoint``'d to cut
    lineage (swap for reliable checkpointing on a real cluster); the
    visited set is the lazy union of those materialized frontiers.
    Exact integer arithmetic end to end — replays identically in any
    engine.
    """
    if max_hops < 0:
        raise ValueError("khop_distances: max_hops must be >= 0")
    # NULL endpoints are not nodes (same guard as triangle_counts): a
    # NULL dst reached from the frontier would be re-added EVERY round,
    # because the left_anti join on "node" is null-unsafe and can never
    # match NULL against the visited set
    e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst")).filter(
        F.col("src").isNotNull() & F.col("dst").isNotNull()
    )
    # ONE edge build per call: each BFS round is a separate eager-
    # checkpoint job, and without materialization the caller's edge
    # plan (join + distinct + union for the undirected form) re-executes
    # every round (measured r15: 3 rebuilds for the 3-hop gate).
    e = e.localCheckpoint(eager=False)
    visited = (
        sources.select(F.col(sources.columns[0]).alias("node"))
        .filter(F.col("node").isNotNull())
        .distinct()
        .withColumn("dist", F.lit(0).cast("long"))
        .localCheckpoint()
    )
    # visited is kept as the lazy union of the per-round CHECKPOINTED
    # frontier frames instead of being re-checkpointed (= fully
    # re-copied) every round: the anti-join probe side then reads k
    # materialized block sets, and one checkpoint job per round
    # disappears. Bounded: the union plan grows linearly in max_hops.
    frames = [visited]
    frontier = visited
    for k in range(1, max_hops + 1):
        if frontier.isEmpty():
            break
        seen = frames[0].select("node")
        for f in frames[1:]:
            seen = seen.union(f.select("node"))
        nxt = (
            e.join(frontier, e["src"] == frontier["node"])
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(seen, "node", "left_anti")
            .withColumn("dist", F.lit(k).cast("long"))
            .localCheckpoint()
        )
        frames.append(nxt)
        frontier = nxt
    visited = frames[0]
    for f in frames[1:]:
        visited = visited.union(f)
    return visited.withColumnRenamed("node", node_col)


def triangle_counts(
    edges: DataFrame, src_col: str = "src", dst_col: str = "dst"
) -> DataFrame:
    """Exact per-node triangle participation counts over the
    UNDIRECTED simple graph induced by ``edges`` (direction ignored,
    duplicates and self-loops dropped). Returns (node, n_triangles)
    for nodes in at least one triangle; the global triangle count is
    ``sum(n_triangles) / 3``.

    Degree-orientation wedge join (module doc): each triangle is
    emitted exactly once, at its (degree, node)-smallest vertex.
    """
    und = (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("a"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .where(F.col("a").isNotNull() & F.col("b").isNotNull())
        .distinct()
    )
    deg = (
        und.select(F.col("a").alias("n"))
        .union(und.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    e2 = und.join(
        deg.select(F.col("n").alias("a"), F.col("d").alias("da")), "a"
    ).join(deg.select(F.col("n").alias("b"), F.col("d").alias("db")), "b")
    ka = F.struct(F.col("da").alias("d"), F.col("a").alias("n"))
    kb = F.struct(F.col("db").alias("d"), F.col("b").alias("n"))
    # orient from the (degree, node)-smaller endpoint; carry v's rank
    # key so wedges order their two spokes without re-joining degrees.
    # Neither `und` nor `o` is materialized, by measurement twice: r12
    # saw checkpointing lose 1.4-4x at 1.2M-120M constant-degree edges,
    # and in docs/bench/r16_triangle_mat_sweep.json every checkpoint
    # variant is within noise at gate scale while checkpointing `o`
    # loses up to 2x at 12M edges. ReusedExchange already shares the
    # distinct/degree exchanges; the blocks cost more than the
    # re-aggregation they save.
    o = e2.select(
        F.when(ka < kb, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(ka < kb, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(ka < kb, kb).otherwise(ka).alias("kv"),
    )
    wedges = (
        o.alias("x")
        .join(
            o.alias("y"),
            (F.col("x.u") == F.col("y.u")) & (F.col("x.kv") < F.col("y.kv")),
        )
        .select(
            F.col("x.u").alias("wa"),
            F.col("x.v").alias("wb"),
            F.col("y.v").alias("wc"),
        )
    )
    closing = o.select(F.col("u").alias("wb"), F.col("v").alias("wc"))
    tri = wedges.join(closing, ["wb", "wc"])
    return (
        tri.select(
            F.explode(F.array(F.col("wa"), F.col("wb"), F.col("wc"))).alias(
                "node"
            )
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )
