"""Distributed graph algorithms beyond connected components (north-star
extensions; no reference analog): integer-scaled PageRank and oriented
triangle counting.

Determinism rule (same as the rest of the repo): no float accumulation
across rows. PageRank runs entirely in INTEGER units (floor division for
the per-edge split, exact BIGINT sums), so the result is independent of
partitioning and row order and replays bit-exact in DuckDB as unrolled
CTE iterations. Triangle counting is pure integer joins.

Scale design:
- PageRank: each iteration is one join (edges x ranks) + one groupBy sum
  — two shuffles on node ids, linear in |E|; ranks/edges localCheckpoint
  per iteration so lineage stays flat. The iteration count is a fixed
  small constant (the oracle unrolls it), not run-to-convergence.
- Triangles: the classic degree-oriented wedge join. Orienting every
  edge from the lower-(degree, id) endpoint to the higher bounds each
  node's out-list by O(sqrt(|E|)) on any graph, so the wedge join never
  squares a hub's adjacency — the standard MapReduce triangle trick
  (Suri & Vassilvitskii, WWW'11).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..cache import tracked_persist

RANK_SCALE = 10**12


def pagerank_units(edges: DataFrame, src: str = "src", dst: str = "dst",
                   iters: int = 3, damping_num: int = 85,
                   damping_den: int = 100) -> DataFrame:
    """Integer-scaled PageRank over a directed edge list: every node
    starts at ``RANK_SCALE`` units; each iteration sends
    ``rank // outdeg`` units down every out-edge (floor division — the
    remainder, at most outdeg-1 units, is dropped) and sets

        rank' = (1 - d) * RANK_SCALE + (d_num * incoming) // d_den

    with d = damping_num/damping_den. All arithmetic is exact BIGINT,
    so the result is partitioning- and order-independent and replays
    bit-exact in ANSI SQL. Dangling nodes (outdeg 0) keep their base
    rank and leak their damped mass — the standard simplification,
    documented rather than hidden.

    Returns (node, rank_units) for every node appearing in the edge
    list. ``iters`` is fixed and small; each iteration's checkpoint
    keeps the driver-side loop's lineage flat.
    """
    e = (edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
         .distinct().localCheckpoint())
    nodes = (e.select(F.col("src").alias("node"))
             .unionByName(e.select(F.col("dst").alias("node")))
             .distinct().localCheckpoint())
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("_deg"))
    # the edges x outdeg join is LOOP-INVARIANT: hoist it out of the
    # iteration so each round pays one join (degree-annotated edges x
    # ranks) instead of two — the in-loop form re-shuffled e and
    # re-aggregated outdeg every iteration (guide §2.4: remove shuffles
    # outright). Inner joins commute, so the per-edge rows and
    # arithmetic are identical.
    ed = (e.join(outdeg, "src")
           .select("src", "dst", "_deg").localCheckpoint(eager=False))
    base = (damping_den - damping_num) * RANK_SCALE // damping_den
    ranks = nodes.withColumn("rank_units", F.lit(RANK_SCALE).cast("long"))
    par = edges.sparkSession.sparkContext.defaultParallelism
    for _ in range(iters):
        # `div` is Spark's exact BIGINT integral division (double
        # division + cast would mis-floor once ranks approach 2^53);
        # DuckDB's `//` matches it exactly on non-negative operands
        contrib = (ed.join(ranks.withColumnRenamed("node", "src"), "src")
                     .select(F.col("dst").alias("node"),
                             F.expr("rank_units div _deg").alias("_c")))
        incoming = contrib.groupBy("node").agg(F.sum("_c").alias("_in"))
        ranks = (nodes.join(incoming, "node", "left")
                 .withColumn("_in", F.coalesce(F.col("_in"), F.lit(0)))
                 .select("node",
                         (F.lit(base)
                          + F.expr(f"({damping_num} * _in)"
                                   f" div {damping_den}"))
                         .cast("long").alias("rank_units"))
                 .coalesce(par).localCheckpoint(eager=False))
    return ranks


def triangle_counts(edges: DataFrame, a: str = "doc_a",
                    b: str = "doc_b") -> DataFrame:
    """Per-node triangle participation counts over an UNDIRECTED edge
    list — near-dup clusters are near-cliques, so triangle density is a
    cluster-cohesion signal (and the canonical distributed-graph kernel
    after connected components).

    Degree-oriented wedge join: each undirected edge is stored once,
    oriented from its lower-(degree, id) endpoint to the higher. Every
    triangle then has exactly ONE wedge (u->v, u->w) with an orienting
    closure edge (v->w), so each triangle is found exactly once, and no
    node's out-adjacency exceeds O(sqrt(|E|)) — a hub's quadratic wedge
    term cannot appear. Pure integer equality joins: bit-exact in SQL.

    Returns (node, n_triangles) for nodes in at least one triangle.
    """
    # persist the canonicalized edge set: it feeds FOUR consumers (the
    # degree union twice, the orientation join, the closure probe), and
    # without the barrier each consumer re-expands the caller's whole
    # edge-building pipeline — the bench's co-purchase projection
    # appeared 66x in one physical plan (66 scans of orders+lineitem,
    # 66 TakeOrderedAndProject copies). Guide §2.4/§5: one
    # materialization, every consumer reads the cache.
    und = tracked_persist(
        edges.select(F.least(a, b).alias("u"),
                     F.greatest(a, b).alias("v"))
             .filter(F.col("u") != F.col("v")).distinct())
    deg = (und.select(F.col("u").alias("n"))
           .unionByName(und.select(F.col("v").alias("n")))
           .groupBy("n").agg(F.count(F.lit(1)).alias("_d")))
    du = deg.select(F.col("n").alias("u"), F.col("_d").alias("_du"))
    dv = deg.select(F.col("n").alias("v"), F.col("_d").alias("_dv"))
    # orient lower-(degree, id) -> higher-(degree, id)
    oriented = (und.join(du, "u").join(dv, "v")
                .select(F.when((F.col("_du") < F.col("_dv"))
                               | ((F.col("_du") == F.col("_dv"))
                                  & (F.col("u") < F.col("v"))),
                               F.struct(F.col("u").alias("s"),
                                        F.col("v").alias("t")))
                        .otherwise(F.struct(F.col("v").alias("s"),
                                            F.col("u").alias("t")))
                        .alias("_e"))
                .select(F.col("_e.s").alias("s"), F.col("_e.t").alias("t")))
    # both wedge sides read `oriented`; persist so the degree-join runs
    # once, not once per side (same barrier rationale as `und`)
    oriented = tracked_persist(oriented)
    w1 = oriented.select(F.col("s").alias("u"), F.col("t").alias("v"))
    w2 = oriented.select(F.col("s").alias("u"), F.col("t").alias("w"))
    wedges = (w1.join(w2, "u")
              .filter(F.col("v") < F.col("w")))
    # closure probe on the CANONICAL (min, max) form — an OR of the two
    # orientations would be a non-equi condition and plan as a
    # nested-loop join (measured 28s vs 9s at sf0.1); the canonical form
    # is a plain hash equi-join on both key columns
    closure = und.select(F.col("u").alias("v"), F.col("v").alias("w"))
    tri = wedges.join(closure, ["v", "w"])
    member = (tri.select(F.col("u").alias("node"))
              .unionByName(tri.select(F.col("v").alias("node")))
              .unionByName(tri.select(F.col("w").alias("node"))))
    return (member.groupBy("node")
            .agg(F.count(F.lit(1)).alias("n_triangles")))


def bfs_distances(edges: DataFrame, source, a: str = "doc_a",
                  b: str = "doc_b", max_hops: int = 4) -> DataFrame:
    """Hop-bounded BFS over an UNDIRECTED edge list: minimum hop count
    from ``source`` for every node within ``max_hops`` — the reachability
    / blast-radius primitive (and, with CC and PageRank, the third
    canonical iterative graph kernel).

    Frontier iteration: each round expands only the CURRENT frontier
    (nodes first reached last round) through one equi-join and drops
    already-visited nodes with a left-anti join — per-round work is
    O(frontier x avg degree), never the whole visited set. Distances
    are exact small integers, so the result is order-independent and
    replays in a depth-bounded recursive CTE (UNION ALL walk + MIN).
    ``max_hops`` is a fixed small constant: the oracle unrolls to the
    same bound, and each round localCheckpoints to keep lineage flat.
    """
    sym = (edges.select(F.col(a).alias("src"), F.col(b).alias("dst"))
           .unionByName(edges.select(F.col(b).alias("src"),
                                     F.col(a).alias("dst")))
           .distinct().localCheckpoint())
    spark = edges.sparkSession
    par = spark.sparkContext.defaultParallelism
    visited = spark.createDataFrame([(int(source), 0)],
                                    "node LONG, dist INT").localCheckpoint()
    frontier = visited
    for h in range(1, max_hops + 1):
        nxt = (sym.join(frontier.withColumnRenamed("node", "src"), "src")
               .select(F.col("dst").alias("node")).distinct()
               .join(visited.select("node"), "node", "left_anti")
               .withColumn("dist", F.lit(h).cast("int"))
               .coalesce(par).localCheckpoint())
        # DataFrame.isEmpty (limit-1 probe on the already-checkpointed
        # frame) — the old nxt.rdd.isEmpty() converted internal rows to
        # pickled Python objects just to test emptiness (guide §1.4's
        # df.rdd caveat)
        if nxt.isEmpty():
            break
        # visited is a union of ALREADY-checkpointed per-hop frames —
        # lineage is flat without re-checkpointing it, and the old
        # per-round visited.localCheckpoint() recopied every visited
        # row each round (O(V x hops) writes). Dropping it plus the
        # caller-side lazy edges checkpoint measured 8.96s -> 5.27s
        # on the sf0.1 co-purchase key (min-of-3, r11)
        visited = visited.unionByName(nxt)
        frontier = nxt
    return visited
