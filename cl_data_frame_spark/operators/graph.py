"""Graph analytics over pair/edge tables (Tier X; no reference
analogue — cl-data-frame.lisp:1-583 has no graph surface).

The near-dup operators emit PAIR tables (`minhash_near_duplicates`,
`ngram_jaccard_pairs`, `embedding_near_duplicates`); `dedup` turns them
into components (`duplicate_clusters`). This module adds centrality over
the same graphs — e.g. rank documents inside a duplicate cluster by how
"central" they are before choosing a keeper, or score citation/link
graphs in a curation pipeline.

Determinism contract: ranks are computed in exact bigint fixed-point
(floor division at every step), so the result is bit-identical under any
row order, partitioning, or engine — a float PageRank's per-node sum
order would never hash-match an external oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..frame import SparkFrame
from ..session import local_frame


def _plain(frame) -> DataFrame:
    return frame.spark_df if isinstance(frame, SparkFrame) else frame


def pagerank(pairs, id_a: str = "id_a", id_b: str = "id_b",
             damping_pct: int = 85, n_iter: int = 3,
             scale: int = 10 ** 12) -> SparkFrame:
    """PageRank over the undirected pair graph, in integer fixed-point.

    Each node starts at ``scale`` (the unnormalized 1.0-per-node
    formulation); every iteration is

        r(v) <- floor((100 - damping_pct) * scale / 100)
                + floor(damping_pct * Σ_{u~v} floor(r(u) / deg(u)) / 100)

    — the standard damped update with every division floored in bigint,
    so the aggregation is order-independent and cross-engine exact. The
    pair graph is symmetrized, so there are no dangling nodes (every
    node in a pair has degree ≥ 1) and no lost mass term is needed.

    Output: (node, rank, rank_scaled) — ``rank`` the exact bigint
    fixed-point value, ``rank_scaled`` = rank/scale rounded to 6.

    Scale shape: per iteration, one broadcast-size share projection
    (#nodes rows), one hash join keyed on the edge source, and one
    partial+final aggregation keyed on the destination — two shuffles of
    edge-sized slim rows per round, O(n_iter) rounds, with
    ``localCheckpoint`` truncating lineage each round (same recipe as
    ``dedup.duplicate_clusters``). Convergence at web scale typically
    needs tens of rounds; near-dup cluster graphs are tiny-diameter, so
    3-5 rounds rank them stably.
    """
    if not 0 < damping_pct < 100:
        raise ValueError("damping_pct must be in (0, 100)")
    p = _plain(pairs).select(F.col(id_a).alias("a"),
                             F.col(id_b).alias("b"))
    edges = (p.union(p.select(F.col("b").alias("a"),
                              F.col("a").alias("b")))
             .distinct().localCheckpoint(eager=False))
    deg = edges.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
    teleport = (100 - damping_pct) * scale // 100
    ranks = deg.select(F.col("a").alias("node"),
                       F.lit(scale).cast("long").alias("rank"))
    for _ in range(n_iter):
        shares = (ranks.join(deg, ranks["node"] == deg["a"])
                  .select(F.col("node").alias("a"),
                          F.expr("rank div deg").alias("share")))
        ranks = (edges.join(shares, on="a")
                 .groupBy(F.col("b").alias("node"))
                 .agg(F.sum("share").alias("s"))
                 .select("node",
                         (F.lit(teleport)
                          + F.expr(f"(s * {damping_pct}) div 100"))
                         .cast("long").alias("rank"))
                 .localCheckpoint(eager=False))
    out = ranks.select(
        "node", "rank",
        F.round(F.col("rank") / F.lit(float(scale)), 6)
        .alias("rank_scaled"))
    return SparkFrame(out)


def triangle_counts(pairs, id_a: str = "id_a",
                    id_b: str = "id_b") -> SparkFrame:
    """Per-node triangle participation + degree over the undirected
    pair graph: for every node, how many triangles it belongs to and
    how many neighbors it has. Triangle density separates tight
    duplicate cliques (every pair similar — safe to collapse to one
    representative) from chains of borderline pairs (A~B~C with A!~C —
    collapsing loses documents), so it is the standard diagnostic on
    top of `duplicate_clusters` output.

    Algorithm: canonicalize each edge to (lo, hi) with lo < hi (each
    triangle then exists in exactly ONE orientation), enumerate
    triangles with two self-equi-joins — e1(a,b) ⋈ e2(b,c) ⋈ e3(a,c)
    — and count each corner. Both joins are hash-partitioned on edge
    endpoints; no broadcast of the full edge set, no cross join. Cost
    is Σ deg(v)² candidate wedges (the standard bound); for skewed
    graphs the classic refinement — orienting edges from low to high
    degree — drops it to O(m^1.5), noted here as the 100 TB follow-up
    since near-dup cluster graphs are small-diameter and near-regular.

    Output: (node, degree, triangles), triangles = 0 for
    triangle-free nodes.
    """
    p = _plain(pairs)
    e = (p.select(F.least(F.col(id_a), F.col(id_b)).alias("a"),
                  F.greatest(F.col(id_a), F.col(id_b)).alias("b"))
         .filter(F.col("a") != F.col("b"))
         .distinct())
    e1 = e.select(F.col("a").alias("ta"), F.col("b").alias("tb"))
    e2 = e.select(F.col("a").alias("tb"), F.col("b").alias("tc"))
    e3 = e.select(F.col("a").alias("ta"), F.col("b").alias("tc"))
    tri = (e1.join(e2, on="tb")
           .join(e3, on=["ta", "tc"]))
    corners = (tri.select(F.col("ta").alias("node"))
               .unionAll(tri.select(F.col("tb").alias("node")))
               .unionAll(tri.select(F.col("tc").alias("node"))))
    tc = corners.groupBy("node").agg(F.count(F.lit(1)).alias("triangles"))
    und = (e.select(F.col("a").alias("node"))
           .unionAll(e.select(F.col("b").alias("node"))))
    deg = und.groupBy("node").agg(F.count(F.lit(1)).alias("degree"))
    out = (deg.join(tc, on="node", how="left")
           .select("node", "degree",
                   F.coalesce(F.col("triangles"), F.lit(0))
                   .alias("triangles")))
    return SparkFrame(out)


def bfs_distances(pairs, sources=None, id_a: str = "id_a",
                  id_b: str = "id_b", max_hops: int = 3) -> SparkFrame:
    """Multi-source BFS hop distances over the undirected pair graph —
    the "how far is everything from these seeds" primitive behind
    k-hop neighbourhoods, contamination-spread audits, and cluster
    diameter checks.

    *sources*: an iterable of seed node ids; ``None`` seeds from the
    single smallest node id in the graph (deterministic default).
    Nodes unreachable within *max_hops* are absent from the output.

    Plan: classic frontier iteration (the ``duplicate_clusters`` /
    ``pagerank`` recipe) — per hop, one hash join of the CURRENT
    frontier (shrinking, slim (node) rows) against the symmetrized
    edge table + one anti-join against the visited set, with
    ``localCheckpoint`` truncating lineage each round and an early
    exit when the frontier drains. O(max_hops) rounds; per-round
    shuffle is edge-sized at worst, never nodes × hops.

    Output: (node, dist), dist = exact minimum hop count ≤ max_hops.
    """
    p = _plain(pairs).select(F.col(id_a).alias("a"),
                             F.col(id_b).alias("b"))
    edges = (p.union(p.select(F.col("b").alias("a"),
                              F.col("a").alias("b")))
             .distinct().localCheckpoint(eager=False))
    if sources is None:
        row = edges.agg(F.min("a").alias("m")).first()
        sources = [] if row["m"] is None else [row["m"]]
    spark = edges.sparkSession
    src = local_frame(spark, [(int(s),) for s in sources], "node bigint")
    dist = src.select("node", F.lit(0).cast("int").alias("dist")) \
        .localCheckpoint(eager=False)
    frontier = dist.select("node")
    for hop in range(1, max_hops + 1):
        nxt = (frontier.join(edges, frontier["node"] == edges["a"])
               .select(F.col("b").alias("node")).distinct()
               .join(dist.select("node"), on="node", how="left_anti")
               .localCheckpoint(eager=False))
        # SQL-native emptiness probe (limit-1 take): ``.rdd.isEmpty()``
        # forces a full InternalRow -> Java -> pickled-Python conversion
        # pipeline and plans the query a second time outside the SQL
        # engine; ``DataFrame.isEmpty`` probes the same checkpointed
        # plan without leaving it.
        if nxt.isEmpty():
            break
        dist = dist.unionByName(
            nxt.select("node", F.lit(hop).cast("int").alias("dist"))) \
            .localCheckpoint(eager=False)
        frontier = nxt
    return SparkFrame(dist)
