"""Multi-source BFS hop distance as a frontier-expansion DataFrame loop.

New-engine scope (SURVEY.md §2.7): min-hop distance from a source vertex
set, the primitive behind "how far is every page from the seed set" /
neighborhood queries on a link graph. Undirected by default (edges are
traversed both ways); ``directed=True`` follows src→dst only.

Scale shape: classic frontier BFS — per round only the NEWLY discovered
frontier joins the neighbour cache (operators/propagate.py), never the
full visited set, so round cost is O(frontier boundary), not O(V); each
round shuffles only the O(frontier) vertex set into the cache plus one
aggregate to drop duplicates. The visited set accumulates in a
parquet-backed state table (flat plans, bounded lineage); "seen before?"
is a left-anti join against it, co-partitioned by v. Each round is TWO
jobs (frontier write with its count observed, visited-set write); the
loop stops when the frontier empties or at ``max_hops``. One loop serves
``bfs_hops`` (one landmark key) and the landmark centralities.
"""

from __future__ import annotations

import time
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from montecarlopagerank_spark.operators.propagate import fill, hash_by, neighbours
from montecarlopagerank_spark.operators.state import StateStore


def bfs_hops(
    spark: SparkSession,
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int = 6,
    directed: bool = False,
) -> tuple[DataFrame, dict[str, Any]]:
    """``edges(src, dst)`` + ``sources(v)`` → (``dist(v, hops:int)``, info)
    for every vertex reachable within ``max_hops``; sources get hops 0.
    Unreachable vertices are absent from the result. The landmark loop
    with ONE landmark key (l = 0) seeded at every source."""
    t0 = time.time()
    visited, rounds = _landmark_distances(
        spark, edges, sources.select(F.lit(0).alias("l"), "v"), max_hops,
        directed
    )
    return _done(visited.select("v", "hops"), rounds, max_hops, t0)


def _landmark_distances(
    spark: SparkSession,
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int,
    directed: bool,
) -> tuple[DataFrame, int]:
    """Shared BFS loop: exact per-(landmark, vertex) hop distances
    ``(l, v, hops)`` within ``max_hops`` from the ``seeds(l, v)`` at hop
    0, as ONE multi-source BFS whose state is keyed (landmark, vertex) —
    landmarks expand simultaneously, so the loop costs the same number of
    rounds as a single BFS, not |landmarks| of them. Returns (distances,
    rounds); the distance table is NOT persisted (callers aggregate it
    once)."""
    e = neighbours(edges, directed)

    store = StateStore(spark)
    frontier = store.materialize(
        hash_by(seeds.distinct(), "v"), "bfs_frontier"
    )
    visited = store.materialize(
        frontier.select("l", "v", F.lit(0).alias("hops")), "bfs_dist"
    )
    rounds = 0
    for hop in range(1, max_hops + 1):
        nxt = (
            e.join(
                hash_by(frontier, "v").hint("shuffle_hash"),
                e["u"] == F.col("v"),
            )
            .select("l", F.col("x").alias("v"))
            .distinct()
            .withColumn("hops", F.lit(hop))
            # left-anti against the visited set: both sides hash(v)
            .join(visited.hint("shuffle_hash"), ["l", "v"], "left_anti")
        )
        new, row = store.observe(nxt, "bfs_frontier")
        if row["n"] == 0:
            break
        rounds = hop
        frontier = new.select("l", "v")
        visited = store.materialize(visited.unionByName(new), "bfs_dist")
    e.unpersist()
    return visited, rounds


def _done(out: DataFrame, rounds: int, max_hops: int, t0: float
          ) -> tuple[DataFrame, dict[str, Any]]:
    """``out`` persisted and filled, with the loop's info."""
    return fill(out.persist(StorageLevel.MEMORY_AND_DISK)), {
        "rounds": rounds,
        "max_hops": max_hops,
        "secs": round(time.time() - t0, 3),
    }


def harmonic_centrality(
    spark: SparkSession,
    edges: DataFrame,
    landmarks: DataFrame,
    max_hops: int = 6,
    directed: bool = False,
) -> tuple[DataFrame, dict[str, Any]]:
    """Landmark harmonic centrality (Boldi & Vigna, "Axioms for
    Centrality", Internet Math 2014): ``h(v) = Σ_l 1/d(v,l)`` over the
    landmark set, d capped at ``max_hops`` (unreached terms contribute 0,
    which is harmonic's built-in disconnection handling — no 1/∞
    special-casing). Distances via :func:`_landmark_distances`.

    Returns (``scores(v, harmonic)``, info). Vertices reaching no
    landmark within the cap are absent (h = 0)."""
    t0 = time.time()
    visited, rounds = _landmark_distances(
        spark, edges, landmarks.select(F.col("v").alias("l"), "v"), max_hops,
        directed
    )
    out = (
        visited.filter(F.col("hops") > 0)  # d(l,l)=0 excluded (l ≠ v terms)
        .groupBy("v")
        .agg(F.sum(F.lit(1.0) / F.col("hops")).alias("harmonic"))
    )
    return _done(out, rounds, max_hops, t0)


def closeness_centrality(
    spark: SparkSession,
    edges: DataFrame,
    landmarks: DataFrame,
    max_hops: int = 6,
    directed: bool = False,
) -> tuple[DataFrame, dict[str, Any]]:
    """Landmark closeness centrality: ``c(v) = r_v / Σ_l d(v, l)`` over
    the landmarks v reaches within ``max_hops`` (r_v = how many) — the
    reciprocal of v's mean distance to its reachable landmarks, the
    landmark-sampled estimator of classic closeness (Eppstein & Wang,
    "Fast approximation of centrality", J. Graph Alg. Appl. 2004;
    restricting the mean to reached nodes is the standard
    disconnection-safe convention, cf. Wasserman & Faust). ``r_v`` is
    returned so callers can apply a reach-fraction correction or filter
    to vertices covering the full landmark set. The self term d(v,v)=0
    of a landmark vertex is excluded, matching harmonic. Distances via
    the same ONE simultaneous multi-source BFS as harmonic
    (:func:`_landmark_distances`); the aggregation is one map-side-
    combined groupBy — at 100 TB the only O(E)-touching work is the
    shared BFS itself.

    Returns (``scores(v, closeness, reached)``, info). Vertices reaching
    no landmark are absent."""
    t0 = time.time()
    visited, rounds = _landmark_distances(
        spark, edges, landmarks.select(F.col("v").alias("l"), "v"), max_hops,
        directed
    )
    out = (
        visited.filter(F.col("hops") > 0)
        .groupBy("v")
        .agg(
            (F.count(F.lit(1)) / F.sum("hops")).alias("closeness"),
            F.count(F.lit(1)).alias("reached"),
        )
    )
    return _done(out, rounds, max_hops, t0)
