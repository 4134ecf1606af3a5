"""Weighted single/multi-source shortest paths (synchronous
Bellman-Ford with frontier-restricted relaxation).

New-engine scope (SURVEY.md §2.7): the weighted companion to
:mod:`bfs.bfs_hops` — min path *weight* instead of min hop count, the
primitive behind latency/cost-weighted reachability on a link graph.

Algorithm: classic delta-free synchronous relaxation. Per round, only
edges out of vertices whose distance improved last round are relaxed
(the frontier), new candidates are min-reduced per destination and
compared against the current distance table; the loop stops when no
vertex improves (exact fixpoint — Bellman-Ford converges in ≤ (max
edges on any shortest path) rounds for non-negative weights).

Scale shape: identical to bfs_hops — the weighted edge table is
deduped to min-weight per (u, x) pair (a multigraph only duplicates
relax work), hash-partitioned by source endpoint once and persisted;
each round shuffles only the O(frontier) vertex set (shuffle_hash, the
edge side never moves), and the improved-count is the frontier
write's observed ``n`` (state.py) — TWO jobs per round, state tables
parquet-backed (flat plans, bounded lineage).

Determinism: distances are exact (min-plus over the input weights; no
fp accumulation issues with integer weights). DuckDB twin in
``contract.py`` (``sssp_from_tools``) unrolls full-relaxation rounds —
past the fixpoint every round is the identity, so any unroll ≥ the
engine's round count reproduces the table exactly.
"""

from __future__ import annotations

import time
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from montecarlopagerank_spark.operators.propagate import fill, hash_by, pin
from montecarlopagerank_spark.operators.state import StateStore


def sssp(
    spark: SparkSession,
    edges: DataFrame,
    sources: DataFrame,
    weight_col: str = "w",
    max_rounds: int = 64,
    directed: bool = False,
) -> tuple[DataFrame, dict[str, Any]]:
    """``edges(src, dst, <weight_col>)`` + ``sources(v)`` →
    (``dist(v, d)``, info): min total weight from the nearest source,
    for every reachable vertex (sources get 0; unreachable vertices are
    absent). Weights must be non-negative; self-loops are ignored.
    ``info['converged']`` is True iff the fixpoint was reached within
    ``max_rounds``."""
    t0 = time.time()
    base = edges.select(
        F.col("src").alias("u"), F.col("dst").alias("x"),
        F.col(weight_col).alias("wt"),
    )
    if not directed:
        base = base.unionByName(
            edges.select(
                F.col("dst").alias("u"), F.col("src").alias("x"),
                F.col(weight_col).alias("wt"),
            )
        )
    e = fill(pin(  # pay the one edge exchange in setup
        base.filter(F.col("u") != F.col("x"))
        .groupBy("u", "x")
        .agg(F.min("wt").alias("wt")),
        "u",
    ))

    store = StateStore(spark)
    dist = store.materialize(
        hash_by(
            sources.select("v").distinct().withColumn("d", F.lit(0).cast("long")),
            "v",
        ),
        "sssp_dist",
    )
    frontier = dist
    rounds = 0
    converged = False
    for r in range(1, max_rounds + 1):
        cand = (
            e.join(
                hash_by(frontier.withColumnRenamed("v", "u"), "u")
                .hint("shuffle_hash"),
                "u",
            )
            .select(F.col("x").alias("v"), (F.col("d") + F.col("wt")).alias("nd"))
            .groupBy("v")
            .agg(F.min("nd").alias("nd"))
        )
        improved = (
            cand.join(dist.hint("shuffle_hash"), "v", "left")
            .filter(F.col("d").isNull() | (F.col("nd") < F.col("d")))
            .select("v", F.col("nd").alias("d"))
        )
        newf, row = store.observe(improved, "sssp_frontier")
        if row["n"] == 0:
            converged = True
            break
        rounds = r
        frontier = newf
        dist = store.materialize(
            dist.join(newf.select("v"), "v", "left_anti").unionByName(newf),
            "sssp_dist",
        )
    e.unpersist()
    return fill(dist.persist(StorageLevel.MEMORY_AND_DISK)), {
        "rounds": rounds,
        "converged": converged,
        "secs": round(time.time() - t0, 3),
    }
