"""Landmark (pivot-sampled) betweenness centrality — Brandes' algorithm
distributed level-synchronously from a landmark set.

New-engine scope (SURVEY.md §2.7): "which vertices do shortest paths
funnel through?" Exact betweenness needs one SSSP per vertex (Brandes
2001, O(VE)) — intractable at link-graph scale; the standard estimator
(Brandes-Pich 2007, Bader et al.) runs the dependency accumulation from
K sampled pivots and scales by n/K. Here the pivots are an explicit
``landmarks`` DataFrame (the same convention as harmonic centrality);
hop-capping bounds both phases.

Two level-synchronous phases, all landmarks expanding simultaneously
with (landmark, vertex)-keyed state — K pivots cost ONE BFS's rounds,
not K:

1. **Forward** (σ counting): round h discovers every (l, v) at distance
   h with σ(l,v) = number of shortest l→v paths = Σ σ(l,u) over
   predecessors u at h−1. Per round: frontier ⋈ cached edges →
   ``groupBy(l, x).sum(σ)`` (map-side combined) → left-anti against the
   visited set — only the O(frontier-band) state moves (`shuffle_hash`);
   the frontier size is the write's observed ``n`` (state.py).
2. **Backward** (dependency accumulation, deepest level first): δ(l,v)
   += Σ_{w ∈ succ(v), d(w)=d(v)+1} σ(l,v)/σ(l,w) · (1 + δ(l,w)). Each
   of the ≤maxd rounds joins ONE depth band against the cached edges —
   the classic Brandes stack, unrolled as level-synchronous supersteps.

Betweenness estimate: bc(v) = Σ_l δ(l, v) over v ∉ landmarks (endpoint
convention: sources excluded, Brandes 2001 §4). σ is exact integer
combinatorics carried in doubles (hop caps keep it far below 2^53); δ
is rational arithmetic whose summation order varies with partitioning
— outputs are rounded (contract twin: 6 dp).

DuckDB twin: both phases unroll to chained CTEs (contract._btw_sql) —
forward like _bfs_sql plus a σ sum, backward one CTE per depth band.
"""

from __future__ import annotations

import time
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from montecarlopagerank_spark.operators.propagate import fill, hash_by, neighbours
from montecarlopagerank_spark.operators.state import StateStore


def landmark_betweenness(
    spark: SparkSession,
    edges: DataFrame,
    landmarks: DataFrame,
    max_hops: int = 6,
    directed: bool = False,
) -> tuple[DataFrame, dict[str, Any]]:
    """``edges(src, dst)`` + ``landmarks(v)`` → (``bc(v, btw)``, info):
    unnormalized landmark-sampled betweenness (Σ over landmarks of the
    Brandes dependency), hop-capped at ``max_hops``. Scale by
    n/|landmarks| for the Brandes-Pich population estimate. Vertices
    with zero dependency are included (btw = 0.0) so the output covers
    every vertex reachable from a landmark; landmark rows themselves
    are excluded (source-endpoint convention)."""
    t0 = time.time()
    e = neighbours(edges, directed)  # operators/propagate.py
    # reversed orientation for the backward phase (w → its predecessors)
    er = e.select(F.col("x").alias("u"), F.col("u").alias("x"))

    store = StateStore(spark)
    # visited state: (l, v, d, sigma)
    visited = store.materialize(
        hash_by(
            landmarks.select(F.col("v").alias("l"))
            .distinct()
            .select("l", F.col("l").alias("v"), F.lit(0).alias("d"),
                    F.lit(1.0).alias("sigma")),
            "v",
        ),
        "btw_visited",
    )
    frontier = visited
    maxd = 0
    for h in range(1, max_hops + 1):
        msgs = (
            e.join(
                hash_by(frontier.withColumnRenamed("v", "u"), "u")
                .hint("shuffle_hash"),
                "u",
            )
            .groupBy("l", F.col("x").alias("v"))
            .agg(F.sum("sigma").alias("sigma"))
        )
        fresh = (
            msgs.join(
                visited.select("l", "v").hint("shuffle_hash"),
                ["l", "v"],
                "left_anti",
            )
            .select("l", "v", F.lit(h).alias("d"), "sigma")
        )
        frontier, row = store.observe(fresh, "btw_frontier")
        if row["n"] == 0:
            break
        maxd = h
        visited = store.materialize(
            visited.unionByName(frontier), "btw_visited"
        )
    visited = fill(visited.persist(StorageLevel.MEMORY_AND_DISK))

    # backward: delta keyed (l, v), deepest band first
    delta = visited.select("l", "v", "d", "sigma", F.lit(0.0).alias("delta"))
    delta = store.materialize(delta, "btw_delta")
    for h in range(maxd, 0, -1):
        band_w = delta.filter(F.col("d") == h).select(
            "l", F.col("v").alias("w"), F.col("sigma").alias("sigma_w"),
            F.col("delta").alias("delta_w"),
        )
        # predecessors of w: reversed edges from w, matched to depth h-1
        contrib = (
            er.join(
                hash_by(band_w.withColumnRenamed("w", "u"), "u")
                .hint("shuffle_hash"),
                "u",
            )
            .select("l", F.col("x").alias("v"), "sigma_w", "delta_w")
            .join(
                delta.filter(F.col("d") == h - 1)
                .select("l", "v", "sigma")
                .hint("shuffle_hash"),
                ["l", "v"],
            )
            .groupBy("l", "v")
            .agg(
                F.sum(
                    F.col("sigma") / F.col("sigma_w") * (F.lit(1.0) + F.col("delta_w"))
                ).alias("inc")
            )
        )
        delta = store.materialize(
            delta.join(contrib, ["l", "v"], "left").select(
                "l", "v", "d", "sigma",
                (F.col("delta") + F.coalesce(F.col("inc"), F.lit(0.0))).alias(
                    "delta"
                ),
            ),
            "btw_delta",
        )
    bc = (
        delta.filter(F.col("d") > 0)  # drop landmark self-rows
        .groupBy("v")
        .agg(F.sum("delta").alias("btw"))
    )
    out = fill(bc.persist(StorageLevel.MEMORY_AND_DISK))
    e.unpersist()
    visited.unpersist()
    return out, {
        "max_depth": maxd,
        "secs": round(time.time() - t0, 3),
    }
