"""Densest subgraph via deterministic threshold peeling (Bahmani et al.).

New-engine scope (no reference twin — the reference ships only PageRank;
densest subgraph is the standard link-spam / community-core detector on
web graphs). Greedy peeling: repeatedly measure the density ρ = |E|/|V|
of the surviving undirected simple closure, remove EVERY vertex of
degree ≤ 2(1+ε)·ρ at once, and return the surviving set of the densest
round seen — a 2(1+ε)-approximation of the maximum-density subgraph in
O(log_{1+ε} V) rounds (Bahmani, Kumar, Vassilvitskii, "Densest subgraph
in streaming and MapReduce", VLDB 2012; the synchronous threshold rule
is exactly their MapReduce formulation). No randomness, no tie-breaks:
the removal test is a pure comparison, so the run is deterministic and
parallelism-invariant, and an unrolled DuckDB twin replays it exactly
(contract.py ``_densest_sql``) — the threshold double is computed with
the SAME IEEE operation order on both engines
(``factor · ((sym_count/2.0) / v_count)``).

Scale shape (mirrors kcore.py): per round one degree aggregate over the
surviving symmetric pair view (map-side combined), an O(V) keep filter,
and two semi-join restrictions of the pair set — 2 jobs/round, the
surviving vertex/pair counts observed on the writes (state.py). Each
round's vertex set lands in its own parquet slot so the best round's
set is returned without recomputation.
"""

from __future__ import annotations

import time
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from montecarlopagerank_spark.operators.propagate import both_ways, pairs
from montecarlopagerank_spark.operators.state import StateStore


def densest_subgraph(
    spark: SparkSession,
    edges: DataFrame,
    eps: float = 0.5,
    max_rounds: int = 60,
) -> tuple[DataFrame, dict[str, Any]]:
    """``edges(src, dst)`` → (``densest(v)``, info): the vertex set of
    the densest round of 2(1+ε)-threshold peeling over the undirected
    simple closure (isolated vertices never enter — vertices are the
    closure's endpoints). ``info`` carries ``best_density`` (|E|/|V| of
    the returned set), ``best_round``, ``rounds``, ``converged``."""
    t0 = time.time()
    factor = 2.0 * (1.0 + eps)
    store = StateStore(spark)

    p, row = store.observe(pairs(edges), "dens_pairs")
    e_count = row["n"]
    v, row = store.observe(
        both_ways(p, "v", "w").select("v").distinct(), "dens_v_0")
    v_count = row["n"]

    snapshots: dict[int, DataFrame] = {0: v}
    best_d, best_r = -1.0, None
    rounds, converged = 0, False
    for it in range(max_rounds):
        if v_count == 0:
            converged = True
            break
        d = e_count / v_count  # density BEFORE this round's removal
        if d > best_d:
            best_d, best_r = d, it
        thr = factor * d  # same IEEE order as the SQL twin
        deg = (
            both_ways(p, "v", "w")
            .groupBy("v")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        keep, row = store.observe(
            v.join(deg.hint("shuffle_hash"), "v", "left")
            .filter(F.coalesce(F.col("d"), F.lit(0)) > F.lit(thr))
            .select("v"),
            f"dens_v_{it + 1}",
        )
        v_count = row["n"]
        snapshots[it + 1] = keep
        p, row = store.observe(
            p.join(
                keep.withColumnRenamed("v", "x").hint("shuffle_hash"),
                "x",
                "left_semi",
            )
            .join(
                keep.withColumnRenamed("v", "y").hint("shuffle_hash"),
                "y",
                "left_semi",
            ),
            "dens_pairs",
        )
        e_count = row["n"]
        v = keep
        rounds += 1
    else:
        converged = v_count == 0

    if best_r is None:  # edge-free input
        out = pairs(edges).limit(0).select(F.col("x").alias("v"))
    else:
        out = snapshots[best_r]
    return out, {
        "rounds": rounds,
        "converged": converged,
        "best_round": best_r,
        "best_density": round(best_d, 9) if best_r is not None else None,
        "secs": round(time.time() - t0, 3),
    }
