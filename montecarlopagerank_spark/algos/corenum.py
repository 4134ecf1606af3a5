"""Core-number decomposition (H-index iteration) as DataFrame joins/aggs.

New-engine scope (no reference twin — the reference ships only PageRank;
coreness is the per-vertex generalization of algos/kcore.py's fixed-k
filter): every vertex's core number — the largest k such that v belongs
to the k-core — computed by synchronous H-index iteration (Lü, Zhou,
Zhang & Stanley, "The H-index of a network node and its relation to
degree and coreness", Nature Communications 2016): start h₀(v) =
deg(v); repeat h_{t+1}(v) = H({h_t(w) : w ∈ Γ(v)}) where H is the
H-index (the largest i with at least i neighbour values ≥ i). The
sequence is monotone non-increasing and converges exactly to coreness;
convergence is detected as a zero-change round (an observed metric of
the state write, state.py).

The H-index is computed WITHOUT per-vertex sorting of the full
neighbour list (hub-safe): H = max over DISTINCT neighbour values h of
min(h, |{w : h_t(w) ≥ h}|). So the per-round shape is
  (1) one O(E) join of the pinned symmetric pair set with the O(V)
      h-table (shuffle_hash on the small side),
  (2) a map-side-combined groupBy (v, h) count — collapses a hub's
      millions of neighbour rows to at most |distinct h| rows,
  (3) a window over v ordered by h desc for the running count — input
      rows per vertex = distinct neighbour VALUES (≤ coreness spread,
      tiny), not neighbours, so hub skew never reaches the sort.

Scale shape: pair set exchanged once and pinned; per round the O(V)
h-table moves twice (join + final groupBy); everything map-side-
combinable is. ``FUSE_ROUNDS`` consecutive rounds compile into ONE Spark
job between state materializations (StateStore, flat plans at segment
granularity): the h-sequence is a monotone fixpoint iteration, so
segment rounds past convergence recompute the identical h — results are
fuse-invariant, only job/write fixed costs change (measured 18 rounds ×
1.1 s on a 23k-edge graph with per-round jobs — almost all fixed cost).
The fused chain is kept LINEAR: each round consumes its predecessor
exactly once (the message join). h's vertex set is invariant (exactly
the deg≥1 vertices — every sym.u appears in every round's histogram),
so no old⋈new reconciliation join is needed; a second consumer would
double execution per fused round (the two consumers exchange by
different keys, so ReusedExchange cannot dedup them — measured 5×
worse at FUSE_ROUNDS=4 with the old-value join in the chain).
Per-round convergence is detected exactly anyway: Σh rides each round
as an observed metric, and h(v) is monotone non-increasing, so equal
consecutive sums ⇔ a zero-change round. Rounds needed = H-index
convergence depth, empirically far below the peeling depth (coreness
spread) on power-law graphs.
"""

from __future__ import annotations

import time
from typing import Any

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from montecarlopagerank_spark.operators.propagate import both_ways, pairs, pin
from montecarlopagerank_spark.operators.state import StateStore

# H-index rounds per Spark job (module docstring); read at call time
FUSE_ROUNDS = 2


def core_numbers(
    spark: SparkSession,
    edges: DataFrame,
    max_rounds: int = 100,
) -> tuple[DataFrame, dict[str, Any]]:
    """``edges(src, dst)`` → (``cores(v, coreness:long)``, info) over the
    undirected simple closure (self-loops dropped). Isolated /
    self-loop-only vertices get coreness 0. ``info['converged']`` is
    True iff a zero-change round happened within ``max_rounds``."""
    t0 = time.time()
    store = StateStore(spark)

    verts = (
        edges.select(F.col("src").alias("v"))
        .unionByName(edges.select(F.col("dst").alias("v")))
        .distinct()
    )
    # pinned by w — the per-round message join's key — so the O(E) side
    # never re-exchanges inside the loop (the cached scan's
    # hashpartitioning(w) satisfies the join requirement); only the O(V)
    # h-table moves per round. The one-time init groupBy(u) pays a single
    # O(E) exchange instead.
    sym = pin(both_ways(pairs(edges), "u", "w"), "w")

    h, row = store.observe(
        sym.groupBy(F.col("u").alias("v"))
        .agg(F.count(F.lit(1)).cast("long").alias("h")),
        "coren_h", F.sum("h").alias("s"),
    )
    prev_sum = int(row["s"] or 0)
    # h ≥ 1 per row, so Σh = 0 ⇔ h is empty (edgeless input) — already a
    # fixpoint. Short-circuit rather than run a round: AQE's runtime
    # empty-relation propagation would prune the round's CollectMetrics
    # node and the observation would never resolve.
    rounds, converged = 0, prev_sum == 0
    while rounds < max_rounds and not converged:
        seg = min(FUSE_ROUNDS, max_rounds - rounds)
        obs_list: list[Observation] = []
        cur = h
        for j in range(seg):
            # neighbour-value histogram: hub rows collapse to distinct
            # values. This join is the ONLY consumer of the previous
            # round's output — keeps the fused chain linear (module
            # docstring).
            hist = (
                sym.join(
                    cur.select(
                        F.col("v").alias("w"), F.col("h").alias("hw")
                    ).hint("shuffle_hash"),
                    "w",
                )
                .groupBy(F.col("u").alias("v"), F.col("hw"))
                .agg(F.count(F.lit(1)).alias("cnt"))
            )
            win = (
                Window.partitionBy("v")
                .orderBy(F.desc("hw"))
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            obs = Observation(f"coren_round_{rounds}_{j}")
            cur = (
                hist.withColumn("ge", F.sum("cnt").over(win))
                .groupBy("v")
                .agg(
                    F.max(F.least(F.col("hw"), F.col("ge")))
                    .cast("long")
                    .alias("h")
                )
                .observe(obs, F.sum("h").alias("s"))
            )
            obs_list.append(obs)
        h = store.materialize(cur, "coren_h")
        for obs in obs_list:
            rounds += 1
            s = int(obs.get["s"] or 0)
            if s == prev_sum:  # monotone ⇒ equal sums ⇔ zero change
                converged = True
                break
            prev_sum = s

    out = (
        verts.join(h.hint("shuffle_hash"), "v", "left")
        .select("v", F.coalesce("h", F.lit(0)).cast("long").alias("coreness"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    max_core = out.agg(F.max("coreness")).collect()[0][0]
    sym.unpersist()
    return out, {
        "rounds": rounds,
        "converged": converged,
        "max_coreness": int(max_core or 0),
        "secs": round(time.time() - t0, 3),
    }
