"""k-truss decomposition (synchronous support peeling) as DataFrame joins.

New-engine scope (the reference ships only PageRank; k-truss is the
next density filter after k-core on any link graph — Cohen, "Trusses:
cohesive subgraphs for social network analysis", NSA TR 2008). The
k-truss is the maximal subgraph of the undirected simple closure in
which every EDGE participates in ≥ k-2 triangles; peeling repeatedly
deletes all sub-threshold edges at once (synchronous ⇒ order-free ⇒
deterministic, no tie-break needed).

Scale shape (mirrors kcore.py): state = surviving canonical pair set
p(x<y), re-materialized per round via StateStore (flat plan, bounded
lineage). Per round: triangles are enumerated from the CANONICAL
(x<y-ordered) pair set with the same 3-join used by triangles.py —
each triangle (v1<v2<v3) credits its 3 edges, support = credit count
per edge, survivors keep support ≥ k-2. Each round is ONE Spark job
(the pair-set write) with the surviving count as its observed ``n``
(state.py); the pair set only SHRINKS, so count equality is an exact
fixpoint test. The per-round triangle join is the dominant cost —
O(Σ wedge counts) — which the canonical orientation bounds by
low-degree-first wedges exactly as in triangle counting; at 100 TB the
join shuffles on the wedge pivot and AQE skew-splits mega-pivots.
"""

from __future__ import annotations

import time
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from montecarlopagerank_spark.operators.propagate import pairs
from montecarlopagerank_spark.operators.state import StateStore


def _support(p: DataFrame) -> DataFrame:
    """Per-edge triangle support over a canonical pair set p(x<y):
    enumerate triangles v1<v2<v3 via the oriented 3-join, credit all
    three edges of each, count credits."""
    a, b, c = p.alias("a"), p.alias("b"), p.alias("c")
    tri = (
        a.join(b, F.col("a.y") == F.col("b.x"))
        .join(c, (F.col("a.x") == F.col("c.x")) & (F.col("b.y") == F.col("c.y")))
        .select(
            F.col("a.x").alias("v1"), F.col("a.y").alias("v2"),
            F.col("b.y").alias("v3"),
        )
    )
    credits = (
        tri.select(F.col("v1").alias("x"), F.col("v2").alias("y"))
        .unionByName(tri.select(F.col("v2").alias("x"), F.col("v3").alias("y")))
        .unionByName(tri.select(F.col("v1").alias("x"), F.col("v3").alias("y")))
    )
    return credits.groupBy("x", "y").agg(F.count(F.lit(1)).alias("sup"))


def k_truss(
    spark: SparkSession,
    edges: DataFrame,
    k: int = 3,
    max_rounds: int = 100,
) -> tuple[DataFrame, dict[str, Any]]:
    """``edges(src, dst)`` → (``truss(x, y)``, info): the surviving
    canonical (x < y) edges of the k-truss of the undirected simple
    closure. k ≤ 2 is the whole closure (every edge trivially has ≥ 0
    triangles). ``info['converged']`` is True iff the fixpoint was
    reached within ``max_rounds``."""
    if k < 0:
        raise ValueError(f"k must be ≥ 0, got {k}")
    t0 = time.time()
    store = StateStore(spark)

    p, row = store.observe(pairs(edges), "truss_pairs")
    prev = row["n"]
    rounds, converged = 0, k <= 2
    if k > 2:
        for it in range(max_rounds):
            if prev == 0:
                converged = True
                break
            keep = _support(p).filter(F.col("sup") >= k - 2).select("x", "y")
            # inner join: zero-support edges have no credit row and drop
            p, row = store.observe(
                p.join(keep.hint("shuffle_hash"), ["x", "y"], "left_semi"),
                "truss_pairs")
            cur = row["n"]
            rounds += 1
            if cur == prev:  # shrink-only state: equal count ⇔ fixpoint
                converged = True
                break
            prev = cur
    return p.select("x", "y"), {
        "rounds": rounds,
        "converged": converged,
        "truss_pairs": prev,
        "secs": round(time.time() - t0, 3),
    }
