"""Maximal independent set (deterministic Luby) as DataFrame joins/aggs.

New-engine scope (no reference twin — the reference ships only PageRank;
MIS is the canonical symmetry-breaking primitive for parallel graph
processing, per Luby, "A simple parallel algorithm for the maximal
independent set problem", SIAM J. Comput. 1986). Instead of fresh
per-round randomness we use a FIXED priority per vertex — the md5 of its
key — which keeps Luby's expected O(log n) round bound on non-adversarial
inputs while making the result a pure function of the input: determinis-
tic, parallelism-invariant, and reproducible by the unrolled DuckDB twin
(contract.py ``_mis_sql``; md5 is the one hash Spark and DuckDB share).

Per round over the live undirected simple closure:
  - every live vertex whose priority is a strict minimum among its live
    neighbours (or that has no live neighbour) joins the MIS;
  - winners' neighbours are excluded; both leave the live set;
  - the live pair set is restricted to surviving endpoints.

md5 collisions would stall a pair of adjacent equal-priority vertices
forever; with 128-bit digests that is ~impossible, and ``converged``
still reports honestly if it ever happened.

Scale shape (mirrors kcore.py): state = the shrinking live pair set +
the shrinking live vertex set, re-materialized per round (StateStore,
flat plans). Per round: one min-aggregation over the pair set keyed by
vertex, winner selection via a left join (O(V)), exclusion via one
semi-join, restriction via two semi-joins — all shuffle_hash-hinted
O(V) sides, never broadcast. Rounds are O(log n) expected, each O(live
E), so total work is O(E log n) with geometric shrink in practice.
"""

from __future__ import annotations

import time
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from montecarlopagerank_spark.operators.propagate import both_ways, pairs
from montecarlopagerank_spark.operators.state import StateStore


def _pri(col):
    """Fixed vertex priority: md5 of the key — hex strings compare
    lexicographically identically in Spark (UTF8 binary) and DuckDB."""
    return F.md5(col.cast("string").cast("binary"))


def luby_mis(
    spark: SparkSession,
    edges: DataFrame,
    max_rounds: int = 40,
) -> tuple[DataFrame, dict[str, Any]]:
    """``edges(src, dst)`` → (``mis(v, round)``, info): a maximal
    independent set of the undirected simple closure (self-loops
    dropped), with the round each vertex was decided. Isolated vertices
    (only self-loop edges) are always in the MIS. ``info['converged']``
    is True iff every vertex was decided within ``max_rounds``."""
    t0 = time.time()
    store = StateStore(spark)

    # all vertices (incl. self-loop-only ones, which pairs drops)
    verts = (
        edges.select(F.col("src").alias("v"))
        .unionByName(edges.select(F.col("dst").alias("v")))
        .distinct()
    )

    p, row = store.observe(pairs(edges), "mis_pairs")
    live_pairs = row["n"]
    live = store.materialize(verts, "mis_live")

    winners: list[DataFrame] = []
    rounds, converged = 0, False
    for it in range(max_rounds):
        if live_pairs == 0:
            # no edges left: every remaining live vertex is independent
            winners.append(live.select("v", F.lit(it).alias("round")))
            converged = True
            break
        # strict-min priority among live neighbours (pair set only ever
        # contains live endpoints, so no filtering join is needed here)
        nbr_min = both_ways(p, "u", "w").groupBy("u").agg(
            F.min(_pri(F.col("w"))).alias("mn")
        )
        win = (
            live.join(
                nbr_min.withColumnRenamed("u", "v").hint("shuffle_hash"),
                "v",
                "left",
            )
            .filter(F.col("mn").isNull() | (_pri(F.col("v")) < F.col("mn")))
            .select("v")
        )
        # one slot PER ROUND (not ping-pong): every round's winner frame
        # stays live until the final union, so slots must never be reused
        win = store.materialize(
            win.select("v", F.lit(it).alias("round")), f"mis_win_{it}"
        )
        winners.append(win)
        # excluded = winners' neighbours; survivors = live − win − excluded
        excluded = (
            both_ways(p, "u", "w")
            .join(
                win.select(F.col("v").alias("u")).hint("shuffle_hash"),
                "u",
                "left_semi",
            )
            .select(F.col("w").alias("v"))
            .distinct()
        )
        gone = win.select("v").unionByName(excluded)
        live = store.materialize(
            live.join(gone.hint("shuffle_hash"), "v", "left_anti"), "mis_live"
        )
        keep = live.select(F.col("v").alias("k"))
        p_next = (
            p.join(
                keep.withColumnRenamed("k", "x").hint("shuffle_hash"),
                "x",
                "left_semi",
            )
            .join(
                keep.withColumnRenamed("k", "y").hint("shuffle_hash"),
                "y",
                "left_semi",
            )
            .select("x", "y")
        )
        p, row = store.observe(p_next, "mis_pairs")
        live_pairs = row["n"]
        rounds += 1
    else:
        converged = live_pairs == 0 and live.isEmpty()

    out = winners[0]
    for w in winners[1:]:
        out = out.unionByName(w)
    out = out.persist(StorageLevel.MEMORY_AND_DISK)
    n_mis = out.count()
    return out, {
        "rounds": rounds,
        "converged": converged,
        "n_mis": n_mis,
        "secs": round(time.time() - t0, 3),
    }
