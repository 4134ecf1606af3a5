"""Strongly connected components: Trim + Coloring (FW-BW style).

New-engine scope (no reference twin; SURVEY.md §2.7). The directed
analogue of components.py, via the coloring algorithm of Orzan (2004) /
the trimming of Slota-Rajamanickam-Madduri (IPDPS 2014) — the standard
MapReduce/Pregel-friendly SCC family (Tarjan's stack is inherently
sequential and cannot distribute).

Outer round:
  1. TRIM: repeatedly remove vertices with live in-degree 0 or live
     out-degree 0 — each is its own singleton SCC (no cycle through it).
     Kills chains/trees fast so coloring never crawls them one pivot at
     a time.
  2. COLOR: color(v) init v, then color(v) ← max(color(v), colors of
     live in-neighbours) to fixpoint. Per-vertex colors are monotone
     non-decreasing, so Σcolor equality (observed on the state write) is
     an exact fixpoint test (longs: Σ ≤ n·max_vid ≪ 2^63 at 10^9
     vertices). Every color class is then a forward-closed region whose
     PIVOT is the vertex equal to its own color.
  3. BACKWARD: multi-source BFS from all pivots at once along REVERSED
     live edges restricted to same-color — the reached set of pivot c is
     exactly SCC(c) (forward reach within the class is the whole class
     by construction of coloring). One job per hop, frontier-sized work.
  4. Assign scc=color to reached vertices, drop them from the live
     subgraph, repeat. Each outer round removes ≥1 SCC per color class
     (all pivots), so rounds ≤ the SCC "level depth" of the condensation,
     not O(V).

Scale shape: live edges are re-materialized once per OUTER round (the
subgraph genuinely shrinks); every inner superstep (trim round, color
round, BFS hop) is a bounded 1-2 Spark jobs exchanging only O(V) state
against the hash-partitioned live-edge table (shuffle_hash, never
broadcast — same reasoning as pagerank_power).
"""

from __future__ import annotations

import time
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from montecarlopagerank_spark.operators.propagate import hash_by
from montecarlopagerank_spark.operators.state import StateStore


def strongly_connected_components(
    spark: SparkSession,
    edges: DataFrame,
    vertices: DataFrame | None = None,
    max_outer: int = 50,
    max_inner: int = 200,
) -> tuple[DataFrame, dict[str, Any]]:
    """``edges(src, dst)`` → (``scc(v:long, scc:long)``, info). ``scc`` is
    the maximum vid of the vertex's strongly connected component, so
    labels are deterministic and parallelism-invariant. Isolated vertices
    from ``vertices`` get their own id."""
    t0 = time.time()
    store = StateStore(spark)

    e0 = (
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    live, lm = store.observe(hash_by(e0, "src"), "scc_edges")
    remaining = store.materialize(
        hash_by(
            live.select(F.col("src").alias("v"))
            .unionByName(live.select(F.col("dst").alias("v")))
            .distinct(),
            "v",
        ),
        "scc_verts",
    )
    assigned: list[DataFrame] = []
    outer = trim_rounds = color_rounds = bfs_hops = 0
    converged = False
    for outer in range(1, max_outer + 1):
        if lm["n"] == 0:
            # no live edges: every remaining vertex is a singleton
            assigned.append(remaining.select("v", F.col("v").alias("scc")))
            converged = True
            break
        # --- 1. TRIM (vertices need BOTH a live in- and out-edge) ---
        while True:
            both = hash_by(
                live.select(F.col("src").alias("v"))
                .intersect(live.select(F.col("dst").alias("v"))),
                "v",
            )
            keep = store.materialize(both, "scc_keep")
            nl, lmeta = store.observe(
                live.join(
                    keep.withColumnRenamed("v", "src").hint("shuffle_hash"),
                    "src",
                    "left_semi",
                ).join(
                    keep.withColumnRenamed("v", "dst").hint("shuffle_hash"),
                    "dst",
                    "left_semi",
                ),
                "scc_edges",
            )
            trim_rounds += 1
            unchanged = lmeta["n"] == lm["n"]
            # rebind even on the no-change round: keeping the OLDER
            # DataFrame would leave `live` two scc_edges writes back, and
            # the next scc_edges write (step 4) would overwrite the slot
            # its own plan scans (see operators/state.py slot invariant)
            live, lm = nl, lmeta
            if unchanged or lm["n"] == 0:
                break
        core = live.select(F.col("src").alias("v")).unionByName(
            live.select(F.col("dst").alias("v"))
        ).distinct()
        trimmed = remaining.join(core, "v", "left_anti")
        assigned.append(
            store.materialize(
                trimmed.select("v", F.col("v").alias("scc")), f"scc_out_{outer}"
            )
        )
        remaining = store.materialize(
            hash_by(remaining.join(core, "v", "left_semi"), "v"),
            "scc_verts",
        )
        if lm["n"] == 0:
            converged = True
            break
        # --- 2. COLOR: max-label propagation along in-edges to fixpoint ---
        color, cm = store.observe(
            remaining.select("v", F.col("v").alias("c")), "scc_color",
            F.sum("c").alias("s"),
        )
        prev_s = int(cm["s"])
        for _ in range(max_inner):
            inc = (
                live.join(
                    color.withColumnRenamed("v", "src").hint("shuffle_hash"),
                    "src",
                )
                .groupBy(F.col("dst").alias("v"))
                .agg(F.max("c").alias("cin"))
            )
            color, cm = store.observe(
                color.join(inc.hint("shuffle_hash"), "v", "left").select(
                    "v",
                    F.greatest(
                        "c", F.coalesce("cin", F.lit(0).cast("long"))
                    ).alias("c"),
                ),
                "scc_color",
                F.sum("c").alias("s"),
            )
            color_rounds += 1
            s = int(cm["s"])
            if s == prev_s:  # monotone per-vertex → Σ equality ⇔ fixpoint
                break
            prev_s = s
        # --- 3. BACKWARD reach from every pivot within its color class ---
        frontier, fm = store.observe(
            color.filter(F.col("v") == F.col("c")).select("v", "c"),
            "scc_frontier",
        )
        visited = store.materialize(frontier, "scc_visited")
        while fm["n"] > 0:
            preds = (
                live.join(
                    frontier.withColumnRenamed("v", "dst").hint("shuffle_hash"),
                    "dst",
                )
                .select(F.col("src").alias("v"), "c")
                .join(
                    color.withColumnRenamed("c", "cv").hint("shuffle_hash"), "v"
                )
                .filter(F.col("c") == F.col("cv"))
                .select("v", "c")
                .distinct()
            )
            frontier, fm = store.observe(
                preds.join(visited.select("v"), "v", "left_anti"),
                "scc_frontier",
            )
            bfs_hops += 1
            if fm["n"] == 0:
                break
            visited = store.materialize(
                visited.unionByName(frontier), "scc_visited"
            )
        assigned.append(
            store.materialize(
                visited.select("v", F.col("c").alias("scc")), f"scc_out_{outer}b"
            )
        )
        # --- 4. shrink the live subgraph and go again ---
        remaining = store.materialize(
            hash_by(remaining.join(visited.select("v"), "v", "left_anti"), "v"),
            "scc_verts",
        )
        live, lm = store.observe(
            live.join(
                remaining.withColumnRenamed("v", "src").hint("shuffle_hash"),
                "src",
                "left_semi",
            ).join(
                remaining.withColumnRenamed("v", "dst").hint("shuffle_hash"),
                "dst",
                "left_semi",
            ),
            "scc_edges",
        )
        if lm["n"] == 0:
            assigned.append(remaining.select("v", F.col("v").alias("scc")))
            converged = True
            break
    out = assigned[0]
    for a in assigned[1:]:
        out = out.unionByName(a)
    if vertices is not None:
        out = (
            vertices.select(F.col("vid").alias("v"))
            .join(out, "v", "left")
            .select("v", F.coalesce("scc", F.col("v")).alias("scc"))
        )
    out = store.materialize(hash_by(out, "v"), "scc_final")
    return out, {
        "outer_rounds": outer,
        "trim_rounds": trim_rounds,
        "color_rounds": color_rounds,
        "bfs_hops": bfs_hops,
        "converged": converged,
        "secs": round(time.time() - t0, 3),
    }
