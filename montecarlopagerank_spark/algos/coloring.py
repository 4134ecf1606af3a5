"""Greedy graph coloring (Jones-Plassmann) as DataFrame joins/aggs.

New-engine scope (no reference twin — the reference ships only PageRank;
coloring is the classic scheduling/symmetry-breaking companion to MIS,
per Jones & Plassmann, "A parallel graph coloring heuristic", SIAM J.
Sci. Comput. 1993). As in algos/mis.py, fresh randomness is replaced by
a FIXED md5 priority per vertex, which keeps the expected O(log n /
log log n) round bound on non-adversarial inputs while making the
result a pure function of the input: deterministic, parallelism-
invariant, and reproducible by the unrolled DuckDB twin (contract.py
``_coloring_sql``; md5 is the one hash Spark and DuckDB share).

Per round over the undirected simple closure:
  - a live (uncolored) vertex fires when it has NO live neighbour of
    higher priority (adjacent live vertices always differ in priority,
    so the firing frontier is an independent set);
  - each firing vertex takes the MEX — the smallest colour in
    ``0..|used|`` not already used by a (necessarily earlier-fired)
    coloured neighbour. Higher-priority neighbours are coloured before
    v and avoided by v's mex; lower-priority neighbours fire later and
    avoid v's colour — so the colouring is proper by induction.

MEX stays inside codegen: ``array_min(array_except(sequence(0, n),
used))`` over a ``collect_set`` of neighbour colours — by pigeonhole
the n+1 candidates always contain a free colour, so the result is
never null. Greedy bound: at most Δ+1 colours.

Scale shape: the symmetric pair set is exchanged ONCE (hash-partitioned
by ``u``, pinned) — it is loop-invariant, unlike MIS's shrinking live
pair set, because colour lookups need edges into already-coloured
vertices. Per round only O(V) tables move (live set, coloured set,
frontier), every join is shuffle_hash-hinted on the O(V) side, and the
per-round job count is constant: ONE state write (the coloured set; the
live set is DERIVED in-plan as verts ∖ coloured and the round's colour
count is observed on the write (state.py) — the round-2 three-write
round shape spent ~⅔ of its wall time on job/materialize fixed costs,
measured 15 rounds × 2.1 s on a 23k-edge graph where the data work is
microseconds). Rounds are the length of the longest priority-decreasing
path — O(log n / log log n) expected for hash priorities.
"""

from __future__ import annotations

import time
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from montecarlopagerank_spark.algos.mis import _pri
from montecarlopagerank_spark.operators.propagate import both_ways, pairs, pin
from montecarlopagerank_spark.operators.state import StateStore


def greedy_coloring(
    spark: SparkSession,
    edges: DataFrame,
    max_rounds: int = 64,
) -> tuple[DataFrame, dict[str, Any]]:
    """``edges(src, dst)`` → (``colors(v, color)``, info): a proper
    greedy colouring of the undirected simple closure (self-loops
    dropped). Isolated / self-loop-only vertices get colour 0.
    ``info['converged']`` is True iff every vertex fired within
    ``max_rounds``; ``info['n_colors']`` is the palette size."""
    t0 = time.time()
    store = StateStore(spark)

    sym_raw = both_ways(pairs(edges), "u", "w")
    # TWO pinned copies of the symmetric pair set, one per loop join key:
    # the live-neighbour anti-join keys on w, the coloured-neighbour
    # lookup keys on u — a single pin would re-exchange the O(E) side on
    # the other key EVERY round. 2× edge memory for zero per-round O(E)
    # exchanges is the standard space-time trade (the groupBy(u) after
    # the anti-join ships only partial-aggregated maxima, O(V·parts)).
    sym, sym_w = pin(sym_raw, "u"), pin(sym_raw, "w")
    verts, row = store.observe(
        edges.select(F.col("src").alias("v"))
        .unionByName(edges.select(F.col("dst").alias("v")))
        .distinct(),
        "color_verts",
    )
    n_verts = row["n"]

    # ONE state write per round: the coloured set. The live set is derived
    # in-plan (verts ∖ coloured — both parquet-backed, so plans stay flat)
    # and the coloured count is the write's observed n; the
    # round-2 shape (fired + coloured + live = 3 writes/round) paid 3× the
    # job fixed costs for the same data work.
    colored: DataFrame | None = None
    rounds, converged, n_colored = 0, False, 0
    for it in range(max_rounds):
        if n_colored == n_verts:
            converged = True
            break
        if colored is None:
            live, live_nbr = verts, sym_w
        else:
            live = verts.join(colored.hint("shuffle_hash"), "v", "left_anti")
            # live neighbours of each live u = sym minus coloured endpoints
            live_nbr = sym_w.join(
                colored.select(F.col("v").alias("w")).hint("shuffle_hash"),
                "w",
                "left_anti",
            )
        nbr_max = live_nbr.groupBy("u").agg(F.max(_pri(F.col("w"))).alias("mx"))
        frontier = (
            live.join(
                nbr_max.withColumnRenamed("u", "v").hint("shuffle_hash"),
                "v",
                "left",
            )
            .filter(F.col("mx").isNull() | (_pri(F.col("v")) > F.col("mx")))
            .select("v")
        )
        # mex over coloured-neighbour colours (empty set → colour 0)
        if colored is not None:
            used = (
                frontier.join(
                    sym.withColumnRenamed("u", "v"), "v", "left"
                )
                .join(
                    colored.select(
                        F.col("v").alias("w"), F.col("color").alias("nc")
                    ).hint("shuffle_hash"),
                    "w",
                    "left",
                )
                .groupBy("v")
                .agg(F.collect_set("nc").alias("used"))
            )
        else:
            used = frontier.select(
                "v", F.array().cast("array<int>").alias("used")
            )
        fired = used.select(
            "v",
            F.array_min(
                F.array_except(
                    F.sequence(F.lit(0), F.size("used")), F.col("used")
                )
            ).alias("color"),
        )
        colored, row = store.observe(
            fired if colored is None else colored.unionByName(fired),
            "color_all",
        )
        n_colored = row["n"]
        rounds += 1
    else:
        converged = n_colored == n_verts

    out = (colored if colored is not None
           else verts.select("v", F.lit(0).alias("color")))
    out = out.persist(StorageLevel.MEMORY_AND_DISK)
    n_colors = out.select("color").distinct().count()
    sym.unpersist()
    sym_w.unpersist()
    return out, {
        "rounds": rounds,
        "converged": converged,
        "n_colors": n_colors,
        "secs": round(time.time() - t0, 3),
    }
