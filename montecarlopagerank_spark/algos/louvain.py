"""Louvain community detection as pure DataFrame joins/aggs.

New-engine scope (no reference twin — the reference ships only PageRank;
Louvain is the quality-standard community detector next to the engine's
LPA, and its modularity objective is already scored by
algos/modularity.py): repeated SYNCHRONOUS local-move rounds — every
vertex evaluates the modularity gain of adopting each neighbour
community and adopts the argmax when strictly positive — followed by
graph contraction (communities become vertices, parallel edges sum,
intra-community weight becomes a self-loop), repeated per level
(Blondel et al. 2008).

Determinism (this is what makes the unrolled DuckDB twin in contract.py
possible, and what a resumable 10^12-edge run needs):

- classic Louvain scans vertices in arbitrary sequential order; a
  synchronous variant oscillates when two adjacent vertices swap into
  each other's community forever. Random 2-colourings (GraphX/Gelly
  Louvain ports gate movers on a hash parity) only stop swaps across
  colour classes — two SAME-colour neighbours still swap every round
  (measured: two parity-0 singletons exchanging labels forever, never
  merging). The fix here is an ALTERNATING DIRECTION rule instead:
  round ``r`` admits only moves to a community label ``c < cv`` when
  ``r`` is even, ``c > cv`` when odd (filter first, then argmax). A
  single-round swap needs one label-increasing and one label-decreasing
  move, so swaps are impossible for EVERY pair — the same
  smaller-label-wins symmetry break as the small-star rule in
  algos/components.py. Deterministic, engine-independent, no RNG, no
  hash.
- every aggregate feeding a decision (k_v, k_{v,C}, Σtot, 2m) is an
  exact LONG; the gain comparison happens in doubles DERIVED from those
  longs with a fixed expression shape, so Spark and DuckDB compute
  bit-identical scores (IEEE ops on identical operands).
- ties on gain break to the smallest community id; moves happen only on
  STRICTLY positive improvement over staying.

Scale shape (the 100 TB plan):

- the level graph (symmetric weighted pair list) is exchanged once per
  level, hash-partitioned by ``u``, and pinned; each round shuffles the
  O(V) label table into it (shuffle_hash — never broadcast) plus two
  O(V)-keyed aggregations with full map-side combine. Hot communities
  are sum-aggregated, never windowed.
- contraction is one groupBy over the relabelled edge list; levels
  shrink geometrically, so level-0 dominates cost.
- the gain scores stay finite at any scale (k·Σtot/2m ≤ 2m ≈ 10^13 at
  the design point — far inside double's exact-integer range is NOT
  required; only the LONG aggregates are, and they cap at 2m).
"""

from __future__ import annotations

import time
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from montecarlopagerank_spark.operators.propagate import hash_by, pin
from montecarlopagerank_spark.operators.state import StateStore


def _local_moves(
    spark: SparkSession,
    store: StateStore,
    sym: DataFrame,
    deg: DataFrame,
    two_m: int,
    labels: DataFrame,
    rounds: int,
) -> tuple[DataFrame, int]:
    """Run ``rounds`` synchronous gated local-move rounds; returns the
    final labels and the total number of moves."""
    total_moves = 0
    for r in range(rounds):
        lab_w = labels.select(
            F.col("v").alias("w"), F.col("c")
        ).hint("shuffle_hash")
        # k_{v,C}: weight from v into each neighbour community (the
        # stay community is unioned in at weight 0 so it always ranks)
        cand = (
            sym.join(lab_w, "w")
            .select(F.col("u").alias("v"), "c", F.col("wt").alias("kvc"))
            .unionByName(labels.select("v", "c", F.lit(0).cast("long").alias("kvc")))
            .groupBy("v", "c")
            .agg(F.sum("kvc").alias("kvc"))
        )
        tot = (
            labels.join(deg.hint("shuffle_hash"), "v")
            .groupBy("c")
            .agg(F.sum("k").alias("tot"))
        )
        own = labels.select("v", F.col("c").alias("cv"))
        scored = (
            cand.join(tot.hint("shuffle_hash"), "c")
            .join(own.hint("shuffle_hash"), "v")
            .join(deg.hint("shuffle_hash"), "v")
            .select(
                "v",
                "c",
                "cv",
                (
                    F.col("kvc").cast("double")
                    - F.col("k").cast("double")
                    * (
                        F.col("tot")
                        - F.when(F.col("c") == F.col("cv"), F.col("k")).otherwise(
                            F.lit(0)
                        )
                    ).cast("double")
                    / F.lit(float(two_m))
                ).alias("score"),
            )
        )
        # Direction filter BEFORE the argmax (module docstring): the stay
        # row always survives, so `stay` is defined for every vertex.
        direction = (
            F.col("c") < F.col("cv") if r % 2 == 0 else F.col("c") > F.col("cv")
        )
        best = (
            scored.filter((F.col("c") == F.col("cv")) | direction)
            .groupBy("v")
            .agg(
                F.min(
                    F.struct((-F.col("score")).alias("ns"), F.col("c"))
                ).alias("b"),
                F.max(F.when(F.col("c") == F.col("cv"), F.col("score"))).alias(
                    "stay"
                ),
                F.first("cv").alias("cv"),
            )
        )
        nxt = best.select(
            "v",
            F.when(-F.col("b.ns") > F.col("stay"), F.col("b.c"))
            .otherwise(F.col("cv"))
            .alias("c"),
            ((-F.col("b.ns") > F.col("stay")) & (F.col("b.c") != F.col("cv")))
            .cast("long")
            .alias("moved"),
        )
        labels, row = store.observe(
            hash_by(nxt, "v"), "louvain_lab", F.sum("moved").alias("mv"),
            keep=("v", "c"))
        total_moves += int(row["mv"] or 0)
    return labels, total_moves


def louvain(
    spark: SparkSession,
    edges: DataFrame,
    rounds_per_level: int = 6,
    max_levels: int = 3,
    weight_col: str | None = None,
) -> tuple[DataFrame, dict[str, Any]]:
    """``edges(src, dst)`` → (``assign(v, community)``, info).

    Level-0 graph is the undirected SIMPLE closure (self-loops dropped,
    duplicates collapsed, unit weights) — the same graph contract as
    algos/modularity.py, so ``modularity(edges, assign)`` scores the
    result directly. Community ids are vertex ids (the adopted
    neighbour's community label), stable across levels.

    ``weight_col`` (optional) makes level 0 weighted: parallel (x, y)
    pairs sum their weights, exactly the contracted-level convention.
    Weights must be INTEGRAL (cast to long) — every decision aggregate
    (k_v, k_{v,C}, Σtot, 2m) stays an exact LONG, which is what makes
    the gain comparison engine-independent (module docstring). The
    natural weighted input here is count-weighted graphs like the
    co-occurrence projection's ``(a, b, weight)`` tool-co-usage output;
    for fractional weights, pre-scale to a fixed-point long.
    """
    t0 = time.time()
    store = StateStore(spark)

    base = edges.filter(F.col("src") != F.col("dst")).select(
        F.least("src", "dst").alias("x"),
        F.greatest("src", "dst").alias("y"),
        (
            F.col(weight_col).cast("long") if weight_col else F.lit(1).cast("long")
        ).alias("wt"),
    )
    if weight_col:
        und = base.groupBy("x", "y").agg(F.sum("wt").alias("wt"))
    else:
        und = base.distinct()
    sym = und.select(F.col("x").alias("u"), F.col("y").alias("w"), "wt").unionByName(
        und.select(F.col("y").alias("u"), F.col("x").alias("w"), "wt")
    )
    selfw = None  # level-0 has no self-loops; contracted levels do

    assign: DataFrame | None = None  # orig vertex -> current community
    info: dict[str, Any] = {"levels": 0, "moves": [], "n_communities": None}

    for level in range(max_levels):
        # Pinned by u (the groupBy-degree key), NOT by w (the loop's join
        # key), deliberately: the per-round sym ⋈ labels-on-w join then
        # re-exchanges sym — but that fresh exchange is what lets AQE
        # skew-SPLIT the mega-hub w-partitions (role#/tool# vertices hold
        # a large share of E). Pinning by w avoids the exchange but bakes
        # the skew into the cache where AQE cannot split it: measured
        # 4.2× slower at sf0.1 (48s → 202s, one straggler task/round).
        # (Also measured, under the earlier parity-gated rule:
        # restricting k_{v,C} scoring to the round's movers — identical
        # output, but A/B timings were noise-dominated with a 2×
        # outlier, so the simpler full-score round is kept.)
        sym_p = pin(sym, "u")
        kdeg = sym_p.groupBy(F.col("u").alias("v")).agg(F.sum("wt").alias("k"))
        if selfw is not None:
            kdeg = (
                kdeg.join(selfw, "v", "full")
                .select(
                    "v",
                    (
                        F.coalesce("k", F.lit(0))
                        + 2 * F.coalesce("sw", F.lit(0))
                    ).alias("k"),
                )
            )
        deg = pin(kdeg, "v")
        two_m = deg.agg(F.sum("k")).collect()[0][0]
        if not two_m:
            deg.unpersist(), sym_p.unpersist()
            break
        labels0 = deg.select("v", F.col("v").alias("c"))
        labels, moves = _local_moves(
            spark, store, sym_p, deg, int(two_m), labels0, rounds_per_level
        )
        info["moves"].append(moves)
        info["levels"] = level + 1

        if assign is None:
            assign = labels.select(F.col("v").alias("orig"), "c")
        else:
            assign = (
                assign.join(
                    labels.select(F.col("v").alias("c0"), F.col("c").alias("c1")),
                    assign["c"] == F.col("c0"),
                )
                .select("orig", F.col("c1").alias("c"))
            )
        assign = store.materialize(assign, "louvain_assign")
        if moves == 0 or level == max_levels - 1:
            deg.unpersist(), sym_p.unpersist()
            break

        # contract: communities become vertices; intra weight halves
        # into a self-loop (the symmetric pair list double-counts it)
        lab_u = labels.select(F.col("v").alias("u"), F.col("c").alias("cu"))
        lab_w = labels.select(F.col("v").alias("w"), F.col("c").alias("cw"))
        rel = sym_p.join(lab_u.hint("shuffle_hash"), "u").join(
            lab_w.hint("shuffle_hash"), "w"
        )
        new_sym = (
            rel.filter(F.col("cu") != F.col("cw"))
            .groupBy(F.col("cu").alias("u"), F.col("cw").alias("w"))
            .agg(F.sum("wt").alias("wt"))
        )
        intra = (
            rel.filter(F.col("cu") == F.col("cw"))
            .groupBy(F.col("cu").alias("v"))
            .agg((F.sum("wt") / 2).cast("long").alias("sw"))
        )
        if selfw is not None:
            old_self = (
                selfw.join(
                    labels.select(F.col("v").alias("sv"), "c"),
                    F.col("v") == F.col("sv"),
                )
                .groupBy(F.col("c").alias("v"))
                .agg(F.sum("sw").alias("sw"))
            )
            intra = (
                intra.unionByName(old_self)
                .groupBy("v")
                .agg(F.sum("sw").alias("sw"))
            )
        sym = store.materialize(new_sym, "louvain_sym")
        selfw = store.materialize(intra, "louvain_self")
        deg.unpersist(), sym_p.unpersist()

    if assign is None:  # edge-free input
        out = spark.createDataFrame([], "v string, community string")
        return out, {**info, "n_communities": 0, "secs": round(time.time() - t0, 3)}
    out = assign.select(F.col("orig").alias("v"), F.col("c").alias("community"))
    out = out.persist(StorageLevel.MEMORY_AND_DISK)
    info["n_communities"] = out.select("community").distinct().count()
    info["secs"] = round(time.time() - t0, 3)
    return out, info
