"""Minimum spanning forest via deterministic Borůvka as DataFrame ops.

New-engine scope (no reference twin — the reference ships only PageRank;
Borůvka, "O jistém problému minimálním", 1926, is THE distributed MSF
algorithm: every component picks its minimum-weight outgoing edge, all
picks join the forest at once, components merge, repeat — ≥ halving the
component count per round, so ≤ ⌈log₂ V⌉ rounds total).

Determinism: with globally-unique edge weights the MSF is unique, so no
tie-break argument is ever needed. Default weights are the md5 edge
priorities of ``matching._edge_pri`` (unique by construction, identical
bytes in Spark and DuckDB — the unrolled twin ``contract._msf_sql``
replays the run bit-for-bit); a real ``weight_col`` is made unique by
suffixing the same md5 key as a tie-break, which preserves "minimum
total weight" (ties in w are broken consistently, any tie-broken
optimum is an optimum).

Component merging: each round's picks form a functional graph on live
component labels (one out-pointer per component) whose only cycles are
mutual-pick 2-cycles (unique weights). The cycle-break rule roots every
tree at the smaller label of its 2-cycle; ``jump_rounds`` pointer-
jumping steps (reach 2^J) then flatten label→root in O(log depth) —
the engine VERIFIES the fixpoint (count of unflattened rows rides the
last jump) and reports ``converged`` accordingly, so a hash match with
the fixed-J SQL twin is never coincidental.

Scale shape: the canonical pair set (O(E), with per-pair min weight
pre-collapsed — multigraph-safe) is exchanged once and pinned; per
round only O(V)-or-smaller tables move — labels, the per-component min
pick, the shrinking root map — all ``shuffle_hash``-hinted, never
broadcast (O(V) driver-serial hash builds flatline scaling;
operators/propagate.py).
State is re-materialized per round via StateStore (flat plans, bounded
lineage), forest slots accumulate per round exactly like matching.py's
winner frames.
"""

from __future__ import annotations

import time
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from montecarlopagerank_spark.algos.matching import _edge_pri
from montecarlopagerank_spark.operators.state import StateStore


def minimum_spanning_forest(
    spark: SparkSession,
    edges: DataFrame,
    weight_col: str | None = None,
    max_rounds: int = 20,
    jump_rounds: int = 10,
) -> tuple[DataFrame, dict[str, Any]]:
    """``edges(src, dst[, w])`` → (``forest(x, y, round)``, info): the
    unique minimum spanning forest of the undirected simple closure
    (self-loops dropped; parallel edges collapsed to their min weight)
    under md5-unique priorities — pure md5 order when ``weight_col`` is
    None, else ``(w, md5 key)`` lexicographic. ``info['converged']`` is
    True iff the pick set emptied within ``max_rounds`` AND every
    round's pointer-jumping verifiably flattened; ``info['n_edges']``
    is the forest size (= V − #components, checked by tests).

    Weight contract: ``weight_col`` values must be non-negative (a
    negative minimum raises ``ValueError``), and weights are compared at
    a resolution of 1e-9 — the priority encoding is a fixed-width
    ``"%030.9f"`` prefix, so weights that differ only beyond 9 decimal
    places compare EQUAL and the deterministic md5 key breaks the tie.
    The result is still *a* minimum spanning forest at that resolution
    (any tie-broken optimum is an optimum), but callers relying on
    sub-1e-9 weight differences to pick a specific edge should pre-scale
    their weights."""
    t0 = time.time()
    store = StateStore(spark)

    x, y = F.least("src", "dst").alias("x"), F.greatest("src", "dst").alias("y")
    base = edges.filter(F.col("src") != F.col("dst")).select(x, y)
    if weight_col is None:
        p = base.distinct().select(
            "x", "y", _edge_pri(F.col("x"), F.col("y")).alias("pri")
        )
    else:
        # min weight per pair first (multigraph collapse), THEN the
        # unique priority: a fixed-width zero-padded "%030.9f" weight
        # prefix keeps string ordering == (w, md5key) ordering for
        # non-negative doubles (fractional weights are NOT truncated;
        # weights that differ only beyond 9 decimals tie and fall back
        # to the md5 break — any tie-broken optimum is an optimum).
        # Negative weights would zero-pad out of order ('…0-5' > '…0-3'),
        # so they are rejected up front with one cheap min-aggregate.
        w = edges.filter(F.col("src") != F.col("dst")).select(
            x, y, F.col(weight_col).cast("double").alias("w")
        )
        wmin = w.agg(F.min("w").alias("mn")).collect()[0]["mn"]
        if wmin is not None and wmin < 0:
            raise ValueError(
                f"minimum_spanning_forest: negative weight {wmin} in "
                f"column {weight_col!r}; the zero-padded priority "
                "encoding requires non-negative weights"
            )
        p = (
            w.groupBy("x", "y")
            .agg(F.min("w").alias("w"))
            .select(
                "x",
                "y",
                F.concat(
                    F.format_string("%030.9f", F.col("w")),
                    F.lit("|"),
                    _edge_pri(F.col("x"), F.col("y")),
                ).alias("pri"),
            )
        )
    p = store.materialize(p, "msf_pairs")

    lab = store.materialize(
        p.select(F.col("x").alias("v"))
        .unionByName(p.select(F.col("y").alias("v")))
        .distinct()
        .select("v", F.col("v").alias("lbl")),
        "msf_lab",
    )

    forest: list[DataFrame] = []
    rounds, converged = 0, True
    for it in range(max_rounds):
        lx = lab.select(F.col("v").alias("x"), F.col("lbl").alias("cx"))
        ly = lab.select(F.col("v").alias("y"), F.col("lbl").alias("cy"))
        cand = (
            p.join(lx.hint("shuffle_hash"), "x")
            .join(ly.hint("shuffle_hash"), "y")
            .filter(F.col("cx") != F.col("cy"))
        )
        sym = cand.select(
            F.col("cx").alias("c"), F.col("cy").alias("o"), "pri", "x", "y"
        ).unionByName(
            cand.select(
                F.col("cy").alias("c"), F.col("cx").alias("o"), "pri", "x", "y"
            )
        )
        mn = (
            sym.groupBy("c")
            .agg(F.min("pri").alias("mp"))
            .withColumnRenamed("c", "mc")
        )
        # exactly one row per live component: pri is globally unique
        me, row = store.observe(
            sym.join(
                mn.hint("shuffle_hash"),
                (F.col("c") == F.col("mc")) & (F.col("pri") == F.col("mp")),
            ).select("c", "o", "pri", "x", "y"),
            f"msf_me_{it}",
        )
        if row["n"] == 0:
            break
        forest.append(
            store.materialize(
                me.select("x", "y").distinct()
                .select("x", "y", F.lit(it).cast("long").alias("round")),
                f"msf_forest_{it}",
            )
        )
        # parent pointers + 2-cycle break: root every merge tree at the
        # smaller label of its mutual-pick pair
        a, b = me.alias("a"), me.alias("b")
        root = (
            a.join(b.hint("shuffle_hash"), F.col("a.o") == F.col("b.c"))
            .select(
                F.col("a.c").alias("c"),
                F.when(
                    (F.col("b.o") == F.col("a.c")) & (F.col("a.c") < F.col("a.o")),
                    F.col("a.c"),
                )
                .otherwise(F.col("a.o"))
                .alias("r"),
            )
        )
        root = store.materialize(root, "msf_root")
        # pointer-jump to the verified fixpoint: each squaring's
        # moved-count is observed on its own state write; a jump
        # that moves nothing proves root∘root == root, so the loop
        # early-exits at depth-flatten (typically 2-4 jumps with md5
        # weights). The fixed-J SQL twin matches because post-fixpoint
        # squarings are the identity.
        flat = False
        for j in range(jump_rounds):
            ra, rb = root.alias("ra"), root.alias("rb")
            root, row = store.observe(
                ra.join(rb.hint("shuffle_hash"), F.col("ra.r") == F.col("rb.c"))
                .select(
                    F.col("ra.c").alias("c"),
                    F.col("rb.r").alias("r"),
                    (F.col("ra.r") != F.col("rb.r")).cast("long").alias("_m"),
                ),
                "msf_root", F.sum("_m").alias("moved"), keep=("c", "r"),
            )
            if not row["moved"]:
                flat = True
                break
        if not flat:
            converged = False  # depth exceeded 2^jump_rounds — flag loudly
        lab = store.materialize(
            lab.join(
                root.withColumnRenamed("c", "lbl").hint("shuffle_hash"),
                "lbl",
                "left",
            ).select("v", F.coalesce("r", "lbl").alias("lbl")),
            "msf_lab",
        )
        rounds += 1
    else:
        converged = False  # max_rounds hit with picks still live

    if forest:
        out = forest[0]
        for f_ in forest[1:]:
            out = out.unionByName(f_)
    else:
        out = base.limit(0).select("x", "y", F.lit(0).cast("long").alias("round"))
    out = out.persist(StorageLevel.MEMORY_AND_DISK)
    n_edges = out.count()
    return out, {
        "rounds": rounds,
        "converged": converged,
        "n_edges": n_edges,
        "secs": round(time.time() - t0, 3),
    }
