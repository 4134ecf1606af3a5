"""Topological layering / cycle diagnosis via synchronous Kahn peeling.

New-engine scope (no reference twin — the reference ships only PageRank;
`BASELINE.json` north_rule's edge graphs are built from *ordered* turn
chains, so "is this subgraph a DAG, and how deep" is a natural transcript
question). Synchronous Kahn (Kahn, CACM 1962, parallel formulation):
each round removes ALL current zero-in-degree vertices at once; the
round a vertex leaves in is its **layer** — equal to the longest path
from any source to it. Order-free ⇒ deterministic and parallelism-
invariant, no tie-break needed.

Run to fixpoint (``max_rounds=None``) the peel is an exact cycle
diagnosis: it stalls precisely when every remaining vertex has an
incoming live edge, i.e. the residue is exactly the set of vertices on
or reachable from a directed cycle, and ``layer = -1`` marks them. With
a bound, ``-1`` means "not peeled within ``max_rounds``" — cyclic OR
deeper than the bound — which is what the unrolled DuckDB twin
reproduces round-for-round (contract.py ``_kahn_sql``; the twin
restricts a live edge set instead, an equivalent formulation).

Implementation — the layer recurrence, not an explicit peel: a round
recomputes ``layer(v) = 0`` for in-degree-0 vertices, else
``1 + max(in-neighbour layers)`` if EVERY in-neighbour's layer is known
(null otherwise, incl. any self-loop: v's own null poisons its max
forever). Assigned values are stable under recomputation (in-neighbour
layers never change once set), so a round needs NO carry-join of the
previous assignment — the state is referenced exactly ONCE per round,
giving a strictly linear plan that lets MULTIPLE rounds fuse into one
job per state write (corenum.py's shape; round-2 of this module showed
per-round data work is microseconds while each write costs ~1 s of
fixed job+materialize overhead, so wall time ≈ writes, not rounds).

Scale shape: the deduped edge table is exchanged ONCE (hash-partitioned
by src) and pinned; per fused round one message pass d⋈state (map-side-
combined max/null-count per dst — hub fan-in collapses to partials) and
one O(V) left join against the pinned vertex table. The assigned count
is observed on each write (state.py); assignment is monotone, so count
equality across writes is an exact stall test.
"""

from __future__ import annotations

import time
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from montecarlopagerank_spark.operators.propagate import fill, pin
from montecarlopagerank_spark.operators.state import StateStore

# peel rounds fused into one Spark job per state write (module
# docstring); read at call time
ROUNDS_PER_JOB = 4


def kahn_peel(
    spark: SparkSession,
    edges: DataFrame,
    max_rounds: int | None = None,
) -> tuple[DataFrame, dict[str, Any]]:
    """``edges(src, dst)`` → (``layers(v, layer)``, info) over the directed
    simple graph (parallel edges deduped, self-loops kept — a self-loop
    IS a cycle). ``layer`` = peel round (longest source path); ``-1`` =
    not peeled (exactly the cycle-tainted residue when run to fixpoint,
    i.e. ``max_rounds=None``). ``info['converged']`` is True iff the
    fixpoint was reached; ``info['rounds']`` is the peel depth actually
    realized (max assigned layer + 1); ``info['n_unresolved']`` counts
    the ``-1`` rows."""
    t0 = time.time()
    store = StateStore(spark)

    d = fill(pin(edges.select("src", "dst").distinct(), "src"))
    verts = store.materialize(
        d.select(F.col("src").alias("v"))
        .unionByName(d.select(F.col("dst").alias("v")))
        .distinct(),
        "kahn_verts",
    )
    vstate = store.materialize(
        verts.select("v", F.lit(None).cast("long").alias("layer")),
        "kahn_vstate",
    )

    def one_round(st: DataFrame) -> DataFrame:
        msg = (
            d.join(
                st.withColumnRenamed("v", "src").hint("shuffle_hash"), "src"
            )
            .groupBy(F.col("dst").alias("v"))
            .agg(
                F.max("layer").alias("_mx"),
                F.sum(F.col("layer").isNull().cast("long")).alias("_nn"),
            )
        )
        return verts.join(msg.hint("shuffle_hash"), "v", "left").select(
            "v",
            F.when(F.col("_nn").isNull(), F.lit(0).cast("long"))
            .when(F.col("_nn") == 0, F.col("_mx") + F.lit(1))
            .alias("layer"),
        )

    prev_assigned = 0
    done, converged = 0, False
    while max_rounds is None or done < max_rounds:
        k = (
            ROUNDS_PER_JOB
            if max_rounds is None
            else min(ROUNDS_PER_JOB, max_rounds - done)
        )
        st = vstate
        for _ in range(k):
            st = one_round(st)
        vstate, row = store.observe(
            st, "kahn_vstate",
            F.sum(F.col("layer").isNotNull().cast("long")).alias("assigned"),
        )
        assigned, total = int(row["assigned"] or 0), row["n"]
        done += k
        if assigned == total:
            converged = True
            break
        if assigned == prev_assigned:  # monotone ⇒ exact stall test
            converged = True
            break
        prev_assigned = assigned

    d.unpersist()
    out = vstate.select(
        "v", F.coalesce("layer", F.lit(-1).cast("long")).alias("layer")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    agg = out.agg(
        F.max("layer").alias("mx"),
        F.sum((F.col("layer") < 0).cast("long")).alias("unres"),
    ).collect()[0]
    depth = int(agg["mx"]) + 1 if agg["mx"] is not None and agg["mx"] >= 0 else 0
    return out, {
        "rounds": depth,
        "converged": converged,
        "n_unresolved": int(agg["unres"] or 0),
        "secs": round(time.time() - t0, 3),
    }
