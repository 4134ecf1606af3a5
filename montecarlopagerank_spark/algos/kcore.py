"""k-core decomposition (synchronous peeling) as pure DataFrame joins/aggs.

New-engine scope (no reference twin — the reference ships only PageRank;
k-core is the standard link-graph density filter a web-graph user runs
next to components/triangles, SURVEY.md §2.7). The k-core is the maximal
subgraph of the *undirected, loop-free, deduplicated* closure in which
every vertex has degree ≥ k; it is obtained by repeatedly deleting every
vertex of degree < k until none remains (Seidman, "Network structure and
minimum degree", Social Networks 1983). Synchronous peeling — each round
removes ALL current sub-threshold vertices at once — is order-free, so
the result is deterministic and parallelism-invariant with no tie-break
argument needed.

Scale shape (mirrors components.py): the state is the surviving canonical
pair set p(x<y), re-materialized to parquet per round (flat plan, bounded
lineage — StateStore). Per round: degrees from the symmetric view of p
(one partial-aggregable groupBy), survivors = deg ≥ k (O(V)), then two
left-semi joins restrict p to pairs with both endpoints surviving. Each
round is ONE Spark job — the pair-set write, whose observed ``n`` is
the surviving-pair count (state.py). The pair set only ever SHRINKS,
so count-equality is an *exact* fixpoint test (equal count ⇔ no vertex
was removed ⇔ equal set), unlike components.py's star rounds which need
checksums. Rounds = peeling depth of the pendant forest (the longest
chain of cascading removals); each round's cost is O(surviving E), so
total work is O(E · depth) with geometric shrink in practice.
"""

from __future__ import annotations

import time
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from montecarlopagerank_spark.operators.propagate import both_ways, pairs
from montecarlopagerank_spark.operators.state import StateStore


def k_core(
    spark: SparkSession,
    edges: DataFrame,
    k: int = 2,
    max_rounds: int = 100,
) -> tuple[DataFrame, dict[str, Any]]:
    """``edges(src, dst)`` → (``core(v, deg)``, info): the vertices of the
    k-core of the undirected simple closure, with each vertex's degree
    *within the core*. Vertices outside the core (including isolated
    ones) are absent. ``info['converged']`` is True iff the fixpoint was
    reached within ``max_rounds``."""
    if k < 0:
        raise ValueError(f"k must be ≥ 0, got {k}")
    t0 = time.time()
    store = StateStore(spark)

    p, row = store.observe(pairs(edges), "kcore_pairs")
    prev = row["n"]
    rounds, converged = 0, False
    for it in range(max_rounds):
        if prev == 0:
            converged = True
            break
        # survivors: O(V), shuffled by vertex — never broadcast (O(V)
        # driver-serial hash builds flatline core scaling; see
        # operators/propagate.py)
        keep = (
            both_ways(p, "u", "w")
            .groupBy("u")
            .agg(F.count(F.lit(1)).alias("d"))
            .filter(F.col("d") >= k)
            .select("u")
        )
        p_next = (
            p.join(
                keep.withColumnRenamed("u", "x").hint("shuffle_hash"),
                "x",
                "left_semi",
            )
            .join(
                keep.withColumnRenamed("u", "y").hint("shuffle_hash"),
                "y",
                "left_semi",
            )
            .select("x", "y")
        )
        p, row = store.observe(p_next, "kcore_pairs")
        cur = row["n"]
        rounds += 1
        if cur == prev:  # shrink-only state: equal count ⇔ fixpoint
            converged = True
            break
        prev = cur
    out = (
        both_ways(p, "u", "w")
        .groupBy(F.col("u").alias("v"))
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
    )
    return out, {
        "rounds": rounds,
        "converged": converged,
        "core_pairs": prev,
        "secs": round(time.time() - t0, 3),
    }
