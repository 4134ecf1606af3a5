"""Maximal matching (deterministic locally-minimal-edge) as DataFrame ops.

New-engine scope (no reference twin — the reference ships only PageRank;
maximal matching is the other classic symmetry-breaking primitive next
to MIS/coloring, per Israeli & Itai, "A fast and simple randomized
parallel algorithm for maximal matching", IPL 1986). As in mis.py we
replace per-round randomness with a FIXED priority per EDGE — md5 of
its canonical key (md5 is the one hash Spark and DuckDB share), suffixed
with the key itself so priorities are globally unique — making the
result a pure function of the input: deterministic, parallelism-
invariant, and reproducible by the unrolled DuckDB twin
(contract.py ``_matching_sql``).

Per round over the live undirected simple closure (pairs x < y):
  - an edge whose priority is the strict minimum among ALL edges
    incident to either endpoint joins the matching (two locally-minimal
    winners can never share a vertex, so the round's winners are a
    valid partial matching);
  - both endpoints leave the live vertex set; the live pair set is
    restricted to pairs with BOTH endpoints still live.

Rounds are O(log E) expected with hash-random priorities; the fixpoint
(no live pairs) is a maximal matching: every dropped edge lost an
endpoint to some matched edge.

Scale shape (mirrors mis.py): state = the shrinking live pair set,
re-materialized per round (StateStore, flat plans). Per round: one
min-aggregation keyed by vertex (map-side combined, O(V) exchange), a
two-way join to pick winners, and two semi-joins to restrict — all
shuffle_hash-hinted O(V) sides, never broadcast.
"""

from __future__ import annotations

import time
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from montecarlopagerank_spark.operators.propagate import pairs
from montecarlopagerank_spark.operators.state import StateStore


def _edge_pri(x, y):
    """Globally-unique edge priority string: md5 of the canonical key,
    then the key itself (md5 hex is fixed-width, so the digest always
    compares first; the suffix only breaks ~impossible digest ties).
    Identical bytes in Spark and DuckDB."""
    key = F.concat(x.cast("string"), F.lit("#"), y.cast("string"))
    return F.concat(F.md5(key.cast("binary")), F.lit("|"), key)


def maximal_matching(
    spark: SparkSession,
    edges: DataFrame,
    max_rounds: int = 60,
) -> tuple[DataFrame, dict[str, Any]]:
    """``edges(src, dst)`` → (``matching(x, y, round)``, info): a maximal
    matching of the undirected simple closure (self-loops dropped),
    x < y, with the round each edge was matched. ``info['converged']``
    is True iff the live pair set emptied within ``max_rounds``."""
    t0 = time.time()
    store = StateStore(spark)

    p, row = store.observe(
        pairs(edges).select(
            "x", "y", _edge_pri(F.col("x"), F.col("y")).alias("pri")),
        "match_pairs",
    )
    live_pairs = row["n"]

    winners: list[DataFrame] = []
    rounds, converged = 0, False
    for it in range(max_rounds):
        if live_pairs == 0:
            converged = True
            break
        vm = (
            p.select(F.col("x").alias("u"), "pri")
            .unionByName(p.select(F.col("y").alias("u"), "pri"))
            .groupBy("u")
            .agg(F.min("pri").alias("mn"))
        )
        win = (
            p.join(
                vm.withColumnRenamed("u", "x").withColumnRenamed("mn", "mx")
                .hint("shuffle_hash"),
                "x",
            )
            .join(
                vm.withColumnRenamed("u", "y").withColumnRenamed("mn", "my")
                .hint("shuffle_hash"),
                "y",
            )
            .filter((F.col("pri") == F.col("mx")) & (F.col("pri") == F.col("my")))
            .select("x", "y")
        )
        # one slot per round: every round's winner frame stays live until
        # the final union, so slots must never be reused (mis.py rule)
        win = store.materialize(
            win.select("x", "y", F.lit(it).alias("round")), f"match_win_{it}"
        )
        winners.append(win)
        matched = (
            win.select(F.col("x").alias("v"))
            .unionByName(win.select(F.col("y").alias("v")))
        )
        p_next = (
            p.join(
                matched.withColumnRenamed("v", "x").hint("shuffle_hash"),
                "x",
                "left_anti",
            )
            .join(
                matched.withColumnRenamed("v", "y").hint("shuffle_hash"),
                "y",
                "left_anti",
            )
        )
        p, row = store.observe(p_next, "match_pairs")
        live_pairs = row["n"]
        rounds += 1
    else:
        converged = live_pairs == 0

    if winners:
        out = winners[0]
        for w in winners[1:]:
            out = out.unionByName(w)
    else:  # schema-preserving empty result (works for any key type)
        out = pairs(edges).limit(0).select("x", "y", F.lit(0).alias("round"))
    out = out.persist(StorageLevel.MEMORY_AND_DISK)
    n_matched = out.count()
    return out, {
        "rounds": rounds,
        "converged": converged,
        "n_matched": n_matched,
        "secs": round(time.time() - t0, 3),
    }
