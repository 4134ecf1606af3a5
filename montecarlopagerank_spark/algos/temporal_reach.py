"""Earliest-arrival temporal reachability over timestamped edges.

New-engine scope (no reference twin — the reference ships only
PageRank). Transcript edges are *timestamped* (every turn has ``ts``),
which makes the graph temporal: a path is only traversable if edge
times never decrease along it (you cannot forward a message before you
received it — Wu, Cheng, Huang et al., "Path Problems in Temporal
Graphs", VLDB 2014). ``earliest_arrival`` computes, per vertex, the
earliest int64-µs time a temporal path from the source set can reach
it within a hop cap — the temporal analogue of BFS distance, and the
"how fast can information propagate" primitive on conversation graphs.

Semantics: sources start with their own ``t0``; an edge (u, v, t) is
usable from u iff ``t ≥ ea(u)``, arriving at v at time t; per round
``ea(v) ← min(ea(v), min usable-edge arrivals)``. All-int64 exact —
no doubles, no ties to break (min is total) — deterministic and
parallelism-invariant; the hop cap bounds rounds (turn chains make
uncapped temporal diameters O(conversation length), which is what the
cap is for, exactly as bfs.py's harmonic/closeness justify theirs).
The unrolled DuckDB twin replays the run round-for-round
(contract.py ``_temporal_reach_sql``).

Scale shape: the timestamped edge table is exchanged ONCE
(hash-partitioned by src) and pinned; per round ONE state write — the
(state ∪ usable-edge messages) min-aggregate, map-side combined, so a
hub's fan-in collapses to per-partition partial minima — with a
(row count, xor-checksum) fixpoint test observed on the write
(state.py; the state only grows rows or decreases arrivals, so
checksum equality across rounds is an exact early stop —
components.py's checksum discipline).
"""

from __future__ import annotations

import time
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from montecarlopagerank_spark.operators.propagate import fill, pin
from montecarlopagerank_spark.operators.state import StateStore


def earliest_arrival(
    spark: SparkSession,
    tedges: DataFrame,
    sources: DataFrame,
    max_hops: int = 8,
) -> tuple[DataFrame, dict[str, Any]]:
    """``tedges(src, dst, t)`` (int64 µs) + ``sources(v, t0)`` →
    (``reach(v, ea)``, info): earliest arrival time per vertex reachable
    from the source set by a time-respecting path of ≤ ``max_hops``
    edges (sources themselves at their ``t0``; duplicate source rows
    collapse to the min t0). ``info['converged']`` is True iff a round
    improved nothing before the cap (the uncapped fixpoint)."""
    t0_ = time.time()
    store = StateStore(spark)

    e = fill(pin(
        tedges.select("src", "dst", F.col("t").cast("long").alias("t")), "src"))
    # ANSI-safe set checksum (sum(µs) would overflow int64): the state
    # only grows rows / decreases ea, so (count, xor-hash) equality
    # across rounds is an exact-up-to-2⁻⁶⁴ fixpoint test — the same
    # checksum discipline as components.py's star rounds
    xor = F.expr("bit_xor(xxhash64(v, ea))").alias("x")

    def chk(r: dict) -> tuple[int, int]:
        return r["n"], int(r["x"] or 0)

    ea, prev = store.observe(
        sources.groupBy("v").agg(F.min(F.col("t0").cast("long")).alias("ea")),
        "treach_ea", xor, record=chk,
    )

    rounds, converged = 0, False
    for it in range(max_hops):
        msgs = (
            e.join(ea.withColumnRenamed("v", "src").hint("shuffle_hash"), "src")
            .filter(F.col("t") >= F.col("ea"))
            .select(F.col("dst").alias("v"), F.col("t").alias("ea"))
        )
        ea, cur = store.observe(
            ea.unionByName(msgs).groupBy("v").agg(F.min("ea").alias("ea")),
            "treach_ea", xor, record=chk,
        )
        rounds += 1
        if cur == prev:
            converged = True
            break
        prev = cur

    e.unpersist()
    out = ea.persist(StorageLevel.MEMORY_AND_DISK)
    n_reached = out.count()
    return out, {
        "rounds": rounds,
        "converged": converged,
        "n_reached": n_reached,
        "secs": round(time.time() - t0_, 3),
    }


def relay_counts(
    tedges: DataFrame,
    horizon_us: int,
) -> DataFrame:
    """Time-respecting 2-path (relay) census: per vertex v, how many
    (in-edge at t₁) → (out-edge at t₂) pairs satisfy
    ``t₁ ≤ t₂ ≤ t₁ + horizon_us`` — the elementary temporal motif
    (Paranjape-Benson-Leskovec, WSDM 2017 M₁..M₆ all factor through
    it), measuring how much information a vertex actually RELAYS within
    a latency budget, as opposed to merely touching (degree).

    Scale shape — the explosion-free bucketed range join
    (pipeline/temporal.py's shape): a naive v-keyed self-join costs
    Σ_v in(v)·out(v), hub-quadratic (a role vertex here has 10^4 of
    each at sf0.01 and 10^9+ at web scale). Bucketing both sides by
    ``floor(t / horizon)`` and exploding the in-side over {b, b+1}
    bounds each join group by the vertex's activity per horizon window
    — the output's own intrinsic scale — and the final count is one
    map-side-combined groupBy. Emits ``(v, n_relays)`` for vertices
    with ≥ 1 relay; int64-µs exact, deterministic."""
    if horizon_us <= 0:
        raise ValueError(f"horizon_us must be positive, got {horizon_us}")
    w = F.lit(int(horizon_us))
    b1 = (F.col("t1") / w).cast("long")  # house bucket convention
    inc = tedges.select(
        F.col("dst").alias("v"), F.col("t").cast("long").alias("t1")
    ).withColumn("_b", F.explode(F.array(b1, b1 + 1)))
    out = tedges.select(
        F.col("src").alias("v"), F.col("t").cast("long").alias("t2")
    ).withColumn("_b", (F.col("t2") / w).cast("long"))
    return (
        inc.join(out, ["v", "_b"])
        .filter((F.col("t2") >= F.col("t1")) & (F.col("t2") - F.col("t1") <= w))
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_relays"))
    )
