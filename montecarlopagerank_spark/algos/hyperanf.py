"""Approximate neighborhood function + effective diameter (HyperANF).

New-engine scope (SURVEY.md §2.7): "how far apart is this graph?" at a
scale where exact all-pairs BFS is Ω(V²). Boldi-Rosa-Vigna, "HyperANF:
Approximating the Neighbourhood Function of Very Large Graphs on a
Budget" (WWW 2011): give every vertex a HyperLogLog sketch of the set
of vertices within h hops; per round each sketch absorbs (unions) its
neighbors' sketches; N(h) = Σ_v |sketch_h(v)| estimates the number of
ordered pairs at distance ≤ h, and the effective diameter is the
smallest h with N(h) ≥ q·N(∞).

Spark-first realization: the sketches are Spark's built-in Apache
DataSketches HLL columns — ``hll_sketch_agg`` / ``hll_union_agg`` /
``hll_sketch_estimate`` are JVM aggregates with full map-side combine,
so a superstep is ONE shuffle of (dst, sketch) messages hash-combined
per destination *within each map task first* (a vertex with a million
in-edges receives a handful of pre-combined sketches per upstream
partition, not a million rows — the same skew story as map-side
combined degree counting). State (v, sk) is parquet-materialized per
round (flat plans); Σ-estimate convergence (N(h) == N(h−1), integer
equality of rounded estimates — the fixpoint test HyperANF itself
uses) is observed on the state write (state.py).

Determinism: an HLL register state is an order-insensitive function of
the input multiset, so sketches — and every estimate — are identical
at any parallelism. Estimates are *approximate* in cardinality
(relative error ~1.04/√2^lgk), hence no SQL twin; the pytest oracle
checks against the exact BFS closure at small scale (error bands) and
exactness on tiny graphs where HLL's sparse mode is lossless.
"""

from __future__ import annotations

import time
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from montecarlopagerank_spark.operators.propagate import neighbours
from montecarlopagerank_spark.operators.state import StateStore


def neighborhood_function(
    spark: SparkSession,
    edges: DataFrame,
    max_h: int = 16,
    lgk: int = 12,
    directed: bool = False,
    rel_tol: float = 0.0,
) -> tuple[DataFrame, dict[str, Any]]:
    """``edges(src, dst)`` → (``nf(h, npairs)``, info): npairs ≈ number
    of ordered vertex pairs (u, v) with d(u, v) ≤ h (h = 0 counts the
    |V| self-pairs). Stops early when the estimate stops growing (the
    sketches have absorbed their whole component). ``info`` carries
    ``effective_diameter_90`` — the smallest h whose npairs reaches 90%
    of the final value, linearly interpolated (Boldi-Vigna convention)."""
    t0 = time.time()
    e = neighbours(edges, directed)  # operators/propagate.py

    verts = (
        e.select(F.col("u").alias("v"))
        .unionByName(e.select(F.col("x").alias("v")))
        .distinct()
    )
    store = StateStore(spark)

    est = F.sum(F.round(F.hll_sketch_estimate("sk"))).alias("t")  # N(h)
    # sketch of {v} itself: groupBy(v) over the vertex set
    state, prev = store.observe(
        verts.groupBy("v").agg(F.hll_sketch_agg("v", F.lit(lgk)).alias("sk")),
        "anf_state", est, record=lambda r: int(r["t"] or 0))
    counts: list[tuple[int, int]] = [(0, prev)]
    rounds = 0
    for h in range(1, max_h + 1):
        msgs = (
            e.join(state.withColumnRenamed("v", "u").hint("shuffle_hash"), "u")
            .select(F.col("x").alias("v"), "sk")
        )
        merged = (
            state.unionByName(msgs)
            .groupBy("v")
            .agg(F.hll_union_agg("sk", F.lit(True)).alias("sk"))
        )
        state, cur = store.observe(merged, "anf_state", est,
                                   record=lambda r: int(r["t"] or 0))
        counts.append((h, cur))
        rounds = h
        # rel_tol=0: exact plateau (estimates stopped growing). >0: the
        # practical HyperANF stop — growth below rel_tol·N(h) no longer
        # moves the interpolated diameter quantile, and on a long-tail
        # graph it saves the many near-empty trailing supersteps
        if cur - prev <= rel_tol * cur:
            break
        prev = cur
    e.unpersist()
    nf = spark.createDataFrame(counts, "h int, npairs long")
    final = counts[-1][1]
    eff = _effective_diameter(counts, final, 0.90)
    return nf, {
        "rounds": rounds,
        "effective_diameter_90": eff,
        "reachable_pairs": final,
        "secs": round(time.time() - t0, 3),
    }


def _effective_diameter(
    counts: list[tuple[int, int]], final: int, q: float
) -> float:
    """Smallest (interpolated) h with N(h) ≥ q·final."""
    target = q * final
    for (h0, n0), (h1, n1) in zip(counts, counts[1:]):
        if n1 >= target:
            if n0 >= target:
                return float(h0)
            return h0 + (target - n0) / (n1 - n0)
    return float(counts[-1][0])
