"""SALSA (Lempel & Moran 2000) — stochastic hubs & authorities.

New-engine scope (no reference twin — the reference ships only PageRank,
MonteCarloPageRank.scala / PowerIterationPageRank.scala; SALSA is the
random-walk counterpart of HITS and the ranking behind Twitter's
who-to-follow, SURVEY.md §2.7 family).

Unlike HITS, each half-step is a STOCHASTIC matrix-vector product, so
scores are probability vectors by construction and need no
normalization:

    auth(v) = Σ_{(u,v)∈E} hub(u)  / outdeg(u)
    hub(u)  = Σ_{(u,v)∈E} auth(v) / indeg(v)

with hub₀ uniform over the hub side (vertices with ≥1 out-edge) and
degrees counted over the multigraph (duplicate edges count). Both
updates preserve the L1 sum exactly (each matrix is stochastic over its
support), which doubles as a cheap per-step invariant: the observed sum
must stay 1 to fp precision.

Scale shape: operators/propagate.py holds the plan — the 1/degree
weights are baked into two loop-invariant edge caches at setup (one
partitioned by src for the auth half-step, one by dst for the hub
half-step), so a superstep exchanges only the O(V) score vector plus
the O(V) map-side-combined aggregate. Each half-step writes its scores
once, with its L1 sum observed on the write (state.py). That is not one
Spark job: as in hits.py, a half-step runs 3 in the local[4] test
session with AQE on — 2 adaptive query-stage jobs for its shuffle map
stages, then the write (the scratch re-read infers no schema) — 6 per
iteration (1 per half-step with AQE off; counted
with a job group + ``statusTracker`` on a 41-vertex path, 2 vs 4
iterations; tests/test_propagate.py).
"""

from __future__ import annotations

import time
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from montecarlopagerank_spark.operators.propagate import Propagation, fill
from montecarlopagerank_spark.operators.state import StateStore


def salsa(
    spark: SparkSession,
    edges: DataFrame,
    vertices: DataFrame | None = None,
    iters: int = 5,
) -> tuple[DataFrame, dict[str, Any]]:
    """``edges(src, dst)`` (multigraph: duplicate edges count) →
    (``scores(v, hub, auth)``, info). hub sums to 1 over vertices with
    out-edges, auth to 1 over vertices with in-edges; vertices outside a
    side get 0 there. ``vertices(vid, ...)`` optionally supplies
    isolated ids (hub = auth = 0)."""
    t0 = time.time()
    g = Propagation(edges, vertices, keys=("src", "dst"), norm=True)
    row = g.count(F.sum(F.when(F.col("dang"), 0).otherwise(1)).alias("n_hubs"))
    n, n_hubs = row["n"], row["n_hubs"] or 0
    if n_hubs == 0:  # no edges: every score is 0
        g.close()
        return g.empty("hub", "auth"), {"iterations": 0, "n": n, "n_hubs": 0}

    store = StateStore(spark)
    h = store.materialize(
        g.verts.filter(~F.col("dang")).select(
            "v", (F.lit(1.0) / F.lit(float(n_hubs))).alias("s")
        ),
        "salsa_h",
    )
    a = None
    sums: list[tuple[float, float]] = []
    for it in range(iters):
        # auth half-step: one write (3 jobs, see module docstring), L1
        # sum observed on it
        a, ra = store.observe(
            g.push(g.scores(h), "src", F.col("s") * F.col("w"))
            .select(F.col("vc").alias("v"), F.col("m").alias("s")),
            "salsa_a", F.sum("s").alias("t"))
        # hub half-step: one write, L1 sum observed on it
        h, rh = store.observe(
            g.push(g.scores(a), "dst", F.col("s") * F.col("w"))
            .select(F.col("vc").alias("v"), F.col("m").alias("s")),
            "salsa_h", F.sum("s").alias("t"))
        sums.append((float(ra["t"]), float(rh["t"])))

    out = fill(
        g.verts.join(h.withColumnRenamed("s", "hub").hint("shuffle_hash"), "v",
                     "left")
        .join(a.withColumnRenamed("s", "auth").hint("shuffle_hash"), "v", "left")
        .select(
            "v",
            F.coalesce("hub", F.lit(0.0)).alias("hub"),
            F.coalesce("auth", F.lit(0.0)).alias("auth"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    g.close()
    return out, {
        "iterations": iters,
        "n": n,
        "n_hubs": n_hubs,
        "l1_sums": sums,  # each ≈ (1.0, 1.0): stochastic-step invariant
        "secs": round(time.time() - t0, 3),
    }
