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

Scale shape mirrors algos/hits.py: the 1/degree weights are baked into
two loop-invariant edge caches at setup (one hash-partitioned by src
for the auth half-step, one by dst for the hub half-step), so a
superstep exchanges only the O(V) score vector (shuffle_hash, never a
broadcast — O(V) driver-serial hash builds flatline core scaling) plus
the O(V) map-side-combined aggregate. Each half-step writes its scores
once, with its L1 sum riding along as an ``observe`` metric (no separate
sum job). That is not one Spark job: as in hits.py, a half-step runs 3
in the local[4] test session with AQE on — 2 adaptive query-stage jobs
for its shuffle map stages, then the write (the scratch re-read infers
no schema) — 6 per iteration (1 per half-step with AQE off; counted
with a job group + ``statusTracker`` on a 41-vertex path, 2 vs 4
iterations).
"""

from __future__ import annotations

import time
from typing import Any

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from montecarlopagerank_spark.operators.state import StateStore


def salsa(
    spark: SparkSession,
    edges: DataFrame,
    vertices: DataFrame | None = None,
    iters: int = 5,
    n_partitions: int | None = None,
) -> tuple[DataFrame, dict[str, Any]]:
    """``edges(src, dst)`` (multigraph: duplicate edges count) →
    (``scores(v, hub, auth)``, info). hub sums to 1 over vertices with
    out-edges, auth to 1 over vertices with in-edges; vertices outside a
    side get 0 there. ``vertices(vid, ...)`` optionally supplies
    isolated ids (hub = auth = 0)."""
    t0 = time.time()
    n_parts = int(n_partitions or spark.conf.get("spark.sql.shuffle.partitions"))
    e = edges.select("src", "dst")
    if vertices is not None:
        verts = vertices.select(F.col("vid").alias("v")).distinct()
    else:
        verts = (
            e.select(F.col("src").alias("v"))
            .unionByName(e.select(F.col("dst").alias("v")))
            .distinct()
        )
    out_w = (
        e.groupBy("src").agg((F.lit(1.0) / F.count(F.lit(1))).alias("w_out"))
    )
    in_w = e.groupBy("dst").agg((F.lit(1.0) / F.count(F.lit(1))).alias("w_in"))
    # loop-invariant weighted edge caches (see module docstring)
    e_src = (
        e.join(out_w, "src")
        .repartition(n_parts, "src")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    e_dst = (
        e.join(in_w, "dst")
        .repartition(n_parts, "dst")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    verts = verts.repartition(n_parts, "v").persist(StorageLevel.MEMORY_AND_DISK)
    e_src.count(), e_dst.count()  # pay the two edge exchanges in setup
    n = verts.count()
    n_hubs = out_w.count()
    if n == 0 or n_hubs == 0:
        empty = verts.select(
            "v", F.lit(0.0).alias("hub"), F.lit(0.0).alias("auth")
        )
        return empty, {"iterations": 0, "n": n, "n_hubs": n_hubs}

    store = StateStore(spark)
    h = store.materialize(
        e_src.select("src").distinct().select(
            F.col("src").alias("v"), (F.lit(1.0) / F.lit(float(n_hubs))).alias("s")
        ),
        "salsa_h",
    )
    a = None
    sums: list[tuple[float, float]] = []
    for it in range(iters):
        # auth half-step: one write (3 jobs, see module docstring), L1
        # sum observed on it
        obs_a = Observation(f"salsa_a_{it}")
        a = store.materialize(
            e_src.join(
                h.repartition(n_parts, "v").hint("shuffle_hash"),
                e_src["src"] == F.col("v"),
            )
            .select(
                F.col("dst").alias("vc"), (F.col("s") * F.col("w_out")).alias("m")
            )
            .groupBy(F.col("vc").alias("v"))
            .agg(F.sum("m").alias("s"))
            .observe(obs_a, F.sum("s").alias("t")),
            "salsa_a",
        )
        # hub half-step: one write, L1 sum observed on it
        obs_h = Observation(f"salsa_h_{it}")
        h = store.materialize(
            e_dst.join(
                a.repartition(n_parts, "v").hint("shuffle_hash"),
                e_dst["dst"] == F.col("v"),
            )
            .select(
                F.col("src").alias("vc"), (F.col("s") * F.col("w_in")).alias("m")
            )
            .groupBy(F.col("vc").alias("v"))
            .agg(F.sum("m").alias("s"))
            .observe(obs_h, F.sum("s").alias("t")),
            "salsa_h",
        )
        sums.append((float(obs_a.get["t"]), float(obs_h.get["t"])))

    out = (
        verts.join(h.withColumnRenamed("s", "hub").hint("shuffle_hash"), "v", "left")
        .join(a.withColumnRenamed("s", "auth").hint("shuffle_hash"), "v", "left")
        .select(
            "v",
            F.coalesce("hub", F.lit(0.0)).alias("hub"),
            F.coalesce("auth", F.lit(0.0)).alias("auth"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    out.count()
    e_src.unpersist(), e_dst.unpersist(), verts.unpersist()
    return out, {
        "iterations": iters,
        "n": n,
        "n_hubs": n_hubs,
        "l1_sums": sums,  # each ≈ (1.0, 1.0): stochastic-step invariant
        "secs": round(time.time() - t0, 3),
    }
