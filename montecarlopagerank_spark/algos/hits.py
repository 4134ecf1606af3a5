"""HITS (Kleinberg hubs & authorities) as pure DataFrame joins/aggs.

New-engine scope (no reference twin — the reference ships only PageRank,
MonteCarloPageRank.scala / PowerIterationPageRank.scala; HITS is the other
canonical link-analysis ranking a web-graph user expects, SURVEY.md §2.7).

Per iteration over the directed multigraph E:
    auth(u) = Σ_{(v,u)∈E} hub(v)      then L1-normalize
    hub(v)  = Σ_{(v,u)∈E} auth(u)     then L1-normalize

Scale shape mirrors pagerank_power: the edge table is cached TWICE, once
hash-partitioned by src (consumed by the auth half-step) and once by dst
(consumed by the hub half-step), so no superstep ever exchanges O(E) data —
each half-step shuffles only the O(V) score vector into the matching edge
partitioning via a shuffle_hash join (score vectors are never broadcast:
O(V) driver-serial hash builds flatline core scaling). Each half-step
writes its scores once, with its L1 norm riding along as an ``observe``
metric (no separate norm job). That is not one Spark job: a half-step
runs 3 in the local[4] test session with AQE on — 2 adaptive
query-stage jobs for its shuffle map stages, then the write (the
scratch re-read, StateStore.materialize, infers no schema) — 6 per
iteration (1 per half-step with AQE off; counted with a job group +
``statusTracker`` on a 41-vertex path, 2 vs 4 iterations). Scores are
carried UNNORMALIZED and divided by the
previous half-step's observed norm at the point of use — mathematically
identical to per-step normalization (pure scaling, and HITS is
scale-invariant), so the final normalized vectors match a per-step-
normalized twin to fp precision.
"""

from __future__ import annotations

import time
from typing import Any

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from montecarlopagerank_spark.operators.state import StateStore


def hits(
    spark: SparkSession,
    edges: DataFrame,
    vertices: DataFrame | None = None,
    iters: int = 5,
    n_partitions: int | None = None,
) -> tuple[DataFrame, dict[str, Any]]:
    """``edges(src, dst)`` (multigraph: duplicate edges count) →
    (``scores(v, hub, auth)``, info). hub and auth are L1-normalized
    (each sums to 1). Vertices with no in-edges get auth 0; no out-edges
    → hub 0. ``vertices(vid, ...)`` optionally supplies isolated ids."""
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
    # two loop-invariant edge caches — each half-step joins its O(V) score
    # vector into an in-place edge partitioning (see module docstring)
    e_src = e.repartition(n_parts, "src").persist(StorageLevel.MEMORY_AND_DISK)
    e_dst = e.repartition(n_parts, "dst").persist(StorageLevel.MEMORY_AND_DISK)
    verts = verts.repartition(n_parts, "v").persist(StorageLevel.MEMORY_AND_DISK)
    e_src.count(), e_dst.count()  # pay the two edge exchanges in setup
    n = verts.count()
    if n == 0:
        empty = spark.createDataFrame([], "v long, hub double, auth double")
        return empty, {"iterations": 0, "n": 0}

    store = StateStore(spark)
    # h0 = 1 for every vertex; its L1 norm is n — no job needed
    h = store.materialize(verts.select("v", F.lit(1.0).alias("s")), "hits_h")
    hsum, asum = float(n), None
    a = None
    for it in range(iters):
        # auth half-step: one write (3 jobs, see module docstring), norm
        # observed on it
        obs_a = Observation(f"hits_a_{it}")
        araw = (
            e_src.join(
                h.repartition(n_parts, "v").hint("shuffle_hash"),
                e_src["src"] == F.col("v"),
            )
            .select(F.col("dst").alias("vc"), (F.col("s") / F.lit(hsum)).alias("m"))
            .groupBy("vc")
            .agg(F.sum("m").alias("s"))
        )
        a_next = (
            verts.join(araw.hint("shuffle_hash"), verts["v"] == araw["vc"], "left")
            .select("v", F.coalesce("s", F.lit(0.0)).alias("s"))
            .observe(obs_a, F.sum("s").alias("t"))
        )
        a = store.materialize(a_next, "hits_a")
        asum = obs_a.get["t"]
        # hub half-step: one write, norm observed on it
        obs_h = Observation(f"hits_h_{it}")
        hraw = (
            e_dst.join(
                a.repartition(n_parts, "v").hint("shuffle_hash"),
                e_dst["dst"] == F.col("v"),
            )
            .select(F.col("src").alias("vc"), (F.col("s") / F.lit(asum)).alias("m"))
            .groupBy("vc")
            .agg(F.sum("m").alias("s"))
        )
        h_next = (
            verts.join(hraw.hint("shuffle_hash"), verts["v"] == hraw["vc"], "left")
            .select("v", F.coalesce("s", F.lit(0.0)).alias("s"))
            .observe(obs_h, F.sum("s").alias("t"))
        )
        h = store.materialize(h_next, "hits_h")
        hsum = obs_h.get["t"]

    out = (
        h.select("v", (F.col("s") / F.lit(hsum)).alias("hub"))
        .join(
            a.select("v", (F.col("s") / F.lit(asum)).alias("auth")),
            "v",
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    out.count()
    e_src.unpersist(), e_dst.unpersist(), verts.unpersist()
    return out, {
        "iterations": iters,
        "n": n,
        "secs": round(time.time() - t0, 3),
    }
