"""HITS (Kleinberg hubs & authorities) as pure DataFrame joins/aggs.

New-engine scope (no reference twin — the reference ships only PageRank,
MonteCarloPageRank.scala / PowerIterationPageRank.scala; HITS is the other
canonical link-analysis ranking a web-graph user expects, SURVEY.md §2.7).

Per iteration over the directed multigraph E:
    auth(u) = Σ_{(v,u)∈E} hub(v)      then L1-normalize
    hub(v)  = Σ_{(v,u)∈E} auth(u)     then L1-normalize

Scale shape: operators/propagate.py holds the plan — two edge caches,
one partitioned by src (consumed by the auth half-step) and one by dst
(the hub half-step), so a superstep exchanges only the O(V) score
vector. Each half-step writes its scores once, with its L1 norm
observed on the write (state.py). That is not one
Spark job: a half-step runs 3 in the local[4] test session with AQE on
— 2 adaptive query-stage jobs for its shuffle map stages, then the write
(the scratch re-read, StateStore.materialize, infers no schema) — 6 per
iteration (1 per half-step with AQE off; counted with a job group +
``statusTracker`` on a 41-vertex path, 2 vs 4 iterations;
tests/test_propagate.py). Scores are carried UNNORMALIZED and divided
by the previous half-step's observed norm at the point of use —
mathematically identical to per-step normalization (pure scaling, and
HITS is scale-invariant), so the final normalized vectors match a
per-step-normalized twin to fp precision.
"""

from __future__ import annotations

import time
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from montecarlopagerank_spark.operators.propagate import Propagation, fill
from montecarlopagerank_spark.operators.state import StateStore


def hits(
    spark: SparkSession,
    edges: DataFrame,
    vertices: DataFrame | None = None,
    iters: int = 5,
) -> tuple[DataFrame, dict[str, Any]]:
    """``edges(src, dst)`` (multigraph: duplicate edges count) →
    (``scores(v, hub, auth)``, info). hub and auth are L1-normalized
    (each sums to 1). Vertices with no in-edges get auth 0; no out-edges
    → hub 0. ``vertices(vid, ...)`` optionally supplies isolated ids."""
    t0 = time.time()
    g = Propagation(edges, vertices, keys=("src", "dst"))
    n = g.count()["n"]
    if n == 0:
        return g.empty("hub", "auth"), {"iterations": 0, "n": 0}

    store = StateStore(spark)
    # h0 = 1 for every vertex; its L1 norm is n — no job needed
    h = store.materialize(g.verts.select("v", F.lit(1.0).alias("s")), "hits_h")
    hsum, asum = float(n), None
    a = None
    for it in range(iters):
        # auth half-step: one write (3 jobs, see module docstring), norm
        # observed on it
        a, row = store.observe(
            g.gather(g.push(g.scores(h), "src", F.col("s") / F.lit(hsum)))
            .select("v", F.coalesce("m", F.lit(0.0)).alias("s")),
            "hits_a", F.sum("s").alias("t"))
        asum = row["t"]
        # hub half-step: one write, norm observed on it
        h, row = store.observe(
            g.gather(g.push(g.scores(a), "dst", F.col("s") / F.lit(asum)))
            .select("v", F.coalesce("m", F.lit(0.0)).alias("s")),
            "hits_h", F.sum("s").alias("t"))
        hsum = row["t"]

    out = fill(
        h.select("v", (F.col("s") / F.lit(hsum)).alias("hub"))
        .join(
            a.select("v", (F.col("s") / F.lit(asum)).alias("auth")),
            "v",
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    g.close()
    return out, {
        "iterations": iters,
        "n": n,
        "secs": round(time.time() - t0, 3),
    }
