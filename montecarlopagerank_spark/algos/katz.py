"""Katz centrality as pure DataFrame joins/aggs.

New-engine scope (no reference twin — the reference ships only PageRank;
Katz is the third canonical link-analysis centrality next to PageRank
and HITS, SURVEY.md §2.7): x = Σ_k α^k (Aᵀ)^k·β1, computed by the fixed
point  x ← β + α·Aᵀx  over the directed multigraph (duplicate edges
count, matching the PageRank operators' multigraph semantics).

The raw series converges only for α < 1/λ_max(A); on a web-scale
multigraph λ_max grows with hub degree, so NO fixed α is scale-safe —
the raw iterate can overflow the useful double range while stronger
vertices still dominate correctly. The deliverable is therefore the
L1-NORMALIZED score (``katz_norm``, scaled ×n like the PageRank
queries): below the spectral radius it equals normalized Katz, above it
the iterate's direction converges to the dominant left eigenvector
(eigenvector centrality with β-regularization) — deterministic and
well-conditioned either way. The raw score is also returned for graphs
a caller KNOWS are subcritical. Normalizing once at the end (not per
step) keeps the unrolled SQL twin trivially identical.

Scale shape: the edge cache, the vertex table and the push are
operators/propagate.py's. Each superstep writes its state once, with the
score L1 mass observed on the write (state.py). That is not one Spark
job: a step runs 3 in the local[4] test session with AQE on — 2
adaptive query-stage jobs for its shuffle map stages, then the write (the scratch re-read, StateStore.materialize, infers no
schema); 1 with AQE off (counted with a job group + ``statusTracker`` on
a 41-vertex path, 2 vs 4 steps; tests/test_propagate.py). State is
carried exactly (no normalization), so the unrolled SQL twin
(contract.py ``_katz_sql``) matches to fp round-off.
"""

from __future__ import annotations

import time
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from montecarlopagerank_spark.operators.propagate import Propagation, fill
from montecarlopagerank_spark.operators.state import StateStore


def katz(
    spark: SparkSession,
    edges: DataFrame,
    vertices: DataFrame | None = None,
    alpha: float = 0.05,
    beta: float = 1.0,
    iters: int = 6,
    x0: float | None = None,
) -> tuple[DataFrame, dict[str, Any]]:
    """``edges(src, dst)`` → (``scores(v, katz)``, info) after ``iters``
    exact supersteps from x₀ = ``x0``·1 (default β·1). ``vertices(vid,
    ...)`` optionally supplies isolated vertex ids (score stays β).
    ``x0`` exists so the β=0 power-method family (eigenvector
    centrality) can still start from a non-degenerate vector."""
    t0 = time.time()
    g = Propagation(edges, vertices)
    n = g.count()["n"]
    if n == 0:
        return g.empty("katz", "katz_norm"), {"iterations": 0, "n": 0}

    init = float(beta if x0 is None else x0)
    store = StateStore(spark)
    x = store.materialize(g.verts.select("v", F.lit(init).alias("s")), "katz_x")
    mass = float(n) * init
    for it in range(iters):
        x_next = g.gather(g.push(g.scores(x), "src", F.col("s"))).select(
            "v",
            (
                F.lit(float(beta))
                + F.lit(float(alpha)) * F.coalesce("m", F.lit(0.0))
            ).alias("s"),
        )
        x, row = store.observe(x_next, "katz_x", F.sum("s").alias("t"))
        mass = row["t"]

    norm = (
        (F.col("s") * F.lit(float(n)) / F.lit(float(mass)))
        if mass != 0.0
        else F.lit(0.0)  # edge-free graph: keep the output finite
    )
    out = fill(x.select(
        "v",
        F.col("s").alias("katz"),
        norm.alias("katz_norm"),
    ).persist(StorageLevel.MEMORY_AND_DISK))
    g.close()
    return out, {
        "iterations": iters,
        "n": n,
        "mass": mass,
        "secs": round(time.time() - t0, 3),
    }


def eigenvector_centrality(
    spark: SparkSession,
    edges: DataFrame,
    vertices: DataFrame | None = None,
    iters: int = 6,
) -> tuple[DataFrame, dict[str, Any]]:
    """In-edge eigenvector centrality by ``iters`` exact power-method
    supersteps: x₀ = 1, x ← Aᵀx, L1-normalized ×n once at the end — the
    β=0 member of the Katz family (x converges in direction to the
    dominant left eigenvector of the multigraph adjacency; the single
    final normalization keeps the unrolled SQL twin exact, katz.py
    module docstring). Output column is still named ``katz``/
    ``katz_norm`` — same contract as :func:`katz`."""
    return katz(
        spark,
        edges,
        vertices,
        alpha=1.0,
        beta=0.0,
        iters=iters,
        x0=1.0,
    )
