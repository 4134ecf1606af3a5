"""node2vec biased random walks (Grover & Leskovec, KDD 2016).

Second-order extension of :mod:`walks` (DeepWalk): the next-hop
distribution depends on the previous vertex. For a walk at ``cur``
having arrived from ``prev``, candidate ``c`` gets weight

- 1/p  if c == prev            (return)
- 1    if prev and c are adjacent (BFS-ish stay-local)
- 1/q  otherwise               (DFS-ish explore)

p < 1 biases homophily/backtracking, q < 1 biases structural
exploration — the standard knob pair for graph-embedding corpora.

Spark-first mechanics (and where the cost honestly goes):

- first hop is uniform over the sorted DISTINCT neighbor list (no
  ``prev`` yet) — same shape as walks.py but simple-graph closure,
  node2vec's convention (weights come from p/q, not multiplicity);
- per subsequent step, candidates are ``posexplode``d (O(Σ deg(cur))
  rows across live walks — node2vec's intrinsic per-step cost) and the
  (prev, c) adjacency test is a LEFT JOIN against the canonical pair
  set ``pairs(edges)`` keyed (x, y) — a real partitioned join, never an
  ``array_contains`` scan that would go quadratic on hub degrees.
  Adjacent means linked in EITHER direction, in both modes: a directed
  walk steps along ``src → dst`` only, but whether a candidate "stays
  local" asks whether prev and c are linked, not which way, and never
  depends on vertex labels;
- the weighted pick is two window functions over the exploded rows
  (running + total weight per walk) selecting the unique row where the
  cumulative weight first exceeds u·total, with u ∈ [0,1) a pure
  ``xxhash64(start, rep, step, seed)`` function — deterministic at any
  parallelism, same replayability story as walks.py/pagerank_mc.py.

No SQL twin (the weighted pick's double comparisons have no exact
cross-engine replay); the pytest oracle pins exact transition
*distributions* on closed-form graphs plus determinism and dead-end
semantics (tests/test_node2vec.py). The driver query is rows-only.
"""

from __future__ import annotations

import time
from typing import Any

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from montecarlopagerank_spark.operators.propagate import (
    fill,
    hash_by,
    neighbours,
    pairs,
    pin,
)
from montecarlopagerank_spark.operators.state import StateStore

_U_MOD = 1 << 30  # u = pmod(xxhash64, 2^30) / 2^30 — 9 decimal digits of
# uniformity is plenty for a corpus sampler and keeps the arithmetic exact


def node2vec_walks(
    spark: SparkSession,
    edges: DataFrame,
    starts: DataFrame,
    walk_length: int = 8,
    walks_per_vertex: int = 4,
    p: float = 1.0,
    q: float = 1.0,
    directed: bool = False,
    seed: int = 1234,
) -> tuple[DataFrame, dict[str, Any]]:
    """``edges(src, dst)`` + ``starts(v)`` → (``walks(start, rep, step,
    v)``, info) with node2vec (p, q) second-order bias. Dead ends stop
    the walk early; self-loops are dropped; the simple-graph closure is
    used (parallel edges don't multiply weight — p/q is the bias), and
    prev and c are adjacent if linked in either direction."""
    if p <= 0 or q <= 0:
        raise ValueError(f"p and q must be positive, got p={p} q={q}")
    t0 = time.time()
    sym = neighbours(edges, directed)  # operators/propagate.py
    nbrs = fill(pin(
        sym.groupBy("u")
        .agg(F.sort_array(F.collect_list("x")).alias("arr"))
        .withColumn("deg", F.size("arr").cast("long")),
        "u",
    ))
    sym.unpersist()  # read once, by the nbrs fill
    # (prev, candidate) adjacency probe, either direction (module docstring)
    probe = fill(pin(pairs(edges), "x", "y"))

    store = StateStore(spark)
    reps = spark.range(walks_per_vertex).select(F.col("id").alias("rep"))
    state = store.materialize(
        hash_by(
            starts.select(F.col("v").alias("start"))
            .distinct()
            .crossJoin(reps)
            .select(
                "start", "rep",
                # typed null: prev must carry the vertex type (long vids
                # or string keys both work)
                F.lit(None).cast(starts.schema["v"].dataType).alias("prev"),
                F.col("start").alias("v"),
            ),
            "v",
        ),
        "n2v_step_0",
    )
    out_parts = [state.select("start", "rep", F.lit(0).alias("step"), "v")]
    emitted = 0
    for step in range(1, walk_length + 1):
        joined = state.hint("shuffle_hash").join(
            nbrs, state["v"] == nbrs["u"], "inner"
        )
        if step == 1:
            # no prev: uniform over the distinct sorted neighbor list
            idx = (
                F.lit(1)
                + F.pmod(
                    F.xxhash64("start", "rep", F.lit(step), F.lit(seed)),
                    F.col("deg"),
                )
            ).cast("int")
            nxt = joined.select(
                "start", "rep", F.col("v").alias("prev"),
                F.element_at("arr", idx).alias("v"),
            )
        else:
            cand = joined.select(
                "start", "rep", "prev", F.col("v").alias("cur"),
                F.posexplode("arr").alias("i", "c"),
            )
            flagged = (
                cand.join(
                    probe,
                    (F.least("prev", "c") == F.col("x"))
                    & (F.greatest("prev", "c") == F.col("y")),
                    "left",
                )
                .withColumn(
                    "w",
                    F.when(F.col("c") == F.col("prev"), F.lit(1.0 / p))
                    .when(F.col("x").isNotNull(), F.lit(1.0))
                    .otherwise(F.lit(1.0 / q)),
                )
                .drop("x", "y")
            )
            wk = Window.partitionBy("start", "rep")
            cum = F.sum("w").over(wk.orderBy("i"))
            tot = F.sum("w").over(wk)
            u = (
                F.pmod(
                    F.xxhash64("start", "rep", F.lit(step), F.lit(seed)),
                    F.lit(_U_MOD),
                ).cast("double")
                / F.lit(float(_U_MOD))
            ) * tot
            nxt = (
                flagged.withColumn("_cum", cum)
                .withColumn("_u", u)
                .filter(
                    (F.col("_cum") > F.col("_u"))
                    & (F.col("_cum") - F.col("w") <= F.col("_u"))
                )
                .select(
                    "start", "rep", F.col("cur").alias("prev"),
                    F.col("c").alias("v"),
                )
            )
        state = store.materialize(hash_by(nxt, "v"), f"n2v_step_{step}")
        out_parts.append(
            state.select("start", "rep", F.lit(step).alias("step"), "v")
        )
        emitted += 1
        if state.isEmpty():
            break
    walks = out_parts[0]
    for part in out_parts[1:]:
        walks = walks.unionByName(part)
    walks = walks.persist(StorageLevel.MEMORY_AND_DISK)
    n_rows = walks.count()
    for c in (nbrs, probe):
        c.unpersist()
    return walks, {
        "steps": emitted,
        "rows": n_rows,
        "secs": round(time.time() - t0, 3),
    }
