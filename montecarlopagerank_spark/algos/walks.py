"""Random-walk corpus generation (DeepWalk-style) over the link graph.

New-engine scope (SURVEY.md §2.7): the standard way to turn a graph
into *training data* — fixed-length uniform random walks from a start
set, consumed downstream as token sequences for skip-gram / node
embedding training (Perozzi et al., "DeepWalk", KDD 2014). This is the
graph-side twin of the pipeline chunkers: the output is a corpus, so
determinism and replayability matter as much as speed.

Walk step = ONE lookup of the current vertex in a cached, sorted
adjacency-array table. The neighbor index is a pure function of
(start, rep, step, seed) — no RNG state anywhere — which makes the
corpus:

- **deterministic**: same inputs → byte-identical corpus at any
  parallelism (the same property the MC PageRank kernel pins);
- **resumable**: a walk can be re-derived from its key alone;
- **oracle-able**: with ``chooser="lcg"`` the index function is plain
  64-bit integer arithmetic that DuckDB evaluates identically, so the
  whole corpus has an unrolled SQL hash twin (contract.py,
  ``random_walks_tools``). The default ``chooser="xxhash"`` mixes the
  start key in via ``xxhash64`` (better per-walk decorrelation; Spark-
  only, pinned by pytest uniformity + determinism tests instead).

Scale shape: the adjacency-array table (O(V) rows, one array per
vertex) is built with ONE shuffle and persisted; each of the L steps
shuffles only the O(walks) state table into the join (``shuffle_hash``
on the small side — the adjacency side never moves), and state is
parquet-materialized per step (flat plans, bounded lineage). Walk
count is user-budgeted, independent of |E|: at 10^12 edges the walk
state is still walks_per_vertex × |starts| rows per step. Dead ends
terminate walks (rows drop out; no self-loop padding), matching the
multiset semantics of the sorted-neighbor list (a multigraph edge
appearing k times is k× as likely to be taken).
"""

from __future__ import annotations

import time
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from montecarlopagerank_spark.operators.propagate import fill, hash_by, pin
from montecarlopagerank_spark.operators.state import StateStore

# LCG-ish mixing constants (public-domain folklore multipliers); the
# modulus keeps every intermediate far below 2^63 (ANSI mode throws on
# overflow) while staying coprime-free of small walk degrees.
_LCG_M = 1_000_003
_LCG_A = 40_503
_LCG_B = 69_069


def _lcg_idx(rep: Column, step: int, deg: Column) -> Column:
    """1-based neighbor index from (rep, step) — exact 64-bit integer
    arithmetic reproducible verbatim in DuckDB (contract._walks_sql)."""
    mix = ((rep + F.lit(1)) * F.lit(_LCG_A) + F.lit(step * _LCG_B)) % F.lit(_LCG_M)
    return (F.lit(1) + F.pmod(mix, deg)).cast("int")


def _xxhash_idx(
    start: Column, rep: Column, step: int, seed: int, deg: Column
) -> Column:
    """1-based neighbor index mixing the full walk key via xxhash64 —
    independent uniform picks per (start, rep, step); Spark-only."""
    return (
        F.lit(1) + F.pmod(F.xxhash64(start, rep, F.lit(step), F.lit(seed)), deg)
    ).cast("int")


def random_walks(
    spark: SparkSession,
    edges: DataFrame,
    starts: DataFrame,
    walk_length: int = 8,
    walks_per_vertex: int = 4,
    directed: bool = False,
    chooser: str = "xxhash",
    seed: int = 1234,
) -> tuple[DataFrame, dict[str, Any]]:
    """``edges(src, dst)`` + ``starts(v)`` → (``walks(start, rep, step,
    v)``, info): ``walks_per_vertex`` uniform random walks of up to
    ``walk_length`` steps from every start vertex. ``step`` 0 is the
    start itself; a walk that reaches a dead end (no out-neighbors)
    simply stops early (its later steps are absent). Self-loops are
    dropped; parallel edges weight the pick (multiset neighbor list)."""
    if chooser not in ("xxhash", "lcg"):
        raise ValueError(f"unknown chooser {chooser!r}")
    t0 = time.time()
    base = edges.select(F.col("src").alias("u"), F.col("dst").alias("x"))
    if not directed:
        base = base.unionByName(
            edges.select(F.col("dst").alias("u"), F.col("src").alias("x"))
        )
    # sorted multiset neighbor list: index i is the same vertex in Spark
    # and in the DuckDB twin's list(x ORDER BY x), dupes included
    nbrs = fill(pin(  # pay the one adjacency exchange in setup
        base.filter(F.col("u") != F.col("x"))
        .groupBy("u")
        .agg(F.sort_array(F.collect_list("x")).alias("arr"))
        .withColumn("deg", F.size("arr").cast("long")),
        "u",
    ))

    store = StateStore(spark)
    reps = spark.range(walks_per_vertex).select(F.col("id").alias("rep"))
    # one slot per step, NOT the usual ping-pong: every step's state is
    # part of the output corpus, so its parquet slot must outlive the
    # loop (ping-pong would overwrite step i's directory at step i+2)
    state = store.materialize(
        hash_by(
            starts.select(F.col("v").alias("start"))
            .distinct()
            .crossJoin(reps)
            .withColumn("v", F.col("start")),
            "v",
        ),
        "walk_step_0",
    )
    out_parts = [state.select("start", "rep", F.lit(0).alias("step"), "v")]
    emitted = 0
    for step in range(1, walk_length + 1):
        joined = state.hint("shuffle_hash").join(
            nbrs, state["v"] == nbrs["u"], "inner"
        )
        idx = (
            _lcg_idx(F.col("rep"), step, F.col("deg"))
            if chooser == "lcg"
            else _xxhash_idx(F.col("start"), F.col("rep"), step, seed, F.col("deg"))
        )
        nxt = joined.select(
            "start", "rep", F.element_at("arr", idx).alias("v")
        )
        state = store.materialize(hash_by(nxt, "v"), f"walk_step_{step}")
        out_parts.append(
            state.select("start", "rep", F.lit(step).alias("step"), "v")
        )
        emitted += 1
        if state.isEmpty():
            break
    walks = out_parts[0]
    for p in out_parts[1:]:
        walks = walks.unionByName(p)
    walks = walks.persist(StorageLevel.MEMORY_AND_DISK)
    n_rows = walks.count()
    nbrs.unpersist()
    return walks, {
        "steps": emitted,
        "rows": n_rows,
        "secs": round(time.time() - t0, 3),
    }
