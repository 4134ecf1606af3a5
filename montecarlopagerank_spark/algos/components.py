"""Connected components via alternating small-star / large-star.

Algorithm: Kiveris, Lattanzi, Mirrokni, Rastogi, Vassilvitskii,
"Connected Components in MapReduce and Beyond" (SoCC 2014) — the exact
algorithm named by BASELINE.json's north_star (no reference code exists;
SURVEY.md §2.7). Components are over the *undirected* closure of the edge
set. Output labels are exact: every vertex gets the minimum vid of its
component, so results are deterministic and parallelism-invariant.

Edges are treated as undirected node pairs throughout; each star op views
the pair from the directions it needs (large-star from both endpoints,
small-star from the larger endpoint), exactly as in the paper's MapReduce
formulation:

  large-star(u):  m = min(Γ(u) ∪ {u});  emit (v, m) for v ∈ Γ(u), v > u
  small-star(u):  over N≤ = {v ∈ Γ(u): v < u}: m = min(N≤);
                  emit (v, m) for v ∈ N≤ ∪ {u}, v ≠ m

Both are one groupBy(min) + one join + a conditional projection — pure
DataFrame, partial-aggregable, O(log n) rounds on real-world graphs. Per
round the pair set is materialized to parquet (flat plan, bounded
lineage); the fixpoint test is a (count, Σ hash, Σ salted-hash) checksum
triple that rides the materialize as observed metrics — ONE Spark job per
round instead of the two extra ``exceptAll`` jobs a symmetric-difference
check costs. Two independent 10^9-range hash sums agreeing while the sets
differ needs a ~2^-60 coincidence; star operators also provably never
cycle between distinct sets of equal size (they monotonically lower the
sum of pair minima), so a stale fixpoint read is not a failure mode we
can hit in practice.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from montecarlopagerank_spark.operators.checkpoint import open_store

_P1 = 1_000_000_007
_P2 = 998_244_353


def _pair_stats(name: str):
    """(Observation, metric columns) for the pair-set fingerprint."""
    obs = Observation(name)
    cols = (
        F.count(F.lit(1)).alias("n"),
        F.sum(F.pmod(F.xxhash64("x", "y"), F.lit(_P1))).alias("h1"),
        F.sum(F.pmod(F.xxhash64("x", "y", F.lit(1)), F.lit(_P2))).alias("h2"),
    )
    return obs, cols


def _pairs(edges: DataFrame, a: str = "src", b: str = "dst") -> DataFrame:
    """Canonical undirected loop-free pair set (x < y), deduplicated."""
    return (
        edges.filter(F.col(a) != F.col(b))
        .select(F.least(a, b).alias("x"), F.greatest(a, b).alias("y"))
        .distinct()
    )


def _large_star(p: DataFrame) -> DataFrame:
    """p(x<y) → new canonical pairs. Views each pair from both endpoints."""
    sym = p.select(F.col("x").alias("u"), F.col("y").alias("v")).unionByName(
        p.select(F.col("y").alias("u"), F.col("x").alias("v"))
    )
    m = sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
    out = (
        sym.join(m, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("x"), F.col("m").alias("y"))
    )
    return _pairs(out, "x", "y")


def _small_star(p: DataFrame) -> DataFrame:
    """p(x<y) → new canonical pairs. Views each pair from the larger end."""
    le = p.select(F.col("y").alias("u"), F.col("x").alias("v"))  # v < u
    m = le.groupBy("u").agg(F.min("v").alias("m"))
    out = (
        le.join(m, "u")
        .select(F.col("v").alias("x"), F.col("m").alias("y"))
        .unionByName(m.select(F.col("u").alias("x"), F.col("m").alias("y")))
    )
    return _pairs(out, "x", "y")


def connected_components(
    spark: SparkSession,
    edges: DataFrame,
    vertices: DataFrame | None = None,
    max_iters: int = 50,
    checkpoint_dir: str | None = None,
    resume: bool = False,
) -> DataFrame:
    """``edges(src, dst)`` → ``components(v:long, component:long)`` where
    component = min vid of the vertex's undirected component. Isolated
    vertices from ``vertices`` get component = own vid.

    With ``checkpoint_dir``, every star round commits the pair set + a
    manifest carrying the fixpoint fingerprint (same contract as
    pagerank_power); ``resume=True`` continues from the last complete
    round — bit-identical final labels, since each round is a pure
    function of the committed pair set."""
    # format 2: every committed round's manifest carries its fingerprint
    store, last = open_store(
        spark, checkpoint_dir, {"algo": "cc", "format": 2}, resume
    )  # flat per-round materializer (state.py), durable with checkpoint_dir

    def fp(d: dict) -> tuple:
        return (d["n"], d["h1"], d["h2"])

    start, done = 0, False
    if last is not None:
        metrics = store.manifest(last)["metrics"]
        p = store.load_tables(last, ["pairs"])["pairs"]
        prev, done = tuple(metrics["fingerprint"]), metrics["converged"]
        start = last + 1
    else:
        obs0, cols0 = _pair_stats("cc_init")
        p = store.materialize(_pairs(edges).observe(obs0, *cols0), "pairs")
        prev = fp(obs0.get)
    for it in range(start, max_iters if not done else start):
        obs, cols = _pair_stats(f"cc_round_{it}")
        nxt = _small_star(_large_star(p)).observe(obs, *cols)

        def round_metrics() -> dict:
            cur = fp(obs.get)  # ready once the write job has run
            return {"fingerprint": list(cur), "converged": cur == prev}

        p = store.save_step(it, {"pairs": nxt}, round_metrics)["pairs"]
        cur = fp(obs.get)
        if cur == prev:  # fixpoint (see module docstring on checksum safety)
            break
        prev = cur
    # at fixpoint p is a star set (child y? no: canonical x<y with x = root)
    labels = p.select(F.col("y").alias("v"), F.col("x").alias("component")).groupBy(
        "v"
    ).agg(F.min("component").alias("component"))
    roots = labels.select(
        F.col("component").alias("v"), F.col("component")
    ).distinct()
    labels = labels.unionByName(roots).groupBy("v").agg(
        F.min("component").alias("component")
    )
    if vertices is not None:
        labels = (
            vertices.select(F.col("vid").alias("v"))
            .join(labels, "v", "left")
            .select("v", F.coalesce("component", F.col("v")).alias("component"))
        )
    return labels
