"""Connected components via alternating small-star / large-star.

Algorithm: Kiveris, Lattanzi, Mirrokni, Rastogi, Vassilvitskii,
"Connected Components in MapReduce and Beyond" (SoCC 2014) — the exact
algorithm named by BASELINE.json's north_star (no reference code exists;
SURVEY.md §2.7). Components are over the undirected simple closure of the
edge set (operators/propagate.py). Output labels are exact: every vertex
gets the minimum vid of its component, so results are deterministic and
parallelism-invariant.

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
triple observed on the round's write (state.py), not the two extra
``exceptAll`` jobs a symmetric-difference check costs. Two independent
10^9-range hash sums agreeing while the sets differ needs a ~2^-60
coincidence; star operators also provably never
cycle between distinct sets of equal size (they monotonically lower the
sum of pair minima), so a stale fixpoint read is not a failure mode we
can hit in practice.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from montecarlopagerank_spark.operators.checkpoint import open_store
from montecarlopagerank_spark.operators.propagate import both_ways, pairs

_P1 = 1_000_000_007
_P2 = 998_244_353


def _pair_stats() -> tuple:
    """The pair-set fingerprint's hash sums; its count is the observed ``n``."""
    return (
        F.sum(F.pmod(F.xxhash64("x", "y"), F.lit(_P1))).alias("h1"),
        F.sum(F.pmod(F.xxhash64("x", "y", F.lit(1)), F.lit(_P2))).alias("h2"),
    )


def _large_star(p: DataFrame) -> DataFrame:
    """p(x<y) → new canonical pairs. Views each pair from both endpoints."""
    sym = both_ways(p, "u", "v")
    m = sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
    out = (
        sym.join(m, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("x"), F.col("m").alias("y"))
    )
    return pairs(out, "x", "y")


def _small_star(p: DataFrame) -> DataFrame:
    """p(x<y) → new canonical pairs. Views each pair from the larger end."""
    le = p.select(F.col("y").alias("u"), F.col("x").alias("v"))  # v < u
    m = le.groupBy("u").agg(F.min("v").alias("m"))
    out = (
        le.join(m, "u")
        .select(F.col("v").alias("x"), F.col("m").alias("y"))
        .unionByName(m.select(F.col("u").alias("x"), F.col("m").alias("y")))
    )
    return pairs(out, "x", "y")


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
        p, row = store.observe(pairs(edges), "pairs", *_pair_stats())
        prev = fp(row)
    for it in range(start, max_iters if not done else start):
        p, metrics = store.observe(
            _small_star(_large_star(p)), "pairs", *_pair_stats(), step=it,
            record=lambda r: {"fingerprint": list(fp(r)),
                              "converged": fp(r) == prev})
        if metrics["converged"]:  # fixpoint (module docstring: checksum safety)
            break
        prev = tuple(metrics["fingerprint"])
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
