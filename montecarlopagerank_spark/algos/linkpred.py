"""Link prediction over the undirected closure: hub-capped common-neighbor
counts and Jaccard scores for non-adjacent vertex pairs.

North-rule analytics extension (no reference implementation — the reference
repo stops at PageRank); the natural next query a link-graph user runs
after centrality: "which unlinked pairs are most likely to link?"

Semantics — hub-capped common neighbors
---------------------------------------
Exact all-pairs common-neighbor counting is output-bound Ω(Σ d(d−1)/2):
a degree-d apex contributes d(d−1)/2 candidate pairs, so one 10^7-degree
hub alone yields ~5·10^13 wedges — no partitioning strategy survives
that, it's the answer itself that is too big. The standard web-scale cut
is to EXCLUDE super-hub apexes from mediating wedges (their endorsement
carries ~no signal — the same reasoning Adamic-Adar encodes by 1/log d
weighting): ``common(a,b)`` counts only shared neighbours w with
``deg(w) <= max_apex_degree``. That bounds the wedge join at
cap·Σ_{d<=cap} d — linear in E for constant cap — and the semantic is
deterministic and SQL-expressible, so the driver hash-checks it against
a DuckDB twin applying the identical degree filter.

Shapes: distinct undirected edges → degree hash-agg → wedge self-join
keyed by apex (bounded by the cap) → count by pair → anti-join against
the edge set (only NEW links are predictions) → O(V) degree joins for
the Jaccard denominator. All built-in column expressions, zero UDFs;
``jaccard = common / (deg_a + deg_b − common)`` is a single IEEE-double
division, bit-identical across engines, so rounding to 6 is hash-stable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from montecarlopagerank_spark.operators.propagate import both_ways, pairs


def common_neighbors_topk(
    spark: SparkSession,
    edges: DataFrame,
    k: int = 50,
    max_apex_degree: int = 64,
) -> DataFrame:
    """Top-k non-adjacent pairs by hub-capped common-neighbor count.

    Returns ``(a, b, common:long, jaccard_r6:double)`` with ``a < b``,
    ordered by (common DESC, a, b) — a total order, so the k-cut is
    deterministic. ``jaccard`` uses the FULL simple undirected degrees in
    the denominator; only the intersection count is apex-capped (see
    module docstring).
    """
    und = pairs(edges)
    sym = both_ways(und, "v", "w")
    deg = sym.groupBy("v").agg(F.count("*").alias("deg"))
    # wedges mediated by capped-degree apexes only; the self-join key is
    # the apex, so each task's blow-up is bounded by cap^2
    apex_nbrs = sym.withColumnRenamed("v", "apex").join(
        deg.filter(F.col("deg") <= max_apex_degree)
        .select(F.col("v").alias("apex")),
        "apex",
        "left_semi",
    )
    a_side = apex_nbrs.select("apex", F.col("w").alias("a"))
    b_side = apex_nbrs.select("apex", F.col("w").alias("b"))
    cand = (
        a_side.join(b_side, "apex")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("common"))
    )
    # predictions are NEW links only: drop pairs already adjacent
    fresh = cand.join(
        und.select(F.col("x").alias("a"), F.col("y").alias("b")),
        ["a", "b"],
        "left_anti",
    )
    da = deg.select(F.col("v").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("v").alias("b"), F.col("deg").alias("deg_b"))
    c = F.col("common").cast("double")
    return (
        fresh.join(da, "a")
        .join(db, "b")
        .select(
            "a",
            "b",
            F.col("common").cast("long").alias("common"),
            F.round(
                c / (F.col("deg_a") + F.col("deg_b") - c),
                6,
            ).alias("jaccard_r6"),
        )
        .orderBy(F.desc("common"), F.asc("a"), F.asc("b"))
        .limit(k)
    )


def adamic_adar_topk(
    spark: SparkSession,
    edges: DataFrame,
    k: int = 50,
    max_apex_degree: int = 64,
) -> DataFrame:
    """Top-k non-adjacent pairs by Adamic-Adar score
    ``AA(a,b) = Σ_{w ∈ Γ(a)∩Γ(b)} 1/ln(deg(w))`` (Adamic & Adar,
    "Friends and neighbors on the Web", Social Networks 2003) —
    common-neighbor counting where low-degree mediators count more.

    Same hub-capped wedge shape as :func:`common_neighbors_topk` (module
    docstring: excluding super-hub apexes bounds the wedge join AND is
    what 1/log weighting approximates anyway — a capped apex contributes
    ≥ 1/ln(cap), an excluded hub would contribute ~0). Any mediating
    apex has ≥2 distinct neighbours, so deg ≥ 2 and 1/ln(deg) is finite.
    Returns ``(a, b, common:long, aa_r6:double)`` with ``a < b``, ordered
    by (aa_r6 DESC, common DESC, a, b) — rounding before ordering keeps
    the k-cut identical across engines despite float-sum order."""
    und = pairs(edges)
    sym = both_ways(und, "v", "w")
    deg = sym.groupBy("v").agg(F.count("*").alias("deg"))
    # deg >= 2: a degree-1 apex mediates no wedge anyway, and keeping it
    # would evaluate 1/ln(1) (ANSI divide-by-zero) before the a<b filter
    apex_nbrs = sym.withColumnRenamed("v", "apex").join(
        deg.filter((F.col("deg") <= max_apex_degree) & (F.col("deg") >= 2))
        .select(F.col("v").alias("apex"), (1.0 / F.log("deg")).alias("wt")),
        "apex",
    )
    a_side = apex_nbrs.select("apex", "wt", F.col("w").alias("a"))
    b_side = apex_nbrs.select("apex", F.col("w").alias("b"))
    cand = (
        a_side.join(b_side, "apex")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("common"), F.sum("wt").alias("aa"))
    )
    fresh = cand.join(
        und.select(F.col("x").alias("a"), F.col("y").alias("b")),
        ["a", "b"],
        "left_anti",
    )
    return (
        fresh.select(
            "a",
            "b",
            F.col("common").cast("long").alias("common"),
            F.round("aa", 6).alias("aa_r6"),
        )
        .orderBy(F.desc("aa_r6"), F.desc("common"), F.asc("a"), F.asc("b"))
        .limit(k)
    )


def negative_edges(
    spark: SparkSession,
    edges: DataFrame,
    k: int = 5,
    oversample: int = 3,
    salt: str = "neg:",
    n_buckets: int = 1024,
) -> DataFrame:
    """Deterministic NEGATIVE sampling for link-prediction training data:
    for each source vertex, up to ``k`` vertices it has NO directed edge
    to — ``(src, dst, neg_rank)``. The other half of the training set
    next to linkpred/Adamic-Adar positives (every GNN / link-prediction
    trainer consumes (positive, negative) pairs).

    Candidate dst = the vertex at dense index md5(salt+src+'#'+j) mod n,
    j = 0..k·oversample−1 — a pure function of the key set, so reruns,
    engines, and cluster sizes produce identical samples. Collisions
    with real edges and self-pairs are dropped; the first k surviving j
    win (a high-out-degree src can fall short of k — deterministic,
    never padded).

    Scale shape: the dense vertex index is built with the same bucketed
    two-phase scheme as operators/edges.build_vertex_dict — md5 bucket →
    per-bucket row_number → offset prefix-sum (never a single-partition
    global sort) — and global index == position in (bucket, v) lexical
    order, which is ONE window in the DuckDB twin. Candidates explode
    k·oversample rows per src (O(V) total), join the O(V) index table
    and anti-join the edge set, all `shuffle_hash`."""
    from pyspark.sql import Window

    from montecarlopagerank_spark.pipeline.sampling import hash_bucket

    verts = (
        edges.select(F.col("src").alias("v"))
        .unionByName(edges.select(F.col("dst").alias("v")))
        .distinct()
    )
    bucketed = verts.withColumn(
        "bucket", F.pmod(hash_bucket(F.col("v"), "vidx:"), F.lit(n_buckets))
    )
    wb = Window.partitionBy("bucket").orderBy("v")
    local = bucketed.withColumn("rn", F.row_number().over(wb))
    offs = (
        local.groupBy("bucket")
        .agg(F.count("*").alias("cnt"))
        .withColumn(
            "offset",
            F.sum("cnt").over(
                Window.orderBy("bucket").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            ),
        )
        .select("bucket", F.coalesce("offset", F.lit(0)).alias("offset"))
    )
    index = local.join(offs, "bucket").select(
        "v", (F.col("offset") + F.col("rn") - 1).alias("idx")
    )
    n = index.count()
    m = k * oversample
    cand = (
        edges.select("src")
        .distinct()
        .select("src", F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("j"))
        .withColumn(
            "cidx",
            F.pmod(
                hash_bucket(
                    F.concat(F.col("src").cast("string"), F.lit("#"), F.col("j")),
                    salt,
                ),
                F.lit(n),
            ),
        )
        .join(
            index.withColumnRenamed("idx", "cidx")
            .withColumnRenamed("v", "dst")
            .hint("shuffle_hash"),
            "cidx",
        )
        .filter(F.col("dst") != F.col("src"))
        .join(edges.select("src", "dst").distinct(), ["src", "dst"], "left_anti")
    )
    ws = Window.partitionBy("src").orderBy("j")
    return (
        cand.withColumn("neg_rank", F.row_number().over(ws))
        .filter(F.col("neg_rank") <= k)
        .select("src", "dst", "neg_rank")
    )
