"""Triangle counting via degree-ordered edge orientation (node-iterator++).

North-rule algorithm with no reference implementation (SURVEY.md §2.7).
Counts triangles in the undirected simple closure of the edge set, the
canonical pair set ``pairs`` of operators/propagate.py.

Skew story (the reason for degree ordering): orient every undirected edge
from the endpoint with smaller (degree, vid) to the larger. Every vertex's
*oriented* out-degree is then O(sqrt(m)) even for mega-hubs, so the wedge
self-join ``o ⋈ o on wedge apex`` cannot blow up on hub vertices — the
classic MapReduce triangle trick (Suri & Vassilvitskii, WWW 2011). A
naive self-join on the raw adjacency would square a hub's degree.

Wholly DataFrame: distinct undirected edges → degree table (broadcast
when small; shuffle-join otherwise) → orientation → one self-join to form
wedges → one semi-join against the oriented edge set to close them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from montecarlopagerank_spark.operators.propagate import pairs


def _degree(und: DataFrame) -> DataFrame:
    """``(v, d)``: the simple undirected degree over the pair set ``und``."""
    return (
        und.select(F.col("x").alias("v"))
        .unionByName(und.select(F.col("y").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("d"))
    )


def _oriented(edges: DataFrame) -> DataFrame:
    """Orient each undirected edge by (degree, vid) ascending → (lo, hi)."""
    und = pairs(edges)
    deg = _degree(und)
    dx = deg.select(F.col("v").alias("x"), F.col("d").alias("dx"))
    dy = deg.select(F.col("v").alias("y"), F.col("d").alias("dy"))
    j = und.join(dx, "x").join(dy, "y")
    lo_first = (F.col("dx") < F.col("dy")) | (
        (F.col("dx") == F.col("dy")) & (F.col("x") < F.col("y"))
    )
    return j.select(
        F.when(lo_first, F.col("x")).otherwise(F.col("y")).alias("lo"),
        F.when(lo_first, F.col("y")).otherwise(F.col("x")).alias("hi"),
    )


def _triangles(o: DataFrame) -> DataFrame:
    """The closed triangles ``(b, c, apex)`` of the oriented edges ``o``,
    each once: apex is the triangle's (degree, vid)-smallest vertex."""
    a = o.select(F.col("lo").alias("apex"), F.col("hi").alias("b"))
    b = o.select(F.col("lo").alias("apex"), F.col("hi").alias("c"))
    wedges = a.join(b, "apex").filter(F.col("b") < F.col("c"))
    # close the wedge: (b, c) must be an oriented edge; orientation of (b,c)
    # is unknown, so check both directions via a semi-join on the union
    closing = o.select(F.col("lo").alias("b"), F.col("hi").alias("c")).unionByName(
        o.select(F.col("hi").alias("b"), F.col("lo").alias("c"))
    )
    return wedges.join(closing, ["b", "c"], "left_semi")


def triangle_count(spark: SparkSession, edges: DataFrame) -> int:
    """Total triangle count (undirected closure)."""
    o = _oriented(edges).persist()
    n = _triangles(o).count()
    o.unpersist()
    return n


def triangles_per_vertex(spark: SparkSession, edges: DataFrame) -> DataFrame:
    """``(v:long, triangles:long)`` — per-vertex triangle participation."""
    tri = _triangles(_oriented(edges))
    return (
        tri.select(F.col("apex").alias("v"))
        .unionByName(tri.select(F.col("b").alias("v")))
        .unionByName(tri.select(F.col("c").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("triangles"))
    )


def four_clique_count(spark: SparkSession, edges: DataFrame) -> int:
    """Total 4-clique (K₄) count of the undirected closure — the next
    motif up from triangles (graph "cliquishness" beyond pairwise
    closure; Chiba-Nishizeki 1985 arboricity bound governs the cost).

    Counting discipline: with the same total order π = (degree, vid)
    that orients edges, each K₄ is counted EXACTLY once as (its three
    π-smallest vertices' oriented triangle) + (its π-max vertex d
    reached by three oriented edges) — apex is forced to the π-min of
    the triangle by the wedge join, d is forced to the π-max of the
    clique because all three closing edges must point AT it.

    Scale shape: inherits the orientation's O(√m) out-degree bound —
    the d-extension joins fan out each oriented triangle over the
    apex's oriented adjacency, then two semi-like equi-joins prune to
    common neighbours; nothing ever squares a raw hub degree.
    """
    o = _oriented(edges).persist()
    tri = _triangles(o)
    e1 = o.select(F.col("lo").alias("apex"), F.col("hi").alias("d"))
    e2 = o.select(F.col("lo").alias("b"), F.col("hi").alias("d"))
    e3 = o.select(F.col("lo").alias("c"), F.col("hi").alias("d"))
    n = (
        tri.join(e1, "apex")
        .join(e2, ["b", "d"], "left_semi")
        .join(e3, ["c", "d"], "left_semi")
        .count()
    )
    o.unpersist()
    return n


def clustering_coefficient(spark: SparkSession, edges: DataFrame) -> DataFrame:
    """Per-vertex local clustering coefficient on the undirected closure:
    ``cc(v) = 2·T(v) / (d(v)·(d(v)−1))`` with ``T(v)`` the triangles through
    ``v`` and ``d(v)`` the simple undirected degree (``cc = 0`` for
    ``d < 2``). North-rule analytics op with no reference implementation
    (the reference stops at PageRank — SURVEY.md §2.7 extensions).

    Scale shape: the triangle side inherits the degree-oriented wedge join
    (O(sqrt(m)) oriented out-degree even at mega-hubs); the degree side is
    one hash agg over the distinct undirected edge set; the final
    assembly is a single O(V)-vs-O(V) join. ``cc`` is one IEEE-double
    multiply+divide — bit-identical to any SQL twin computing
    ``2.0·T/(d·(d−1))``, so the value is hash-checkable.
    """
    deg = _degree(pairs(edges)).withColumnRenamed("d", "deg")
    tri = triangles_per_vertex(spark, edges)
    d = F.col("deg").cast("double")
    return (
        deg.join(tri, "v", "left")
        .select(
            "v",
            F.col("deg").cast("long").alias("deg"),
            F.coalesce(F.col("triangles"), F.lit(0)).cast("long").alias("triangles"),
            F.round(
                F.when(
                    F.col("deg") >= 2,
                    F.lit(2.0)
                    * F.coalesce(F.col("triangles"), F.lit(0)).cast("double")
                    / (d * (d - F.lit(1.0))),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("cc_r6"),
        )
    )
