"""Propagation core of the link-analysis rankers, and the undirected
simple closure of the graph modules.

Power-iteration PageRank (algos/pagerank_power.py), Katz/eigenvector
centrality (katz.py), HITS (hits.py) and SALSA (salsa.py) all run one
sparse matrix-vector product per (half-)superstep, with different edge
weights (SURVEY.md §2.6-2.7). This module holds that product's plan once;
each ranker keeps its own update, normalization, metrics and store calls.

The north-rule algorithms (CC, LPA, triangles, k-core, BFS, …; SURVEY.md
§2.7) work over the *undirected simple closure* of the edge table:
self-loops dropped, parallel and reversed edges collapsed. Its canonical
form is the loop-free distinct pair set ``(x, y)``, ``x < y`` of Kiveris
et al. (SoCC 2014), ``pairs``; ``both_ways`` views each pair from both
endpoints; ``neighbours`` is the loop-invariant ``(u, x)`` step table
(both orientations, or ``src → dst`` only for a directed traversal) a
loop joins its frontier or labels to, and follows the cache rules below
exactly as the edge cache does. Each algorithm keeps its own
loop, joins, metrics and store calls.

This module is the one place that knows the partition count. Every
cache boundary and every loop-side exchange of the graph modules
hash-partitions into the session's ``spark.sql.shuffle.partitions``
with an explicit number (``hash_by``): Spark plans ``repartition(n,
key)`` as a REPARTITION_BY_NUM shuffle, which AQE never coalesces, so a
cached table keeps the partitioning every loop join was planned
against (``repartition(key)`` plans REPARTITION_BY_COL, which AQE may
coalesce). The count is a deployment setting, not an algorithm
parameter: RNG is seeded per logical block and per key, never per
physical partition, so every output is the same at any count; and one
count for the whole session means an edge table is never exchanged a
second time into a count its degree join did not plan.

* The loop-invariant edge table is exchanged by its join key ONCE in
  setup and persisted (``edge_cache``), optionally weighted by the key's
  degree or weight sum (a map-side-combined O(V) aggregate joined in the
  same query); every later setup query reads the cache, so the edges
  are exchanged once (at 100 TB that exchange IS the setup cost). A
  superstep then shuffles only the O(V) score vector into the cached
  partitioning, plus the map-side-combined O(V) sum.
* An explicit repartition sits at every cache boundary (``pin``): an
  AQE-planned cached join hides its output partitioning from downstream
  planning, and without a static RepartitionByExpression on top of the
  cache every superstep re-exchanges the cached edges (measured +40%
  PI loop time at 100M edges).
* The score side of every join is hinted ``shuffle_hash`` and never
  broadcast: a broadcast is a driver-serial O(V) hash build per
  superstep, which flatlines core scaling once n·16B slips under the
  broadcast threshold. SHJ streams the cached edges in place (no edge
  sort, no edge exchange) and builds per-partition hash tables in
  parallel — the plan that survives a 100× scale-up.
* A step that consumes its scores twice shares ONE exchange of them.
  ``scores`` repartitions the vector by v, and a caller passes that same
  frame to ``push`` and to its own update join (AQE reuses the identical
  shuffle stage; the state parquet is scanned once). Power iteration's
  (v, rank, dang) state is the case: its push mass is written
  ``when(dang, 0.0).otherwise(rank·w)`` — a semantic no-op, since an
  edge's src always has an out-edge, but a real reference that column
  pruning cannot remove — so both consumers read the same columns; both
  joins use explicit column conditions, never a rename over the scores
  (an alias project is pushed below the repartition and de-unifies the
  branches); and the explicit ``isNotNull(v)`` filter above the
  repartition matches the constraint the inner push join would
  otherwise infer and push below its side of the exchange alone. Without
  all three each consumer pays its own O(V) state shuffle per step.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Row
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

OTHER = {"src": "dst", "dst": "src"}


def hash_by(df: DataFrame, *keys: str) -> DataFrame:
    """``df`` hash-partitioned by ``keys`` into the session's shuffle
    partitions (module docstring: the partition rule)."""
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return df.repartition(n, *keys)


def pin(df: DataFrame, *keys: str) -> DataFrame:
    """``df`` hash-partitioned by ``keys`` at the cache boundary, persisted."""
    return hash_by(df, *keys).persist(StorageLevel.MEMORY_AND_DISK)


def fill(df: DataFrame) -> DataFrame:
    """Materialize the persisted ``df`` in setup, not inside step 0's job.
    A noop write scans every partition without ``count()``'s aggregate
    exchange, one Spark job fewer with AQE on."""
    df.write.format("noop").mode("overwrite").save()
    return df


def pairs(edges: DataFrame, a: str = "src", b: str = "dst") -> DataFrame:
    """The canonical loop-free distinct ``(x, y)``, ``x < y``, of
    ``edges(a, b)``: the undirected simple closure."""
    return (
        edges.filter(F.col(a) != F.col(b))
        .select(F.least(a, b).alias("x"), F.greatest(a, b).alias("y"))
        .distinct()
    )


def both_ways(p: DataFrame, a: str, b: str) -> DataFrame:
    """Each pair row ``(x, y)`` of ``p`` as ``(a=x, b=y)`` and ``(a=y, b=x)``."""
    return p.select(F.col("x").alias(a), F.col("y").alias(b)).unionByName(
        p.select(F.col("y").alias(a), F.col("x").alias(b))
    )


def neighbours(edges: DataFrame, directed: bool = False) -> DataFrame:
    """``(u, x)``: the loop-free distinct steps of ``edges(src, dst)`` —
    both orientations, or ``src → dst`` only when ``directed`` — pinned
    by ``u`` and filled in setup."""
    e = edges.select(F.col("src").alias("u"), F.col("dst").alias("x"))
    if not directed:
        e = e.unionByName(
            edges.select(F.col("dst").alias("u"), F.col("src").alias("x")))
    return fill(pin(e.filter(F.col("u") != F.col("x")).distinct(), "u"))


def edge_cache(edges: DataFrame, key: str, norm: bool = False,
               weight: str | None = None) -> DataFrame:
    """``edges(src, dst)`` pinned by ``key`` and filled. With ``norm`` it
    carries ``w`` = 1/degree of the key (PI's 1/out_deg, SALSA's
    1/outdeg and 1/indeg), or ``weight``/the key's weight sum. A
    multigraph's duplicate rows and its collapsed (src, dst,
    weight=multiplicity) form give the same ``w``."""
    e = edges.select("src", "dst", *([weight] if weight else []))
    if norm:
        total = F.count("*") if weight is None else F.sum(weight)
        deg = e.groupBy(key).agg(total.alias("deg"))  # map-side combined
        w = F.lit(1.0) if weight is None else F.col(weight)
        e = hash_by(e, key).join(deg.hint("shuffle_hash"), key).select(
            "src", "dst", (w / F.col("deg")).alias("w"))
    return fill(pin(e, key))


def vertex_set(by_src: DataFrame, vertices: DataFrame | None = None) -> DataFrame:
    """``(v, dang)``: the ids of ``vertices(vid)``, else every endpoint of
    the src-keyed edge cache; ``dang`` flags a vertex without out-edges."""
    ids = (
        vertices.select(F.col("vid").alias("v"))
        if vertices is not None
        else by_src.select(F.col("src").alias("v"))
        .unionByName(by_src.select(F.col("dst").alias("v")))
    )
    has_out = by_src.select(F.col("src").alias("v"), F.lit(False).alias("dang"))
    return ids.distinct().join(
        has_out.distinct().hint("shuffle_hash"), "v", "left"
    ).select("v", F.coalesce("dang", F.lit(True)).alias("dang"))


class Propagation:
    """One ranker call's loop-invariant tables: an edge cache per join key
    in ``keys`` (``edges[key]``; "src" comes first, the vertex table
    reads it) and the v-partitioned vertex table
    ``verts(v, dang[, is_src])``, where ``is_src`` flags the ``sources``
    ids (personalized PageRank)."""

    def __init__(self, edges: DataFrame, vertices: DataFrame | None,
                 keys: tuple[str, ...] = ("src",), norm: bool = False,
                 weight: str | None = None, sources: DataFrame | None = None):
        self.edges = {k: edge_cache(edges, k, norm, weight) for k in keys}
        verts = vertex_set(self.edges["src"], vertices)
        if sources is not None:
            s = sources.select("v").distinct().withColumn("is_src", F.lit(True))
            verts = verts.join(s, "v", "left").select(
                "v", "dang", F.coalesce("is_src", F.lit(False)).alias("is_src"))
        self.verts = pin(verts, "v")

    def count(self, *aggs) -> Row:
        """One setup job: fill the vertex table and return its row count
        ``n`` with ``aggs``. An empty graph releases every cache here."""
        row = self.verts.agg(F.count("*").alias("n"), *aggs).collect()[0]
        if row["n"] == 0:
            self.close()
        return row

    def empty(self, *cols: str) -> DataFrame:
        """The result of an empty graph: no rows, ``v`` plus ``cols``."""
        return self.verts.select("v", *(F.lit(0.0).alias(c) for c in cols))

    def scores(self, df: DataFrame) -> DataFrame:
        """A ``(v, …)`` score vector as ``push`` joins it (module
        docstring: pass the same frame to a second consumer)."""
        return hash_by(df, "v").filter(F.col("v").isNotNull())

    def push(self, scores: DataFrame, key: str, mass: Column) -> DataFrame:
        """``(vc, m)``: Σ ``mass`` over the ``key``-cached edges, joined to
        ``scores`` (from :meth:`scores`) on ``key == v`` and summed by
        their other end (partial + final hash aggregate)."""
        cache = self.edges[key]
        return (
            cache.join(scores.hint("shuffle_hash"), cache[key] == scores["v"])
            .select(F.col(OTHER[key]).alias("vc"), mass.alias("m"))
            .groupBy("vc")
            .agg(F.sum("m").alias("m"))
        )

    def gather(self, pushed: DataFrame, onto: DataFrame | None = None
               ) -> DataFrame:
        """``push``'s ``(vc, m)`` left-joined onto every row of ``onto``
        (default: the vertex table) by ``v``; ``m`` is null where no mass
        arrived. Both sides are v-partitioned, so the join adds no
        exchange."""
        onto = self.verts if onto is None else onto
        return onto.join(pushed.hint("shuffle_hash"), onto["v"] == pushed["vc"],
                         "left")

    def close(self) -> None:
        for df in (*self.edges.values(), self.verts):
            df.unpersist()
