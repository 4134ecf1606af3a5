"""Transcript → edge table builder + deterministic vertex dictionary.

The reference consumed a ready-made edge/adjacency text file
(ConvertNodeLinksToAdjacencyList.scala:16-19); per BASELINE.json the new
engine instead *induces* a directed graph from conversation transcripts:

  * ``turn_chain``: turn i → turn i+1 within each conv_id under stable
    turn ordering (Window.partitionBy(conv_id).orderBy(turn_idx) + lag);
  * ``role_role``:  role(turn i) → role(turn i+1), same chaining;
  * ``turn_tool``:  turn → the tool it references (when tool is not null).

Vertex ids are deterministic dense longs from a *sorted-within-hash-bucket*
dictionary — NOT ``monotonically_increasing_id`` (which depends on task
scheduling) and NOT a single global-sort window (which would bottleneck one
task at 10^12-turn scale). Scheme:

  1. bucket  = pmod(xxhash64(kind, key), B)            -- deterministic hash
  2. local   = row_number() over (partition by bucket order by kind, key)
  3. offsets = cumulative count of buckets 0..b-1       -- B rows, broadcast
  4. vid     = offset[bucket] + local - 1

Every step is a hash-partitioned shuffle or a broadcast join; ids are dense
in [0, n) and identical at any parallelism. ``text`` never enters this
module's output (only conv_id/turn_idx/role/tool are projected), so per-turn
text bytes cannot be disturbed by graph building.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from montecarlopagerank_spark.operators.propagate import both_ways, pairs

VERTEX_BUCKETS = 256


def _typed_edges(transcripts: DataFrame) -> DataFrame:
    """String-keyed typed edges: (src_kind, src_key, dst_kind, dst_key, kind).

    Skinny projection first (conv_id, turn_idx, role, tool) so the parquet
    scan prunes ``text`` entirely — check ReadSchema in .explain().
    """
    t = transcripts.select("conv_id", "turn_idx", "role", "tool")
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    chained = t.withColumn("prev_turn", F.lag("turn_idx").over(w)).withColumn(
        "prev_role", F.lag("role").over(w)
    )

    turn_key = F.concat(F.col("conv_id"), F.lit("#"), F.col("turn_idx").cast("string"))
    prev_turn_key = F.concat(
        F.col("conv_id"), F.lit("#"), F.col("prev_turn").cast("string")
    )

    turn_chain = chained.filter(F.col("prev_turn").isNotNull()).select(
        F.lit("turn").alias("src_kind"),
        prev_turn_key.alias("src_key"),
        F.lit("turn").alias("dst_kind"),
        turn_key.alias("dst_key"),
        F.lit("turn_chain").alias("kind"),
    )
    role_role = chained.filter(F.col("prev_role").isNotNull()).select(
        F.lit("role").alias("src_kind"),
        F.col("prev_role").alias("src_key"),
        F.lit("role").alias("dst_kind"),
        F.col("role").alias("dst_key"),
        F.lit("role_role").alias("kind"),
    )
    turn_tool = t.filter(F.col("tool").isNotNull()).select(
        F.lit("turn").alias("src_kind"),
        turn_key.alias("src_key"),
        F.lit("tool").alias("dst_kind"),
        F.col("tool").alias("dst_key"),
        F.lit("turn_tool").alias("kind"),
    )
    return turn_chain.unionByName(role_role).unionByName(turn_tool)


def timestamped_string_edges(transcripts: DataFrame) -> DataFrame:
    """String-keyed typed edges WITH int64-µs edge times for temporal
    algorithms (algos/temporal_reach.py): ``(src, dst, t)`` where ``t``
    is the µs timestamp of the CURRENT turn — the moment the chain edge
    fires, the role transition happens, or the tool is invoked. Same
    edge multiset as :func:`_typed_edges` keyed ``kind#key``; the skinny
    projection keeps ``text`` out of the scan."""
    t = transcripts.select("conv_id", "turn_idx", "role", "tool", "ts")
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    chained = (
        t.withColumn("prev_turn", F.lag("turn_idx").over(w))
        .withColumn("prev_role", F.lag("role").over(w))
        .withColumn("t", us)
    )
    turn_key = F.concat(
        F.lit("turn#"), F.col("conv_id"), F.lit("#"), F.col("turn_idx").cast("string")
    )
    prev_turn_key = F.concat(
        F.lit("turn#"), F.col("conv_id"), F.lit("#"), F.col("prev_turn").cast("string")
    )
    turn_chain = chained.filter(F.col("prev_turn").isNotNull()).select(
        prev_turn_key.alias("src"), turn_key.alias("dst"), "t"
    )
    role_role = chained.filter(F.col("prev_role").isNotNull()).select(
        F.concat(F.lit("role#"), F.col("prev_role")).alias("src"),
        F.concat(F.lit("role#"), F.col("role")).alias("dst"),
        "t",
    )
    turn_tool = chained.filter(F.col("tool").isNotNull()).select(
        turn_key.alias("src"),
        F.concat(F.lit("tool#"), F.col("tool")).alias("dst"),
        "t",
    )
    return turn_chain.unionByName(role_role).unionByName(turn_tool)


def build_vertex_dict(typed_edges: DataFrame, buckets: int = VERTEX_BUCKETS) -> DataFrame:
    """Distinct (kind, key) → ``vertices(vid:long, kind:string, key:string)``
    with deterministic dense vids (module docstring scheme)."""
    keys = (
        typed_edges.select(F.col("src_kind").alias("kind"), F.col("src_key").alias("key"))
        .unionByName(
            typed_edges.select(
                F.col("dst_kind").alias("kind"), F.col("dst_key").alias("key")
            )
        )
        .distinct()
    )
    bucketed = keys.withColumn(
        "bucket", F.pmod(F.xxhash64("kind", "key"), F.lit(buckets)).cast("int")
    )
    w = Window.partitionBy("bucket").orderBy("kind", "key")
    local = bucketed.withColumn("local_rn", F.row_number().over(w))

    counts = local.groupBy("bucket").agg(F.count("*").alias("cnt"))
    offs = counts.withColumn(
        "offset",
        F.coalesce(
            F.sum("cnt").over(
                Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    ).select("bucket", "offset")  # ≤ `buckets` rows → broadcast join

    return (
        local.join(F.broadcast(offs), "bucket")
        .select(
            (F.col("offset") + F.col("local_rn") - 1).cast("long").alias("vid"),
            "kind",
            "key",
        )
    )


def transcript_edges(
    transcripts: DataFrame,
    vertices: DataFrame | None = None,
    kinds: list[str] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Transcripts → (``edges(src, dst, kind)``, ``vertices(vid, kind, key)``).

    Two hash joins map string keys → vids. The vertex dictionary is tiny
    relative to edges (turns dominate but keys are still ~n_turns) so the
    join shuffles on the key — at 10^12 scale both sides hash-partition on
    the same key and AQE handles skew (hub role/tool keys are on the
    *vertex* side, which is unique per key, so no skew blowup here).
    """
    te = _typed_edges(transcripts)
    if kinds:
        te = te.filter(F.col("kind").isin(kinds))
    if vertices is None:
        vertices = build_vertex_dict(te)
    src_v = vertices.select(
        F.col("kind").alias("src_kind"), F.col("key").alias("src_key"),
        F.col("vid").alias("src"),
    )
    dst_v = vertices.select(
        F.col("kind").alias("dst_kind"), F.col("key").alias("dst_key"),
        F.col("vid").alias("dst"),
    )
    edges = (
        te.join(src_v, ["src_kind", "src_key"])
        .join(dst_v, ["dst_kind", "dst_key"])
        .select("src", "dst", "kind")
    )
    return edges, vertices


def build_graph(transcripts: DataFrame, kinds: list[str] | None = None) -> dict:
    """Convenience bundle: edges, vertices, degrees, n_vertices."""
    edges, vertices = transcript_edges(transcripts, kinds=kinds)
    return {"edges": edges, "vertices": vertices, "degrees": degrees(edges, vertices)}


def degrees(edges: DataFrame, vertices: DataFrame | None = None) -> DataFrame:
    """``deg(v:long, out_deg:long, in_deg:long)`` — vertex set closed over
    ``vertices`` when given (dangling vertices appear with out_deg=0; the
    reference encoded these as empty neighbour arrays,
    MonteCarloPageRank.scala:34-35)."""
    out_d = edges.groupBy(F.col("src").alias("v")).agg(F.count("*").alias("out_deg"))
    in_d = edges.groupBy(F.col("dst").alias("v")).agg(F.count("*").alias("in_deg"))
    base = (
        vertices.select(F.col("vid").alias("v"))
        if vertices is not None
        else out_d.select("v").unionByName(in_d.select("v")).distinct()
    )
    return (
        base.join(out_d, "v", "left")
        .join(in_d, "v", "left")
        .select(
            "v",
            F.coalesce("out_deg", F.lit(0)).alias("out_deg"),
            F.coalesce("in_deg", F.lit(0)).alias("in_deg"),
        )
    )


def vertex_features(edges: DataFrame) -> DataFrame:
    """Per-vertex neighborhood feature table — the standard feature-
    engineering pass before link prediction / GNN training / anomaly
    screens: ``(v, out_deg, in_deg, deg, mean_nbr_deg, wedges)`` where
    ``deg`` counts distinct undirected neighbors, ``sum_nbr_deg`` is the
    exact integer Σ_w deg(w) over them (``mean_nbr_deg`` =
    sum_nbr_deg/deg, the per-vertex assortativity signal, is emitted too
    as a convenience double — exact-comparison consumers should use the
    integer rational pair, which can't hit a float rounding half-tie),
    and ``wedges`` = Σ_w (deg(w) − 1) counts 2-paths ending at v
    (the denominator family for clustering/triangle rates).

    Scale shape: one distinct over the pair set, two map-side-combined
    degree aggs, and ONE degree join keyed by the neighbor side (O(E)
    rows but `shuffle_hash` against the O(V) degree table — never a
    broadcast, never a wedge enumeration: Σ(deg−1) needs the degree
    table, not the Ω(Σd²) wedge join)."""
    sym = both_ways(pairs(edges), "u", "w")
    deg = sym.groupBy(F.col("u").alias("v")).agg(F.count("*").alias("deg"))
    nbr = (
        sym.join(
            deg.withColumnRenamed("v", "w")
            .withColumnRenamed("deg", "wdeg")
            .hint("shuffle_hash"),
            "w",
        )
        .groupBy(F.col("u").alias("v"))
        .agg(
            F.sum("wdeg").alias("sum_nbr_deg"),
            F.sum(F.col("wdeg") - F.lit(1)).alias("wedges"),
        )
    )
    return (
        degrees(edges)
        .join(deg.hint("shuffle_hash"), "v", "left")
        .join(nbr.hint("shuffle_hash"), "v", "left")
        .select(
            "v", "out_deg", "in_deg",
            F.coalesce("deg", F.lit(0)).alias("deg"),
            F.coalesce("sum_nbr_deg", F.lit(0)).alias("sum_nbr_deg"),
            (
                F.coalesce("sum_nbr_deg", F.lit(0))
                / F.greatest(F.coalesce("deg", F.lit(0)), F.lit(1))
            ).alias("mean_nbr_deg"),
            F.coalesce("wedges", F.lit(0)).alias("wedges"),
        )
    )
