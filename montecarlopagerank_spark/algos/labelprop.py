"""Synchronous label propagation (LPA) with deterministic tie-breaking.

North-rule algorithm with no reference implementation (SURVEY.md §2.7).
Labels start as each vertex's own vid; every superstep each vertex adopts
the most frequent label among its (undirected) neighbours, ties broken by
minimum label — so runs are deterministic and parallelism-invariant.
Synchronous LPA can oscillate on bipartite-ish structures, hence the hard
``max_iters`` cap; the fixpoint test is "no vertex changed label".

Shape per superstep: edges ⋈ labels → groupBy(v, label).count() →
groupBy(v).max(struct(cnt, −label)) — the mode with min-label tie-break
as two hash aggregations, both partial-aggregable, no window sort. Hub
vertices with huge neighbourhoods pre-aggregate map-side because
(v, label) collapses duplicates early; the loop-invariant neighbour cache
(operators/propagate.py) is pinned by the join key so each superstep
exchanges only the O(V) label table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from montecarlopagerank_spark.operators.checkpoint import open_store
from montecarlopagerank_spark.operators.propagate import neighbours


def label_propagation(
    spark: SparkSession,
    edges: DataFrame,
    vertices: DataFrame | None = None,
    max_iters: int = 20,
    checkpoint_dir: str | None = None,
    resume: bool = False,
) -> DataFrame:
    """``edges(src,dst)`` → ``labels(v:long, label:long)``.

    With ``checkpoint_dir``, every superstep commits the label table + a
    manifest (same contract as pagerank_power/connected_components);
    ``resume=True`` continues from the last complete superstep —
    identical final labels, since a synchronous LPA step is a pure
    function of the committed label table."""
    # loop-invariant (u, x) neighbour cache (operators/propagate.py)
    sym = neighbours(edges)
    verts = (
        vertices.select(F.col("vid").alias("v"))
        if vertices is not None
        else sym.select(F.col("u").alias("v")).distinct()
    )
    store, last = open_store(
        spark, checkpoint_dir, {"algo": "lpa", "format": 1}, resume
    )  # flat per-superstep materializer (state.py), durable with checkpoint_dir
    start, done = 0, False
    if last is not None:
        labels = store.load_tables(last, ["labels"])["labels"]
        done = store.manifest(last)["metrics"]["converged"]
        start = last + 1
    else:
        labels = store.materialize(
            verts.select("v", F.col("v").alias("label")), "labels"
        )

    for it in range(start, max_iters if not done else start):
        # shuffle_hash on the O(V) label side, never broadcast
        # (operators/propagate.py)
        nbr_labels = sym.join(
            labels.withColumnRenamed("v", "u").hint("shuffle_hash"), "u"
        ).select(F.col("x").alias("v"), "label")
        # mode with min-label tie-break as a pure hash aggregation:
        # min(struct(-cnt, label)) ≡ row_number over (cnt desc, label asc)
        # = 1, but partial-aggregable and without the window's per-
        # partition sort. The count (not the label) is negated so the
        # argmax stays type-generic — labels may be longs (vid graphs) or
        # strings (kind#key graphs), and struct comparison orders either.
        mode = (
            nbr_labels.groupBy("v", "label")
            .agg(F.count("*").alias("cnt"))
            .groupBy("v")
            .agg(
                F.min(
                    F.struct((-F.col("cnt")).alias("negc"), F.col("label"))
                ).alias("m")
            )
            .select("v", F.col("m.label").alias("new_label"))
        )
        updated = (
            labels.join(mode, "v", "left")
            .select(
                "v",
                F.coalesce("new_label", "label").alias("label"),
                (F.coalesce("new_label", "label") != F.col("label")).alias("changed"),
            )
        )
        labels, metrics = store.observe(
            updated, "labels",
            F.sum(F.when(F.col("changed"), 1).otherwise(0)).alias("nc"),
            keep=("v", "label"), step=it,
            record=lambda r: {"n_changed": int(r["nc"] or 0),
                              "converged": not r["nc"]})
        if metrics["converged"]:
            break
    sym.unpersist()
    return labels
