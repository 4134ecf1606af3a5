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
(v, label) collapses duplicates early; the loop-invariant symmetric edge
table is cached pre-partitioned by the join key so each superstep
exchanges only the O(V) label table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from montecarlopagerank_spark.operators.state import StateStore


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
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    e = edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
    sym = (
        e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .filter("u != v")
        .distinct()
        # loop-invariant; the explicit repartition by the join key makes
        # the cached partitioning visible to the loop planner, so each
        # superstep's join exchanges only the O(V) label table, never the
        # O(E) symmetric edge table (same AQE-cache opacity as
        # pagerank_power — see the comment there)
        .repartition(n_parts, "u")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    verts = (
        vertices.select(F.col("vid").alias("v"))
        if vertices is not None
        else sym.select("u").withColumnRenamed("u", "v").distinct()
    )
    store = StateStore(spark)  # flat per-superstep materializer (state.py)
    ckpt, labels, start, done = None, None, 0, False
    if checkpoint_dir:
        from montecarlopagerank_spark.operators.checkpoint import (
            CheckpointManager,
        )

        ckpt = CheckpointManager(
            spark, checkpoint_dir, {"algo": "lpa", "format": 1}
        )
        if resume and (last := ckpt.last_complete_step()) is not None:
            labels = ckpt.load_tables(last, ["labels"])["labels"]
            done = bool(ckpt.manifest(last)["metrics"].get("converged"))
            start = last + 1
    if labels is None:
        labels = store.materialize(
            verts.select("v", F.col("v").alias("label")), "labels"
        )

    for it in range(start, max_iters if not done else start):
        # shuffle_hash on the O(V) label side: without the hint the
        # planner picks sort-merge and re-SORTS the cached O(E) symmetric
        # edge table every superstep — the repartition above avoids the
        # per-step exchange but not the sort (same reasoning as the
        # pagerank_power loop join; labels must also never broadcast —
        # a driver-serial hash build per superstep at scale)
        nbr_labels = sym.join(
            labels.withColumnRenamed("v", "u").hint("shuffle_hash"), "u"
        ).select("v", "label")
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
        # changed-count rides the write job as an observed metric — one
        # Spark job per superstep, no separate count() action
        obs = Observation(f"lpa_step_{it}")
        observed = updated.observe(
            obs, F.sum(F.when(F.col("changed"), 1).otherwise(0)).alias("nc")
        ).select("v", "label")
        if ckpt:
            # parquet write = the superstep's ONE job; manifest after
            labels = ckpt.save_step(
                it, {"labels": observed}, {"converged": False}
            )["labels"]
        else:
            labels = store.materialize(observed, "labels")
        nc = int(obs.get["nc"] or 0)
        if ckpt:
            ckpt.update_metrics(it, {"n_changed": nc, "converged": nc == 0})
        if nc == 0:
            break
    sym.unpersist()
    return labels
