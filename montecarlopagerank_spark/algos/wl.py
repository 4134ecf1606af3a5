"""1-WL (Weisfeiler-Leman) structural color refinement as DataFrame aggs.

New-engine scope (no reference twin — the reference ships only
PageRank). 1-WL iteratively refines a per-vertex "color" by hashing the
vertex's own color together with the MULTISET of its neighbours'
colors (Weisfeiler-Leman 1968; the expressiveness ceiling of
message-passing GNNs — Xu et al. ICLR 2019 —, so WL colors ARE the
classic structural feature/fingerprint for graph ML, and equal-color
vertices are structurally indistinguishable to any MPNN). Color₀ is
the (out, in) degree pair — md5(outdeg || '|' || indeg), in that
order, matching contract._wl_sql; ``rounds`` of refinement
distinguish vertices whose r-hop neighbourhoods differ.

Multiset encoding WITHOUT per-vertex sorting: a hub vertex must never
``collect_list`` its 10^9 neighbour colors. The neighbour multiset is
summarized as ``(Σ h(color), count)`` where ``h`` = the first 8 hex
chars of md5 as an integer — commutative and associative, so the
aggregate map-side combines (hub fan-in collapses to per-partition
partials), order-insensitive by construction (no parallelism
sensitivity), and bounded: h < 2^32, so Σ over ≤ 2^31 neighbours stays
< 2^63 (no ANSI overflow). Collisions (two different multisets, equal
sum AND count) are ~2^-32-rare and only ever MERGE colors — the
refinement stays a valid (slightly coarser, deterministically so)
structural partition, the standard hash-WL trade. md5 is the one hash
both engines share, so the unrolled DuckDB twin replays the colors
byte-for-byte (contract.py ``_wl_sql``).

Scale shape: directed neighbour multisets (in- and out- separately —
direction matters on this graph) via two map-side-combined aggregates
per round over the pinned edge table; only the O(V) color table moves
(``shuffle_hash``); ONE state write per round, plus a map-side-
combined distinct-count aggregate over the materialized O(V) state
(observed metrics cannot carry DISTINCT, and the classic WL stability
signal — the partition only ever splits, so distinct-count equality
across rounds ⇔ stability — must be exact to be reportable)."""

from __future__ import annotations

import time
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from montecarlopagerank_spark.operators.propagate import fill, pin
from montecarlopagerank_spark.operators.state import StateStore


def _h(col: Column) -> Column:
    """Numeric hash in [0, 2^32) both engines can reproduce: first 8 hex
    chars of md5."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def wl_colors(
    spark: SparkSession,
    edges: DataFrame,
    rounds: int = 3,
) -> tuple[DataFrame, dict[str, Any]]:
    """``edges(src, dst)`` → (``colors(v, color)``, info): 1-WL colors
    after ``rounds`` refinements of the directed simple graph (parallel
    edges deduped; self-loops count in both degree directions).
    ``color`` is a 32-hex md5 string; equal colors ⇔ (hash-)equivalent
    ≤rounds-hop neighbourhood structure. ``info['n_colors']`` is the
    final distinct-color count, ``info['stable']`` True iff the
    partition stopped splitting before the last round."""
    t0 = time.time()
    store = StateStore(spark)

    d = fill(pin(edges.select("src", "dst").distinct(), "src"))
    verts = store.materialize(
        d.select(F.col("src").alias("v"))
        .unionByName(d.select(F.col("dst").alias("v")))
        .distinct(),
        "wl_verts",
    )

    outdeg = d.groupBy(F.col("src").alias("v")).agg(
        F.count(F.lit(1)).alias("od")
    )
    indeg = d.groupBy(F.col("dst").alias("v")).agg(F.count(F.lit(1)).alias("id_"))
    colors = store.materialize(
        verts.join(outdeg.hint("shuffle_hash"), "v", "left")
        .join(indeg.hint("shuffle_hash"), "v", "left")
        .select(
            "v",
            F.md5(
                F.concat(
                    F.coalesce("od", F.lit(0)).cast("string"),
                    F.lit("|"),
                    F.coalesce("id_", F.lit(0)).cast("string"),
                )
            ).alias("color"),
        ),
        "wl_colors",
    )

    def n_distinct(df: DataFrame) -> int:
        return int(
            df.agg(F.count_distinct(F.col("color")).alias("k")).collect()[0]["k"]
        )

    prev_k = n_distinct(colors)

    done, stable = 0, False
    for it in range(rounds):
        cs = colors.withColumnRenamed("v", "src").withColumnRenamed(
            "color", "c_src"
        )
        cd = colors.withColumnRenamed("v", "dst").withColumnRenamed(
            "color", "c_dst"
        )
        # out-neighbour multiset summary: Σh(dst color), count — per src
        om = (
            d.join(cd.hint("shuffle_hash"), "dst")
            .groupBy(F.col("src").alias("v"))
            .agg(F.sum(_h(F.col("c_dst"))).alias("os"), F.count(F.lit(1)).alias("oc"))
        )
        im = (
            d.join(cs.hint("shuffle_hash"), "src")
            .groupBy(F.col("dst").alias("v"))
            .agg(F.sum(_h(F.col("c_src"))).alias("is_"), F.count(F.lit(1)).alias("ic"))
        )
        colors = store.materialize(
            colors.join(om.hint("shuffle_hash"), "v", "left")
            .join(im.hint("shuffle_hash"), "v", "left")
            .select(
                "v",
                F.md5(
                    F.concat(
                        F.col("color"),
                        F.lit("|"),
                        F.coalesce("os", F.lit(0)).cast("string"),
                        F.lit("|"),
                        F.coalesce("oc", F.lit(0)).cast("string"),
                        F.lit("|"),
                        F.coalesce("is_", F.lit(0)).cast("string"),
                        F.lit("|"),
                        F.coalesce("ic", F.lit(0)).cast("string"),
                    )
                ).alias("color"),
            ),
            "wl_colors",
        )
        k = n_distinct(colors)
        done += 1
        if k == prev_k:
            # partition stopped splitting: WL-stable. Do NOT stop —
            # color VALUES still re-hash each round, and the unrolled
            # twin runs the full ``rounds``, so the engine must too;
            # stability is reported, not acted on.
            stable = True
        prev_k = k

    d.unpersist()
    out = fill(colors.persist(StorageLevel.MEMORY_AND_DISK))
    return out, {
        "rounds": done,
        "stable": stable,
        "n_colors": prev_k,
        "secs": round(time.time() - t0, 3),
    }
