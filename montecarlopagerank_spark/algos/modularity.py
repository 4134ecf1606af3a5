"""Newman modularity of a vertex partition — the standard "is this
community structure real?" score for CC / LPA / Louvain-style outputs.

New-engine scope (SURVEY.md §2.7): Q = Σ_c [ e_c/m − (D_c/2m)² ]
(Newman-Girvan 2004, eq. 5) over the undirected simple-graph closure,
where e_c = intra-community edge count, D_c = total degree inside c,
m = |edges|. Q is a pure function of the *partition* — label values
cancel — so the engine's min-vid component labels and an oracle's
min-string labels give the identical score (what makes the DuckDB
twin possible on top of the unrolled-CC label table; contract.py
``modularity_cc``).

Scale shape: three map-side-combined aggregations over the canonical
pair set — degree (groupBy endpoint), intra-edges (pair ⋈ labels ×2,
`shuffle_hash` on the O(V) label side, filter equal), and per-label
sums — then a k-row final reduce. No join ever moves the O(E) side
twice; Q costs about one triangle-count-free LPA superstep."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from montecarlopagerank_spark.operators.propagate import both_ways, pairs


def conductance(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """Per-community conductance φ(c) = cut(c) / min(vol(c), vol(rest))
    over the undirected simple closure — the complement metric to
    :func:`modularity` (low φ = well-separated community). ``cut(c)`` =
    edges with exactly one endpoint in c, ``vol(c)`` = Σ degree inside
    c. Communities spanning the whole volume (vol(rest) = 0) get φ = 0
    by convention. Same scale shape as modularity: the O(E) pair set is
    joined once against two O(V) ``shuffle_hash`` label sides, then
    k-row arithmetic. Partition-invariant per label, so the DuckDB twin
    compares (size, φ) pairs — label-value-free (contract.py
    ``conductance_cc``)."""
    und = pairs(edges)
    lab = labels.select("v", "label")
    deg = both_ways(und, "v", "w").groupBy("v").agg(F.count(F.lit(1)).alias("d"))
    vol = (
        deg.join(lab.hint("shuffle_hash"), "v")
        .groupBy("label")
        .agg(F.sum("d").alias("vol"), F.count(F.lit(1)).alias("size"))
    )
    tagged = und.join(
        lab.select(F.col("v").alias("x"), F.col("label").alias("lx")).hint(
            "shuffle_hash"
        ),
        "x",
    ).join(
        lab.select(F.col("v").alias("y"), F.col("label").alias("ly")).hint(
            "shuffle_hash"
        ),
        "y",
    )
    cut = (
        tagged.filter(F.col("lx") != F.col("ly"))
        .select(F.explode(F.array("lx", "ly")).alias("label"))
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("cut"))
    )
    total_vol = 2 * und.count()
    return (
        vol.join(cut, "label", "left")
        .select(
            "label",
            "size",
            F.round(
                F.when(
                    F.least(F.col("vol"), F.lit(total_vol) - F.col("vol")) > 0,
                    F.coalesce(F.col("cut"), F.lit(0))
                    / F.least(F.col("vol"), F.lit(total_vol) - F.col("vol")),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("phi_r6"),
        )
    )


def modularity(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """``edges(src, dst)`` + ``labels(v, label)`` → 1-row
    ``(modularity_r6 double, m long)``. Undirected simple-graph closure;
    self-loops dropped; vertices missing from ``labels`` contribute
    nothing (their incident edges still count in m and in their labeled
    endpoint's degree)."""
    und = pairs(edges)
    lab = labels.select("v", "label")
    deg = both_ways(und, "v", "w").groupBy("v").agg(F.count(F.lit(1)).alias("d"))
    dsum = (
        deg.join(lab.hint("shuffle_hash"), "v")
        .groupBy("label")
        .agg(F.sum("d").alias("dc"))
    )
    intra = (
        und.join(
            lab.select(F.col("v").alias("x"), F.col("label").alias("lx")).hint(
                "shuffle_hash"
            ),
            "x",
        )
        .join(
            lab.select(F.col("v").alias("y"), F.col("label").alias("ly")).hint(
                "shuffle_hash"
            ),
            "y",
        )
        .filter(F.col("lx") == F.col("ly"))
        .groupBy(F.col("lx").alias("label"))
        .agg(F.count(F.lit(1)).alias("ec"))
    )
    per_label = dsum.join(intra, "label", "left").select(
        "label",
        F.coalesce(F.col("ec"), F.lit(0)).alias("ec"),
        "dc",
    )
    m = und.count()
    if m == 0:
        return und.sparkSession.createDataFrame(
            [(0.0, 0)], "modularity_r6 double, m long"
        )
    q = per_label.agg(
        F.round(
            F.sum(
                F.col("ec") / F.lit(float(m))
                - (F.col("dc") / F.lit(2.0 * m)) * (F.col("dc") / F.lit(2.0 * m))
            ),
            6,
        ).alias("modularity_r6")
    )
    # lit() infers int32 for small Python ints — cast so m is always the
    # documented long (the empty-graph branch already declares `m long`)
    return q.select("modularity_r6", F.lit(m).cast("long").alias("m"))
