"""Power-iteration PageRank as pure DataFrame joins/aggregations.

Semantics match the reference (PowerIterationPageRank.scala:56-142,
SURVEY.md §2.6): init π = 1/n; per superstep each vertex sends π_v/deg(v)
along every out-edge; dangling mass m (vertices with deg 0) is
redistributed uniformly; update π'_u = ε/n + (1−ε)(Σ contribs_u + m/n);
ε = 0.15 (MonteCarloPageRank.scala:28). Deliberate departures, documented
per SURVEY.md §2.6 "reference bugs":

* double-precision plain arithmetic instead of the reference's Float +
  log-space dance (PowerIterationPageRank.scala:37-49) — unnecessary in
  double space, and `groupBy(dst).sum()` plans partial+final hash
  aggregation automatically (the reference's reduceByKey equivalent);
* the dangling mass is a scalar: the previous superstep's write job
  observes it, and the next update adds it as a driver-side literal —
  not the reference's `-1` sentinel row that pollutes the vertex table
  and costs a `lookup(-1)` driver action per superstep
  (PowerIterationPageRank.scala:88-89,111-119);
* exactly `max_iters` supersteps with L∞ convergence stop (the reference
  has an inclusive-range off-by-one and no convergence control,
  PowerIterationPageRank.scala:78, Conf.scala:10).

Scale shape: the edge cache, the vertex table, the push and the reasons
for their plans live in operators/propagate.py. Each superstep commits
its state with ONE ``save_step``, scratch or durable at the same Spark
jobs. That is not one job: 3 jobs per superstep in the local[4] test
session with AQE on — 2 adaptive query-stage jobs for its shuffle map
stages, then the write — and 1 with AQE off; the re-read of the written
state takes the written frame's schema, so it runs no inference job
(counted with a job group + ``statusTracker`` on a 41-vertex path, 2 vs
4 steps; tests/test_propagate.py pins it, tests/test_checkpoint.py
compares scratch and durable). The convergence delta and next step's
dangling mass ride the write as observed metrics (``StateStore.observe``,
state.py). The state table is (v, rank, dang): carrying the
loop-invariant dangling flag IN the state lets the update join read the
observed-mass flag for free — no per-step side-table join at all (a
cached co-partitioned vflag join, the round-3 shape, measured +0.3-0.5
s/step of pure fixed overhead at sf0.1). The push and the update join
share one state exchange per step (propagate.py says how).
"""

from __future__ import annotations

import time
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

# both store classes stay bound here for perfbench/tracing.py's wrappers
from montecarlopagerank_spark.operators.checkpoint import (
    CheckpointManager,
    open_store,
)
from montecarlopagerank_spark.operators.propagate import Propagation, fill
from montecarlopagerank_spark.operators.state import StateStore  # noqa: F401

EPS = 0.15  # jump probability, MonteCarloPageRank.scala:28


def pagerank_power(
    spark: SparkSession,
    edges: DataFrame,
    vertices: DataFrame | None = None,
    eps: float = EPS,
    tol: float = 1e-6,
    max_iters: int = 100,
    checkpoint_dir: str | None = None,
    resume: bool = False,
    sources: DataFrame | None = None,
    init_ranks: DataFrame | None = None,
    weight_col: str | None = None,
) -> tuple[DataFrame, dict[str, Any]]:
    """Returns (``ranks(v:long, rank:double)``, info dict with iterations/
    deltas/converged). With ``checkpoint_dir``, every superstep commits a
    resumable parquet snapshot + manifest; ``resume=True`` continues from
    the last complete step. Without it, each step goes to a scratch
    parquet slot instead (state.py; lineage truncated, not resumable).

    ``sources`` (optional, one column ``v``) switches to PERSONALIZED
    PageRank: the teleport vector p is uniform over the source set instead
    of over all vertices — init π = p, and both the ε jump and the dangling
    mass land on p (π'_u = ε·p_u + (1−ε)(Σ contribs_u + m·p_u)). Source ids
    not present in the graph are ignored. The source flag rides a cached
    side table hash-partitioned like the state, so personalization adds
    one join per superstep (the state ⋈ ``is_src``) but no exchange.

    ``init_ranks`` (optional, ``(v, rank)``) WARM-STARTS the iteration
    from a prior rank vector — the incremental-refresh path after the
    streaming edge builder tops up the graph: ranks of a slightly-stale
    fixpoint are a far better π0 than 1/n, so convergence needs only as
    many supersteps as the perturbation is large (PageRank's fixpoint is
    unique for ε>0, so the warm and cold runs converge to the SAME vector
    — only the step count differs). Vertices new to the graph get 1/n;
    the vector is renormalized to sum 1 (one extra setup job, never a
    per-step cost). Ignored on resume (the checkpoint state wins).

    ``weight_col`` names an edge weight column: contributions become
    rank·w(src,dst)/W(src) (W = the source's total outgoing weight).
    Dangling = no out-edges at all, as in the unweighted case. The loop
    shape is unchanged — only the cached per-edge fraction differs."""
    t_setup = time.time()
    # format 3: every committed step's manifest carries the metrics resume
    # reads (deltas, next_dangling_mass); format-2 steps could lack them
    store, last = open_store(
        spark, checkpoint_dir,
        {"algo": "pagerank_power", "format": 3, "eps": eps, "tol": tol,
         "weight_col": weight_col, "personalized": sources is not None},
        resume,
    )
    resumed = store.manifest(last)["metrics"] if last is not None else None
    if resumed and resumed["converged"]:
        # a converged run resumes to its committed ranks: decided before
        # any setup, so it caches nothing and skips the edge exchange. n
        # is the state's row count (one row per vertex), summed from its
        # parquet footers on the driver: no count job. Imported here: the
        # module is imported by every worker that runs an algos kernel,
        # and pyarrow.dataset costs each of them ~4 MB of RSS
        import pyarrow.dataset as pads

        ranks = store.load_tables(last, ["state"])["state"].select("v", "rank")
        n = pads.dataset(f"{store.dir}/step={last}/state", format="parquet",
                         filesystem=store.fs).count_rows()
        store.close()  # its scratch root is unused; ranks read the checkpoint
        return ranks, {
            "iterations": last + 1, "converged": True,
            "deltas": resumed["deltas"], "n": n, "resumed_at": last + 1,
        }
    # the vertex table (v, dang[, is_src]) is the SETUP-TIME flag source
    # (state init, personalization weights): dang rides the state, so
    # only a personalized superstep joins the table (its is_src column,
    # co-partitioned, no exchange). The next dangling mass is an observed
    # metric of the step's write (state.py)
    g = Propagation(edges, vertices, norm=True, weight=weight_col,
                    sources=sources)
    aggs = [F.sum(F.when(F.col("dang"), 1).otherwise(0)).alias("nd")]
    if sources is not None:
        aggs.append(F.sum(F.when(F.col("is_src"), 1).otherwise(0)).alias("ns"))
        aggs.append(
            F.sum(
                F.when(F.col("is_src") & F.col("dang"), 1).otherwise(0)
            ).alias("nsd")
        )
    crow = g.count(*aggs)  # one setup job for all counts
    n = crow["n"]
    if n == 0:
        return g.empty("rank"), {
            "iterations": 0, "converged": True, "deltas": [], "n": 0}
    n_dangling = crow["nd"]
    ns = None
    if sources is not None:
        ns = crow["ns"]
        if not ns:
            g.close()
            raise ValueError("personalized PageRank: no source id is in the graph")

    start_step = 0 if last is None else last + 1
    deltas: list[float] = []
    if last is not None:  # m: dangling mass of the *current* rank vector
        state = store.load_tables(last, ["state"])["state"]
        deltas, m = resumed["deltas"], resumed["next_dangling_mass"]
    else:
        if init_ranks is not None:
            # warm start: project the prior vector onto the current vertex
            # set (new vertices ← 1/n), renormalize to a distribution, and
            # read off the initial dangling mass — ONE setup aggregate job
            r0 = g.verts.join(
                init_ranks.select("v", "rank").hint("shuffle_hash"), "v", "left"
            ).select(
                "v",
                "dang",
                F.coalesce("rank", F.lit(1.0) / n).alias("rank"),
            )
            r0 = r0.persist(StorageLevel.MEMORY_AND_DISK)
            row = r0.agg(
                F.sum("rank").alias("s"),
                F.sum(
                    F.when(F.col("dang"), F.col("rank")).otherwise(0.0)
                ).alias("md"),
            ).collect()[0]
            state = store.materialize(
                r0.select("v", (F.col("rank") / row["s"]).alias("rank"), "dang")
            )
            r0.unpersist()
            m = (row["md"] or 0.0) / row["s"]
        elif sources is None:
            state = store.materialize(
                g.verts.select("v", (F.lit(1.0) / n).alias("rank"), "dang")
            )
            m = n_dangling / n  # uniform init → closed-form dangling mass
        else:
            state = store.materialize(
                g.verts.select(
                    "v",
                    F.when(F.col("is_src"), F.lit(1.0) / ns)
                    .otherwise(F.lit(0.0))
                    .alias("rank"),
                    "dang",
                )
            )
            m = crow["nsd"] / ns  # π0 = p → dangling mass of the source set
    converged = False
    it = start_step
    step_secs: list[float] = []  # per-superstep wall time (diagnostic)
    t_loop = time.time()
    for it in range(start_step, max_iters):
        t_step = time.time()
        # ONE state exchange per superstep, shared by the push and the
        # update join (operators/propagate.py): both consume ``st``, and
        # the push mass reads ``dang`` so their subtrees stay identical
        st = g.scores(state)
        contribs = g.push(st, "src", F.when(st["dang"], F.lit(0.0)).otherwise(
            F.col("rank") * F.col("w")))
        # ONE update join yields the new rank and per-vertex delta; the
        # dangling flag for the observed mass metric comes from the state
        joined = g.gather(contribs, st)
        if sources is None:
            base_col = F.lit(eps / n + (1.0 - eps) * m / n)
        else:
            # teleport + dangling mass both land on p (uniform over
            # sources); the loop-invariant source flag joins from the
            # cached co-partitioned side table (personalized runs only)
            vsrc = g.verts.select("v", "is_src")
            joined = joined.join(
                vsrc.hint("shuffle_hash"), st["v"] == vsrc["v"]
            )
            base_col = F.when(
                vsrc["is_src"], F.lit((eps + (1.0 - eps) * m) / ns)
            ).otherwise(F.lit(0.0))
        joined = joined.select(
            st["v"].alias("v"), st["dang"].alias("dang"),
            (
                base_col
                + F.lit(1.0 - eps) * F.coalesce(F.col("m"), F.lit(0.0))
            ).alias("rank"),
            st["rank"].alias("old_rank"),
        ).withColumn("dv", F.abs(F.col("rank") - F.col("old_rank")))

        def record(row: dict) -> dict[str, Any]:
            d = float(row["d"])
            return {"deltas": deltas + [d], "next_dangling_mass": row["m"] or 0.0,
                    "converged": bool(d < tol)}

        # convergence delta + next step's dangling mass (state.py: observe)
        state, metrics = store.observe(
            joined, "state", F.max("dv").alias("d"),
            F.sum(F.when(F.col("dang"), F.col("rank"))).alias("m"),
            keep=("v", "rank", "dang"), step=it, record=record)
        deltas, m = metrics["deltas"], metrics["next_dangling_mass"]
        step_secs.append(round(time.time() - t_step, 3))
        if metrics["converged"]:
            converged = True
            break

    g.close()
    ranks = state.select("v", "rank")
    if isinstance(store, CheckpointManager) and max_iters > start_step:
        store.close()  # final ranks read from the durable checkpoint dir
    else:
        # final ranks still scan the scratch slot: pin them and leave the
        # scratch files in place as the recompute source (the store's
        # scratch root is reclaimed at interpreter exit — state.py)
        ranks = fill(ranks.persist(StorageLevel.MEMORY_AND_DISK))
    info = {
        "iterations": it + 1, "converged": converged, "deltas": deltas, "n": n,
        "n_sources": ns,
        "setup_secs": round(t_loop - t_setup, 3),
        "loop_secs": round(time.time() - t_loop, 3),
        "step_secs": step_secs,
    }
    return ranks, info


def top_k(ranks: DataFrame, k: int = 20) -> DataFrame:
    """Best-first ranks (reference sorts the full output to one partition,
    MonteCarloPageRank.scala:132; we take top-k, which Spark plans as a
    TakeOrderedAndProject — no global sort materialization)."""
    return ranks.orderBy(F.desc("rank"), F.asc("v")).limit(k)
