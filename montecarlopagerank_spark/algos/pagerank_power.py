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

Scale shape: the loop-invariant (src, dst, inv_deg) edge table is
hash-partitioned by src once and persisted; each superstep shuffles only
the rank vector (one groupBy(dst) with map-side combine — the one
unavoidable shuffle) and commits its state with ONE ``save_step``,
scratch or durable at the same Spark jobs. That is not one job: with AQE
on, each shuffle map stage runs as its own query-stage job before the
write — 4 jobs per superstep in the local[4] test session
(tests/test_checkpoint.py compares scratch and durable). The convergence
delta and next step's dangling mass ride the write as
``DataFrame.observe`` metrics (no separate per-step aggregate job — at
high core counts a second job's fixed schedule+IO cost dominates the
superstep and caps scaling efficiency). The state table is
(v, rank, dang): carrying the loop-invariant dangling flag IN the state
lets the update join read the observed-mass flag for free — no per-step
side-table join at all (a cached co-partitioned vflag join, the round-3
shape, measured +0.3-0.5 s/step of pure fixed overhead at sf0.1).
Exchange reuse still holds because BOTH per-step consumers of the state
— the contributions join and the update join — are made to consume the
IDENTICAL (v, rank, dang) schema: the contributions mass is written as
``when(dang, 0.0).otherwise(rank·inv_deg)``, semantically a no-op (an
edge's src has an out-edge by construction, so dang is always false on
that branch) but syntactically a real reference that column pruning
cannot remove, and an explicit ``isNotNull(v)`` filter above the
repartition matches the not-null constraint the inner contributions
join would otherwise push below its side of the exchange alone. Without
both tricks the two branches' pruned/filtered subtrees differ and each
pays its own O(V) state shuffle per superstep (the round-2 shape).
"""

from __future__ import annotations

import time
from typing import Any

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

# both store classes stay bound here for perfbench/tracing.py's wrappers
from montecarlopagerank_spark.operators.checkpoint import (
    CheckpointManager,
    open_store,
)
from montecarlopagerank_spark.operators.state import StateStore  # noqa: F401

EPS = 0.15  # jump probability, MonteCarloPageRank.scala:28


def _prepare(
    edges: DataFrame,
    vertices: DataFrame | None,
    n_parts: int,
    weight_col: str | None = None,
):
    """Loop-invariant structures: closed vertex set, out-degrees, and the
    (src, dst, inv_deg) contribution-edge table partitioned by src.

    The edge table is exchanged by src ONCE, up front, and PINNED:
    exchange reuse only holds *within* one query, and setup runs several
    actions (contrib cache fill, vertex-flag cache fill) — unpinned, each
    action re-reads the source and re-pays the exchange (measured ~3
    source scans + 3 full exchanges at 100M edges). The O(V) degree table
    is pinned too, and the vertex set rides it: srcs come from the degree
    keys, only the dst side pays a distinct over the cached exchange. At
    100 TB the edge exchange IS the setup cost; it must happen once.

    Returns ``(verts, deg, contrib_edges, cached)`` — callers unpersist
    ``cached`` once their own loop-invariant caches are materialized."""
    e2 = edges.repartition(n_parts, "src").persist(StorageLevel.MEMORY_AND_DISK)
    # weighted graphs: the per-edge contribution fraction becomes
    # w(src,dst)/W(src) instead of 1/out_deg — same one-pass degree agg
    # (count and weight-sum together), identical loop downstream. A
    # multigraph with duplicate rows and its collapsed (src, dst,
    # weight=multiplicity) form produce the SAME fractions, which is what
    # the oracle query pins (contract.q_pagerank_weighted_fixed).
    aggs = [F.count("*").alias("out_deg")]
    if weight_col is not None:
        aggs.append(F.sum(weight_col).alias("out_w"))
    out_deg = e2.groupBy("src").agg(*aggs).persist(StorageLevel.MEMORY_AND_DISK)
    frac = (
        F.lit(1.0) / F.col("out_deg")
        if weight_col is None
        else F.col(weight_col) / F.col("out_w")
    )
    # shuffle_hash: the O(V) degree table exceeds the broadcast threshold
    # well before 100 TB, and a sort-merge join would SORT the full edge
    # table — the hint streams the cached edges in place and hash-builds
    # the per-partition degree slice instead (no edge sort, no exchange)
    contrib_edges = e2.join(out_deg.hint("shuffle_hash"), "src").select(
        "src", "dst", frac.alias("inv_deg")
    )
    verts = (
        vertices.select(F.col("vid").alias("v"))
        if vertices is not None
        else out_deg.select(F.col("src").alias("v"))
        .unionByName(e2.select(F.col("dst").alias("v")))
        .distinct()
    )
    deg = verts.join(
        out_deg.withColumnRenamed("src", "v").hint("shuffle_hash"), "v", "left"
    ).select("v", F.coalesce("out_deg", F.lit(0)).alias("out_deg"))
    return verts, deg, contrib_edges, [e2, out_deg]


def pagerank_power(
    spark: SparkSession,
    edges: DataFrame,
    vertices: DataFrame | None = None,
    eps: float = EPS,
    tol: float = 1e-6,
    max_iters: int = 100,
    checkpoint_dir: str | None = None,
    resume: bool = False,
    n_partitions: int | None = None,
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
    not present in the graph are ignored. The loop shape is unchanged: the
    source flag rides the same cached co-partitioned side table as the
    dangling flag, so personalization costs zero extra joins or exchanges
    per superstep.

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
    n_parts = int(n_partitions or spark.conf.get("spark.sql.shuffle.partitions"))
    verts, deg, contrib_edges, plan_cached = _prepare(
        edges, vertices, n_parts, weight_col
    )
    # the explicit repartition at the cache boundary is NOT redundant with
    # _prepare's: an AQE-planned cached join hides its output partitioning
    # from downstream planning, so without this node every loop iteration
    # re-exchanges the cached edge table (measured +40% loop time at 100M
    # edges). A static RepartitionByExpression on top of the cache makes
    # the partitioning visible and the loop join leaves the edges in place.
    contrib_edges = contrib_edges.repartition(n_parts, "src").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    # vflag is the SETUP-TIME flag source (state init, personalization
    # weights): since r4 the dang flag rides the state table itself, so a
    # standard run's superstep loop never joins vflag — see the module
    # docstring for why exchange reuse still holds with dang in the
    # state. Personalized runs still join its is_src column (co-
    # partitioned, no exchange) on every superstep. The explicit
    # repartition at the cache boundary makes hash(v) partitioning
    # visible through the cache (AQE hides it otherwise); the superstep's
    # single write job yields the next dangling mass as an observed
    # metric (no per-step lookup job — the reference pays a full
    # lookup(-1) action per superstep, PowerIterationPageRank.scala:111)
    vaux = deg.select("v", (F.col("out_deg") == 0).alias("dang"))
    if sources is not None:
        # personalization flag joins ONCE at setup into the same cached
        # side table — the superstep loop never sees an extra join
        s = sources.select("v").distinct().withColumn("is_src", F.lit(True))
        vaux = vaux.join(s, "v", "left").select(
            "v", "dang", F.coalesce("is_src", F.lit(False)).alias("is_src")
        )
    vflag = vaux.repartition(n_parts, "v").persist(StorageLevel.MEMORY_AND_DISK)
    contrib_edges.count()  # materialize the loop-invariant cache in setup,
    # not inside step 0's job (keeps per-step times honest and steady)
    aggs = [  # one setup job for all counts
        F.count("*").alias("n"),
        F.sum(F.when(F.col("dang"), 1).otherwise(0)).alias("nd"),
    ]
    if sources is not None:
        aggs.append(F.sum(F.when(F.col("is_src"), 1).otherwise(0)).alias("ns"))
        aggs.append(
            F.sum(
                F.when(F.col("is_src") & F.col("dang"), 1).otherwise(0)
            ).alias("nsd")
        )
    crow = vflag.agg(*aggs).collect()[0]
    for df in plan_cached:  # loop-invariant caches (contrib_edges, vflag)
        df.unpersist()  # are materialized — the planner pins can go
    n = crow["n"]
    if n == 0:
        empty = spark.createDataFrame([], "v long, rank double")
        return empty, {"iterations": 0, "converged": True, "deltas": [], "n": 0}
    n_dangling = crow["nd"]
    ns = None
    if sources is not None:
        ns = crow["ns"]
        if not ns:
            raise ValueError("personalized PageRank: no source id is in the graph")

    start_step = 0 if last is None else last + 1
    deltas: list[float] = []
    if last is not None:  # m: dangling mass of the *current* rank vector
        state = store.load_tables(last, ["state"])["state"]
        metrics = store.manifest(last)["metrics"]
        deltas, m = metrics["deltas"], metrics["next_dangling_mass"]
        if metrics["converged"]:
            return state.select("v", "rank"), {
                "iterations": last + 1, "converged": True,
                "deltas": deltas, "n": n, "resumed_at": last + 1,
            }
    else:
        if init_ranks is not None:
            # warm start: project the prior vector onto the current vertex
            # set (new vertices ← 1/n), renormalize to a distribution, and
            # read off the initial dangling mass — ONE setup aggregate job
            r0 = vflag.join(
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
                vflag.select("v", (F.lit(1.0) / n).alias("rank"), "dang")
            )
            m = n_dangling / n  # uniform init → closed-form dangling mass
        else:
            state = store.materialize(
                vflag.select(
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
        # ONE state exchange per superstep: the freshly-read
        # (v, rank, dang) state is repartitioned by v ONCE and BOTH
        # consumers — the contributions join and the update join — share
        # the exchange (AQE reuses the identical shuffle stage; the state
        # parquet is scanned once per step, verified in the executed
        # plan). Three things make the subtrees identical: (1) the joins
        # use EXPLICIT column conditions, never a rename over ``st`` — an
        # alias project (v AS src / rank AS old_rank) gets pushed below
        # the RepartitionByExpression and de-unifies the branches;
        # renames happen above the joins instead; (2) the contributions
        # mass is ``when(dang, 0.0).otherwise(rank·inv_deg)`` — a
        # semantic no-op (an edge's src always has an out-edge, so dang
        # is false on every joined row) that forces the contributions
        # branch to consume the same (v, rank, dang) schema as the
        # update branch, so column pruning cannot differentiate the
        # scans; (3) the explicit isNotNull(v) filter above the
        # repartition matches the not-null constraint the inner
        # contributions join would otherwise infer and push below its
        # side of the exchange alone. Before this, the two joins
        # exchanged the O(V) state independently (by src, then by v) — a
        # second O(V) exchange per step that capped N-vs-4N loop
        # efficiency. The update join is exchange-FREE: state via the
        # reused exchange, contributions from the final hash-aggregate —
        # all hash(v, n_parts)-partitioned. The dangling flag for the
        # observed mass metric rides the state itself (carrying the
        # boolean costs ~1 byte/row in the exchange; the round-3
        # alternative — a per-step join against a cached co-partitioned
        # vflag — cost a measured +0.3-0.5 s/step of fixed overhead).
        st = state.repartition(n_parts, "v").filter(F.col("v").isNotNull())
        # shuffle_hash hints: the rank vector is O(n) and must NEVER be
        # broadcast (a driver-serial hash build per superstep — measured
        # to flatline core-scaling once n·16B slips under the broadcast
        # threshold). SHJ streams the cached edges in place (no edge sort,
        # no edge exchange) and builds per-partition hash tables in
        # parallel — the plan that survives a 100× scale-up.
        contribs = (
            contrib_edges.join(
                st.hint("shuffle_hash"), contrib_edges["src"] == st["v"]
            )
            .select(
                F.col("dst").alias("vc"),
                F.when(st["dang"], F.lit(0.0))
                .otherwise(F.col("rank") * F.col("inv_deg"))
                .alias("mass"),
            )
            .groupBy("vc")
            .agg(F.sum("mass").alias("mass"))  # partial+final hash agg
        )
        # ONE update join yields the new rank and per-vertex delta; the
        # dangling flag for the observed mass metric comes from the state
        joined = st.join(
            contribs.hint("shuffle_hash"), st["v"] == contribs["vc"], "left"
        )
        if sources is None:
            base_col = F.lit(eps / n + (1.0 - eps) * m / n)
        else:
            # teleport + dangling mass both land on p (uniform over
            # sources); the loop-invariant source flag joins from the
            # cached co-partitioned side table (personalized runs only)
            vsrc = vflag.select("v", "is_src")
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
                + F.lit(1.0 - eps) * F.coalesce(F.col("mass"), F.lit(0.0))
            ).alias("rank"),
            st["rank"].alias("old_rank"),
        ).withColumn("dv", F.abs(F.col("rank") - F.col("old_rank")))
        # convergence delta + next step's dangling mass ride the write job
        # as observed metrics — zero extra jobs (SURVEY.md §3.4)
        obs = Observation(f"pi_step_{it}")
        observed = joined.observe(
            obs,
            F.max("dv").alias("d"),
            F.sum(F.when(F.col("dang"), F.col("rank"))).alias("m"),
        ).select("v", "rank", "dang")

        def step_metrics() -> dict[str, Any]:
            # observed metrics are ready once the write job has run
            row = obs.get
            d = float(row["d"])
            return {"deltas": deltas + [d], "next_dangling_mass": row["m"] or 0.0,
                    "converged": bool(d < tol)}

        state = store.save_step(it, {"state": observed}, step_metrics)["state"]
        metrics = step_metrics()
        deltas, m = metrics["deltas"], metrics["next_dangling_mass"]
        step_secs.append(round(time.time() - t_step, 3))
        if metrics["converged"]:
            converged = True
            break

    contrib_edges.unpersist()
    vflag.unpersist()
    ranks = state.select("v", "rank")
    if isinstance(store, CheckpointManager) and max_iters > start_step:
        store.close()  # final ranks read from the durable checkpoint dir
    else:
        # final ranks still scan the scratch slot: pin them and leave the
        # scratch files in place as the recompute source (the store's
        # scratch root is reclaimed at interpreter exit — state.py)
        ranks = ranks.persist(StorageLevel.MEMORY_AND_DISK)
        ranks.count()
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
