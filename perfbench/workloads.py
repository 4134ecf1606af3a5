"""The benchmark's workloads: what one pass does, and its sizes.

A pass goes from the input parquet to every result collected on the
driver. Each call into the engine runs inside a span named after the layer
it exercises, so the same code serves timed and traced runs.
"""

from __future__ import annotations

import os
import shutil
import traceback

from perfbench import inputs

# Sizes fit the run budget on a 4-core host, where every Spark job costs
# about a second of fixed work: few supersteps and small graphs, so that
# one cold pass of each workload takes well under 90 s.
WORKLOADS = {
    # MC only, on a hub-free power-law graph: the CSR pack (adjacency)
    # and the fused segment loop with the walk kernel do the work. Coupons
    # travel as counts, so the many walks per vertex add kernel work (one
    # draw per walk) but no Spark rows or jobs.
    "mc-powerlaw": {
        "n_edges": 160_000, "avg_degree": 16,
        "walks": 4096, "mc_steps": 6, "blocks": 32,
    },
    # The north-star job shape: transcripts -> edge table -> PI, MC, CC,
    # LPA, triangles, all durable via checkpoint_dir. No vertex has more
    # out-edges than edges_per_block here, so MC splits no hub: below the
    # role vertices' out-degree (1.7k-2k) MC splits them, and then loses
    # the walks of a role vertex whose out-edges all hash into one
    # replica other than 0 (its coupons are routed to replica 0, which
    # has no CSR row), which the MC check reports as a visit deficit.
    "transcripts-durable": {
        "n_turns": 4400,
        "pi_steps": 3, "walks": 256, "mc_steps": 3, "edges_per_block": 8192,
        "lpa_steps": 2,
    },
}


def edges_per_block(cfg: dict, n_edges: int) -> int:
    """The ``edges_per_block`` a workload passes to MC: fixed, or the
    edge count split into ``blocks`` blocks of at least 4096 edges."""
    if "edges_per_block" in cfg:
        return cfg["edges_per_block"]
    return max(n_edges // cfg["blocks"], 4096)


def make_input(workload: str, seed: int, path: str) -> None:
    cfg = WORKLOADS[workload]
    if workload == "mc-powerlaw":
        inputs.powerlaw_edges(path, cfg["n_edges"], cfg["avg_degree"], seed)
    else:
        inputs.transcripts(path, cfg["n_turns"], seed)


class Pass:
    """One pass's timings, engine ``info`` dicts and collected results."""

    def __init__(self):
        self.calls: list[dict] = []  # name, info, outputs, error
        self.graph = None  # (edges, vertices-or-None), still cached
        self.n_edges = self.n_vertices = 0

    def call(self, tracer, name: str, fn):
        """Run one engine call in a span; an exception marks the call
        failed instead of ending the run."""
        rec = {"name": name, "info": {}, "out": None, "error": None}
        with tracer.span(name) as span:
            try:
                rec["out"], rec["info"] = fn()
            except Exception:  # noqa: BLE001 - counted in failed_ratio
                rec["error"] = traceback.format_exc()
        rec["span"] = span
        self.calls.append(rec)
        return rec


def run_pass(spark, tracer, workload: str, seed: int, input_path: str,
             work: str) -> Pass:
    from pyspark.storagelevel import StorageLevel

    from montecarlopagerank_spark.algos.pagerank_mc import pagerank_monte_carlo

    cfg = WORKLOADS[workload]
    p = Pass()
    disk = StorageLevel.MEMORY_AND_DISK

    def ranks(df):
        pdf = df.toPandas()
        return pdf["v"].to_numpy(), pdf["rank"].to_numpy()

    if workload == "mc-powerlaw":
        with tracer.span("input.load"):
            edges = spark.read.parquet(input_path).persist(disk)
            p.n_edges = edges.count()
        p.graph = (edges, None)

        def mc():
            r, info = pagerank_monte_carlo(
                spark, edges, walks_per_vertex=cfg["walks"],
                iterations=cfg["mc_steps"], seed=seed,
                edges_per_block=edges_per_block(cfg, p.n_edges))
            return ranks(r), info

        p.call(tracer, "mc", mc)
        return p

    from montecarlopagerank_spark.algos.components import connected_components
    from montecarlopagerank_spark.algos.labelprop import label_propagation
    from montecarlopagerank_spark.algos.pagerank_power import pagerank_power
    from montecarlopagerank_spark.algos.triangles import triangle_count
    from montecarlopagerank_spark.operators.edges import transcript_edges
    from montecarlopagerank_spark.sources.transcripts import read_transcripts

    ck = os.path.join(work, "checkpoints")
    shutil.rmtree(ck, ignore_errors=True)
    with tracer.span("input.load"):
        t = read_transcripts(spark, input_path).persist(disk)
        t.count()

    def build():
        e, v = transcript_edges(t)
        v = v.persist(disk)
        p.n_vertices = v.count()
        e = e.select("src", "dst").persist(disk)
        p.n_edges = e.count()
        p.graph = (e, v)
        return None, {}

    built = p.call(tracer, "edges.build", build)["error"] is None
    t.unpersist()
    if built:
        e, v = p.graph

        def pi():
            r, info = pagerank_power(
                spark, e, v, tol=0.0, max_iters=cfg["pi_steps"],
                checkpoint_dir=os.path.join(ck, "pi"))
            return ranks(r), info

        def mc():
            r, info = pagerank_monte_carlo(
                spark, e, v, walks_per_vertex=cfg["walks"],
                iterations=cfg["mc_steps"], seed=seed,
                edges_per_block=edges_per_block(cfg, p.n_edges),
                checkpoint_dir=os.path.join(ck, "mc"))
            return ranks(r), info

        def cc():
            pdf = connected_components(
                spark, e, v, checkpoint_dir=os.path.join(ck, "cc")).toPandas()
            return (pdf["v"].to_numpy(), pdf["component"].to_numpy()), {}

        def lpa():
            pdf = label_propagation(
                spark, e, v, max_iters=cfg["lpa_steps"],
                checkpoint_dir=os.path.join(ck, "lpa")).toPandas()
            return (pdf["v"].to_numpy(), pdf["label"].to_numpy()), {}

        def tri():
            return triangle_count(spark, e), {}

        for name, fn in (("pi", pi), ("mc", mc), ("cc", cc), ("lpa", lpa),
                         ("tri", tri)):
            p.call(tracer, name, fn)
    return p
