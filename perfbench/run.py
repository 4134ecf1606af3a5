"""Link-graph benchmark: one workload and seed as one Spark application.

    python3 perfbench/run.py --workload mc-powerlaw --seed 1 --seconds 30 --trace 0

Run from the repository root. One driver process runs passes back to back
(a closed loop, one Spark job at a time) until ``--seconds`` have passed,
finishing the pass in flight. After the timer stops it checks every result
against an oracle, then prints a report line and, as the last line, the
metrics: the end-to-end ones with ``--trace 0``; with ``--trace 1`` the
per-layer ones from spans, engine ``info`` dicts and the Spark event log.
Everything it writes goes under ``.perfbench_work/`` in the repository.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()  # process start, for session.start_s

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from contextlib import nullcontext  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
MB = 1 << 20


def median(xs, default=0.0):
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else default


def source_hash() -> str:
    """Content hash of the engine package, standing in for a commit id
    when the checkout is not a git repository."""
    h = hashlib.sha1()
    pkg = os.path.join(ROOT, "montecarlopagerank_spark")
    for d, _, files in sorted(os.walk(pkg)):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
    return h.hexdigest()[:16]


def git_commit() -> str | None:
    head = os.path.join(ROOT, ".git", "HEAD")
    if not os.path.exists(head):
        return None
    with open(head) as f:
        ref = f.read().strip()
    if not ref.startswith("ref: "):
        return ref
    path = os.path.join(ROOT, ".git", ref[5:])
    if os.path.exists(path):
        with open(path) as f:
            return f.read().strip()
    return None


def filesystem(path: str) -> dict:
    """The mount holding ``path`` (longest matching mount point)."""
    best = {"mount": "/", "fstype": None, "device": None}
    with open("/proc/mounts") as f:
        for line in f:
            dev, mnt, fstype = line.split()[:3]
            if path.startswith(mnt) and len(mnt) >= len(best["mount"]):
                best = {"mount": mnt, "fstype": fstype, "device": dev}
    return best


def cpu_steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def read_ledger(workload: str, seed: int | None, src: str) -> list[dict]:
    path = os.path.join(WORK, "ledger.jsonl")
    if not os.path.exists(path):
        return []
    with open(path) as f:
        rows = [json.loads(x) for x in f if x.strip()]
    from perfbench.workloads import WORKLOADS

    return [r for r in rows if r["workload"] == workload and r["source"] == src
            and r["config"] == WORKLOADS[workload]
            and (seed is None or r["seed"] == seed)]


def append_ledger(row: dict) -> None:
    with open(os.path.join(WORK, "ledger.jsonl"), "a") as f:
        f.write(json.dumps(row) + "\n")


def start_spark(run_dir: str, cores: int, traced: bool):
    from montecarlopagerank_spark.session import get_spark

    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # every JVM spark-submit starts (its launcher too) keeps its temp files
    # in the run directory and writes no /tmp/hsperfdata_* file
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    conf = {
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
        })
    return get_spark(app_name="perfbench", master=f"local[{cores}]",
                     shuffle_partitions=cores, extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the SparkContext, then the JVM it runs in, and wait for every
    process this run started to end."""
    from pyspark import SparkContext

    from perfbench.tracing import process_tree

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while True:
        rest = [pid for pid, _, _ in process_tree(os.getpid()) if pid != os.getpid()]
        if not rest:
            return
        if time.time() > deadline:
            for pid in rest:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.2)


def check_pass(workload: str, seed: int, p, graph_np, expected_total):
    """Attach an ``error`` to every call of pass ``p`` whose output is
    wrong. Returns the MC ``total_visits`` seen and the MC check figures."""
    from perfbench import checks
    from perfbench.workloads import WORKLOADS

    cfg = WORKLOADS[workload]
    vertices, src, dst = graph_np["vertices"], graph_np["src"], graph_np["dst"]
    total, figures = None, None
    for c in p.calls:
        if c["error"] is not None:
            continue
        out, info, err = c["out"], c["info"], None
        steps = {"pi": cfg.get("pi_steps"), "mc": cfg.get("mc_steps")}.get(c["name"])
        if steps is not None and info["iterations"] != steps:
            err = f"{c['name']} ran {info['iterations']} supersteps, not {steps}"
        elif c["name"] == "edges.build":
            want = graph_np["expected_counts"]
            if (p.n_edges, p.n_vertices) != want:
                err = f"edge table has {(p.n_edges, p.n_vertices)}, expected {want}"
        elif c["name"] == "pi":
            err = checks.check_pagerank(vertices, src, dst, steps, *out)
        elif c["name"] == "mc":
            total = info["total_visits"]
            err, figures = checks.check_monte_carlo(
                vertices, src, dst, cfg["walks"], steps, *out,
                total_visits=total, expected_total=expected_total, seed=seed)
        elif c["name"] == "cc":
            err = checks.check_components(vertices, src, dst, *out)
        elif c["name"] == "lpa":
            err = checks.check_labelprop(vertices, src, dst, cfg["lpa_steps"], *out)
        elif c["name"] == "tri":
            err = checks.check_triangles(vertices, src, dst, out)
        c["error"] = err
    return total, figures


def collect_graph(p, input_path: str) -> dict:
    """The pass's graph as numpy arrays, for the oracles."""
    import numpy as np
    import pyarrow.parquet as pq

    from perfbench import checks

    edges, verts = p.graph
    e = edges.select("src", "dst").toPandas()
    src, dst = e["src"].to_numpy(np.int64), e["dst"].to_numpy(np.int64)
    if verts is None:
        vertices = np.unique(np.concatenate([src, dst]))
        expected = None
    else:
        vertices = np.sort(verts.select("vid").toPandas()["vid"].to_numpy(np.int64))
        t = pq.read_table(input_path, columns=["conv_id", "role", "tool"]).to_pandas()
        expected = checks.transcript_edge_counts(t)
    return {"vertices": vertices, "src": src, "dst": dst, "expected_counts": expected}


def per_layer(passes, tracer, jobs, kernel, cores, session_s, result_s,
              baseline_result_s, jvm_peak):
    """The per-layer table. Times are medians over passes; a layer a
    workload never calls reads 0."""
    def calls(name):
        return [c for p in passes for c in p.calls if c["name"] == name and not c["error"]]

    def secs(name):
        return median([r["secs"] for r in tracer.spans if r["name"] == name])

    def subtree_jobs(sid, after=None):
        ids = set(tracer.subtree(sid))
        return [j for j in jobs if j["span"] in ids
                and (after is None or j["submit"] >= after)]

    def total(js, key):
        return sum(j[key] for j in js)

    def split_at_loop(c):
        """An iterative call's own setup jobs (the adjacency work for MC:
        plan, CSR pack, warm) and all jobs it ran after setup ended."""
        loop_start = (c["span"]["start"] + c["info"]["setup_secs"]) * 1000
        own = [j for j in jobs if j["span"] == c["span"]["id"] and j["submit"] < loop_start]
        return own, subtree_jobs(c["span"]["id"], after=loop_start)

    def per_step(cs, key):
        vals = []
        for c in cs:
            js = split_at_loop(c)[1]
            vals.append((len(js) if key == "jobs" else total(js, key))
                        / max(c["info"]["iterations"], 1))
        return median(vals)

    def wrapped(name, pass_span):
        """(calls, secs, bytes) of materializer spans inside one pass."""
        ids = set(tracer.subtree(pass_span))
        recs = [r for r in tracer.spans if r["name"] == name and r["id"] in ids]
        return len(recs), sum(r["secs"] for r in recs), sum(r.get("bytes", 0) for r in recs)

    pass_spans = [r["id"] for r in tracer.spans if r["name"] == "pass"]
    mc, pi = calls("mc"), calls("pi")
    build = [r["id"] for r in tracer.spans if r["name"] == "edges.build"]
    state = [wrapped("state.materialize", s) for s in pass_spans]
    ckpt = [wrapped("checkpoint.save_step", s) for s in pass_spans]
    pass_jobs = [subtree_jobs(s) for s in pass_spans]

    def phase(c, key):
        return c["info"]["setup_phases"][key]

    n_edges = median([p.n_edges for p in passes])
    out = {
        "session.start_s": (session_s, "s"),
        "input.load_s": (secs("input.load"), "s"),
        "edges.build_s": (secs("edges.build"), "s"),
        "edges.jobs": (median([len(subtree_jobs(s)) for s in build]), "count"),
        "edges.shuffle_write_mb": (
            median([total(subtree_jobs(s), "shuffle_write") for s in build]) / MB, "MB"),
        "edges.n_edges": (n_edges, "count"),
        "edges.n_vertices": (median([p.n_vertices for p in passes]), "count"),
        "adjacency.plan_s": (median([phase(c, "plan") for c in mc]), "s"),
        "adjacency.csr_write_s": (median([phase(c, "csr_write") for c in mc]), "s"),
        "adjacency.warm_s": (median([phase(c, "warm") for c in mc]), "s"),
        "adjacency.n_blocks": (median([c["info"]["n_blocks"] for c in mc]), "count"),
        "adjacency.shuffle_write_mb": (
            median([total(split_at_loop(c)[0], "shuffle_write") for c in mc]) / MB, "MB"),
        "pi.setup_s": (median([c["info"]["setup_secs"] for c in pi]), "s"),
        "pi.loop_s": (median([c["info"]["loop_secs"] for c in pi]), "s"),
        "pi.step_s_p50": (median([s for c in pi for s in c["info"]["step_secs"]]), "s"),
        "pi.iterations": (median([c["info"]["iterations"] for c in pi]), "count"),
        "pi.edges_per_s": (median([n_edges * c["info"]["iterations"] / c["info"]["loop_secs"]
                                   for c in pi]), "edges/s"),
        "pi.jobs_per_step": (per_step(pi, "jobs"), "count"),
        "pi.shuffle_write_mb_per_step": (per_step(pi, "shuffle_write") / MB, "MB"),
        "mc.setup_s": (median([c["info"]["setup_secs"] for c in mc]), "s"),
        "mc.loop_s": (median([c["info"]["loop_secs"] for c in mc]), "s"),
        "mc.segment_s_p50": (median([s for c in mc for s in c["info"]["step_secs"]]), "s"),
        "mc.walks": (median([sum(c["info"]["step_walk_totals"]) for c in mc]), "count"),
        "mc.total_visits": (median([c["info"]["total_visits"] for c in mc]), "count"),
        "mc.fuse_steps": (median([c["info"]["fuse_steps"] for c in mc]), "count"),
        "mc.jobs_per_step": (per_step(mc, "jobs"), "count"),
        "mc.shuffle_write_mb_per_step": (per_step(mc, "shuffle_write") / MB, "MB"),
        "mc.kernel.walks_per_s": (kernel.get("walks_per_s", 0.0), "walks/s"),
        "mc.kernel.coalesce_ratio": (kernel.get("coalesce_ratio", 0.0), "ratio"),
        "mc.kernel.bytes_per_walk": (kernel.get("bytes_per_walk", 0.0), "B/walk"),
        # the kernel's share of the loop's core-seconds: the loop's walks at
        # the microbenchmark's rate, over cores x loop wall time
        "mc.kernel.loop_share": (median([
            sum(c["info"]["step_walk_totals"]) / kernel["walks_per_s"]
            / (cores * c["info"]["loop_secs"]) for c in mc if kernel]), "ratio"),
        "state.materialize_calls": (median([s[0] for s in state]), "count"),
        "state.materialize_s": (median([s[1] for s in state]), "s"),
        "state.bytes_written_mb": (median([s[2] for s in state]) / MB, "MB"),
        "checkpoint.save_calls": (median([s[0] for s in ckpt]), "count"),
        "checkpoint.save_s": (median([s[1] for s in ckpt]), "s"),
        "checkpoint.bytes_written_mb": (median([s[2] for s in ckpt]) / MB, "MB"),
        "cc.s": (secs("cc"), "s"),
        "lpa.s": (secs("lpa"), "s"),
        "tri.s": (secs("tri"), "s"),
        "cc.jobs": (median([len(subtree_jobs(c["span"]["id"])) for c in calls("cc")]), "count"),
        "lpa.jobs": (median([len(subtree_jobs(c["span"]["id"])) for c in calls("lpa")]), "count"),
        "spark.jobs": (median([len(js) for js in pass_jobs]), "count"),
        "spark.stages": (median([total(js, "stages") for js in pass_jobs]), "count"),
        "spark.tasks": (median([total(js, "tasks") for js in pass_jobs]), "count"),
        "spark.shuffle_write_mb": (
            median([total(js, "shuffle_write") for js in pass_jobs]) / MB, "MB"),
        "spark.gc_s": (median([total(js, "gc_ms") for js in pass_jobs]) / 1e3, "s"),
        "spark.executor_cpu_s": (
            median([total(js, "cpu_ns") for js in pass_jobs]) / 1e9, "s"),
        "jvm.peak_rss_mb": (jvm_peak / MB, "MB"),
        "trace.overhead_s": (
            result_s - baseline_result_s if baseline_result_s else 0.0, "s"),
    }
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    import montecarlopagerank_spark  # noqa: F401 - fail fast without the engine

    from perfbench import kernel as kernel_bench
    from perfbench.tracing import RssSampler, Tracer, event_log_jobs, timed_materializers
    from perfbench.workloads import WORKLOADS, edges_per_block, make_input, run_pass

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    traced = bool(args.trace)
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}-{int(time.time())}"
    run_dir = os.path.join(WORK, "runs", run_id)
    os.makedirs(run_dir)
    # engine scratch (state slots, CSR side-files) and temp files stay in
    # the checkout; the default would be the system temp dir
    os.environ["SPARK_GRAFT_SCRATCH"] = os.path.join(run_dir, "scratch")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    cores = min(os.cpu_count() or 1, 4)
    load_start = os.getloadavg()
    steal_start = cpu_steal_s()
    src_hash = source_hash()

    size = WORKLOADS[args.workload].get("n_edges") or WORKLOADS[args.workload]["n_turns"]
    input_path = os.path.join(WORK, "inputs", f"{args.workload}-n{size}-s{args.seed}")
    t = time.perf_counter()
    make_input(args.workload, args.seed, input_path)
    input_gen_s = time.perf_counter() - t

    with RssSampler() as rss:
        spark = start_spark(run_dir, cores, traced)
        session_s = time.perf_counter() - T0 - input_gen_s
        sc = spark.sparkContext
        try:
            tracer = Tracer(sc, run_id, traced)
            passes = []
            graph_np = None
            with timed_materializers(tracer) if traced else nullcontext():
                t_measure = time.perf_counter()
                while True:
                    with tracer.span("pass") as span:
                        p = run_pass(spark, tracer, args.workload, args.seed,
                                     input_path, run_dir)
                    p.span = span
                    passes.append(p)
                    done = time.perf_counter() - t_measure >= args.seconds
                    if p.graph is not None:
                        if done:
                            graph_np = collect_graph(p, input_path)
                            for q in passes:
                                q.n_vertices = q.n_vertices or len(graph_np["vertices"])
                        for df in p.graph:
                            if df is not None:
                                df.unpersist()
                    if done:
                        break
            kernel = None
            if traced and graph_np is not None:
                cfg = WORKLOADS[args.workload]
                block = edges_per_block(cfg, len(graph_np["src"]))
                kernel = kernel_bench.microbench(graph_np["src"], graph_np["dst"], block,
                                                 cfg["walks"], seconds=2.0, seed=args.seed)
            conf = dict(sc.getConf().getAll())
            measure_s = time.perf_counter() - t_measure
        finally:
            stop_spark(spark)
    load_end = os.getloadavg()
    t_checks = time.perf_counter()

    # -- checks (after the timer) ------------------------------------------
    prior = [r["total_visits"] for r in read_ledger(args.workload, args.seed, src_hash)
             if r.get("total_visits") is not None]
    expected_total = prior[0] if prior else None
    mc_check = []
    for p in passes:
        if graph_np is None:
            break
        seen, figures = check_pass(args.workload, args.seed, p, graph_np, expected_total)
        if figures is not None:
            mc_check.append(figures)
        if expected_total is None:
            expected_total = seen
    calls = [c for p in passes for c in p.calls]
    failed = [c for c in calls if c["error"] is not None or graph_np is None]
    for c in failed:
        print(f"FAILED {c['name']}: {c['error']}", file=sys.stderr)
    checks_s = time.perf_counter() - t_checks

    # -- end-to-end metrics ----------------------------------------------------
    def setup_of(p):
        load = sum(r["secs"] for r in tracer.spans
                   if r["name"] in ("input.load", "edges.build")
                   and r["parent"] == p.span["id"])
        return load + sum(c["info"].get("setup_secs", 0.0) for c in p.calls)

    # over the whole MC call, not only its loop: the ~9 s loop window alone
    # swung by a quarter between runs when the hypervisor stole CPU
    mc_rates = [p.n_edges * c["info"]["iterations"] / c["span"]["secs"]
                for p in passes for c in p.calls
                if c["name"] == "mc" and c["info"].get("iterations")]
    setup_s = session_s + median([setup_of(p) for p in passes])
    result_s = session_s + median([p.span["secs"] for p in passes])
    end_to_end = {
        "setup_s": (setup_s, "s"),
        "result_s": (result_s, "s"),
        "mc_edges_per_s": (median(mc_rates), "edges/s"),
        "py_peak_rss_mb": (rss.py_peak / MB, "MB"),
    }

    layers = None
    baseline = median([r["result_s"] for r in read_ledger(args.workload, None, src_hash)
                       if not r["traced"]], default=None)
    if traced:
        jobs = event_log_jobs(os.path.join(run_dir, "eventlog"))
        layers = per_layer(passes, tracer, jobs, kernel or {}, cores,
                           session_s, result_s, baseline, rss.jvm_peak)
        tracer.write_jsonl(os.path.join(WORK, "traces", f"{run_id}.jsonl"))
    mc_totals = [c["info"]["total_visits"] for c in calls
                 if c["name"] == "mc" and c["error"] is None]
    append_ledger({
        "workload": args.workload, "seed": args.seed, "source": src_hash,
        "config": WORKLOADS[args.workload],
        "traced": traced, "result_s": result_s,
        "total_visits": mc_totals[0] if mc_totals else None,
    })

    report = {
        "run_id": run_id, "workload": args.workload, "seed": args.seed,
        "config": WORKLOADS[args.workload],
        "n_edges": passes[-1].n_edges, "n_vertices": passes[-1].n_vertices,
        "passes": len(passes),
        "pass_secs": [p.span["secs"] for p in passes],
        "calls": [[{"call": c["name"], "secs": c["span"]["secs"],
                    **{k: v for k, v in c["info"].items() if k != "deltas"}}
                   for c in p.calls] for p in passes],
        "failed_ratio": len(failed) / max(len(calls), 1),
        "failures": [{"call": c["name"], "error": c["error"]} for c in failed],
        "mc_check": mc_check,
        "host": {
            "nproc": os.cpu_count(), "cores_used": cores,
            "loadavg_start": load_start, "loadavg_end": load_end,
            "load_warning": load_start[0] > (os.cpu_count() or 1) / 4,
            "cpu_steal_s": cpu_steal_s() - steal_start,
            "filesystem": filesystem(run_dir),
            "git_commit": git_commit(), "source_hash": src_hash,
            "spark_conf": conf,
        },
        "timing": {"input_gen_s": input_gen_s, "session_s": session_s,
                   "measure_s": measure_s, "checks_s": checks_s,
                   "total_s": time.perf_counter() - T0},
        "kernel_microbench": kernel,
        "trace_baseline_result_s": baseline,
        "end_to_end": {k: v for k, (v, _) in end_to_end.items()},
        "per_layer": {k: v for k, (v, _) in layers.items()} if layers else None,
    }
    for entry in os.listdir(run_dir):  # keep only the report
        shutil.rmtree(os.path.join(run_dir, entry), ignore_errors=True)
    with open(os.path.join(run_dir, "report.json"), "w") as f:
        json.dump(report, f, indent=1, default=str)
    print(json.dumps(report, default=str))

    metrics = layers if traced else end_to_end
    print(json.dumps({
        "correct": not failed,
        "attempted": len(calls),
        "failed": len(failed),
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
