"""Render BENCH/BASELINE.md — the scaling-efficiency deliverable named by
SURVEY.md §6 and BASELINE.md — from the measured artifacts:

* ``BENCH/scaling.json``  (tools/bench_scaling.py: same job, N vs 4N cores)
* the newest ``BENCH_r*.json`` (driver per-round headline bench, sf0.1)

Run after every bench_scaling refresh so the markdown can never drift from
the JSON it summarizes::

    python tools/report_baseline.py
"""

from __future__ import annotations

import glob
import json
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TARGET = 0.8  # BASELINE.json: scaling efficiency >= 0.8 between N and 4N


def load_round_bench() -> tuple[str, dict] | None:
    paths = sorted(glob.glob(os.path.join(REPO, "BENCH_r*.json")))
    if not paths:
        return None
    path = paths[-1]
    with open(path) as f:
        raw = json.load(f)
    parsed = raw.get("parsed") or {}
    rnd = re.search(r"BENCH_(r\d+)", os.path.basename(path)).group(1)
    return rnd, {"cpus": raw.get("cpus"), **parsed}


def fmt_eps(v: float) -> str:
    return f"{v / 1e6:.2f}M" if v >= 1e6 else f"{v / 1e3:.0f}k"


def main() -> None:
    with open(os.path.join(REPO, "BENCH", "scaling.json")) as f:
        s = json.load(f)
    lo, hi = s["low"], s["high"]
    factor = hi["cores"] // lo["cores"]
    ok = lambda e: "**PASS**" if e >= TARGET else "**MISS**"  # noqa: E731

    lines = [
        "# BENCH/BASELINE.md — scaling efficiency + headline throughput",
        "",
        "Authoritative metric (BASELINE.json): *supersteps/sec and",
        "edges-processed/sec to convergence; scaling efficiency ≥0.8 between",
        "N- and 4N-executor clusters.* No real cluster exists in this sandbox,",
        "so the evidence is the identical job at two local parallelism levels",
        f"(`local[{lo['cores']}]` vs `local[{hi['cores']}]`, a {factor}× core",
        "ratio) on the same input, produced by `tools/bench_scaling.py` →",
        "`BENCH/scaling.json` (this file is rendered from that JSON by",
        "`tools/report_baseline.py`).",
        "",
        "## Methodology",
        "",
        f"* Input: deterministic synthetic power-law digraph, "
        f"**{s['edges']:,} edges** (hash-derived, no RNG state, identical at",
        "  any parallelism). Big enough that per-superstep compute dominates",
        "  the fixed per-job cost — the regime a 100 TB run lives in.",
        "* Shuffle partitions are FIXED across both levels, so both runs",
        "  execute the *identical task layout*; the small \"cluster\" simply",
        "  runs the same tasks in more waves — exactly an N-executor cluster",
        "  working a layout sized for the 4N one.",
        "* Each (level, job) measurement runs in its own subprocess (fresh",
        "  JVM, fresh Python workers, empty storage pool) — as a real",
        "  deployment runs each job as its own spark-submit application.",
        "  Repeats are interleaved per job (PI@N, PI@4N, MC@N, MC@4N), so",
        "  both sides of each ratio are measured back-to-back inside one",
        "  noise window; the headline efficiency is the MEDIAN of the",
        f"  {len(s.get('windows', []))} per-window ratios (cross-window"
        " quotients are biased on a",
        "  drifting host — the longer leg samples more quiet windows).",
        "  Windows may span several harness invocations, folded by",
        "  tools/merge_scaling.py. Throughput cells below are best-of-"
        f"{lo.get('n_repeats', 1)}",
        "  per level (fastest observed = the machine's capability).",
        "* Outputs must be byte-identical across levels (block-seeded RNG →",
        "  parallelism-invariant MC): "
        f"PI identical = `{s['identical_pi_output']}`, "
        f"MC identical = `{s['identical_mc_output']}`.",
        "* efficiency = median over windows of",
        "  (secs(N) / secs(4N)) / 4 — i.e. throughput(4N) /",
        "  (4 × throughput(N)) with both throughputs from the same window.",
        "",
        "**Kernel vintage.** The scaling windows (`BENCH/scaling*.json`) and",
        "the bus counterfactual (`BENCH/bus_counterfactual.json`) below were",
        "measured with the round-5 per-walk kernel (one float32 pick per",
        "walk, `np.unique` coalescing). The walk kernel now draws arrivals",
        "per edge slot (one multinomial per covered row, integer picks",
        "otherwise, bincount coalescing) from a different RNG stream, so new",
        "windows must not be merged into these (`tools/merge_scaling.py`):",
        "re-measure both from scratch.",
        "",
        "## Results (steady-state superstep loop)",
        "",
        "| job | local[N] | local[4N] | efficiency | target |",
        "|---|---|---|---|---|",
        (
            f"| PI PageRank loop | {lo['pi_loop_secs']}s "
            f"({fmt_eps(lo['pi_loop_eps'])} edges/s) | {hi['pi_loop_secs']}s "
            f"({fmt_eps(hi['pi_loop_eps'])} edges/s) | "
            f"**{s['pi_loop_efficiency']}** | ≥0.8 "
            f"{ok(s['pi_loop_efficiency'])} |"
        ),
        (
            f"| MC PageRank loop | {lo['mc_loop_secs']}s "
            f"({fmt_eps(lo['mc_loop_eps'])} edges/s) | {hi['mc_loop_secs']}s "
            f"({fmt_eps(hi['mc_loop_eps'])} edges/s) | "
            f"**{s['mc_loop_efficiency']}** | ≥0.8 "
            f"{ok(s['mc_loop_efficiency'])} |"
        ),
        (
            f"| PI end-to-end (incl. setup) | {lo['pi_secs']}s | "
            f"{hi['pi_secs']}s | **{s['pi_efficiency']}** | — |"
        ),
        (
            f"| MC end-to-end (incl. setup) | {lo['mc_secs']}s | "
            f"{hi['mc_secs']}s | **{s['mc_efficiency']}** | — |"
        ),
        "",
        f"PI: {lo['pi_steps']} supersteps; MC: {lo['mc_steps']} supersteps.",
        "The steady-state loop numbers are the authoritative ones: at",
        "10^12-turn scale supersteps dominate and one-time setup (graph",
        "build + CSR pack, amortized across every subsequent query)",
        "vanishes. Setup itself is embarrassingly parallel (scan + window +",
        "two hash shuffles) and scales with the same plan shape.",
        "",
        "### MC loop: ratio vs throughput, and where the gap is measured",
        "",
        "The MC walk kernel is memory-bound, and this sandbox's two",
        "\"cluster sizes\" share ONE DRAM bus — the N-vs-4N ratio divides",
        "by a bus-contention term a real cluster doesn't have. Round 5",
        "halved the kernel's per-walk temp bytes (int32 offsets/lengths +",
        "float32 uniform draws; the CSR neighbour ids were already int32)",
        f"— loop throughput {fmt_eps(lo['mc_loop_eps'])} edges/s at N and",
        f"{fmt_eps(hi['mc_loop_eps'])} at 4N — but the ratio stayed below",
        "target, because the remaining traffic (the gather into the",
        "block's CSR plus the per-block coalescing sort) still saturates",
        "the shared bus at 8 concurrent kernels. Two independent",
        "measurements localize the gap to the memory system rather than",
        "the engine: the per-stage event-log profile",
        "(`tools/stage_profile.py`, 100M-edge run, refreshed this round",
        "with the new kernel — `BENCH/stage_profile_r5_{2c,8c}.txt`)",
        "shows the fused walk-kernel stage's summed TASK time inflating",
        "1.71× from 2 to 8 cores for identical work (135.8 s → 232.6 s;",
        "round 4's heavier kernel inflated 2.0×, so the byte diet",
        "measurably reduced bus pressure) while every other loop stage",
        "inflates ≤1.2×; and the controlled counterfactual below runs the",
        "EXACT kernel outside Spark at two working-set sizes. On a real",
        "N-vs-4N cluster each executor's kernels stream coupons against",
        "their own DRAM, so the inflation term is a local-mode artifact —",
        "the same argument, with the same kind of measurement, as the",
        "setup table below.",
        "",
    ]

    # the controlled DRAM-bus counterfactual (tools/bus_counterfactual.py)
    cf_path = os.path.join(REPO, "BENCH", "bus_counterfactual.json")
    if os.path.exists(cf_path):
        with open(cf_path) as f:
            cf = json.load(f)
        legs = cf["legs"]
        dram, cache = legs["dram_sized"], legs["cache_sized"]
        lines += [
            "### DRAM-bus counterfactual (kernel-level, Spark removed)",
            "",
            "`tools/bus_counterfactual.py` runs the EXACT production walk",
            f"kernel (`pagerank_mc._walk_kernel`) as {cf['low_procs']} vs",
            f"{cf['high_procs']} concurrent processes — matching the",
            "scaling windows' core levels — with IDENTICAL per-process",
            "work, so perfect hardware scaling keeps per-process time",
            "flat (inflation 1.0). Two working-set sizes, host L3 =",
            f"{cf.get('l3_bytes')}:",
            "",
            "| working set | per-proc secs "
            f"@{cf['low_procs']} | @{cf['high_procs']} | inflation "
            "(ideal 1.0) |",
            "|---|---|---|---|",
            (
                f"| DRAM-sized ({dram['n_vertices']:,} vertices × 16 deg "
                f"per copy) | {dram['low_median_s']} | "
                f"{dram['high_median_s']} | **{dram['inflation']}** |"
            ),
            (
                f"| cache-sized ({cache['n_vertices']:,} vertices × 16 deg "
                f"per copy) | {cache['low_median_s']} | "
                f"{cache['high_median_s']} | **{cache['inflation']}** |"
            ),
            "",
            "Same kernel, same code path, same per-process work: the",
            f"inflation appears ONLY when the working set exceeds cache",
            f"(**{dram['inflation']}×**, an efficiency-equivalent of",
            f"{1 / dram['inflation']:.2f} — matching the Spark-level MC",
            f"loop ratio of {s['mc_loop_efficiency']}) and vanishes when",
            f"it fits L3 (**{cache['inflation']}×**, efficiency-equivalent",
            f"{1 / cache['inflation']:.2f}, PI-level). A serial or",
            "algorithmic bottleneck would inflate both sizes alike; only",
            "memory-system contention is working-set-dependent. The",
            "kernel therefore scales ≥0.8 wherever memory bandwidth",
            "scales with core count — which is precisely what N vs 4N",
            "*executors* (each with its own DRAM) provide and what one",
            "shared-bus host cannot. (A Spark-level window at a",
            "cache-sized input cannot stand in for this: at that size the",
            "fixed per-job cost dominates the loop and the ratio measures",
            "scheduling overhead, not scaling — the kernel-level",
            "counterfactual is the controlled version of that",
            "experiment.)",
            "",
        ]

    # MC end-to-end is setup-dominated; break the setup down so the gap is
    # attributable from the markdown alone
    lp, hp = lo.get("mc_setup_phases"), hi.get("mc_setup_phases")
    if lp and hp:
        lines += [
            "### Why MC end-to-end trails its loop number",
            "",
            "MC setup phase scaling (best repeat, secs N → 4N):",
            "",
            "| phase | local[N] | local[4N] | ratio (ideal 4.0) |",
            "|---|---|---|---|",
            *[
                f"| {k} | {lp[k]} | {hp[k]} | "
                f"{(lp[k] / hp[k]):.2f} |"
                for k in ("plan", "csr_write", "warm", "rest")
            ],
            "",
            "The `warm` pass is now FLAT in core count (sub-second at both",
            "levels): the pack kernel publishes each block's decoded arrays",
            "as host-shared mmap side-files at pack time, so warming is",
            "mmap setup, not a per-worker re-read + re-decode of the CSR",
            "parquet (the round-3 warm phase anti-scaled: 8 s at 2 cores vs",
            "48 s at 8 on this input). The remaining sub-4.0 ratios —",
            "`plan` (edge exchange + degree agg) and `csr_write` (Arrow",
            "pack + snappy parquet of the full edge set) — are memory-bound",
            "streaming passes sharing ONE memory bus across all \"nodes\" of",
            "this local-mode \"cluster\"; on a real N-vs-4N cluster each",
            "executor streams against its own DRAM and local disk. Both are",
            "one-time costs per graph, amortized across every subsequent",
            "query at 10^12-turn scale; the per-superstep loop — the number",
            "the metric names — is the PASS column above.",
            "",
        ]

    # the per-window ratios behind the medians — full distribution, so the
    # headline number's provenance is auditable from the markdown alone
    windows = s.get("windows", [])
    if windows:
        lines += [
            "### Per-window ratios (the distribution behind the medians)",
            "",
            "Each row is one interleaved window: both cluster sizes",
            "measured back-to-back, so host drift cancels inside the",
            "ratio. The headline table takes the median of each column.",
            "",
            "| window | PI loop | MC loop | PI total | MC total |",
            "|---|---|---|---|---|",
        ]
        for i, w in enumerate(windows):
            lines.append(
                f"| {i} | {w['pi_loop_efficiency']} | "
                f"{w['mc_loop_efficiency']} | {w['pi_efficiency']} | "
                f"{w['mc_efficiency']} |"
            )
        lines.append("")

    rb = load_round_bench()
    if rb:
        rnd, b = rb
        q = b.get("queries", {})
        e = b.get("extra", {})
        lines += [
            f"## Headline bench ({rnd}, sf{b.get('sf')}, "
            f"local[{b.get('cpus')}], driver-run)",
            "",
            "| query | sec |",
            "|---|---|",
            *[f"| {k} | {v} |" for k, v in q.items()],
            f"| **total** | **{b.get('value')}** |",
            "",
            *(
                [
                    (
                        "Round-over-round comparability: the registry grows "
                        "every round, so compare `comparable_subtotal` "
                        f"(**{b['comparable_subtotal']}s** over the fixed "
                        "9-query set timed since round 2: "
                        f"{', '.join(b.get('comparable_queries', []))}), "
                        "never the grand total."
                    ),
                    "",
                ]
                if b.get("comparable_subtotal") is not None
                else []
            ),
            (
                f"PI to 1e-6: {e.get('pi_supersteps')} supersteps, "
                f"{e.get('pi_supersteps_per_sec')} steps/s, "
                f"{e.get('pi_edges_per_sec')} edges/s on "
                f"{e.get('n_edges'):,} edges / {e.get('n_vertices'):,} "
                "vertices. (Small-SF numbers are fixed-cost-dominated; the"
                " scaling table above is the at-scale evidence.)"
            ),
            "",
        ]

    out = os.path.join(REPO, "BENCH", "BASELINE.md")
    with open(out, "w") as f:
        f.write("\n".join(lines))
    print(out)


if __name__ == "__main__":
    main()
