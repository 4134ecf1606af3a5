"""Aggregate a Spark event log into per-stage scaling diagnostics.

Usage::

    BENCH_EVENTLOG=/tmp/el python tools/run_one.py --job mc --cores 8 ...
    python tools/stage_profile.py /tmp/el/<app-id>

Groups stages by their call-site name (first line of stage name + callsite),
sums task time / run time / GC / shuffle bytes across all stage attempts in
the group, and prints a table sorted by total task time. Comparing the same
job's table at two parallelism levels shows WHICH stage group fails to
scale (wall ratio << core ratio) and WHY (task-time inflation = contention;
equal task time but poor wall ratio = stragglers/waves; fixed driver gaps =
scheduling overhead).
"""

from __future__ import annotations

import json
import sys
from collections import defaultdict


def main(path: str) -> None:
    stages: dict[int, dict] = {}
    agg = defaultdict(lambda: defaultdict(float))
    # pass 1: stage id → name. TaskEnd events precede their stage's
    # StageCompleted in the log, so a single pass mis-keys every task.
    with open(path) as f:
        for line in f:
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            if ev.get("Event") in (
                "SparkListenerStageSubmitted", "SparkListenerStageCompleted"
            ):
                si = ev["Stage Info"]
                sid = si["Stage ID"]
                name = si["Stage Name"].split("\n")[0]
                stages[sid] = {"key": f"s{sid:03d} {name}"}
    with open(path) as f:
        for line in f:
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            et = ev.get("Event")
            if et == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                key = stages[si["Stage ID"]]["key"]
                a = agg[key]
                a["n_stages"] += 1
                a["n_tasks"] += si["Number of Tasks"]
                sub = si.get("Submission Time")
                comp = si.get("Completion Time")
                if sub and comp:
                    a["wall_s"] += (comp - sub) / 1e3
            elif et == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                key = stages.get(sid, {}).get("key")
                m = ev.get("Task Metrics") or {}
                k = key or f"stage_{sid}"
                a = agg[k]
                a["task_s"] += m.get("Executor Run Time", 0) / 1e3
                a["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                a["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                a["deser_s"] += m.get("Executor Deserialize Time", 0) / 1e3
                srm = m.get("Shuffle Read Metrics") or {}
                swm = m.get("Shuffle Write Metrics") or {}
                a["sh_read_mb"] += (
                    srm.get("Local Bytes Read", 0) + srm.get("Remote Bytes Read", 0)
                ) / 1e6
                a["sh_write_mb"] += swm.get("Shuffle Bytes Written", 0) / 1e6

    rows = sorted(agg.items(), key=lambda kv: -kv[1]["task_s"])
    hdr = (
        f"{'stage group':58s} {'n':>3s} {'tasks':>5s} {'wall_s':>8s} "
        f"{'task_s':>8s} {'cpu_s':>8s} {'gc_s':>6s} {'rdMB':>8s} {'wrMB':>8s}"
    )
    print(hdr)
    for key, a in rows:
        print(
            f"{key[:58]:58s} {int(a['n_stages']):3d} {int(a['n_tasks']):5d} "
            f"{a['wall_s']:8.1f} {a['task_s']:8.1f} {a['cpu_s']:8.1f} "
            f"{a['gc_s']:6.1f} {a['sh_read_mb']:8.0f} {a['sh_write_mb']:8.0f}"
        )


if __name__ == "__main__":
    main(sys.argv[1])
