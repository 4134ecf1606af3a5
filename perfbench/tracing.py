"""Measurement from outside the engine: spans, Spark job attribution,
materializer wrappers, the Spark event log and process RSS.

Nothing here edits the package. Spans wrap the benchmark's own calls into
the engine's public functions. In a traced run each span also sets a Spark
job group, so the event log attributes every job, stage, task and shuffle
byte to the innermost span that was open when the job started.
"""

from __future__ import annotations

import importlib
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from urllib.parse import unquote, urlparse


class Tracer:
    """Spans kept in memory. Untraced, a span only times its block (the
    end-to-end figures need those times). Traced, it also tags the Spark
    jobs it starts with a job group named after its id."""

    def __init__(self, sc, run_id: str, traced: bool):
        self.sc = sc
        self.run_id = run_id
        self.traced = traced
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def _tag(self, sid: int | None) -> None:
        if sid is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"span-{sid}", self.spans[sid]["name"])

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {
            "id": sid, "name": name, "run_id": self.run_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(), "end": None, "secs": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        if self.traced:
            self._tag(sid)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["secs"] = time.perf_counter() - t0
            rec["end"] = time.time()
            self._stack.pop()
            if self.traced:
                self._tag(self._stack[-1] if self._stack else None)

    def write_jsonl(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")

    def subtree(self, sid: int) -> list[int]:
        """``sid`` and every span opened inside it."""
        kids = defaultdict(list)
        for rec in self.spans:
            if rec["parent"] is not None:
                kids[rec["parent"]].append(rec["id"])
        out, todo = [], [sid]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(kids[s])
        return out


def _parquet_bytes(frames) -> int:
    """On-disk bytes of the parquet files behind re-read DataFrames."""
    total = 0
    for df in frames:
        for uri in df.inputFiles():
            total += os.path.getsize(unquote(urlparse(uri).path))
    return total


@contextmanager
def timed_materializers(tracer: Tracer):
    """Wrap ``StateStore.materialize`` and ``CheckpointManager.save_step``
    as bound by ``algos.pagerank_power`` and ``algos.pagerank_mc`` (the
    same class objects the other algorithms import). Each call becomes a
    ``state.materialize`` / ``checkpoint.save_step`` span carrying the
    bytes of the parquet it wrote. The originals are restored on exit."""
    patches = {}
    for name in ("pagerank_power", "pagerank_mc"):
        # the algos package re-exports functions under the module names
        mod = importlib.import_module(f"montecarlopagerank_spark.algos.{name}")
        patches[(mod.StateStore, "materialize")] = (
            "state.materialize", lambda out: [out])
        patches[(mod.CheckpointManager, "save_step")] = (
            "checkpoint.save_step", lambda out: list(out.values()))
    originals = {key: getattr(*key) for key in patches}
    for (cls, meth), (name, frames) in patches.items():
        setattr(cls, meth, _timed(tracer, originals[(cls, meth)], name, frames))
    try:
        yield
    finally:
        for (cls, meth), orig in originals.items():
            setattr(cls, meth, orig)


def _timed(tracer: Tracer, orig, name: str, frames):
    def wrapper(*args, **kwargs):
        with tracer.span(name) as rec:
            out = orig(*args, **kwargs)
        rec["bytes"] = _parquet_bytes(frames(out))
        return out

    return wrapper


def event_log_jobs(log_dir: str) -> list[dict]:
    """Every Spark job that started inside a span, from the event log:
    the span id (its job group), submission time in ms, and the job's
    stages, tasks, shuffle bytes written, GC ms and executor CPU ns."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, dict] = {}
    # Spark 4 writes a directory per application holding ``events_*`` files
    # (rolled over as events_1_*, events_2_*, ... in write order)
    paths = sorted((int(f.split("_")[1]), os.path.join(d, f))
                   for d, _, fs in os.walk(log_dir) for f in fs if f.startswith("events_"))
    for _, path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    if not group.startswith("span-"):
                        continue
                    job = jobs[ev["Job ID"]] = {
                        "span": int(group[5:]), "submit": ev["Submission Time"],
                        "stages": 0, "tasks": 0, "shuffle_write": 0,
                        "gc_ms": 0, "cpu_ns": 0,
                    }
                    for st in ev.get("Stage IDs", []):
                        stage_job.setdefault(st, job)
                elif kind == "SparkListenerStageCompleted":
                    job = stage_job.get(ev["Stage Info"]["Stage ID"])
                    if job is not None:
                        job["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    job = stage_job.get(ev["Stage ID"])
                    tm = ev.get("Task Metrics")
                    if job is None or not tm:
                        continue
                    job["tasks"] += 1
                    job["shuffle_write"] += tm["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                    job["gc_ms"] += tm["JVM GC Time"]
                    job["cpu_ns"] += tm["Executor CPU Time"]
    return list(jobs.values())


def _children(pid_ppid: dict[int, int], root: int) -> list[int]:
    kids = defaultdict(list)
    for pid, ppid in pid_ppid.items():
        kids[ppid].append(pid)
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids[p])
    return out


def process_tree(root: int) -> list[tuple[int, str, int]]:
    """(pid, name, rss bytes) of ``root`` and all its descendants."""
    parents = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            parents[int(d)] = int(stat[stat.rindex(")") + 2:].split()[1])
    out = []
    for pid in _children(parents, root):
        try:
            with open(f"/proc/{pid}/status") as f:
                fields = dict(ln.split(":", 1) for ln in f if ":" in ln)
        except OSError:
            continue
        rss = int(fields.get("VmRSS", "0 kB").split()[0]) * 1024
        out.append((pid, fields["Name"].strip(), rss))
    return out


class RssSampler:
    """Peak summed RSS of this process's Python descendants (driver and
    PySpark workers) and, separately, of its JVM, sampled from /proc."""

    def __init__(self, period: float = 0.5):
        self.period = period
        self.py_peak = 0
        self.jvm_peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> None:
        py = jvm = 0
        for _, name, rss in process_tree(os.getpid()):
            if name.startswith("python"):
                py += rss
            elif name == "java":
                jvm += rss
        self.py_peak = max(self.py_peak, py)
        self.jvm_peak = max(self.jvm_peak, jvm)

    def _run(self) -> None:
        while not self._stop.wait(self.period):
            self.sample()

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.sample()
