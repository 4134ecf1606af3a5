"""Ping-pong parquet state materializer for iterative algorithms.

Every iterative algo here (PI/MC PageRank, connected components, LPA)
rebinds a small state DataFrame per superstep. Doing that with
``localCheckpoint`` looks cheap but degrades catastrophically in
long-running drivers (measured: flat ~0.5 s/step until ~17 steps, then
2× per step — block-manager/cleaner pathology, independent of AQE and of
reliable ``checkpoint()``; see git history). A parquet round-trip is flat
(measured 120 supersteps at ~0.9 s/step, local[4]) and is also the honest
100 TB design: Pregel-style per-superstep state materialization to DFS,
which is what makes mid-iteration resume possible at all.

Three rotating slots per state name: write i goes to slot ``i % 3``, so
a write never clobbers a directory referenced by the results of the last
TWO ``materialize(name)`` calls. Two slots are not enough in practice:
fixpoint loops that DISCARD a no-change write (e.g. the SCC trim loop —
it writes the re-filtered edge set, sees the count unchanged, and keeps
the OLDER DataFrame) leave the live reader two writes back, and the next
same-name write would delete the very files its own plan scans
(observed: fileNotExistError mid-job under load). Invariant for callers:
a plan passed to ``materialize(name)`` may reference the last two
``name`` results, never older ones.

A superstep loop holds ONE store and commits each step with ONE call,
``save_step(step, tables, metrics)``: here ``materialize`` per table.
``CheckpointManager`` (checkpoint.py) is the durable subclass — the same
scratch store plus a commit manifest: its ``save_step`` writes the tables
under the checkpoint root, then commits one manifest carrying the step's
observed metrics. ``checkpoint.open_store`` picks the store for a run.
Scratch and checkpoint roots may be plain paths or ``file:``/DFS URIs;
Spark takes them as given, and every other file operation (manifests,
listings, clears, the MC CSR blocks) resolves them via ``_resolve_fs``.

The observed write (``observe``) is the one way a loop reads a scalar off
its state. The metrics ride the write's one Spark job as a
``DataFrame.observe`` observation, which always carries ``n``, the
number of rows written; the row is read only after the write has run.
A separate ``count()`` or aggregate per superstep would be a second job
with its own fixed schedule and IO cost: the reference pays exactly that
with a ``lookup(-1)`` driver action per superstep for its dangling mass
(PowerIterationPageRank.scala:111; SURVEY.md §3.4). An empty relation
still resolves: ``n`` is 0 and sums are None.
"""

from __future__ import annotations

import atexit
import functools
import os
import shutil
import tempfile
from typing import Any, Callable

from pyarrow import fs as pafs
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

# scratch roots pending cleanup: results returned to callers may still scan
# their scratch slot (the recompute source for a persisted-but-evicted
# DataFrame), so owned roots that are never close()d are reclaimed at
# interpreter exit instead of leaking one mkdtemp per algorithm invocation
_SCRATCH_ROOTS: set[str] = set()


def _cleanup_scratch() -> None:
    for root in list(_SCRATCH_ROOTS):
        shutil.rmtree(root, ignore_errors=True)
    _SCRATCH_ROOTS.clear()


atexit.register(_cleanup_scratch)


def _strip_file_scheme(path: str) -> str | None:
    """``file:`` URI → plain local path, else None. Accepts the absolute
    forms ``file:///p``, ``file://localhost/p`` and the Hadoop/Spark-
    normalized single-slash ``file:/p`` (``Path.toString`` emits that
    form), which has no ``://`` and once fell through both
    ``_resolve_fs`` and the publish-root stripping — so ``_publish_block``
    os.makedirs'd a literal cwd-relative ``file:`` directory (the r4
    junk-dir bug). Raises ``ValueError`` for a remote authority
    (``file://host/p``) and a relative path (``file:rel/p``) instead of
    silently turning them into ``/host/p`` and ``/rel/p``."""
    if not path.startswith("file:"):
        return None
    rest = path[5:]
    if rest.startswith("//"):
        host, _, rest = rest[2:].partition("/")
        if host not in ("", "localhost"):
            raise ValueError(f"file URI names a remote host {host!r}: {path}")
        return "/" + rest.lstrip("/")
    if not rest.startswith("/"):
        raise ValueError(f"file URI with a relative path: {path}")
    return "/" + rest.lstrip("/")


def _resolve_fs(path: str) -> tuple[pafs.FileSystem, str]:
    """Resolve a state or checkpoint root to (pyarrow FileSystem,
    fs-local path). Plain paths and ``file:`` URIs (any slash count) stay
    on the local FS; other URIs (``hdfs://``, ``s3://``) go through
    ``FileSystem.from_uri`` — this is what makes the worker-resident CSR
    design and durable checkpoints work when state lives on DFS (the
    10^12-edge deployment shape), not only when executors share the
    driver's disk."""
    local = _strip_file_scheme(path)
    if local is not None:
        return pafs.LocalFileSystem(), local
    if "://" in path:
        return pafs.FileSystem.from_uri(path)
    return pafs.LocalFileSystem(), path


class StateStore:
    def __init__(self, spark: SparkSession, root: str | None = None):
        self.spark = spark
        self._own = root is None
        # SPARK_GRAFT_SCRATCH relocates scratch state (e.g. to tmpfs for
        # benchmarks: this sandbox has ONE shared disk at every "cluster
        # size", so on-disk scratch couples the N-vs-4N ratio to disk
        # throughput noise — a real 4N-node cluster has 4N local disks).
        # Default stays the system temp dir.
        base = os.environ.get("SPARK_GRAFT_SCRATCH")
        if base:
            os.makedirs(base, exist_ok=True)
        self.root = root or tempfile.mkdtemp(prefix="mcpr_state_", dir=base)
        if self._own:
            _SCRATCH_ROOTS.add(self.root)
        self._seq: dict[str, int] = {}

    def materialize(self, df: DataFrame, name: str = "state") -> DataFrame:
        """Write ``df`` to the name's next slot and return the re-read
        DataFrame (lineage truncated, plan = fresh parquet scan). The
        re-read takes ``df``'s schema, so it runs no schema-inference job
        (Spark reads file sources all-nullable either way)."""
        seq = self._seq.get(name, 0)
        path = os.path.join(self.root, f"{name}_{seq % 3}")
        # snappy, not the session's zstd: scratch slots live for exactly
        # one superstep (usually on tmpfs/local disk) — encode CPU in the
        # per-step write job matters, storage density doesn't (measured
        # ~2× faster encode for ~1.33× bytes on CSR-shaped data)
        df.write.option("compression", "snappy").mode("overwrite").parquet(path)
        self._seq[name] = seq + 1
        return self.spark.read.schema(df.schema).parquet(path)

    def save_step(
        self, step: int, tables: dict[str, DataFrame],
        metrics: dict | Callable[[], dict],
    ) -> dict[str, DataFrame]:
        """Commit superstep ``step``: materialize each table under its
        name and return the re-read frames. ``metrics`` (a dict, or from
        ``observe`` a zero-argument callable returning one once the write
        has run) is what the durable subclass records; scratch keeps
        nothing."""
        return {name: self.materialize(df, name) for name, df in tables.items()}

    def observe(
        self, df: DataFrame, name: str, *metrics: Column,
        keep: tuple[str, ...] | None = None,
        step: int | None = None,
        record: Callable[[dict], Any] | None = None,
    ) -> tuple[DataFrame, Any]:
        """The observed write (module docstring): ``df`` written as
        ``name`` with ``n`` and ``metrics`` observed on its one job.
        ``keep`` projects after the observation, so a metric may read a
        column the state drops. With ``step`` the write commits that
        superstep (``save_step``) and ``record(row)`` is the step's
        manifest metrics. Returns the re-read frame and ``record(row)``,
        or the row itself without ``record``."""
        obs = Observation()
        df = df.observe(obs, F.count(F.lit(1)).alias("n"), *metrics)
        if keep is not None:
            df = df.select(*keep)
        row = functools.cache(lambda: (record or (lambda r: r))(obs.get))
        if step is None:
            out = self.materialize(df, name)
        else:
            out = self.save_step(step, {name: df}, row)[name]
        return out, row()

    def close(self) -> None:
        if self._own:
            shutil.rmtree(self.root, ignore_errors=True)
            _SCRATCH_ROOTS.discard(self.root)
