"""Per-superstep checkpointing with lineage + metrics manifest.

The reference grows one unbounded RDD lineage across all iterations (no
checkpoint/localCheckpoint anywhere; SURVEY.md §4.1 anti-patterns),
which both blows up the DAG at depth and makes every run all-or-nothing.
Here ``CheckpointManager``, the durable subclass of the scratch
``StateStore`` (state.py), commits a superstep (a fused segment for MC
PageRank) as its state table(s) at ``<root>/step=<i>/<name>`` in parquet
plus ONE JSON manifest recording the step, the step's observed metrics,
the run configuration, and completion — Iceberg snapshot semantics
reproduced on plain files. Resuming = find the max complete step, check
that it was written under the same run configuration (algorithm,
state-table ``format`` and every parameter the committed state depends
on), read its tables, continue. Input fingerprints are NOT recorded (one
more Spark job per call): resuming on a different graph is the caller's
error. Reading the checkpoint back also truncates lineage (each
superstep starts from a fresh scan).

The manifest is written once, *after* the parquet commit (observed
metrics are ready once the write job has run), so a killed run leaves
either a complete step whose manifest holds every metric resume reads,
or an ignorable partial (manifest absent) — the resume test (FIXTURES.md
F4) relies on this. Manifest, listing and clear I/O go through
``pyarrow.fs`` (``state._resolve_fs``), so a root may be a path or a
``file:``/DFS URI.
"""

from __future__ import annotations

import json
from typing import Callable

from pyarrow import fs as pafs
from pyspark.sql import DataFrame, SparkSession

from montecarlopagerank_spark.operators.state import StateStore, _resolve_fs


class CheckpointManager(StateStore):
    def __init__(
        self, spark: SparkSession, root: str, run_config: dict | None = None,
        *, scratch_root: str | None = None,
    ):
        # scratch_root is the base StateStore's root (None = an owned
        # mkdtemp): where this store's non-superstep state goes
        super().__init__(spark, scratch_root)
        self.uri = root.rstrip("/")  # as Spark reads and writes it
        self.fs, self.dir = _resolve_fs(self.uri)
        self.run_config = run_config or {}
        self.fs.create_dir(self.dir, recursive=True)

    # -- paths -----------------------------------------------------------
    def _manifest_path(self, step: int) -> str:
        return f"{self.dir}/step={step}/manifest.json"

    # -- write -----------------------------------------------------------
    def save_step(
        self, step: int, tables: dict[str, DataFrame],
        metrics: dict | Callable[[], dict],
    ) -> dict[str, DataFrame]:
        """Write state tables, then commit the step's one manifest; return
        re-read DataFrames (lineage truncated). ``metrics`` may be a
        callable: it is evaluated after the tables are written, so it can
        read the write job's observed metrics."""
        for name, df in tables.items():
            df.write.mode("overwrite").parquet(f"{self.uri}/step={step}/{name}")
        manifest = {
            "step": step,
            "tables": sorted(tables),
            "metrics": metrics() if callable(metrics) else metrics,
            "run_config": self.run_config,
        }
        tmp = self._manifest_path(step) + ".tmp"
        with self.fs.open_output_stream(tmp) as f:
            f.write(json.dumps(manifest).encode())
        self.fs.move(tmp, self._manifest_path(step))  # atomic commit
        return self.load_tables(step, sorted(tables))

    # -- read ------------------------------------------------------------
    def load_tables(self, step: int, names: list[str]) -> dict[str, DataFrame]:
        return {
            n: self.spark.read.parquet(f"{self.uri}/step={step}/{n}")
            for n in names
        }

    def manifest(self, step: int) -> dict | None:
        try:
            with self.fs.open_input_stream(self._manifest_path(step)) as f:
                return json.loads(f.read())
        except FileNotFoundError:
            return None

    def last_complete_step(self, ignore: tuple[str, ...] = ()) -> int | None:
        """Max step with a committed manifest, or None. Raises ValueError
        if that step was committed under a different run configuration —
        resuming would misread (or silently continue) a foreign run.
        ``ignore`` names config keys left out of the comparison, for a
        caller that checks the rest before it can compute those keys."""
        steps = []
        for d in self.fs.get_file_info(
                pafs.FileSelector(self.dir, allow_not_found=True)):
            if d.base_name.startswith("step="):
                s = int(d.base_name.split("=", 1)[1])
                man = self.fs.get_file_info(self._manifest_path(s))
                if man.type != pafs.FileType.NotFound:
                    steps.append(s)
        if not steps:
            return None
        last = max(steps)
        found = self.manifest(last).get("run_config")

        def known(cfg):
            return cfg and {k: v for k, v in cfg.items() if k not in ignore}

        if known(found) != known(self.run_config):
            raise ValueError(
                f"checkpoint {self.uri} step {last} was written with run "
                f"config {found}, not {self.run_config}; refusing to resume"
            )
        return last


def open_store(
    spark: SparkSession, checkpoint_dir: str | None, run_config: dict,
    resume: bool, root: str | None = None, ignore: tuple[str, ...] = (),
) -> tuple[StateStore, int | None]:
    """A run's one superstep store and the last complete step to resume
    after (None = start at step 0). Without ``checkpoint_dir`` it is a
    scratch ``StateStore`` at ``root``. With it, a fresh run
    (``resume=False``) owns the directory and clears it — stale steps of
    an earlier run must never be resumed — and a resume refuses a
    checkpoint of a foreign ``run_config`` (``last_complete_step``)."""
    if not checkpoint_dir:
        return StateStore(spark, root), None
    store = CheckpointManager(spark, checkpoint_dir, run_config, scratch_root=root)
    if not resume:
        store.fs.delete_dir_contents(store.dir)
        return store, None
    return store, store.last_complete_step(ignore)
