"""Per-superstep checkpointing with lineage + metrics manifest.

The reference grows one unbounded RDD lineage across all iterations (no
checkpoint/localCheckpoint anywhere; SURVEY.md §4.1 anti-patterns), which
both blows up the DAG at depth and makes every run all-or-nothing. Here
every iterative algorithm writes its state table(s) per superstep (per
fused segment for MC PageRank) to
``<root>/step=<i>/<name>`` as parquet plus a JSON manifest recording the
step, convergence metrics, the run configuration, and completion —
Iceberg snapshot semantics reproduced on plain files. Resuming = find the
max complete step, check that it was written under the same run
configuration (algorithm, state-table ``format`` and every parameter the
committed state depends on), read its tables, continue. Input
fingerprints are NOT recorded (one more Spark job per call): resuming on
a different graph is the caller's error. Reading the checkpoint back also
truncates lineage (each superstep starts from a fresh scan).

The manifest is written *after* the parquet commit, so a killed run leaves
either a complete step (manifest present) or an ignorable partial
(manifest absent) — the resume test (FIXTURES.md F4) relies on this.
"""

from __future__ import annotations

import json
import os
import shutil
from typing import Any

from pyspark.sql import DataFrame, SparkSession


class CheckpointManager:
    def __init__(self, spark: SparkSession, root: str, run_config: dict | None = None):
        self.spark = spark
        self.root = root
        self.run_config = run_config or {}
        os.makedirs(root, exist_ok=True)

    # -- paths -----------------------------------------------------------
    def _step_dir(self, step: int) -> str:
        return os.path.join(self.root, f"step={step}")

    def _manifest_path(self, step: int) -> str:
        return os.path.join(self._step_dir(step), "manifest.json")

    # -- write -----------------------------------------------------------
    def save_step(
        self, step: int, tables: dict[str, DataFrame], metrics: dict[str, Any]
    ) -> dict[str, DataFrame]:
        """Write state tables + manifest; return re-read DataFrames (lineage
        truncated). Tables are written before the manifest commits the step."""
        sdir = self._step_dir(step)
        for name, df in tables.items():
            df.write.mode("overwrite").parquet(os.path.join(sdir, name))
        manifest = {
            "step": step,
            "tables": sorted(tables),
            "metrics": metrics,
            "run_config": self.run_config,
        }
        tmp = self._manifest_path(step) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, self._manifest_path(step))  # atomic commit
        return self.load_tables(step, sorted(tables))

    def update_metrics(self, step: int, metrics: dict[str, Any]) -> None:
        """Rewrite a committed step's metrics (e.g. convergence delta that
        is only known after the step's tables were scanned back)."""
        man = self.manifest(step) or {"step": step, "tables": []}
        man["metrics"] = metrics
        tmp = self._manifest_path(step) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(man, f)
        os.replace(tmp, self._manifest_path(step))

    # -- read ------------------------------------------------------------
    def load_tables(self, step: int, names: list[str]) -> dict[str, DataFrame]:
        sdir = self._step_dir(step)
        return {n: self.spark.read.parquet(os.path.join(sdir, n)) for n in names}

    def manifest(self, step: int) -> dict | None:
        p = self._manifest_path(step)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def last_complete_step(self, ignore: tuple[str, ...] = ()) -> int | None:
        """Max step with a committed manifest, or None. Raises ValueError
        if that step was committed under a different run configuration —
        resuming would misread (or silently continue) a foreign run.
        ``ignore`` names config keys left out of the comparison, for a
        caller that checks the rest before it can compute those keys."""
        if not os.path.isdir(self.root):
            return None
        steps = []
        for d in os.listdir(self.root):
            if d.startswith("step="):
                s = int(d.split("=", 1)[1])
                if os.path.exists(self._manifest_path(s)):
                    steps.append(s)
        if not steps:
            return None
        last = max(steps)
        found = self.manifest(last).get("run_config")

        def known(cfg):
            return cfg and {k: v for k, v in cfg.items() if k not in ignore}

        if known(found) != known(self.run_config):
            raise ValueError(
                f"checkpoint {self.root} step {last} was written with run "
                f"config {found}, not {self.run_config}; refusing to resume"
            )
        return last

    def clear(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)
        os.makedirs(self.root, exist_ok=True)
