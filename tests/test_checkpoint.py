"""Checkpoint/resume tests (SURVEY.md §5.2 item 5, north_rule
"resumable from checkpoint with per-partition lineage + metrics")."""

from __future__ import annotations

import os

import pytest

from montecarlopagerank_spark.algos.pagerank_mc import pagerank_monte_carlo
from montecarlopagerank_spark.algos.pagerank_power import pagerank_power
from montecarlopagerank_spark.operators.checkpoint import CheckpointManager


def ranks_dict(df):
    return {r["v"]: r["rank"] for r in df.collect()}


def test_manifest_commit_semantics(spark, tmp_path):
    ck = CheckpointManager(spark, str(tmp_path / "ck"), {"algo": "t"})
    assert ck.last_complete_step() is None
    df = spark.range(3).selectExpr("id as v", "cast(id as double) as rank")
    ck.save_step(0, {"state": df}, {"delta": 0.5})
    ck.save_step(1, {"state": df}, {"delta": 0.1})
    assert ck.last_complete_step() == 1
    man = ck.manifest(1)
    assert man["metrics"]["delta"] == 0.1 and man["run_config"]["algo"] == "t"
    # a partial step (tables but no manifest) is invisible
    df.write.mode("overwrite").parquet(str(tmp_path / "ck" / "step=2" / "state"))
    assert ck.last_complete_step() == 1


def test_pi_resume_identical(spark, gnutella_mini, tmp_path):
    """Interrupt PI after 3 supersteps; resume must land on ranks identical
    to the uninterrupted run (checkpoint determinism)."""
    full_dir = str(tmp_path / "full")
    part_dir = str(tmp_path / "part")
    full, info_full = pagerank_power(
        spark, gnutella_mini, tol=1e-8, max_iters=60, checkpoint_dir=full_dir)
    # simulated kill: cap at 3 iterations
    partial, info_part = pagerank_power(
        spark, gnutella_mini, tol=1e-8, max_iters=3, checkpoint_dir=part_dir)
    assert not info_part["converged"]
    resumed, info_res = pagerank_power(
        spark, gnutella_mini, tol=1e-8, max_iters=60,
        checkpoint_dir=part_dir, resume=True)
    assert info_res["converged"]
    assert info_res["iterations"] == info_full["iterations"]
    d_full, d_res = ranks_dict(full), ranks_dict(resumed)
    assert set(d_full) == set(d_res)
    for v in d_full:
        assert d_res[v] == pytest.approx(d_full[v], abs=1e-12)


def test_pi_resume_on_converged_run_is_noop(spark, cycle5, tmp_path):
    ck = str(tmp_path / "ck")
    r1, i1 = pagerank_power(spark, cycle5, tol=1e-9, checkpoint_dir=ck)
    r2, i2 = pagerank_power(
        spark, cycle5, tol=1e-9, checkpoint_dir=ck, resume=True)
    assert i2["converged"] and "resumed_at" in i2
    assert ranks_dict(r1) == ranks_dict(r2)


def test_mc_resume_identical(spark, gnutella_mini, tmp_path):
    """MC resume: ζ and the carry-over coupons restored from the last
    committed segment; block-seeded RNG makes the continuation
    byte-identical. A finished 3-step run (one segment) resumes to 8
    steps (segment 3..7, where the uninterrupted run commits 0..5 and
    6..7), hub-free and with split hubs (edges_per_block=8)."""
    for epb in (None, 8):
        full_dir = str(tmp_path / f"mcfull{epb}")
        part_dir = str(tmp_path / f"mcpart{epb}")
        full, info_full = pagerank_monte_carlo(
            spark, gnutella_mini, walks_per_vertex=20, iterations=8, seed=5,
            edges_per_block=epb, checkpoint_dir=full_dir)
        pagerank_monte_carlo(
            spark, gnutella_mini, walks_per_vertex=20, iterations=3, seed=5,
            edges_per_block=epb, checkpoint_dir=part_dir)
        resumed, info = pagerank_monte_carlo(
            spark, gnutella_mini, walks_per_vertex=20, iterations=8, seed=5,
            edges_per_block=epb, checkpoint_dir=part_dir, resume=True)
        assert info["has_hub_splits"] == (epb == 8)
        assert info["iterations"] == 8
        assert info["total_visits"] == info_full["total_visits"]
        assert ranks_dict(full) == ranks_dict(resumed)


def test_mc_checkpointed_equals_scratch(spark, gnutella_mini, tmp_path):
    """Checkpointed and scratch runs take the same fused segment loop and
    differ only in where each segment is written: byte-identical ranks
    and equal total_visits, hub-free (13 blocks) and with split hubs."""
    for epb in (64, 8):
        scratch, i_s = pagerank_monte_carlo(
            spark, gnutella_mini, walks_per_vertex=20, iterations=3, seed=9,
            edges_per_block=epb)
        ckpt, i_c = pagerank_monte_carlo(
            spark, gnutella_mini, walks_per_vertex=20, iterations=3, seed=9,
            edges_per_block=epb, checkpoint_dir=str(tmp_path / f"ck{epb}"))
        assert i_c["n_blocks"] >= 4
        assert i_c["has_hub_splits"] == (epb == 8)
        assert i_c["iterations"] == i_s["iterations"] == 3
        assert i_c["total_visits"] == i_s["total_visits"]
        assert ranks_dict(ckpt) == ranks_dict(scratch)


def _foreign_checkpoint(spark, path, run_config):
    """Commit one step of a checkpoint written under ``run_config``."""
    df = spark.range(2).selectExpr("id as v", "id as c")
    CheckpointManager(spark, path, run_config).save_step(0, {"t": df}, {})


def test_pi_resume_refuses_foreign_checkpoint(spark, cycle5, tmp_path):
    ck = str(tmp_path / "pi")
    pagerank_power(spark, cycle5, tol=1e-9, max_iters=3, checkpoint_dir=ck)
    with pytest.raises(ValueError, match="run config"):
        pagerank_power(spark, cycle5, eps=0.2, tol=1e-9, checkpoint_dir=ck,
                       resume=True)
    # a round-3 checkpoint: (v, rank) state, no format key
    old = str(tmp_path / "pi_r3")
    _foreign_checkpoint(
        spark, old, {"algo": "pagerank_power", "eps": 0.15, "tol": 1e-9})
    with pytest.raises(ValueError, match="run config"):
        pagerank_power(spark, cycle5, tol=1e-9, checkpoint_dir=old,
                       resume=True)


def test_mc_resume_refuses_foreign_checkpoint(spark, cycle5, tmp_path):
    ck = str(tmp_path / "mc")
    st = tmp_path / "st"
    pagerank_monte_carlo(spark, cycle5, walks_per_vertex=4, iterations=2,
                         seed=5, edges_per_block=64, checkpoint_dir=ck,
                         state_root=str(st))
    csr = {p: p.stat().st_mtime_ns for p in (st / "csr").rglob("*")}
    assert any(p.suffix == ".npy" for p in csr)
    for kw in ({"seed": 6}, {"edges_per_block": 32}):
        args = {"seed": 5, "edges_per_block": 64, **kw}
        with pytest.raises(ValueError, match="run config"):
            pagerank_monte_carlo(spark, cycle5, walks_per_vertex=4,
                                 iterations=4, checkpoint_dir=ck,
                                 resume=True, state_root=str(st), **args)
        # refused before the csr dir is cleared and the pack job runs:
        # the reused root's blocks are untouched, none are rewritten
        assert {p: p.stat().st_mtime_ns
                for p in (st / "csr").rglob("*")} == csr
    # an auto edges_per_block is checked after planning
    with pytest.raises(ValueError, match="run config"):
        pagerank_monte_carlo(spark, cycle5, walks_per_vertex=4, iterations=4,
                             seed=5, checkpoint_dir=ck, resume=True)
    # the per-step layout (one "coupons" table per superstep, no format)
    old = str(tmp_path / "mc_per_step")
    _foreign_checkpoint(
        spark, old, {"algo": "pagerank_mc", "K": 4, "eps": 0.15, "seed": 5})
    with pytest.raises(ValueError, match="run config"):
        pagerank_monte_carlo(spark, cycle5, walks_per_vertex=4, iterations=4,
                             seed=5, edges_per_block=64, checkpoint_dir=old,
                             resume=True)


def test_cc_resume_refuses_foreign_checkpoint(spark, cycle5, tmp_path):
    from montecarlopagerank_spark.algos.components import connected_components

    ck = str(tmp_path / "lpa")
    _foreign_checkpoint(spark, ck, {"algo": "lpa", "format": 1})
    with pytest.raises(ValueError, match="run config"):
        connected_components(spark, cycle5, checkpoint_dir=ck, resume=True)


def test_lpa_resume_refuses_foreign_checkpoint(spark, cycle5, tmp_path):
    from montecarlopagerank_spark.algos.labelprop import label_propagation

    ck = str(tmp_path / "cc")
    _foreign_checkpoint(spark, ck, {"algo": "cc", "format": 1})
    with pytest.raises(ValueError, match="run config"):
        label_propagation(spark, cycle5, checkpoint_dir=ck, resume=True)


def test_cc_resume_identical(spark, gnutella_mini, tmp_path):
    """Interrupt CC after 2 star rounds; resume must land on labels
    identical to the uninterrupted run (each round is a pure function of
    the committed pair set)."""
    from montecarlopagerank_spark.algos.components import connected_components

    def labels(df):
        return {r["v"]: r["component"] for r in df.collect()}

    full = labels(connected_components(spark, gnutella_mini))
    part_dir = str(tmp_path / "cc")
    partial = connected_components(
        spark, gnutella_mini, max_iters=2, checkpoint_dir=part_dir
    )
    partial.count()
    resumed = connected_components(
        spark, gnutella_mini, checkpoint_dir=part_dir, resume=True
    )
    assert labels(resumed) == full
    # resume on the converged checkpoint is a no-op (no extra rounds)
    again = connected_components(
        spark, gnutella_mini, checkpoint_dir=part_dir, resume=True
    )
    assert labels(again) == full


def test_lpa_resume_identical(spark, gnutella_mini, tmp_path):
    """Interrupt LPA after 2 supersteps; resume must land on labels
    identical to the uninterrupted run."""
    from montecarlopagerank_spark.algos.labelprop import label_propagation

    def labels(df):
        return {r["v"]: r["label"] for r in df.collect()}

    full = labels(label_propagation(spark, gnutella_mini, max_iters=10))
    part_dir = str(tmp_path / "lpa")
    label_propagation(
        spark, gnutella_mini, max_iters=2, checkpoint_dir=part_dir
    ).count()
    resumed = label_propagation(
        spark, gnutella_mini, max_iters=10, checkpoint_dir=part_dir,
        resume=True,
    )
    assert labels(resumed) == full


@pytest.fixture(scope="module")
def path41(spark):
    """A 41-vertex path: 7 committed CC rounds (0-6), and LPA labels that
    keep changing for far more supersteps than the tests below run."""
    return spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "src long, dst long")


def _cc(spark, edges, **kw):
    from montecarlopagerank_spark.algos.components import connected_components

    df = connected_components(spark, edges, **kw)
    return {r["v"]: r["component"] for r in df.collect()}


def _lpa(spark, edges, **kw):
    from montecarlopagerank_spark.algos.labelprop import label_propagation

    df = label_propagation(spark, edges, **kw)
    return {r["v"]: r["label"] for r in df.collect()}


def _pi(spark, edges, **kw):
    return ranks_dict(pagerank_power(spark, edges, tol=0.0, **kw)[0])


_RUNS = {"pi": _pi, "cc": _cc, "lpa": _lpa}


@pytest.mark.parametrize("algo", sorted(_RUNS))
def test_resume_after_interrupted_commit(spark, path41, tmp_path,
                                         monkeypatch, algo):
    """A run killed right after step 1's manifest commit resumes to the
    uninterrupted result: the one commit carries every metric resume
    reads (a manifest rewritten later with the step's metrics would be
    missing them here)."""
    run, ck = _RUNS[algo], str(tmp_path / algo)
    full = run(spark, path41, max_iters=5)
    save = CheckpointManager.save_step

    def killed(self, step, tables, metrics):
        out = save(self, step, tables, metrics)
        if step == 1:
            raise RuntimeError("killed after the commit of step 1")
        return out

    monkeypatch.setattr(CheckpointManager, "save_step", killed)
    with pytest.raises(RuntimeError, match="killed"):
        run(spark, path41, max_iters=5, checkpoint_dir=ck)
    monkeypatch.undo()
    assert os.path.isfile(f"{ck}/step=1/manifest.json")
    assert not os.path.exists(f"{ck}/step=2")
    resumed = run(spark, path41, max_iters=5, checkpoint_dir=ck, resume=True)
    assert resumed == pytest.approx(full, abs=1e-12)


@pytest.mark.parametrize("algo", ["cc", "lpa"])
def test_fresh_run_owns_checkpoint_dir(spark, path41, tmp_path, algo):
    """``resume=False`` clears the checkpoint dir: after a 41-vertex run
    committed steps 0-6, a fresh 2-vertex run in the same dir commits
    fewer steps, and resuming it must not pick up the stale step 6."""
    run, ck = _RUNS[algo], str(tmp_path / algo)
    run(spark, path41, max_iters=7, checkpoint_dir=ck)
    assert os.path.isfile(f"{ck}/step=6/manifest.json")
    pair = spark.createDataFrame([(0, 1)], "src long, dst long")
    fresh = run(spark, pair, max_iters=2, checkpoint_dir=ck)
    assert len(fresh) == 2
    assert run(spark, pair, max_iters=2, checkpoint_dir=ck,
               resume=True) == fresh


def test_pi_file_uri_checkpoint_roots(spark, gnutella_mini, tmp_path,
                                      monkeypatch):
    """``file:`` checkpoint roots (Spark's single-slash form and the
    triple-slash form) resolve to their absolute path: a run commits,
    resumes to the uninterrupted ranks, and no cwd-relative ``file:``
    entry appears. A ``file://host/`` root is refused before any Spark
    job runs."""
    monkeypatch.chdir(tmp_path)
    full = _pi(spark, gnutella_mini, max_iters=4)
    for i, uri in enumerate((f"file:{tmp_path}/ck0", f"file://{tmp_path}/ck1")):
        _pi(spark, gnutella_mini, max_iters=2, checkpoint_dir=uri)
        assert os.path.isfile(tmp_path / f"ck{i}" / "step=1" / "manifest.json")
        resumed = _pi(spark, gnutella_mini, max_iters=4, checkpoint_dir=uri,
                      resume=True)
        assert resumed == pytest.approx(full, abs=1e-12)
    assert not [p for p in os.listdir(tmp_path) if p.startswith("file:")]
    sc = spark.sparkContext
    sc.setJobGroup("file-host-root", "refused checkpoint root")
    try:
        with pytest.raises(ValueError, match="remote host"):
            _pi(spark, gnutella_mini, max_iters=2,
                checkpoint_dir="file://elsewhere/ck")
        assert sc.statusTracker().getJobIdsForGroup("file-host-root") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


@pytest.mark.parametrize("algo", sorted(_RUNS))
def test_jobs_per_step_durable_equals_scratch(spark, path41, tmp_path, algo):
    """A durable superstep costs the Spark jobs of a scratch one: the
    jobs that steps 3-4 add to a 2-step run are the same with and without
    a checkpoint dir (counted per job group with the status tracker)."""
    run, sc, k = _RUNS[algo], spark.sparkContext, 2

    def jobs(steps, **kw):
        group = f"jobs-{algo}-{steps}-{bool(kw)}"
        sc.setJobGroup(group, group)
        try:
            run(spark, path41, max_iters=steps, **kw)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    scratch = jobs(k + 2) - jobs(k)
    durable = (jobs(k + 2, checkpoint_dir=str(tmp_path / "a"))
               - jobs(k, checkpoint_dir=str(tmp_path / "b")))
    assert scratch == durable > 0
