"""Resume-from-checkpoint parity for PageRank and CC (LP's is in
test_lp_engine): truncated run + resumed run == uninterrupted run."""

from __future__ import annotations

import numpy as np

from tests.conftest import incidence_from_edges

from hypergraph_gpu_label_propagation_spark.model import Hypergraph
from hypergraph_gpu_label_propagation_spark.operators.components import connected_components
from hypergraph_gpu_label_propagation_spark.operators.pagerank import hypergraph_pagerank


def _hg(spark, seed=33, nv=50, ne=60):
    rng = np.random.default_rng(seed)
    edges = [sorted(rng.choice(nv, size=3, replace=False).tolist()) for _ in range(ne)]
    return Hypergraph.freeze(
        spark, incidence_from_edges(spark, edges), num_vertices=nv, num_edges=ne,
        num_partitions=8,
    )


def test_pagerank_resume(spark, tmp_path):
    hg = _hg(spark)
    full = hypergraph_pagerank(hg, tol=1e-10)
    want = {r["vertex_id"]: r["rank"] for r in full.ranks.collect()}

    ckpt = str(tmp_path / "pr")
    hypergraph_pagerank(hg, tol=1e-10, max_iterations=3, checkpoint_dir=ckpt)
    resumed = hypergraph_pagerank(hg, tol=1e-10, checkpoint_dir=ckpt, resume=True)
    got = {r["vertex_id"]: r["rank"] for r in resumed.ranks.collect()}
    assert resumed.iterations == full.iterations
    assert all(abs(got[v] - want[v]) < 1e-12 for v in want)
    hg.unpersist()


def test_cc_resume(spark, tmp_path):
    # sparse graph -> several components, needs >1 iteration
    hg = _hg(spark, seed=5, nv=80, ne=25)
    full = connected_components(hg)
    want = {r["vertex_id"]: r["component"] for r in full.components.collect()}

    ckpt = str(tmp_path / "cc")
    connected_components(hg, max_iterations=1, checkpoint_dir=ckpt)
    resumed = connected_components(hg, checkpoint_dir=ckpt, resume=True)
    got = {r["vertex_id"]: r["component"] for r in resumed.components.collect()}
    assert got == want
    assert resumed.converged
    hg.unpersist()


def test_coreness_in_task_snapshot_resumes_on_sweeps(spark, tmp_path):
    """The in-task path writes one converged (u, c, _ch=0) snapshot; a
    resume on the sweep path reads it as a fixed point and runs no
    round, and a resume on the in-task path simply recomputes."""
    import os

    from hypergraph_gpu_label_propagation_spark.operators.kcore import coreness

    hg = _hg(spark, seed=7, nv=60, ne=120)
    ckpt = str(tmp_path / "core")
    local = coreness(hg, checkpoint_dir=ckpt)
    want = {r["vertex_id"]: r["coreness"] for r in local.coreness.collect()}
    snaps = [d for d in os.listdir(ckpt) if d.startswith("coreness_superstep=")]
    assert len(snaps) == 1
    snap = spark.read.parquet(os.path.join(ckpt, snaps[0]))
    assert snap.filter("_ch != 0").count() == 0
    assert snap.count() == sum(1 for c in want.values() if c > 0)

    again = coreness(hg, checkpoint_dir=ckpt, resume=True)
    assert {r["vertex_id"]: r["coreness"] for r in again.coreness.collect()} == want
    try:
        spark.conf.set("spark.graft.coreness.local.maxRows", "0")
        swept = coreness(hg, checkpoint_dir=ckpt, resume=True)
    finally:
        spark.conf.unset("spark.graft.coreness.local.maxRows")
    assert {r["vertex_id"]: r["coreness"] for r in swept.coreness.collect()} == want
    assert (swept.iterations, swept.changes_per_iter) == (1, [])
    hg.unpersist()


def test_coreness_resume(spark, tmp_path, coreness_sweeps):
    from hypergraph_gpu_label_propagation_spark.operators.kcore import coreness

    hg = _hg(spark, seed=7, nv=60, ne=120)
    # fused_steps pinned to 2: the r07 default (4) converges this
    # fixture in 2 materialized rounds, too few for a real mid-run cut
    full = coreness(hg, fused_steps=2)
    want = {r["vertex_id"]: r["coreness"] for r in full.coreness.collect()}
    assert full.iterations > 2, "fixture must need >2 rounds for a real resume"

    ckpt = str(tmp_path / "core")
    coreness(hg, max_iterations=2, checkpoint_dir=ckpt, fused_steps=2)
    resumed = coreness(hg, checkpoint_dir=ckpt, resume=True, fused_steps=2)
    got = {r["vertex_id"]: r["coreness"] for r in resumed.coreness.collect()}
    assert got == want
    # resumed run continued from superstep 2, not from scratch
    assert resumed.iterations == full.iterations
    assert len(resumed.changes_per_iter) == full.iterations - 2
    hg.unpersist()
