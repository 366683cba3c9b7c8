"""Every plan-level fast path has a row bound and a fallback; forcing the
fallback (bound = 0) must not change a result.

One small graph, one bound at a time set to 0, and LP, CC, PageRank,
coreness, triangles and k-truss compared with the default path.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from hypergraph_gpu_label_propagation_spark.model import Hypergraph
from tests.conftest import incidence_from_edges

BOUNDS = (
    "spark.graft.gather.broadcast.maxRows",
    "spark.graft.triangles.broadcast.maxRows",
    "spark.graft.coreness.local.maxRows",
    "spark.graft.ktruss.local.maxRows",
)


@pytest.fixture(scope="module")
def graph(spark):
    rng = np.random.default_rng(17)
    edges = [
        sorted(rng.choice(40, size=int(rng.integers(2, 6)), replace=False).tolist())
        for _ in range(60)
    ] + [list(range(40, 46)), [45, 46], [46, 47]]
    hg = Hypergraph.freeze(spark, incidence_from_edges(spark, edges), num_vertices=49)
    yield hg
    hg.unpersist()


def _results(hg) -> dict:
    from hypergraph_gpu_label_propagation_spark.operators.components import (
        connected_components,
    )
    from hypergraph_gpu_label_propagation_spark.operators.kcore import coreness
    from hypergraph_gpu_label_propagation_spark.operators.ktruss import k_truss
    from hypergraph_gpu_label_propagation_spark.operators.label_propagation import (
        label_propagation,
    )
    from hypergraph_gpu_label_propagation_spark.operators.pagerank import (
        hypergraph_pagerank,
    )
    from hypergraph_gpu_label_propagation_spark.operators.triangles import (
        per_vertex_triangle_count,
        triangle_count,
    )

    labels0 = hg.vertices().select(
        "vertex_id", (F.col("vertex_id") % 5).cast("int").alias("label")
    )
    truss = k_truss(hg, k=4)
    return {
        "lp": sorted(map(tuple, label_propagation(hg, labels0).labels.collect())),
        "cc": sorted(map(tuple, connected_components(hg).components.collect())),
        "pr": {
            r["vertex_id"]: r["rank"]
            for r in hypergraph_pagerank(hg, tol=1e-9).ranks.collect()
        },
        "coreness": sorted(map(tuple, coreness(hg).coreness.collect())),
        "triangles": triangle_count(hg).collect()[0][0],
        "triangles_per_vertex": sorted(map(tuple, per_vertex_triangle_count(hg).collect())),
        "ktruss": (sorted(map(tuple, truss.membership.collect())), truss.truss_size),
    }


@pytest.fixture(scope="module")
def default_results(spark, graph):
    for key in BOUNDS:
        spark.conf.unset(key)
    return _results(graph)


@pytest.mark.parametrize("bound", BOUNDS)
def test_forced_fallback_equals_default_path(spark, graph, default_results, bound):
    spark.conf.set(bound, "0")
    try:
        got = _results(graph)
    finally:
        spark.conf.unset(bound)
    want = default_results
    assert want["triangles"] > 0 and want["ktruss"][1] > 0  # non-vacuous
    assert set(got["pr"]) == set(want["pr"])
    for v, rank in want["pr"].items():
        assert got["pr"][v] == pytest.approx(rank, abs=1e-12), v
    for name in want.keys() - {"pr"}:
        assert got[name] == want[name], name
