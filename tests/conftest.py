from __future__ import annotations

import sys

import pytest

sys.path.insert(0, "/root/repo")

from hypergraph_gpu_label_propagation_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cores=8, shuffle_partitions=8)
    yield s


@pytest.fixture
def coreness_sweeps(spark):
    """Force coreness onto its Spark sweep path: with a 0-row in-task
    bound every graph is over it, so sweep-only behaviour (fusing,
    sweep modes, rounds, resume) stays pinned."""
    spark.conf.set("spark.graft.coreness.local.maxRows", "0")
    yield
    spark.conf.unset("spark.graft.coreness.local.maxRows")


@pytest.fixture
def ktruss_spark_loop(spark):
    """Force k_truss onto its Spark peel loop: with a 0-pair in-task
    bound every graph is over it, so round-level behaviour stays
    pinned."""
    spark.conf.set("spark.graft.ktruss.local.maxRows", "0")
    yield
    spark.conf.unset("spark.graft.ktruss.local.maxRows")


def incidence_from_edges(spark, edges):
    """Build an incidence DataFrame from a python list-of-lists."""
    rows = [(e, int(v)) for e, members in enumerate(edges) for v in members]
    return spark.createDataFrame(rows, "edge_id long, vertex_id long")


def labels_df(spark, labels):
    rows = [(i, int(l)) for i, l in enumerate(labels)]
    return spark.createDataFrame(rows, "vertex_id long, label int")
