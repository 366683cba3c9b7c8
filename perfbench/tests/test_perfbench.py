"""Tests of the benchmark's own machinery: span arithmetic, stage
counters, and failure counting."""

from __future__ import annotations

import numpy as np
import pytest

from perfbench.spans import SpanRecorder, StatusReader, _covered
from perfbench.workloads import CallFailed, Ctx, LoopsPlanted, Runner


class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self) -> float:
        return self.t


def test_self_time_of_nested_spans():
    clock = FakeClock()
    rec = SpanRecorder(clock)
    with rec.span("run") as run:
        clock.t = 1.0
        with rec.span("a") as a:
            clock.t = 3.0
            with rec.span("a.inner"):
                clock.t = 4.5
            clock.t = 5.0
        clock.t = 6.0
        with rec.span("b"):
            clock.t = 9.0
        clock.t = 10.0
    assert run.s == 10.0
    assert a.s == 4.0
    assert a.self_s == pytest.approx(2.5)  # 4.0 minus the 1.5 s child
    assert run.self_s == pytest.approx(3.0)  # 10 minus a (4) and b (3)
    # the children of the root plus its self time account for the whole pass
    assert run.self_s + sum(c.s for c in run.children) == pytest.approx(run.s)
    assert [sp.name for sp in rec.walk()] == ["run", "a", "b", "a.inner"]


def test_covered_merges_overlaps_and_clips():
    assert _covered(0.0, 10.0, [(1, 3), (2, 5), (7, 8), (9, 12), (-2, -1)]) == pytest.approx(6.0)
    assert _covered(0.0, 10.0, []) == 0.0


def test_stage_counters_of_a_groupby_span(spark):
    from pyspark.sql import functions as F

    rec = SpanRecorder()
    with rec.span("outside"):
        spark.range(10).collect()  # one job, no shuffle
    with rec.span("groupby") as sp:
        spark.range(200_000).groupBy((F.col("id") % 97).alias("k")).count().collect()
    rec.attribute(*StatusReader(spark).read())
    assert sp.counters["jobs"] >= 1
    assert sp.counters["shuffle_write_bytes"] > 0
    assert sp.counters["shuffle_read_bytes"] > 0
    assert sp.counters["task_s"] > 0
    assert 0.0 <= sp.counters["driver_s"] <= sp.s
    # the groupby's stages are not attributed to the earlier span
    outside = rec.roots[0].counters
    assert outside["jobs"] == 1
    assert outside["shuffle_write_bytes"] == 0


def test_raising_call_is_a_failed_op():
    r = Runner()
    with pytest.raises(CallFailed):
        r.call("layer", lambda: 1 / 0, lambda out: True)
    assert (r.attempted, r.failed) == (1, 1)


class TinyPlanted(LoopsPlanted):
    V, E, COMMUNITIES = 60, 150, 4


def test_corrupted_output_is_a_failed_op(spark, tmp_path):
    part = TinyPlanted()
    ctx = Ctx(spark, str(tmp_path), seed=3)
    ctx.staged = part.stage(3, str(tmp_path))
    ctx.ref = part.reference(ctx)

    r = Runner()
    part.run_pass(ctx, r)
    r.verify()
    assert (r.attempted, r.failed) == (4, 0), r.errors

    # one wrong component id in the reference: exactly the CC call fails
    ctx.ref["cc"] = np.array(ctx.ref["cc"], copy=True)
    ctx.ref["cc"][-1] += 1
    r = Runner()
    part.run_pass(ctx, r)
    r.verify()
    assert (r.attempted, r.failed) == (4, 1)
    assert r.errors[0].startswith("operators.components")


def test_reference_peels_match_their_definitions():
    from hypergraph_gpu_label_propagation_spark.oracle.numpy_ref import oracle_triangle_count
    from perfbench import reference as ref

    rng = np.random.default_rng(5)
    n = 40
    edges = [sorted(rng.choice(n, size=int(rng.integers(2, 7)), replace=False).tolist())
             for _ in range(60)]
    pairs = ref.clique_pairs(edges)
    assert ref.triangles_matmul(pairs, n) == oracle_triangle_count(edges, n)

    def adjacency(ps):
        adj = {v: set() for v in range(n)}
        for u, v in ps:
            adj[u].add(v)
            adj[v].add(u)
        return adj

    # core(v) >= k iff v survives repeatedly deleting vertices of degree < k
    core = ref.coreness_peel(pairs, n)
    for k in range(int(core.max()) + 2):
        alive = set(range(n))
        adj = adjacency(pairs)
        while drop := {v for v in alive if len(adj[v] & alive) < k}:
            alive -= drop
        assert alive == {v for v in range(n) if core[v] >= k}

    # the k-truss is what survives repeatedly deleting every edge in fewer
    # than k - 2 triangles, supports recomputed from scratch each round
    for k in (3, 4, 5, 6):
        alive = set(pairs)
        while True:
            adj = adjacency(alive)
            drop = {(u, v) for u, v in alive if len(adj[u] & adj[v]) < k - 2}
            if not drop:
                break
            alive -= drop
        assert ref.ktruss_peel(pairs, k) == alive
