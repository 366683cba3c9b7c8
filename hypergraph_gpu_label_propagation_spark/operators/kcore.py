"""k-core / coreness of the hypergraph's co-occurrence graph.

Definition (standard k-core, cf. Batagelj & Zaversnik 2003): on the
clique-expanded co-occurrence graph (u ~ v iff they share a hyperedge,
operators/triangles.clique_expansion), repeatedly remove vertices with
fewer than k alive neighbors until a fixed point; the survivors are the
k-core.  Output covers every vertex with an ``in_core`` flag so the
result has a stable one-row-per-vertex shape.

:func:`coreness` computes the FULL decomposition (per-vertex core
number) via the iterated neighborhood-h-index fixed point (Lü, Zhou,
Zhang & Stanley, "The H-index of a network node...", Nature Comms
2016): initialize c0(v) = deg(v), then c_{t+1}(v) = H({c_t(u) : u in
N(v)}); the sequence is pointwise non-increasing and converges exactly
to coreness.  One Spark round = one join + one partitioned window —
O(convergence rounds) supersteps instead of O(max-degree) peel levels,
which is the right shape at 100 TB (rounds ~ tens; peel levels can be
thousands on heavy-tailed graphs).

Below a row bound (``CORENESS_LOCAL_MAX_ROWS``) :func:`coreness` skips
the rounds altogether: the whole adjacency goes to ONE task, which runs
the exact level peel with vectorized NumPy (:func:`peel_coreness`).  A
peel level is microseconds of array work there, where as a Spark round
it paid the fixed per-round cost (BENCH_SCALING.md "In-task peel").

Execution shape (same discipline as LP/CC, label_propagation.py):
- adjacency built once, localCheckpointed (GC-reclaimed);
- per round: one degree aggregation over alive edges + one semi-join —
  both algebraic/narrow, skew absorbed by partial aggregation;
- one observe()-fused action per round (removed-count rides the
  checkpoint job); loop-scoped conf via plans/tuning.py;
- O(rounds) = O(peeling depth), each round strictly shrinks or stops.

The DuckDB oracle twin replicates the peel as a recursive CTE carrying
the alive set, emitting the next round only while the alive count still
shrinks (same guard pattern as the pagerank_converged twin).
"""

from __future__ import annotations

import time
from collections.abc import Iterator
from dataclasses import dataclass, field
from typing import TYPE_CHECKING

import numpy as np
from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from hypergraph_gpu_label_propagation_spark.model import Hypergraph
from hypergraph_gpu_label_propagation_spark.operators.triangles import clique_expansion
from hypergraph_gpu_label_propagation_spark.plans.in_task import dense_ids, map_pairs
from hypergraph_gpu_label_propagation_spark.plans.tuning import (
    conf_rows,
    loop_conf,
    loop_partitions,
)

if TYPE_CHECKING:
    import pandas as pd


@dataclass
class KCoreResult:
    membership: DataFrame  # (vertex_id, in_core: int)
    iterations: int
    core_size: int
    removed_per_iter: list[int] = field(default_factory=list)


def k_core(
    hg: Hypergraph,
    k: int,
    max_iterations: int = 200,
    adj: DataFrame | None = None,
) -> KCoreResult:
    """Vertices of the k-core of the co-occurrence graph."""
    if k < 1:
        raise ValueError("k must be >= 1")
    # symmetric adjacency (both directions) so degree = neighbor count.
    # r08: partitioned by the aggregation key and persist()ed (not
    # localCheckpoint — a checkpoint scan loses outputPartitioning) so
    # that, with the vertex-sized alive set BROADCAST, each round's
    # degree groupBy aggregates in place — zero E-sized exchanges per
    # peel round; over the broadcast threshold the r07 shuffle shape
    # runs unchanged (same rule as coreness).
    half = clique_expansion(hg) if adj is None else adj
    cores = hg.spark.sparkContext.defaultParallelism
    n_part = loop_partitions(hg.count_incidence(), cores)
    use_bcast = hg.num_vertices <= hg._gather_broadcast_rows()
    if use_bcast:
        n_part = max(n_part, cores)
    sym = half.unionByName(
        half.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    from pyspark.storagelevel import StorageLevel

    adj = (
        sym.repartition(n_part, "u").persist(StorageLevel.MEMORY_AND_DISK)
        if use_bcast
        else sym.localCheckpoint(eager=True)
    )
    if use_bcast:
        adj.count()

    def _alive_join(frame):
        return F.broadcast(frame) if use_bcast else frame

    alive = adj.select("u").distinct().localCheckpoint(eager=True)
    n_alive = alive.count()
    removed_per_iter: list[int] = []
    iterations = 0
    with loop_conf(hg.spark, n_part):
        for _ in range(max_iterations):
            deg = (
                adj.join(_alive_join(alive), "u")
                .join(_alive_join(alive.select(F.col("u").alias("v"))), "v")
                .groupBy("u")
                .agg(F.count("*").alias("_d"))
            )
            obs = Observation(f"kcore_{iterations}")
            survivors = (
                alive.join(deg.filter(F.col("_d") >= k).select("u"), "u", "left_semi")
                .observe(obs, F.count(F.lit(1)).alias("n"))
                .localCheckpoint(eager=True)
            )
            n_alive_new = int(obs.get["n"] or 0)
            alive.unpersist()
            alive = survivors
            iterations += 1
            removed_per_iter.append(n_alive - n_alive_new)
            stable = n_alive_new == n_alive
            n_alive = n_alive_new
            if stable or n_alive_new == 0:
                break
    membership = (
        hg.vertices()
        .join(alive.select(F.col("u").alias("vertex_id"), F.lit(1).alias("_in")), "vertex_id", "left")
        .select("vertex_id", F.coalesce("_in", F.lit(0)).cast("int").alias("in_core"))
    )
    core_size = int(membership.agg(F.sum("in_core")).collect()[0][0] or 0)
    if use_bcast:
        adj.unpersist()  # loop-local cache; alive is checkpointed
    return KCoreResult(
        membership=membership,
        iterations=iterations,
        core_size=core_size,
        removed_per_iter=removed_per_iter,
    )


@dataclass
class CorenessResult:
    coreness: DataFrame  # (vertex_id, coreness: int), one row per vertex
    iterations: int
    changes_per_iter: list[int] = field(default_factory=list)


# In-task peel bound: symmetrized adjacency rows (2 x the u < v pairs) at
# or under this run as ONE exact NumPy peel inside one task; above it
# the Spark sweep loop runs.  The peel's peak is 49-57 B per directed
# row (the pairs, their inverse ids, the CSR index and the sort
# permutation; tracemalloc on the sf0.1 adjacency and on a 1.2M-row
# random graph), so ~460 MB at the bound.
# Conf-overridable (0 forces the sweeps) through
# `spark.graft.coreness.local.maxRows`.
CORENESS_LOCAL_MAX_ROWS = 8_000_000


def peel_coreness(u: np.ndarray, v: np.ndarray) -> tuple[np.ndarray, np.ndarray, int]:
    """Exact core numbers of the undirected graph with edges (u[i], v[i])
    by the Batagelj-Zaversnik level peel, vectorized per removal batch.

    Returns ``(ids, core, batches)``: every id that appears in ``u`` or
    ``v`` (sorted), its core number, and the number of removal batches.
    Ids are mapped densely with ``np.unique``, so any int64 id works.
    ``u``/``v`` must hold each undirected edge once, without self-loops
    (the clique expansion's distinct u < v pairs).

    At level k every alive vertex with alive-degree <= k is removed in
    one batch and gets core k; its alive neighbours lose one degree per
    removed neighbour (``np.subtract.at``).  Only those neighbours can
    newly drop to <= k, so the next batch is read off them; when none
    does, k rises to the minimum alive degree.  Each directed adjacency
    row is gathered once, so the peel is O(rows) plus one O(alive) scan
    per distinct level, plus ~25 us of fixed NumPy cost per batch.  The
    batch count is the cascade depth: 144 on the sf0.1 adjacency, but
    one per two vertices on a path (a 2M-vertex path peels in ~25 s on
    a 4-core host), the worst case under the row bound.
    """
    ids, inv = dense_ids(u, v)
    n, m = len(ids), len(u)
    # CSR of the symmetrized adjacency: row i lists i's neighbours
    # (inv is the source column of both directions, u-side then v-side)
    nbr = np.concatenate([inv[m:], inv[:m]])[np.argsort(inv, kind="stable")]
    deg = np.bincount(inv, minlength=n)
    del inv
    indptr = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(deg, out=indptr[1:])
    core = np.zeros(n, dtype=np.int32)
    alive = np.ones(n, dtype=bool)
    rest = np.arange(n)
    frontier = rest[:0]
    k = 0
    batches = 0
    while True:
        if frontier.size == 0:
            rest = rest[alive[rest]]
            if rest.size == 0:
                break
            # next level: every alive degree already exceeds the old k
            k = int(deg[rest].min())
            frontier = rest[deg[rest] <= k]
        batches += 1
        core[frontier] = k
        alive[frontier] = False
        # gather the frontier's CSR rows in one fancy index
        lo = indptr[frontier]
        cnt = indptr[frontier + 1] - lo
        first = np.repeat(lo - (np.cumsum(cnt) - cnt), cnt)
        nb = nbr[first + np.arange(first.size)]
        nb = nb[alive[nb]]
        np.subtract.at(deg, nb, 1)
        frontier = np.unique(nb[deg[nb] <= k])
    return ids, core, batches


def _peel_task(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas body of the in-task path: every (u, v) pair of the
    graph arrives in this one partition; emit (u, c) per non-isolated
    vertex."""

    def peel(u: np.ndarray, v: np.ndarray) -> dict[str, np.ndarray]:
        ids, core, _ = peel_coreness(u, v)
        return {"u": ids, "c": core}

    yield from map_pairs(batches, peel)


def _coreness_in_task(
    hg: Hypergraph, half: DataFrame, checkpoint_dir: str | None, verbose: bool
) -> CorenessResult:
    """The under-bound path of :func:`coreness`: one task peels the whole
    adjacency; the result joins the vertex universe (isolated vertices
    get 0) and is materialized once."""
    t0 = time.monotonic()
    peeled = (
        half.select("u", "v")
        .repartition(1)
        .mapInPandas(_peel_task, "u long, c int")
    )
    # adaptive execution off: it submits every query stage as its own
    # job (7 jobs per call measured with it on, 4 with it off)
    with loop_conf(hg.spark, hg.spark.sparkContext.defaultParallelism):
        out = (
            hg.vertices()
            .join(peeled.select(F.col("u").alias("vertex_id"), "c"), "vertex_id", "left")
            .select("vertex_id", F.coalesce("c", F.lit(0)).cast("int").alias("coreness"))
            .localCheckpoint(eager=True)
        )
    if checkpoint_dir:
        from hypergraph_gpu_label_propagation_spark.plans.checkpointing import (
            write_snapshot,
        )

        # one converged snapshot in the sweep loop's (u, c, _ch) shape;
        # a vertex with an edge has coreness >= 1, so the filter keeps
        # exactly the adjacency universe the sweep snapshots carry
        write_snapshot(
            out.filter(F.col("coreness") > 0).select(
                F.col("vertex_id").alias("u"),
                F.col("coreness").alias("c"),
                F.lit(0).alias("_ch"),
            ),
            checkpoint_dir, "coreness", 1,
            {"op": "coreness", "superstep": 1, "changes": 0},
        )
    if verbose:
        print(f"[coreness] in-task peel {time.monotonic() - t0:.2f}s")
    return CorenessResult(coreness=out, iterations=1, changes_per_iter=[0])


def _h_sweep(scope, values, sweep: str, w, broadcast_values: bool = False) -> DataFrame:
    """One h-index application: (u, _h) for every u in ``scope``.

    Module-level so the plan-capture tooling (tools/dump_plans_r08.py)
    pins exactly the sweep shape the loop runs.  ``sweep`` dispatch:
    "arr"/"auto" run the single-exchange sorted-array form (r07 A/B
    winner; the r07 code dispatched only on "arr", silently running
    auto's full sweeps on the slower hist path — ADVICE r07 fix),
    "hist" the histogram+window form.

    ``broadcast_values`` (r08, guide §2.4): the values frame is
    vertex-sized; when it fits the broadcast threshold the caller
    partitions the adjacency by ``u`` (the aggregation key) instead of
    ``v`` (the join key) and this sweep broadcasts the values — the
    groupBy("u") then runs IN PLACE and the sweep's E-sized post-join
    exchange disappears (zero E-sized exchanges per sweep).
    """
    if broadcast_values and sweep == "cnt":
        # histogram-hybrid sweep (r08, the r07 verdict's value-domain
        # lever made viable by broadcast-gather): with the adjacency
        # partitioned by u, BOTH aggregations below satisfy their
        # distributions in place, so the two-level shape costs no
        # exchange — and the first level collapses the deg(u) neighbor
        # values into (c, n) counts with a plain hash-agg ++, instead
        # of materializing and sorting a deg(u)-element array per
        # vertex.  The per-vertex entry array is DISTINCT-VALUE sized
        # (bounded by the running h, tens of entries), so the fold that
        # walks it desc-by-c is metadata work.  h identical: max over
        # distinct c of min(c, #neighbors >= c).
        #
        # MEASURED (r08) and kept NON-default: warm it is a wash at
        # sf0.1 (11.7-12.8 s vs arr-broadcast 10.4 s) and a mild win
        # cold at sf1 (53.9 s vs 60.3 s), but the HOF fold nested
        # `fused_steps` deep makes the per-round plans expensive to
        # optimize/codegen — the COLD first run pays 20-36 s at sf0.1.
        # The value sequence is bit-identical to "arr" (checksum-pinned
        # A/B); flip `sweep="cnt"` where single sweeps are minutes long
        # and the driver-side planning cost amortizes.
        nb = scope.join(
            F.broadcast(values.select(F.col("u").alias("v"), "c")), "v"
        ).select("u", "c")
        cnt = nb.groupBy("u", "c").agg(F.count("*").alias("_n"))
        entries = F.sort_array(
            F.collect_list(F.struct(F.col("c"), F.col("_n"))), asc=False
        )
        arr = cnt.groupBy("u").agg(entries.alias("_e"))
        zero = F.struct(
            F.lit(0).cast("long").alias("cum"), F.lit(0).cast("int").alias("h")
        )
        return arr.select(
            "u",
            F.aggregate(
                "_e",
                zero,
                lambda acc, e: F.struct(
                    (acc["cum"] + e["_n"]).alias("cum"),
                    F.greatest(
                        acc["h"],
                        F.least(e["c"], (acc["cum"] + e["_n"]).cast("int")),
                    ).alias("h"),
                ),
                lambda acc: acc["h"],
            ).cast("int").alias("_h"),
        )
    if broadcast_values:
        nb = scope.join(
            F.broadcast(values.select(F.col("u").alias("v"), "c")), "v"
        ).select("u", "c")
    else:
        # shuffle_hash hint on the (small, vertex-sized) values side:
        # the adjacency is hash-partitioned on the join key, so a
        # shuffled-hash join probes it IN PLACE — the default
        # SortMergeJoin re-SORTED the multi-million row adjacency every
        # round (measured the dominant per-round cost at sf0.1)
        nb = scope.join(
            values.select(F.col("u").alias("v"), "c").hint("shuffle_hash"),
            "v",
        ).select("u", "c")
    if sweep in ("arr", "auto"):
        # single-exchange sweep (r07): one groupBy(u) with collect_list,
        # then H inline over the sorted array (h = #{rank i: a_i >= i}
        # for a desc-sorted).  The hist path below pays TWO post-join
        # exchanges — hashpartitioning(u,c) for the histogram does NOT
        # satisfy the window's ClusteredDistribution(u), so the window
        # re-exchanges — at the price of map-side combine; this path
        # shuffles every neighbor value once but runs one exchange and
        # no sort-window.
        arr = nb.groupBy("u").agg(
            F.sort_array(F.collect_list("c"), asc=False).alias("_a")
        )
        return arr.select(
            "u",
            F.size(
                F.filter("_a", lambda x, i: x >= i + F.lit(1))
            ).cast("int").alias("_h"),
        )
    # h-index from the VALUE HISTOGRAM instead of ranking every neighbor
    # row: h(u) = max over distinct values c of min(c, #neighbors with
    # value >= c) — the groupBy shrinks the window input from deg(u)
    # rows to the (bounded) distinct-value count, and the partial
    # aggregation absorbs high-degree skew pre-shuffle
    cnt = nb.groupBy("u", "c").agg(F.count("*").alias("_n"))
    return (
        cnt.withColumn("_cum", F.sum("_n").over(w))
        .groupBy("u")
        .agg(F.max(F.least(F.col("c"), F.col("_cum"))).cast("int").alias("_h"))
    )


def coreness_round_frame(
    hg: Hypergraph,
    half: DataFrame,
    n_part: int,
    fused_steps: int = 4,
    sweep: str = "arr",
) -> DataFrame:
    """Capture-only replica of ONE full (non-pruned) coreness round's
    pre-observe frame — the exact loop-body shape the default bench path
    materializes every round.  Used by tools/dump_plans_r08.py to pin
    the per-round Exchange structure; never called from coreness()."""
    use_bcast = hg.num_vertices <= hg._gather_broadcast_rows()
    if use_bcast:
        n_part = max(n_part, hg.spark.sparkContext.defaultParallelism)
    sym = half.unionByName(
        half.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint(eager=True)
    if 0 < hg.num_vertices < 2**31:
        sym = sym.select(
            F.col("u").cast("int").alias("u"), F.col("v").cast("int").alias("v")
        )
    from pyspark.storagelevel import StorageLevel

    adj = sym.repartition(n_part, "u" if use_bcast else "v").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    adj.count()
    state = (
        adj.groupBy("u")
        .agg(F.count("*").cast("int").alias("c"))
        .localCheckpoint(eager=True)
    )
    w = (
        Window.partitionBy("u")
        .orderBy(F.col("c").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cur = state
    for _ in range(fused_steps):
        h = _h_sweep(adj, cur, sweep, w, broadcast_values=use_bcast)
        cur = h.select("u", F.col("_h").alias("c"))
    return (
        state.select("u", F.col("c").alias("_c0"))
        .join(cur.hint("shuffle_hash"), "u")
        .select(
            "u", "c", "_c0",
            (F.col("c") != F.col("_c0")).cast("int").alias("_ch"),
        )
    )


def coreness(
    hg: Hypergraph,
    max_iterations: int = 500,
    checkpoint_dir: str | None = None,
    resume: bool = False,
    adj: DataFrame | None = None,
    init_cap: bool = True,
    frontier_threshold: float = 0.0,
    # r08: 8 (was 4) — under broadcast-gather a sweep no longer pays an
    # E-sized exchange, so deeper fusing trades almost-free sweeps for
    # fewer materialized-round boundaries; measured min-of-1 at sf0.1:
    # fused4 14.1 s / 11 rounds, fused8 10.4 s / 6 rounds, fused12
    # 12.3 s (overshoots convergence by ~16 wasted sweeps).  Values are
    # fusing-invariant (tests pin this).
    fused_steps: int = 8,
    fused_steps_pruned: int | None = None,
    scope_inner_steps: bool = False,
    gauss_seidel: bool = False,
    sweep: str = "arr",
    inc_threshold: float = 0.2,
    verbose: bool = False,
) -> CorenessResult:
    """Per-vertex core number of the co-occurrence graph (full k-core
    decomposition).

    Dispatch on the symmetrized adjacency size (2 x the u < v pairs,
    one count of ``adj``):

    - **At or under** ``CORENESS_LOCAL_MAX_ROWS`` (8M rows; conf
      ``spark.graft.coreness.local.maxRows``): ONE task gets every pair
      (``repartition(1).mapInPandas``) and runs the exact level peel in
      NumPy (:func:`peel_coreness`).  Bound from memory: the peel's
      peak is at most ~57 B per directed row, so ~460 MB of worker
      memory at 8M rows.  The result left-joins the vertex universe
      (isolated vertices get 0) and is localCheckpointed.
      ``iterations`` is 1 and ``changes_per_iter`` is ``[0]``; with
      ``checkpoint_dir`` one converged snapshot (``_ch`` = 0) is
      written, and ``resume`` recomputes.  The sweep knobs below do
      not apply.  Measured on a 4-core host (BENCH_SCALING.md "In-task
      peel"): the sf0.1 adjacency (2.39M rows) peels in 144 batches,
      0.4-0.55 s including the CSR build.  On the perfbench
      motifs_skewed graph a call runs 4 Spark jobs; the sweeps ran 56.
    - **Above the bound** (sf1 is ~24M rows): the iterated h-index
      fixed point (module doc) as Spark sweeps, described below.  Both
      paths give identical values (tests force the fallback with a
      0-row bound and compare).

    Per round: one (v -> neighbor values) join against the checkpointed
    adjacency, one window ranked by value within each vertex partition
    (h = max(min(value, rank)) — bounded by the vertex's degree), one
    observe()-fused change count riding the checkpoint job.  Stops at
    the first round with zero changes (the fixed point IS coreness).
    Isolated vertices get coreness 0 via the universe left-join.

    ``adj``: optional precomputed clique expansion (distinct u < v
    pairs) shared across the co-occurrence family — see triangle_count.

    ``init_cap`` (r05 verdict #3): initialize c0 = min(deg(v), H_g)
    where H_g is the GLOBAL h-index of the degree sequence (max k such
    that >= k vertices have degree >= k).  Exactness-preserving:
    coreness <= degeneracy <= H_g pointwise, the h-index operator is
    monotone, and any start between coreness and deg converges to the
    same unique fixed point — but heavy-tail vertices (deg >> H_g)
    collapse in round 0 instead of ratcheting down over many rounds.
    H_g itself is a tiny degree-histogram non-equi self-join (distinct
    degree values squared), no unpartitioned window, no collect.

    ``frontier_threshold``: fraction of vertices below which rounds
    switch to frontier-scoped recomputation (the two pruning semi-joins
    cost ~an adj scan each, so they only pay off on small frontiers).
    DEFAULT OFF since r07: on the measured co-occurrence graphs the
    scope is never small — 17,732 of 20,000 sf0.1 vertices share one
    84-core, so neighbors-of-changed ~ everything and the pruned
    rounds' two extra adjacency scans are pure overhead (A/B
    tools/ab_coreness.py: never-prune 16.0 s med vs default-prune
    25.8 s med at sf0.1).  The lever stays for genuinely sparse
    graphs; the small-frontier fast path is now ``sweep="auto"``'s
    incremental mode, which pays |delta| instead of scope scans.

    ``sweep``: how a full h-index sweep is computed, and whether the
    loop may switch to incremental histogram maintenance.

    - ``"hist"``: histogram + cumulative window (two post-join
      exchanges: hashpartitioning(u, c) for the histogram groupBy does
      NOT satisfy the window's ClusteredDistribution(u)).
    - ``"arr"``: one groupBy(u) with sort_array(collect_list) and the
      h-index inline over the sorted array (h = #{i: a_i >= i}) — ONE
      post-join exchange, no sort-window; r07 A/B: 1.74 s vs 2.48 s
      per full sweep at sf1, and it tolerates deeper fusing (hist
      fused4 22.5 s med vs arr fused4 14.7 s med at sf0.1, the stacked
      window sorts dominate hist's deep plans).
    - ``"auto"``: full sweeps run as ``"arr"``; once a round's change
      count drops below ``inc_threshold * |V|`` the loop switches
      permanently to INCREMENTAL sweeps (below).  DOCUMENTED NEGATIVE
      at every in-sandbox scale — exact and tested, but NOT the
      default; see the crossover analysis at the end of this section.

    Incremental sweeps (r07, the "change the sweep" verdict task):
    the per-vertex neighbor-value histogram H(u, c, n) is kept as
    materialized loop state (partitioned by u, localCheckpointed per
    round alongside the values).  A sweep then:

    1. builds the histogram delta from the changed set D = {(v,
       c_old, c_new)}: one probe of the v-partitioned adjacency by D,
       exploded to (u, c_old, -1) / (u, c_new, +1) rows and partially
       aggregated — |delta| = sum of deg over changed vertices, NOT
       |E|;
    2. full-outer-merges the delta into H on (u, c) with both sides
       partitioned by u (hashpartitioning(u) satisfies the join's
       ClusteredDistribution([u, c]) — no exchange of H);
    3. recomputes h ONLY for touched vertices (their histogram rows,
       window partitioned by u in place) and left-merges onto the
       values.

    EXACT, sweep-for-sweep: h(u) is a function of u's histogram
    alone; the histogram is maintained by exact integer deltas (the
    per-u count total is invariantly deg(u)); an untouched vertex's
    histogram is unchanged so its h is provably unchanged.  The value
    sequence is therefore bit-identical to the Jacobi sweeps of
    "arr"/"hist" — same rounds, same change counts (asserted in
    tests/test_graph_algos.py) — only the data volume differs: a full
    sweep exchanges every edge's value to its u-side every time
    (~72% of sweep cost at sf1, measured r07), the incremental sweep
    exchanges |delta| rows plus an H-sized scan.

    WHY IT LOSES at measurable scales (r07 A/B, tools/ab_coreness.py
    + BENCH_SCALING.md round 7): an incremental round runs ~15 stages
    (delta build: probe + explode + partial agg + repartition; H
    full-outer merge; touched-scoped window recompute; value merge;
    TWO materializations — state and H) against a full arr round's
    ~4, a fixed ~2.5 s/round floor at local[32] regardless of how
    tiny the delta is.  Measured: inc rounds 2.6-3.5 s vs full 0.7 s
    at sf0.1 (auto 52-68 s vs arr 15-20 s end-to-end); at sf1 a full
    sweep's E-sized exchange costs ~1.25 s, so even there the delta
    savings (~2 s/round in the creep phase) roughly cancel the stage
    overhead.  The crossover needs the E-sized exchange term to
    dominate the ~2 s fixed cost — O(100M+ adjacency rows per sweep
    on this box), an order of magnitude past sf1.  At fused_steps>2
    it loses additionally to within-round stats compounding: each
    inner sweep's value merge joins a frame whose stats already
    carry the histogram branch, doubling stats bit-length per sweep
    (the r05 BigInt planning spiral, ~17 s/round at fused 4).  Kept
    as an exact, tested mode because the structure is right where a
    single sweep is minutes long; NOT the default.

    Stats discipline (r05 BigInt gotcha): incremental rounds carry
    the round-start value ``_c0`` THROUGH the fused sweeps, so the
    round boundary never re-joins the state frame — state is
    referenced once per round; residual within-round compounding
    via the histogram branch remains (see above), which is one more
    reason the mode stays non-default.

    ``fused_steps``: h-index applications per materialized round (one
    checkpoint + one action per round regardless).  Sound because the
    value sequence is pointwise NON-INCREASING: a value that drops in
    an inner step can never rebound, so the round-boundary change count
    is zero iff no inner step changed anything (the stop rule), and the
    round's changed set contains every vertex any inner step touched
    (the frontier rule).  This trades plan depth for per-round fixed
    cost — the opposite call from LP, where the r02 A/B rejected
    fusion, because a coreness round runs ~3x more stages than an LP
    superstep; the r05 A/B (tools/ab_coreness.py) measures the win.
    Fixed-point semantics and final values are IDENTICAL at any
    fused_steps; only iteration-count bookkeeping differs (counted in
    materialized rounds).

    ``fused_steps_pruned`` (r06, verdict #3 — measured a WASH, default
    stays ``fused_steps``): inner steps fused per MATERIALIZED round
    once the frontier is small.  Inner step 0 of a pruned round is
    frontier-scoped (exact: a vertex with no changed neighbor provably
    keeps its h); steps >= 1 recompute over the FULL adjacency, so
    every inner step is an exact Jacobi sweep and final values are
    schedule-identical at any setting.  sf0.1 min-of-3: default 21.0 s
    / 20 rounds, pruned4 21.1 s / 16 rounds, pruned6 24.4 s / 14
    rounds — materialized-round count drops but wall doesn't, proving
    the cost is the full-adj h_of sweeps themselves (~38-40 Jacobi
    sweeps x ~0.5 s), not round boundaries.  See BENCH_SCALING.md
    round 6 for the floor analysis.

    ``scope_inner_steps`` (r06 verdict #3, DOCUMENTED NEGATIVE —
    default off): keep the round's frontier scope for EVERY fused
    inner step of a pruned round.  Still converges to the same fixed
    point (lazier schedule: an update deferred outside the scope is,
    by the frontier invariant, a neighbor of a boundary-changed vertex
    so the next round's scope covers it; zero boundary changes still
    certifies the fixed point by monotonicity) — but the lazy schedule
    RE-EXPANDS the frontier through regions full sweeps would have
    settled (sf0.1: boundary changes grow 107 -> 9,788 across the
    tail) and each pruned round pays a scope checkpoint + a 4-deep
    merge lineage: 67.6 s vs 20.7 s default.  See BENCH_SCALING.md
    round 6.

    ``gauss_seidel`` (r05 verdict #3, kept as a DOCUMENTED NEGATIVE —
    default off): each sweep as two half-sweeps over a vertex
    2-coloring, the odd half reading the even half's fresh values.
    Exact (monotone operator, unique fixed point => schedule-free
    convergence; verified value-identical), and it does cut sweeps
    (38 Jacobi -> 30 parallel-2-color GS -> 15 materialized rounds at
    fused 2) — but each round's plan carries 4 join+agg+window chains
    instead of 2 and the duplicated half subtrees do NOT collapse into
    reused exchanges, so rounds cost 3.2-6.1 s vs 0.7-3.1 s and the
    wall LOSES 3x (74.0 s vs 22.3 s at sf0.1).  See BENCH_SCALING.md
    round 6.
    """
    if sweep not in ("hist", "arr", "auto", "cnt"):
        raise ValueError(
            f"unknown sweep mode {sweep!r}; use 'hist', 'arr', 'auto' or 'cnt'"
        )
    if fused_steps_pruned is None:
        fused_steps_pruned = fused_steps
    cores = hg.spark.sparkContext.defaultParallelism
    half = clique_expansion(hg).localCheckpoint(eager=True) if adj is None else adj
    # symmetrized rows = 2 x the u < v pairs (union all, no distinct)
    n_pairs = 2 * half.count()
    if n_pairs <= conf_rows(
        hg.spark, "spark.graft.coreness.local.maxRows", CORENESS_LOCAL_MAX_ROWS
    ):
        return _coreness_in_task(hg, half, checkpoint_dir, verbose)
    # pre-partition the symmetrized adjacency ONCE, on the key the
    # per-sweep plan needs (r08): under broadcast-gather that is the
    # AGGREGATION key ``u`` — the values broadcast on ``v`` and the
    # sweep's groupBy(u) aggregates in place, so no sweep ever moves an
    # E-sized byte; on the over-threshold fallback it is the JOIN key
    # ``v`` and only the (vertex-sized) values frame exchanges per
    # sweep.
    # n_part is sized from the EXPANSION row count, not the incidence:
    # the clique expansion can be several times the incidence (4x on
    # the sf1 audit input, arbitrarily more on dense co-occurrence),
    # and incidence-based sizing left 24M adjacency rows in 12
    # partitions at sf1 — spill-bound rounds (coreness 128.7 s; fixed
    # sizing + the triangles fix measured in BENCH_SCALING.md r05).
    # The extra transient copy is released immediately after the
    # repartition.
    sym = (
        half.unionByName(half.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .localCheckpoint(eager=True)
    )
    n_part = loop_partitions(n_pairs, cores)
    narrow_ids = 0 < hg.num_vertices < 2**31
    if narrow_ids:
        # §2.3 narrower types: dense vertex ids fit int — halve the
        # cached adjacency bytes and the per-sweep probe width; the
        # result frame casts back to long at the output join.  Exact
        # (ids < 2^31 by the bound check).
        sym = sym.select(
            F.col("u").cast("int").alias("u"), F.col("v").cast("int").alias("v")
        )
    # broadcast-gather (r08, guide §2.4): the per-sweep values frame is
    # vertex-sized; when it fits the broadcast threshold, partition the
    # adjacency by the AGGREGATION key ``u`` and broadcast the values on
    # ``v`` — the sweep's groupBy("u") then aggregates in place and the
    # per-sweep E-sized exchange disappears entirely (the old shape
    # exchanged every neighbor value to its u-partition every sweep,
    # ~72% of sweep cost at sf1, r07 measurement).  Over the broadcast
    # threshold (billions of vertices) the old v-partitioned
    # shuffled-hash shape runs unchanged.
    use_bcast = hg.num_vertices <= hg._gather_broadcast_rows()
    if use_bcast:
        # the cached partition count IS the sweep's parallelism under
        # broadcast-gather (no exchange ever re-splits the scan), so
        # floor it at the core count — the shuffle-volume sizing alone
        # left sf0.1's sweeps running 8 tasks on 32 cores (r08)
        n_part = max(n_part, cores)
    # persist()+count(), NOT localCheckpoint: a checkpoint scan is a
    # LogicalRDD with UNKNOWN outputPartitioning, so every sweep's
    # groupBy(u) re-exchanged the adjacency anyway (measured r08 —
    # the whole point of partitioning by the aggregation key is that
    # InMemoryTableScan REPORTS hashpartitioning(u) and the sweep
    # aggregates in place).  Explicitly unpersisted before return.
    from pyspark.storagelevel import StorageLevel

    adj = sym.repartition(n_part, "u" if use_bcast else "v").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    adj.count()
    # second copy partitioned by u for the frontier path's scope
    # semi-join: without it, every frontier round re-exchanged the FULL
    # adjacency on u; with it, frontier rounds exchange only the (small)
    # frontier-adjacent scope.  2x adjacency memory, bounded and
    # loop-local (checkpoint blocks are GC-reclaimed after return).
    # Only built when the pruned path can actually fire (r07: pruning
    # is default-off, so the default run skips this full-adjacency
    # copy entirely — build time and memory).
    adj_by_u = (
        adj.repartition(n_part, "u").localCheckpoint(eager=True)
        if frontier_threshold > 0
        else None
    )
    sym.unpersist()

    start = 0
    state = None
    if resume and checkpoint_dir:
        from hypergraph_gpu_label_propagation_spark.plans.checkpointing import (
            find_latest_snapshot,
        )

        found = find_latest_snapshot(hg.spark, checkpoint_dir, "coreness")
        if found is not None:
            snap, start = found
            state = snap.select("u", "c").localCheckpoint(eager=True)
            resumed_changed = snap.filter(F.col("_ch") == 1).select("u")
    if state is None:
        # int32 state invariant: c <= max clique-expansion degree, so
        # int is exact while every single vertex has < 2^31 neighbors
        # (a 2^31-degree vertex means 2^31 adjacency rows on ONE key —
        # the max_edge_size cap and skew guards break long before the
        # cast does).  All COUNTS over vertices stay long (init_cap
        # below, r05 advice); only per-vertex degree-bounded values
        # ride as int.
        deg = adj.groupBy("u").agg(F.count("*").cast("int").alias("c"))
        if init_cap:
            hist = deg.groupBy("c").agg(F.count("*").alias("_n"))
            cum = (
                hist.alias("a")
                .join(hist.alias("b"), F.col("b.c") >= F.col("a.c"))
                .groupBy(F.col("a.c").alias("c"))
                .agg(F.sum("b._n").alias("_cum"))
            )
            # _cum stays LONG inside the least: with >2^31 vertices of
            # degree >= c an int cast would wrap negative and silently
            # compute H_g below true, capping c0 UNDER real coreness
            # (r05 advice).  least(c, _cum) <= c <= max degree, so only
            # the final _hg is safely cast back to int.
            hglob = cum.agg(
                F.max(F.least(F.col("c").cast("long"), F.col("_cum")))
                .cast("int")
                .alias("_hg")
            )
            deg = deg.crossJoin(F.broadcast(hglob)).select(
                "u", F.least("c", "_hg").cast("int").alias("c")
            )
        state = deg.localCheckpoint(eager=True)
        resumed_changed = None
    # frontier: h(u) can only change when some neighbor's value changed
    # last round, so a round may recompute the h-index ONLY for vertices
    # adjacent to the previous round's changed set.  ADAPTIVE: the two
    # pruning semi-joins cost ~an adj scan each, so they only pay off
    # once the frontier is small — measured on the sf0.1 co-occurrence
    # graph, change counts do NOT decay monotonically (near-clique
    # collapse re-expands the frontier late), so the full recompute is
    # kept whenever |changed| >= 5% of vertices.
    changed = resumed_changed if resumed_changed is not None else state.select("u")
    n_state = state.count()
    changes = (
        changed.count() if resumed_changed is not None else n_state
    )  # fresh run: round 0 treats everything as changed
    iterations = start
    changes_per_iter: list[int] = []
    cores = hg.spark.sparkContext.defaultParallelism
    inc_mode = False
    hist_state = None  # H(u, c, _n): materialized only in incremental mode
    delta0 = None  # (v, c_old, c_new) from the previous round's boundary
    w = (
        Window.partitionBy("u")
        .orderBy(F.col("c").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    with loop_conf(hg.spark, n_part):
        for _ in range(start, max_iterations):
            _t0 = time.monotonic()
            if changes == 0:
                # resuming an already-converged snapshot (its _ch column
                # is all zero): don't burn a redundant superstep —
                # iterations/changes_per_iter must match the fresh run
                break
            cur = state

            def h_of(scope, values):
                # module-level _h_sweep (plan-capture refactor; the
                # "arr"/"auto" dispatch fix rides it — ADVICE r07).
                # broadcast only when the scope is the full u-partitioned
                # adjacency (pruned scopes are frontier-sized subsets —
                # they keep the shuffle shape)
                return _h_sweep(
                    scope, values, sweep, w,
                    broadcast_values=use_bcast and scope is adj,
                )

            obs = Observation(f"coreness_{iterations}")
            if (
                sweep == "auto"
                and not inc_mode
                and not gauss_seidel
                and delta0 is not None
                and changes < inc_threshold * n_state
            ):
                # switch permanently to incremental sweeps: build the
                # neighbor-value histogram once (one full-pass cost),
                # partitioned by u so every later merge/recompute
                # probes it in place
                inc_mode = True
                inc_fresh = True  # H below is built from the CURRENT
                # values, so it already reflects the last round's
                # changes: sweep 0 of the entry round must NOT apply
                # delta0 again (only recompute h for its neighbors)
                nbi = adj.join(
                    state.select(F.col("u").alias("v"), "c").hint("shuffle_hash"),
                    "v",
                ).select("u", "c")
                hist_state = (
                    nbi.groupBy("u", "c")
                    .agg(F.count("*").alias("_n"))
                    .repartition(n_part, "u")
                    .localCheckpoint(eager=True)
                )
            pruned = (not inc_mode) and changes < frontier_threshold * n_state
            if pruned:
                affected = (
                    adj.join(
                        changed.select(F.col("u").alias("v")).hint("shuffle_hash"),
                        "v", "left_semi",
                    )
                    .select("u").distinct()
                )
                scope = adj_by_u.join(
                    affected.hint("shuffle_hash"), "u", "left_semi"
                )
                if scope_inner_steps:
                    # the lazy-schedule variant re-references the scope
                    # multiplicatively through its per-step left-merge
                    # lineage — materialize once so each re-reference
                    # scans a frontier-sized block
                    scope = scope.localCheckpoint(eager=True)
            else:
                scope = adj
            def gs_sweep(scope_j, values, prune_j):
                """One Gauss-Seidel sweep: even-u half on ``values``,
                odd-u half on the even half's fresh output.  In pruned
                rounds each half left-merges onto its color's old
                values (unaffected vertices keep theirs); in full
                rounds each half's aggregate covers every vertex of its
                color.  The duplicated half subtrees collapse to
                ReusedExchange at the physical level (verified), so a
                sweep's data volume equals one Jacobi sweep's."""
                halves = []
                vals = values
                for par in (0, 1):
                    par_of = F.pmod(F.col("u"), F.lit(2)) == par
                    h = h_of(scope_j.filter(par_of), vals)
                    if prune_j:
                        half = (
                            vals.filter(par_of)
                            .join(h, "u", "left")
                            .select("u", F.coalesce("_h", F.col("c")).alias("c"))
                        )
                    else:
                        half = h.select("u", F.col("_h").alias("c"))
                    halves.append(half)
                    if par == 0:
                        vals = half.unionByName(
                            values.filter(F.pmod(F.col("u"), F.lit(2)) == 1).select(
                                "u", "c"
                            )
                        )
                return halves[0].unionByName(halves[1])

            if gauss_seidel:
                # honor the pruned-round fusing lever here too (it was
                # silently fused_steps regardless; r06 code review)
                for j in range(fused_steps_pruned if pruned else fused_steps):
                    cur = gs_sweep(
                        scope if j == 0 else adj, cur, pruned and j == 0
                    )
                pre = (
                    state.select("u", F.col("c").alias("_c0"))
                    .join(cur.hint("shuffle_hash"), "u")
                    .select(
                        "u", "c", "_c0",
                        (F.col("c") != F.col("_c0")).cast("int").alias("_ch"),
                    )
                )
            elif inc_mode:
                # incremental sweeps (docstring): |delta|-sized work,
                # bit-identical values to a full Jacobi sweep.  Lazy
                # persist on the multiply-referenced per-sweep frames
                # (dH feeds merge + touched, Hn feeds recompute + next
                # sweep, Vn feeds values + next delta): the round's
                # single observed action computes each once, later
                # references hit cache; all released after the round.
                cur_v = state.select(
                    "u", "c", F.col("c").alias("_c0")
                )  # carry round-start value through the sweeps so the
                # boundary never re-joins state (stats discipline)
                cur_h = hist_state
                cur_d = delta0
                transient: list[DataFrame] = []
                for j in range(fused_steps):
                    if j == 0 and inc_fresh:
                        # entry round: H already reflects delta0 (built
                        # from current values) — only the h of delta0's
                        # neighbors needs recomputing
                        inc_fresh = False
                        h_new = cur_h
                        touched = (
                            adj.join(cur_d.hint("shuffle_hash"), "v")
                            .select("u")
                            .distinct()
                        )
                    else:
                        d_h = (
                            adj.join(cur_d.hint("shuffle_hash"), "v")
                            .select(
                                "u",
                                F.explode(
                                    F.array(
                                        F.struct(
                                            F.col("c_old").alias("c"),
                                            F.lit(-1).cast("long").alias("_d"),
                                        ),
                                        F.struct(
                                            F.col("c_new").alias("c"),
                                            F.lit(1).cast("long").alias("_d"),
                                        ),
                                    )
                                ).alias("_e"),
                            )
                            .select(
                                "u", F.col("_e.c").alias("c"), F.col("_e._d").alias("_d")
                            )
                            .groupBy("u", "c")
                            .agg(F.sum("_d").alias("_d"))
                            .filter(F.col("_d") != 0)
                            .repartition(n_part, "u")
                            .persist()
                        )
                        transient.append(d_h)
                        h_new = (
                            cur_h.join(d_h, ["u", "c"], "full_outer")
                            .select(
                                "u",
                                "c",
                                (
                                    F.coalesce(F.col("_n"), F.lit(0))
                                    + F.coalesce(F.col("_d"), F.lit(0))
                                ).alias("_n"),
                            )
                            .filter(F.col("_n") > 0)
                            .persist()
                        )
                        transient.append(h_new)
                        touched = d_h.select("u").distinct()
                    ht = (
                        h_new.join(touched.hint("shuffle_hash"), "u", "left_semi")
                        .withColumn("_cum", F.sum("_n").over(w))
                        .groupBy("u")
                        .agg(
                            F.max(F.least(F.col("c"), F.col("_cum")))
                            .cast("int")
                            .alias("_h")
                        )
                    )
                    v_new = (
                        cur_v.join(ht.hint("shuffle_hash"), "u", "left")
                        .select(
                            "u",
                            F.coalesce("_h", F.col("c")).alias("c"),
                            F.col("c").alias("_pv"),
                            "_c0",
                        )
                        .persist()
                    )
                    transient.append(v_new)
                    cur_d = v_new.filter(F.col("c") != F.col("_pv")).select(
                        F.col("u").alias("v"),
                        F.col("_pv").alias("c_old"),
                        F.col("c").alias("c_new"),
                    )
                    cur_v = v_new.select("u", "c", "_c0")
                    cur_h = h_new
                # _pv rides into the materialized state: the H kept
                # across the round boundary has the LAST sweep's input
                # values as its basis (the final sweep's delta is never
                # merged in-round), so the next round's first merge must
                # apply exactly the last sweep's delta (c != _pv), NOT
                # the round-net delta (c != _c0) — net re-applies the
                # early sweeps' moves and corrupts the counts
                pre = v_new.select(
                    "u",
                    "c",
                    "_c0",
                    "_pv",
                    (F.col("c") != F.col("_c0")).cast("int").alias("_ch"),
                )
            elif fused_steps <= 1:
                # single-join merge: state is referenced ONCE on the
                # build path.  CRITICAL Spark gotcha (r05): LogicalRDD
                # (localCheckpoint) PRESERVES origin sizeInBytes stats,
                # and Catalyst multiplies join-children sizes as BigInt
                # — a round shape that references state on BOTH sides
                # of a join DOUBLES the stats bit-length every round,
                # and after ~20 rounds the driver spins for minutes in
                # BigInteger.multiply (Toom-Cook) during planning.
                # Keep every per-round shape LINEAR in state references
                # on any multiplied path (aggregates cap their branch).
                # Guarded by plans/inspect.py::assert_linear_state_refs
                # via tests/test_plans.py::
                # test_iterative_state_stats_stay_linear.
                h = h_of(scope, cur)
                pre = (
                    state.join(h, "u", "left")
                    .select(
                        "u",
                        F.coalesce("_h", F.col("c")).alias("c"),
                        F.col("c").alias("_c0"),
                        (F.coalesce("_h", F.col("c")) != F.col("c")).cast("int").alias("_ch"),
                    )
                )
            else:
                for j in range(fused_steps_pruned if pruned else fused_steps):
                    scoped = pruned and (j == 0 or scope_inner_steps)
                    h = h_of(scope if scoped else adj, cur)
                    if scoped:
                        cur = cur.join(h, "u", "left").select(
                            "u", F.coalesce("_h", F.col("c")).alias("c")
                        )
                    else:
                        # full scope covers EVERY state vertex (state's
                        # universe is adj.groupBy(u)): h IS the next
                        # value frame, and the aggregate CAPS the stats
                        # branch, keeping the round-boundary compare
                        # join linear in state references (see gotcha
                        # above)
                        cur = h.select("u", F.col("_h").alias("c"))
                pre = (
                    state.select("u", F.col("c").alias("_c0"))
                    .join(cur.hint("shuffle_hash"), "u")
                    .select(
                        "u", "c", "_c0",
                        (F.col("c") != F.col("_c0")).cast("int").alias("_ch"),
                    )
                )
            new_state = pre.observe(obs, F.sum("_ch").alias("ch")).localCheckpoint(
                eager=True
            )
            changes = int(obs.get["ch"] or 0)
            if verbose:
                print(
                    f"[coreness] round {iterations + 1} changes={changes} "
                    f"{time.monotonic() - _t0:.2f}s"
                )
            if inc_mode:
                # H persists across rounds: materialize the last fused
                # sweep's histogram (its partitions are already cached
                # by the observed action), then release the round's
                # transient caches and the previous H
                new_hist = cur_h.localCheckpoint(eager=True)
                hist_state.unpersist()
                for frame in transient:
                    frame.unpersist()
                hist_state = new_hist
            state.unpersist()
            if pruned:
                scope.unpersist()
            state = new_state.select("u", "c")
            changed = new_state.filter(F.col("_ch") == 1).select("u")
            if "_pv" in new_state.columns:
                # inc rounds: H's basis is the last sweep's input —
                # next merge applies the last sweep's delta only
                delta0 = new_state.filter(F.col("c") != F.col("_pv")).select(
                    F.col("u").alias("v"),
                    F.col("_pv").alias("c_old"),
                    F.col("c").alias("c_new"),
                )
            elif sweep == "auto" and "_c0" in new_state.columns:
                # full rounds: the net round delta — only ever used by
                # the inc ENTRY round's fresh sweep, where it scopes the
                # h recompute (superset of the last sweep's changed set
                # by monotonicity; H there is built current, no merge)
                delta0 = new_state.filter(F.col("_ch") == 1).select(
                    F.col("u").alias("v"),
                    F.col("_c0").alias("c_old"),
                    F.col("c").alias("c_new"),
                )
            iterations += 1
            changes_per_iter.append(changes)
            if checkpoint_dir:
                from hypergraph_gpu_label_propagation_spark.plans.checkpointing import (
                    write_snapshot,
                )

                # _ch rides the snapshot so a resume rebuilds the frontier
                write_snapshot(
                    new_state, checkpoint_dir, "coreness", iterations,
                    {"op": "coreness", "superstep": iterations, "changes": changes},
                )
            if changes == 0:
                break
    out = (
        hg.vertices()
        .join(state.select(F.col("u").alias("vertex_id"), "c"), "vertex_id", "left")
        .select("vertex_id", F.coalesce("c", F.lit(0)).cast("int").alias("coreness"))
    )
    adj.unpersist()  # loop-local cache (state is checkpointed, not derived from it)
    return CorenessResult(
        coreness=out, iterations=iterations, changes_per_iter=changes_per_iter
    )
