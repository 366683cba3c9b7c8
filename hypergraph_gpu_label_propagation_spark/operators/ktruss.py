"""k-truss of the co-occurrence graph (edge-level decomposition).

Definition (Cohen 2008): the k-truss is the maximal subgraph in which
every edge participates in >= k-2 triangles WITHIN the subgraph;
computed by iteratively deleting under-supported edges until a fixed
point (the edge-based analog of the k-core vertex peel).

Dispatch (:func:`k_truss`), on one aggregate over the pairs that gives
their count and the wedge bound sum_v C(deg(v), 2):

- **At or under both bounds** — ``KTRUSS_LOCAL_MAX_ROWS`` (4M u < v
  pairs, 8M directed rows as for coreness; conf
  ``spark.graft.ktruss.local.maxRows``, 0 forces the Spark loop) and
  ``KTRUSS_LOCAL_MAX_WEDGES`` (500M, a constant): ONE task gets every
  pair (``repartition(1).mapInPandas``) and runs the exact peel in
  NumPy (:func:`peel_truss`), with the same hybrid rule as the Spark
  loop below.  Measured on a 4-core host:
  * memory: the peel peaks at 118-170 B per pair (tracemalloc, sf0.1
    adjacency and a random 4.67M-pair graph), ~0.5-0.7 GB of worker
    memory at the pair bound; work runs in chunks of 1M wedges or rows,
    so no intermediate grows with the wedge count;
  * wedge throughput: the support pass enumerates 16-21M
    degree-oriented wedges per second (sf0.1: 41.1M in ~1.9 s; the
    4.67M-pair graph: 180M in ~11 s).  The oriented count is at most
    the wedge bound (sf0.1: 147.8M), so the guard caps a support pass
    at ~30 s; both measured graphs orient to 28 % of their bound;
  * worst case under the bounds: many tiny batches.  A triangulated
    tube peels one ring per batch, ~90-130 us each (1.2M pairs: 100k
    batches, 8.8 s), so a 4M-pair tube takes ~30 s, where the Spark
    loop would pay one ~1 s round per batch.  Mass peels recompute
    over at most half the previous alive pairs each time.
- **Above either bound** (sf1 is ~12M pairs): the Spark loop below.

Both paths give identical membership (tests force the Spark loop with
a 0-pair bound and compare).

Execution shape of the Spark loop — HYBRID SUPPORT MAINTENANCE (r05 verdict #1; the
previous peel recomputed a FULL triangle pass over the alive set every
cascade round):

- round 0 pays exactly ONE full triangle enumeration (the same oriented
  wedge join + semi-join as triangle_count) to seed per-edge support;
- each later round picks the cheaper update by the measured removal
  ratio (the removed-edge count rides the previous checkpoint's
  observe, so the choice costs no extra action):
  * removed >= survivors (mass peel, e.g. a high k wiping 99% of edges
    in round 1): RECOMPUTE support over the survivor set — a wedge
    join anchored on the (small) survivor pairs against the base
    adjacency, aliveness enforced by two left_semi joins;
  * removed < survivors (long cascade tail): INCREMENTAL decrement —
    only triangles destroyed by this round's removed edges are
    counted, by inclusion-exclusion (D1 - D2) so nothing is ever
    materialized per-triangle and no distinct is needed:
      D1(e) = #(destroyed triangle T, removed anchor edge f in T):
              wedge join anchored on the removed set; credits each
              surviving edge once per removed edge in its triangle;
      D2(e) = #triangles where BOTH other edges were removed this
              round (they always share exactly one vertex): a wedge
              join anchored on the removed set against the base
              adjacency, closed by a removed-set semi join;
      new support = old - D1 + D2.
- total loop work ~ one full pass + the smaller side of each round's
  peel, instead of rounds x full-triangle-pass.

Catalyst stats discipline (the r05 BigInt gotcha, see
plans/inspect.py::stats_size_bits): the checkpointed support state is
referenced on only ONE side of any stats-multiplied (inner) join per
round — every wedge join's other side is the CONSTANT-stats base
adjacency, aliveness checks are left_semi (stats = left side only),
and every support merge is union + groupBy-sum (stats ADD, never
multiply).  Plan-size estimates grow linearly in rounds.

The DuckDB twin is a recursive CTE carrying the alive EDGE set with the
same shrink guard as the kcore twin (plus one final outside filter for
the stop-on-stable edge case) — the oracle recomputes support per round
(fine at sf0.01); the engine maintains it with the hybrid above.
"""

from __future__ import annotations

from collections.abc import Iterator
from dataclasses import dataclass, field
from typing import TYPE_CHECKING

import numpy as np
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from hypergraph_gpu_label_propagation_spark.model import Hypergraph
from hypergraph_gpu_label_propagation_spark.operators.triangles import clique_expansion
from hypergraph_gpu_label_propagation_spark.plans.in_task import dense_ids, map_pairs
from hypergraph_gpu_label_propagation_spark.plans.tuning import conf_rows, loop_conf

if TYPE_CHECKING:
    import pandas as pd


@dataclass
class KTrussResult:
    membership: DataFrame  # (u, v, in_truss: int) — one row per co-occurrence edge
    iterations: int
    truss_size: int
    removed_per_iter: list[int] = field(default_factory=list)


# In-task bound: graphs with at most this many u < v pairs (and at most
# KTRUSS_LOCAL_MAX_WEDGES wedges, below) peel in ONE task with NumPy
# (:func:`peel_truss`); above it the Spark peel loop runs.  4M pairs is
# 8M directed rows, the coreness bound; the peel's peak is 118-170 B per
# pair (the packed keys, the CSR, support, the chunk buffers), so
# ~0.5-0.7 GB at the bound.  Conf-overridable (0 forces the Spark loop)
# through `spark.graft.ktruss.local.maxRows`.
KTRUSS_LOCAL_MAX_ROWS = 4_000_000

# Wedge-volume guard: sum over vertices of C(deg, 2), an upper bound on
# the degree-oriented wedges the support pass enumerates (and, plus the
# pair count, on the rows the decrement batches scan).  At the measured
# 16-21M oriented wedges/s a support pass stays under ~30 s; sf0.1 is
# 147.8M.  Not a conf: it caps the single task's work, whatever the
# pair count.
KTRUSS_LOCAL_MAX_WEDGES = 500_000_000

# wedges (support pass) or adjacency rows (decrement pass) per NumPy
# chunk: the transient arrays stay at tens of MB whatever the graph
_CHUNK = 1 << 20

_GOLDEN = np.uint64(0x9E3779B97F4A7C15)


class _PairIndex:
    """Exact lookup of packed pair keys in a sorted unique key array.

    Most probes miss (95 % of the sf0.1 wedges close no triangle), so a
    one-byte-per-slot hash presence table (8 slots per key, ~7 % false
    positives) drops the misses first; the rest are sorted and found
    with one ``searchsorted``, which is far cheaper on sorted probes."""

    def __init__(self, keys: np.ndarray):
        self.keys = keys
        self.bits = int(len(keys)).bit_length() + 3
        self.present = np.zeros(1 << self.bits, dtype=bool)
        self.present[self._hash(keys)] = True

    def _hash(self, q: np.ndarray) -> np.ndarray:
        # Fibonacci hashing: the top bits of q * 2^64/phi (wrapping)
        return (q.view(np.uint64) * _GOLDEN) >> np.uint64(64 - self.bits)

    def find(self, q: np.ndarray) -> np.ndarray:
        """Position of every key of ``q`` in ``keys``; -1 where absent."""
        out = np.full(q.size, -1, dtype=np.int64)
        cand = np.flatnonzero(self.present[self._hash(q)])
        o = np.argsort(q[cand])
        qs = q[cand[o]]
        pos = np.searchsorted(self.keys, qs)
        np.minimum(pos, len(self.keys) - 1, out=pos)
        hit = self.keys[pos] == qs
        out[cand[o[hit]]] = pos[hit]
        return out


def _chunks(cnt: np.ndarray) -> Iterator[tuple[int, int]]:
    """Consecutive ``[lo, hi)`` ranges of ``cnt`` whose sums stay near
    ``_CHUNK``; one entry is never split."""
    cum = np.cumsum(cnt)
    total = int(cum[-1]) if len(cum) else 0
    cuts = np.searchsorted(cum, np.arange(_CHUNK, total, _CHUNK), side="right")
    ends = np.unique(np.concatenate([[0], cuts, [len(cnt)]]))
    return zip(ends[:-1].tolist(), ends[1:].tolist())


def _support(
    s: np.ndarray, t: np.ndarray, slots: np.ndarray, n: int, index: _PairIndex,
    alive: np.ndarray,
) -> np.ndarray:
    """Triangles per pair slot inside the subgraph of ``slots`` (sorted
    slot ids of alive pairs, in the CSR order of ``s``/``t``).

    Every pair is oriented from its lower-rank to its higher-rank end
    (rank = (degree, id) order), so each triangle is the wedge of two
    out-slots i < j in its lowest vertex's row, closed by the pair
    (t[i], t[j]); it credits all three of its pairs once.  A slot
    starts at most its row's length of wedges, and a rank-oriented row
    holds at most sqrt(2m) slots, so one slot never overfills a
    chunk."""
    m = len(s)
    supp = np.zeros(m, dtype=np.int64)
    if slots.size == 0:
        return supp
    ss, tt = s[slots], t[slots]
    # rows are contiguous: c[i] = later slots of i's row = wedges from i
    ends = np.append(np.flatnonzero(np.diff(ss)) + 1, len(ss))
    c = np.repeat(ends, np.diff(ends, prepend=0)) - np.arange(len(ss)) - 1
    hits, n_hits = [], 0
    for lo, hi in _chunks(c):
        cc = c[lo:hi]
        tot = int(cc.sum())
        if tot == 0:
            continue
        rows = np.arange(lo, hi)
        i = np.repeat(rows, cc)
        j = np.arange(tot) + np.repeat(rows + 1 - (np.cumsum(cc) - cc), cc)
        e3 = index.find(tt[i] * n + tt[j])
        ok = np.flatnonzero(e3 >= 0)
        ok = ok[alive[e3[ok]]]
        h = np.concatenate([slots[i[ok]], slots[j[ok]], e3[ok]])
        hits.append(h)
        n_hits += h.size
        if n_hits >= m:  # flush: one O(m) bincount per m credits
            supp += np.bincount(np.concatenate(hits), minlength=m)
            hits, n_hits = [], 0
    if hits:
        supp += np.bincount(np.concatenate(hits), minlength=m)
    return supp


def peel_truss(u: np.ndarray, v: np.ndarray, k: int) -> tuple[np.ndarray, int]:
    """Exact k-truss of the undirected graph with edges (u[i], v[i]).

    Returns ``(in_truss, batches)``: a bool per input pair, aligned with
    ``u``/``v``, and the number of removal batches.  Ids are mapped
    densely with ``np.unique``, so any int64 id works.  ``u``/``v`` must
    hold each undirected edge once, without self-loops (the clique
    expansion's distinct u < v pairs).

    1. Support: one degree-oriented wedge pass (:func:`_support`) gives
       every pair its triangle count.  Pairs are looked up by the
       packed key ``lo * n + hi`` of their dense ranks.
    2. Peel, with the Spark loop's hybrid rule: every alive pair under
       k - 2 triangles leaves in one batch.  When a batch removes at
       least as many pairs as survive, support is recomputed over the
       survivors.  Otherwise it is decremented: each removed pair
       scans the row of its lower-degree end for triangles whose three
       pairs were alive before the batch.  A destroyed triangle is
       counted once, from its lowest-slot removed pair, so each
       surviving pair loses exactly 1 per destroyed triangle.  Only
       decremented pairs can newly drop under k - 2, so the next batch
       is read off them.
    """
    m = len(u)
    ids, inv = dense_ids(u, v)
    n = len(ids)
    deg = np.bincount(inv, minlength=n)
    # rank = position in (degree, id) order: the lower-rank end of a
    # pair never has the higher degree
    by_rank = np.argsort(deg, kind="stable")
    rank = np.empty(n, dtype=np.int64)
    rank[by_rank] = np.arange(n)
    deg = deg[by_rank]  # indexed by rank from here on
    a, b = rank[inv[:m]], rank[inv[m:]]
    del inv, rank, by_rank
    s, t = np.minimum(a, b), np.maximum(a, b)
    del a, b
    # slot space: pairs sorted by packed key = the out-CSR of the
    # rank orientation (row s, targets t ascending); order maps a slot
    # back to its input row.  n * n < 2^63 for any n < 3e9.
    key = s * n + t
    order = np.argsort(key)
    key, s, t = key[order], s[order], t[order]
    index = _PairIndex(key)
    alive = np.ones(m, dtype=bool)
    supp = _support(s, t, np.arange(m), n, index, alive)
    thr = k - 2
    batch = np.flatnonzero(supp < thr)
    n_alive = m
    batches = 0
    nbr = nbe = indptr = None
    removing = np.zeros(m, dtype=bool)
    while batch.size:
        batches += 1
        n_surv = n_alive - batch.size
        n_alive = n_surv
        if batch.size >= n_surv:
            # mass peel: recompute over the survivors
            alive[batch] = False
            supp = _support(s, t, np.flatnonzero(alive), n, index, alive)
            batch = np.flatnonzero(alive & (supp < thr))
            continue
        if nbr is None:
            # symmetric CSR (row x: neighbour ranks, their pair slots),
            # built on the first decrement batch only
            ends = np.concatenate([s, t])
            nbe = np.argsort(ends, kind="stable")
            nbr = np.concatenate([t, s])[nbe]
            nbe[nbe >= m] -= m
            indptr = np.zeros(n + 1, dtype=np.int64)
            np.cumsum(np.bincount(ends, minlength=n), out=indptr[1:])
            del ends
        removing[batch] = True
        # s is the lower-rank, so lower-degree, end of every pair
        cnt = deg[s[batch]]
        dec = []
        for lo, hi in _chunks(cnt):
            cc = cnt[lo:hi]
            start = indptr[s[batch[lo:hi]]]
            row = np.repeat(start - (np.cumsum(cc) - cc), cc) + np.arange(int(cc.sum()))
            e0 = np.repeat(batch[lo:hi], cc)
            other = t[e0]
            w = nbr[row]
            e1 = nbe[row]
            ok = np.flatnonzero(alive[e1] & (w != other))
            e0, e1 = e0[ok], e1[ok]
            x, y = other[ok], w[ok]
            e2 = index.find(np.minimum(x, y) * n + np.maximum(x, y))
            ok = np.flatnonzero(e2 >= 0)
            ok = ok[alive[e2[ok]]]
            e0, e1, e2 = e0[ok], e1[ok], e2[ok]
            r1, r2 = removing[e1], removing[e2]
            first = (~r1 | (e1 > e0)) & (~r2 | (e2 > e0))
            dec.append(e1[first & ~r1])
            dec.append(e2[first & ~r2])
        alive[batch] = False
        removing[batch] = False
        touched = np.concatenate(dec)
        np.subtract.at(supp, touched, 1)
        touched = np.unique(touched)
        batch = touched[supp[touched] < thr]
    in_truss = np.empty(m, dtype=bool)
    in_truss[order] = alive
    return in_truss, batches


def _truss_task(k: int):
    """mapInPandas body of the in-task path: every (u, v) pair arrives in
    this one partition; emit (u, v, in_truss) per pair."""

    def task(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def peel(u: np.ndarray, v: np.ndarray) -> dict[str, np.ndarray]:
            in_truss, _ = peel_truss(u, v, k)
            return {"u": u, "v": v, "in_truss": in_truss.astype(np.int32)}

        yield from map_pairs(batches, peel)

    return task


def _k_truss_in_task(hg: Hypergraph, base: DataFrame, k: int, n_pairs: int) -> KTrussResult:
    """The under-bound path of :func:`k_truss`: one task peels every
    pair; ``truss_size`` rides an observe on the one materialization."""
    obs = Observation("ktruss_local")
    # adaptive execution off, as in kcore._coreness_in_task: with it on
    # every query stage is submitted as its own job
    with loop_conf(hg.spark, hg.spark.sparkContext.defaultParallelism):
        membership = (
            base.select("u", "v")
            .repartition(1)
            .mapInPandas(_truss_task(k), "u long, v long, in_truss int")
            .observe(obs, F.sum("in_truss").alias("n"))
            .localCheckpoint(eager=True)
        )
    truss_size = int(obs.get["n"] or 0)
    return KTrussResult(
        membership=membership,
        iterations=1,
        truss_size=truss_size,
        removed_per_iter=[n_pairs - truss_size],
    )


def _pair_stats(spark, base: DataFrame) -> tuple[int, int]:
    """``(pairs, wedge bound)`` in one aggregate: the u < v pair count
    and sum over vertices of C(deg, 2)."""
    deg = (
        base.select(F.explode(F.array("u", "v")).alias("x"))
        .groupBy("x")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    with loop_conf(spark, spark.sparkContext.defaultParallelism):
        row = deg.agg(
            F.sum("d").alias("d"), F.sum(F.col("d") * (F.col("d") - 1)).alias("w")
        ).collect()[0]
    return int(row["d"] or 0) // 2, int(row["w"] or 0) // 2


def k_truss(
    hg: Hypergraph,
    k: int,
    max_iterations: int = 200,
    adj: DataFrame | None = None,
) -> KTrussResult:
    """Edges (u < v) of the k-truss of the co-occurrence graph.

    Dispatch on one aggregate over ``adj`` (no extra job): the pair
    count and the wedge bound sum_v C(deg(v), 2).

    - **At or under** ``KTRUSS_LOCAL_MAX_ROWS`` (4M pairs; conf
      ``spark.graft.ktruss.local.maxRows``, 0 forces the Spark loop)
      and ``KTRUSS_LOCAL_MAX_WEDGES`` (500M): one task peels every pair
      with :func:`peel_truss` and the result is localCheckpointed with
      ``truss_size`` riding an observe.  Bounds from the measured peak
      of 118-170 B per pair (~0.5-0.7 GB at 4M pairs) and 16-21M
      oriented wedges per second (~30 s worst-case support pass under
      the wedge guard; module doc).  ``iterations`` is 1,
      ``removed_per_iter`` is ``[pairs - truss_size]``, and
      ``max_iterations`` does not apply.  The perfbench motifs_skewed
      call runs 3 Spark jobs; the Spark loop ran 48.
    - **Above either bound**: the hybrid Spark peel loop, at most
      ``max_iterations`` rounds.

    ``adj``: optional precomputed clique expansion (distinct u < v
    pairs, already materialized) — see triangle_count."""
    if k < 3:
        raise ValueError("k-truss needs k >= 3 (k-2 triangles per edge)")
    # distinct u < v
    base = clique_expansion(hg).localCheckpoint(eager=True) if adj is None else adj
    n_pairs, wedges = _pair_stats(hg.spark, base)
    max_pairs = conf_rows(
        hg.spark, "spark.graft.ktruss.local.maxRows", KTRUSS_LOCAL_MAX_ROWS
    )
    if n_pairs <= max_pairs and wedges <= KTRUSS_LOCAL_MAX_WEDGES:
        return _k_truss_in_task(hg, base, k, n_pairs)
    return _k_truss_spark(hg, base, k, n_pairs, max_iterations)


def _k_truss_spark(
    hg: Hypergraph, base: DataFrame, k: int, n_alive: int, max_iterations: int
) -> KTrussResult:
    """The over-bound path of :func:`k_truss`: the hybrid Spark peel
    loop (module doc)."""
    removed_per_iter: list[int] = []
    iterations = 0
    # partitions sized from the EXPANSION, not the incidence (the sf1
    # audit measured the wedge-heavy peel 12.7x at 10x data under the
    # incidence-sized conf — same spill mechanism as triangle_count;
    # see triangles.PAIRS_PER_PARTITION and BENCH_SCALING.md r05)
    from hypergraph_gpu_label_propagation_spark.operators.triangles import (
        _wedge_partitions,
    )

    def _swap(df: DataFrame) -> DataFrame:
        return df.select(F.col("v").alias("u"), F.col("u").alias("v"))

    below = F.col("_c") < k - 2

    def _count_support(anchor: DataFrame, alive_sym: DataFrame) -> DataFrame:
        """(u, v, _c>0) for anchor edges: #w with (u,w) and (v,w) in
        ``alive_sym`` (base neighbors of u, then two aliveness semis —
        the second also removes the w == v self row)."""
        cand = anchor.join(sym_base.select("u", F.col("v").alias("w")), "u")
        cand = cand.join(
            alive_sym.select(F.col("u"), F.col("v").alias("w")),
            ["u", "w"], "left_semi",
        )
        tri = cand.join(
            alive_sym.select(F.col("u").alias("v"), F.col("v").alias("w")),
            ["v", "w"], "left_semi",
        )
        return tri.groupBy("u", "v").agg(F.count("*").alias("_c"))

    with loop_conf(hg.spark, _wedge_partitions(hg.spark, n_alive), adaptive=True):
        # base expansion in both directions — the CONSTANT-stats wedge
        # side for every per-round join (checkpointed once)
        sym_base = base.unionByName(_swap(base)).localCheckpoint(eager=True)

        # round 0: full support, the ONLY full triangle pass — the
        # ORIENTED u < v < w wedge shape (same as triangle_count: wedge
        # volume sum_v lo(v)*hi(v), not the anchored sum_u hi(u)*deg(u)
        # whose hi^2 hub term measured 14x slower at sf1), closed by an
        # INNER join so each triangle row credits all three of its
        # edges.  Edges in no triangle keep an explicit 0 row (union
        # merge, not a join — see the stats discipline in the module
        # doc); the observe pre-counts next round's removals so the
        # strategy choice is action-free.
        # r08 (guide §2.4): broadcast the pair set in the seeding pass
        # when it fits (triangles.TRIANGLES_BROADCAST_MAX_ROWS) — the
        # wedge intermediate is then never exchanged; over the
        # threshold the r06 shuffle shape runs unchanged
        from hypergraph_gpu_label_propagation_spark.operators.triangles import (
            _packed_key,
            _triangles_broadcast_rows,
        )

        _use_bcast0 = n_alive <= _triangles_broadcast_rows(hg.spark)
        _maybe_bcast = F.broadcast if _use_bcast0 else (lambda df: df)
        wedges0 = base.join(
            _maybe_bcast(base.select(F.col("u").alias("v"), F.col("v").alias("w"))),
            "v",
        )
        if _use_bcast0 and 0 < hg.num_vertices < 2**31:
            # packed single-long closing key (LongHashedRelation; see
            # triangles._oriented_triangles) — base pairs are unique so
            # the inner join's multiplicity is unchanged
            tri0 = (
                wedges0.withColumn("_uw", _packed_key("u", "w"))
                .join(
                    F.broadcast(base.select(_packed_key("u", "v").alias("_uw"))),
                    "_uw",
                )
                .drop("_uw")
            )
        else:
            tri0 = wedges0.join(
                _maybe_bcast(base.select("u", F.col("v").alias("w"))), ["u", "w"]
            )
        cnt0 = (
            tri0.select(
                F.explode(
                    F.array(
                        F.struct(F.col("u"), F.col("v")),
                        F.struct(F.col("u"), F.col("w").alias("v")),
                        F.struct(F.col("v").alias("u"), F.col("w").alias("v")),
                    )
                ).alias("_e")
            )
            .select("_e.u", "_e.v")
            .groupBy("u", "v")
            .agg(F.count("*").cast("long").alias("_c"))
        )
        obs0 = Observation("ktruss_init")
        supp = (
            base.select("u", "v", F.lit(0).cast("long").alias("_c"))
            .unionByName(cnt0)
            .groupBy("u", "v")
            .agg(F.sum("_c").alias("_c"))
            .observe(
                obs0,
                F.count(F.lit(1)).alias("n"),
                F.sum(below.cast("long")).alias("r"),
            )
            .localCheckpoint(eager=True)
        )
        n_alive = int(obs0.get["n"] or 0)
        n_removed = int(obs0.get["r"] or 0)

        for _ in range(max_iterations):
            if n_removed == 0:
                break
            removed = supp.filter(below).select("u", "v")
            survivors = supp.filter(~below)
            n_surv = n_alive - n_removed

            if n_removed >= n_surv:
                # mass peel: recompute support inside the survivor set
                sym_surv = survivors.select("u", "v").unionByName(
                    _swap(survivors.select("u", "v"))
                )
                merged = survivors.select(
                    "u", "v", F.lit(0).cast("long").alias("_c")
                ).unionByName(_count_support(survivors.select("u", "v"), sym_surv))
            else:
                # incremental: decrement by destroyed-triangle counts.
                # D1: anchored on removed (u,v); w must be old-alive on
                # both sides; credit the two cross edges (normalized
                # u < v).  A destroyed triangle credits a surviving
                # edge once per removed edge it contains...
                alive_pairs = supp.select("u", "v")
                sym_old = alive_pairs.unionByName(_swap(alive_pairs))
                cand = removed.join(
                    sym_base.select("u", F.col("v").alias("w")), "u"
                ).filter(F.col("w") != F.col("v"))
                cand = cand.join(
                    sym_old.select(F.col("u"), F.col("v").alias("w")),
                    ["u", "w"], "left_semi",
                )
                destroyed = cand.join(
                    sym_old.select(F.col("u").alias("v"), F.col("v").alias("w")),
                    ["v", "w"], "left_semi",
                )
                d1 = (
                    destroyed.select(
                        F.explode(
                            F.array(
                                F.struct(
                                    F.least("u", "w").alias("u"),
                                    F.greatest("u", "w").alias("v"),
                                ),
                                F.struct(
                                    F.least("v", "w").alias("u"),
                                    F.greatest("v", "w").alias("v"),
                                ),
                            )
                        ).alias("_e")
                    )
                    .select("_e.u", "_e.v")
                    .groupBy("u", "v")
                    .agg((-F.count("*")).alias("_c"))
                    .join(supp.filter(~below), ["u", "v"], "left_semi")
                )
                # ...D2 adds back the double-credit for triangles whose
                # OTHER two edges were BOTH removed (they share exactly
                # one vertex w): anchored on removed (x,w), y from w's
                # base neighbors, (y,w) must also be removed, (x,y)
                # surviving; x < y counts each triangle once.
                sym_rem = removed.unionByName(_swap(removed))
                d2 = (
                    sym_rem.select(F.col("u").alias("x"), F.col("v").alias("w"))
                    .join(
                        sym_base.select(F.col("u").alias("w"), F.col("v").alias("y")),
                        "w",
                    )
                    .filter(F.col("x") < F.col("y"))
                    .join(
                        sym_rem.select(F.col("u").alias("y"), F.col("v").alias("w")),
                        ["y", "w"], "left_semi",
                    )
                    .select(F.col("x").alias("u"), F.col("y").alias("v"))
                    .join(supp.filter(~below), ["u", "v"], "left_semi")
                    .groupBy("u", "v")
                    .agg(F.count("*").alias("_c"))
                )
                merged = survivors.unionByName(d1).unionByName(d2)

            obs = Observation(f"ktruss_{iterations}")
            new_supp = (
                merged.groupBy("u", "v")
                .agg(F.sum("_c").alias("_c"))
                .observe(
                    obs,
                    F.count(F.lit(1)).alias("n"),
                    F.sum(below.cast("long")).alias("r"),
                )
                .localCheckpoint(eager=True)
            )
            n_new = int(obs.get["n"] or 0)
            supp.unpersist()
            supp = new_supp
            iterations += 1
            removed_per_iter.append(n_alive - n_new)
            n_alive = n_new
            n_removed = int(obs.get["r"] or 0)
            if n_new == 0:
                break
        sym_base.unpersist()
    membership = base.join(
        supp.select("u", "v", F.lit(1).alias("_in")), ["u", "v"], "left"
    ).select("u", "v", F.coalesce("_in", F.lit(0)).cast("int").alias("in_truss"))
    return KTrussResult(
        membership=membership,
        iterations=iterations,
        truss_size=n_alive,
        removed_per_iter=removed_per_iter,
    )
