"""The benchmark's workloads.

Each workload is one closed-loop client: one process on ``local[4]``
making sequential calls into the package's public functions. A workload
stages its inputs from the seed, computes reference outputs once (outside
every timed window), then runs passes. A pass is the fixed sequence of
calls of its parts; every call's output is collected to the driver inside
the call's timed window and compared with the reference after the pass.

Four parts (loops_planted, motifs_skewed, repo_ingest_stream,
docs_pipeline) make two workloads. At these sizes a fixed-point iteration
costs a few hundred milliseconds of mostly fixed Spark and driver cost,
so a pass measures per-call and per-iteration overhead rather than bulk
throughput. Every state frame stays far below the 4M-row broadcast-gather
cap and every wedge set below the 16M-pair broadcast cap, so the shuffle
fallbacks never run here (tests cover them).
"""

from __future__ import annotations

import os
import shutil
import time
import traceback
import zlib
from dataclasses import dataclass, field
from typing import Any, Callable

import numpy as np

from perfbench import reference as ref
from perfbench.spans import SpanRecorder

CORES = 4
MAX_LABELS = 10
# PageRank's L1 stopping tolerance. bench.py uses 1e-7 (about 35
# iterations here); 1e-4 stops after about 10, which keeps a run inside
# the time budget. The oracle runs with the same tolerance, so both stop
# after the same iteration and agree to rounding.
PR_TOL = 1e-4

# layer of each docs_pipeline entry query: the package module its
# operator lives in
DOCS_QUERIES = {
    "dedup_exact": "operators.dedup",
    "minhash_lsh": "operators.dedup",
    "ann_topk": "operators.similarity",
    "events_stream": "streaming.events",
}


class CallFailed(Exception):
    """A call raised; the rest of the pass depends on it and is skipped."""


@dataclass
class Runner:
    """Runs a pass's calls, times them, and checks their outputs.

    ``call`` counts one attempted operation. An operation fails when it
    raises, or when its check (run by :meth:`verify` after the pass)
    returns false or raises."""

    recorder: SpanRecorder | None = None
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    notes: dict[str, list[float]] = field(default_factory=dict)
    log: list[tuple[str, float]] = field(default_factory=list)  # (layer, wall s) per call
    _checks: list[tuple[str, Any, Callable[[Any], bool]]] = field(default_factory=list)

    def call(self, layer: str, fn: Callable[[], Any], check: Callable[[Any], bool]):
        """Run one public call as span ``layer``; ``check`` judges its
        output after the pass."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            if self.recorder is None:
                out = fn()
            else:
                with self.recorder.span(layer):
                    out = fn()
        except Exception as ex:  # a raising call is a failed op, not a crash
            self.failed += 1
            self.errors.append(f"{layer}: {ex!r}\n{traceback.format_exc()}")
            raise CallFailed(layer) from ex
        self.log.append((layer, time.perf_counter() - t0))
        self._checks.append((layer, out, check))
        return out

    def note(self, name: str, value: float) -> None:
        self.notes.setdefault(name, []).append(float(value))

    def certify(self, layer: str, check: Callable[[Any], bool]) -> None:
        """A check on the combined output of earlier calls, run by
        :meth:`verify`; failing it counts one more failed op."""
        self._checks.append((layer, None, check))

    def verify(self) -> None:
        for layer, out, check in self._checks:
            try:
                ok, why = bool(check(out)), "output differs from the reference"
            except Exception as ex:  # a check that cannot run is a failed op
                ok, why = False, repr(ex)
            if not ok:
                self.failed += 1
                self.errors.append(f"{layer}: {why}")
        self._checks.clear()


@dataclass
class Ctx:
    spark: Any
    work: str
    seed: int
    staged: dict = field(default_factory=dict)
    ref: dict = field(default_factory=dict)


def values_by_id(rows, n: int, key: str, val: str) -> np.ndarray:
    """Collected (id, value) rows -> dense array; ids never returned stay NaN."""
    out = np.full(n, np.nan)
    for row in rows:
        out[row[key]] = row[val]
    return out


def part_rng(seed: int, part: str) -> np.random.Generator:
    """The seed's random stream for one workload part."""
    return np.random.default_rng([seed, zlib.crc32(part.encode())])


def write_incidence(path: str, e: np.ndarray, v: np.ndarray) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table({"edge_id": e, "vertex_id": v}), path)


def _lp(r: Runner, hg, n: int, oracle):
    """LP with bench.py's settings: max_labels=10, init label vertex_id % 10.
    The labels and the superstep count must equal ``oracle`` (an
    OracleLPResult) exactly."""
    from pyspark.sql import functions as F

    from hypergraph_gpu_label_propagation_spark import label_propagation

    def run():
        init = hg.spark.range(n).select(
            F.col("id").alias("vertex_id"),
            F.pmod("id", F.lit(MAX_LABELS)).cast("int").alias("label"),
        )
        res = label_propagation(hg, init, max_labels=MAX_LABELS)
        return res, res.labels.collect()

    def check(out) -> bool:
        res, rows = out
        got = values_by_id(rows, n, "vertex_id", "label")
        return res.iterations == oracle.iterations and np.array_equal(got, oracle.labels)

    res, _ = r.call("operators.label_propagation", run, check)
    r.note("operators.label_propagation.supersteps", res.iterations)
    for m in res.metrics:
        r.note("operators.label_propagation.superstep_s", m.wall_ms / 1000.0)


class Workload:
    name = ""

    def stage(self, seed: int, work: str) -> dict:
        """Make the seed's inputs under ``work``; return their paths."""
        raise NotImplementedError

    def reference(self, ctx: Ctx) -> dict:
        raise NotImplementedError

    def run_pass(self, ctx: Ctx, r: Runner) -> None:
        """One pass: every call, each registered with its output check."""
        raise NotImplementedError


class LoopsPlanted(Workload):
    name = "loops_planted"
    V, E, COMMUNITIES = 1000, 4000, 4

    def stage(self, seed, work):
        e, v = ref.planted_incidence(part_rng(seed, self.name), self.V, self.E, self.COMMUNITIES)
        path = os.path.join(work, "planted.parquet")
        write_incidence(path, e, v)
        return {"incidence": path, "columns": (e, v)}

    def reference(self, ctx):
        from hypergraph_gpu_label_propagation_spark.oracle.numpy_ref import (
            oracle_connected_components,
            oracle_hypergraph_pagerank,
            oracle_label_propagation,
        )

        e, v = ctx.staged["columns"]
        edges = ref.edge_lists(e, v)
        return {
            "rows": len(e),
            "lp": oracle_label_propagation(
                edges, np.arange(self.V) % MAX_LABELS, self.V, MAX_LABELS
            ),
            "pr": oracle_hypergraph_pagerank(edges, self.V, tol=PR_TOL),
            "cc": oracle_connected_components(edges, self.V),
        }

    def run_pass(self, ctx, r):
        from hypergraph_gpu_label_propagation_spark import (
            Hypergraph,
            connected_components,
            hypergraph_pagerank,
        )

        spark, want, V = ctx.spark, ctx.ref, self.V
        inc = spark.read.parquet(ctx.staged["incidence"])
        hg = r.call(
            "model.freeze",
            lambda: Hypergraph.freeze(spark, inc, num_vertices=V),
            lambda g: g.incidence_rows == want["rows"],
        )
        r.note("model.freeze.incidence_rows", hg.incidence_rows)
        try:
            _lp(r, hg, V, want["lp"])

            def pagerank():
                res = hypergraph_pagerank(hg, tol=PR_TOL)
                return res, res.ranks.collect()

            pr, _ = r.call(
                "operators.pagerank", pagerank,
                lambda out: np.allclose(
                    values_by_id(out[1], V, "vertex_id", "rank"), want["pr"], rtol=0, atol=1e-6
                ),
            )
            r.note("operators.pagerank.iterations", pr.iterations)

            def components():
                res = connected_components(hg)
                return res, res.components.collect()

            cc, _ = r.call(
                "operators.components", components,
                lambda out: np.array_equal(
                    values_by_id(out[1], V, "vertex_id", "component"), want["cc"]
                ),
            )
            r.note("operators.components.iterations", cc.iterations)
        finally:
            hg.unpersist()


class MotifsSkewed(Workload):
    name = "motifs_skewed"
    V, E, COMMUNITIES = 1500, 4500, 8
    HOT_EDGES, HOT_MIN, HOT_MAX = 15, 50, 100
    TRUSS_K = 45

    def stage(self, seed, work):
        rng = part_rng(seed, self.name)
        be, bv = ref.planted_incidence(rng, self.V, self.E, self.COMMUNITIES)
        he, hv = ref.uniform_incidence(
            rng, self.V, self.HOT_EDGES, self.HOT_MIN, self.HOT_MAX, first_edge=self.E
        )
        e, v = np.concatenate([be, he]), np.concatenate([bv, hv])
        path = os.path.join(work, "skewed.parquet")
        write_incidence(path, e, v)
        return {"incidence": path, "columns": (e, v)}

    def reference(self, ctx):
        e, v = ctx.staged["columns"]
        pairs = ref.clique_pairs(ref.edge_lists(e, v))
        return {
            "rows": len(e),
            "pairs": len(pairs),
            "triangles": ref.triangles_matmul(pairs, self.V),
            "coreness": ref.coreness_peel(pairs, self.V),
            "truss": ref.ktruss_peel(pairs, self.TRUSS_K),
        }

    def run_pass(self, ctx, r):
        from hypergraph_gpu_label_propagation_spark import Hypergraph, coreness, triangle_count
        from hypergraph_gpu_label_propagation_spark.operators.ktruss import k_truss
        from hypergraph_gpu_label_propagation_spark.operators.triangles import clique_expansion

        spark, want, V = ctx.spark, ctx.ref, self.V
        inc = spark.read.parquet(ctx.staged["incidence"])
        hg = r.call(
            "model.freeze",
            lambda: Hypergraph.freeze(spark, inc, num_vertices=V),
            lambda g: g.incidence_rows == want["rows"],
        )
        r.note("model.freeze.incidence_rows", hg.incidence_rows)
        try:
            def expand():
                adj = clique_expansion(hg).localCheckpoint(eager=True)
                return adj, adj.count()

            adj, n_pairs = r.call(
                "operators.triangles.clique_expansion", expand,
                lambda out: out[1] == want["pairs"],
            )
            r.note("operators.triangles.clique_expansion.pairs", n_pairs)
            r.call(
                "operators.triangles.triangle_count",
                lambda: triangle_count(hg, adj=adj, n_pairs=n_pairs).collect()[0][0],
                lambda n: n == want["triangles"],
            )

            def core():
                res = coreness(hg, adj=adj)
                return res, res.coreness.collect()

            co, _ = r.call(
                "operators.kcore.coreness", core,
                lambda out: np.array_equal(
                    values_by_id(out[1], V, "vertex_id", "coreness"), want["coreness"]
                ),
            )
            r.note("operators.kcore.coreness.rounds", co.iterations)

            def truss():
                res = k_truss(hg, self.TRUSS_K, adj=adj)
                return res, res.membership.collect()

            def truss_ok(out) -> bool:
                rows = out[1]
                got = {(row["u"], row["v"]) for row in rows if row["in_truss"] == 1}
                return len(rows) == want["pairs"] and got == want["truss"]

            kt, _ = r.call("operators.ktruss.k_truss", truss, truss_ok)
            r.note("operators.ktruss.k_truss.rounds", kt.iterations)
        finally:
            hg.unpersist()


class RepoIngestStream(Workload):
    name = "repo_ingest_stream"
    REPOS, FILES, COMMITS, MONO = 40, 20, 4, 10
    SLICES = 2
    TABLE = "bench_repo"

    def stage(self, seed, work):
        import pyarrow.parquet as pq

        table = ref.source_files_table(
            part_rng(seed, self.name), self.REPOS, self.FILES, self.COMMITS, self.MONO
        )
        path = os.path.join(work, "source_files.parquet")
        pq.write_table(table, path)
        return {"source_files": path, "table": table}

    def reference(self, ctx):
        """Derive the incidence independently (pandas dense ranks in key
        order), then split it by edge into the seed's slices."""
        from hypergraph_gpu_label_propagation_spark.oracle.numpy_ref import (
            oracle_label_propagation,
        )

        sf = ctx.staged["table"].select(["repo", "path", "commit"]).to_pandas()
        files = sorted(set(zip(sf["repo"], sf["path"])))
        vid = {k: i for i, k in enumerate(files)}
        repos = sorted(set(sf["repo"]))
        rid = {k: i for i, k in enumerate(repos)}
        commits = sorted(set(zip(sf["repo"], sf["commit"])))
        cid = {k: len(repos) + i for i, k in enumerate(commits)}
        inc = set()
        for repo, path, commit in zip(sf["repo"], sf["path"], sf["commit"]):
            v = vid[(repo, path)]
            inc.add((rid[repo], v))
            inc.add((cid[(repo, commit)], v))
        e, v = (np.array(c, dtype=np.int64) for c in zip(*sorted(inc)))
        n = len(files)

        rng = part_rng(ctx.seed, "slices")
        edge_slice = rng.integers(0, self.SLICES, size=int(e.max()) + 1)
        slices = []
        for i in range(self.SLICES):
            keep = edge_slice[e] == i
            d = os.path.join(ctx.work, f"slice{i}")
            os.makedirs(d, exist_ok=True)
            p = os.path.join(d, f"slice{i}.parquet")
            write_incidence(p, e[keep], v[keep])
            slices.append(p)
        full = os.path.join(ctx.work, "full_incidence.parquet")
        write_incidence(full, e, v)
        edges = ref.edge_lists(e, v)
        return {
            "incidence": set(zip(e.tolist(), v.tolist())),
            "num_vertices": n,
            "num_edges": len(edges),
            "lp": oracle_label_propagation(edges, np.arange(n) % MAX_LABELS, n, MAX_LABELS),
            "slices": slices,
            "full": full,
        }

    def run_pass(self, ctx, r):
        from hypergraph_gpu_label_propagation_spark import Hypergraph
        from hypergraph_gpu_label_propagation_spark.sources.bucketed import (
            freeze_from_bucketed,
            write_bucketed,
        )
        from hypergraph_gpu_label_propagation_spark.sources.source_files import (
            derive_hypergraph_frames,
        )
        from hypergraph_gpu_label_propagation_spark.streaming.lp_stream import (
            fixed_point_violations,
            run_incremental_lp,
        )

        spark, want = ctx.spark, ctx.ref
        sf = spark.read.parquet(ctx.staged["source_files"])
        # sha256 verification on: derive raises on any content mismatch
        inc, _, _ = r.call(
            "sources.source_files",
            lambda: derive_hypergraph_frames(sf, verify_sha256=True),
            lambda out: out[1].count() == want["num_vertices"],
        )

        def written_ok(tables) -> bool:
            got = spark.table(tables[1]).collect()
            return {(row["edge_id"], row["vertex_id"]) for row in got} == want["incidence"]

        r.call(
            "sources.bucketed.write_bucketed",
            lambda: write_bucketed(inc, self.TABLE),
            written_ok,
        )
        r.call(
            "sources.bucketed.freeze_from_bucketed",
            lambda: freeze_from_bucketed(spark, self.TABLE),
            lambda g: (g.num_vertices, g.num_edges) == (want["num_vertices"], want["num_edges"]),
        )

        # a fresh stream and state per pass, so every pass does the same work
        stream = os.path.join(ctx.work, "stream")
        state = os.path.join(ctx.work, "state")
        for d in (stream, state):
            shutil.rmtree(d, ignore_errors=True)
        os.makedirs(stream)
        res = None
        for src in want["slices"]:
            # availableNow turns every pending file into ONE micro-batch, so
            # append one slice, then make one call
            shutil.copy(src, stream)
            res = r.call(
                "streaming.lp_stream.run_incremental_lp",
                lambda: run_incremental_lp(spark, stream, state),
                lambda out: out.num_batches == 1,
            )
            r.note(
                "streaming.lp_stream.run_incremental_lp.supersteps_per_batch",
                res.supersteps_per_batch[0],
            )

        def fixed_point(_) -> bool:
            full = Hypergraph.freeze(spark, spark.read.parquet(want["full"]))
            try:
                return fixed_point_violations(full, res.labels, MAX_LABELS) == 0
            finally:
                full.unpersist()

        # after the last slice the labels must be a fixed point of LP on
        # the whole graph
        r.certify("streaming.lp_stream.run_incremental_lp", fixed_point)


class DocsPipeline(Workload):
    name = "docs_pipeline"
    DOCS, VECS, EVENTS = 500, 500, 5000

    def stage(self, seed, work):
        import pyarrow.parquet as pq

        tables = ref.docs_tables(part_rng(seed, self.name), self.DOCS, self.VECS, self.EVENTS)
        d = os.path.join(work, "docs")
        os.makedirs(d, exist_ok=True)
        for name, table in tables.items():
            pq.write_table(table, os.path.join(d, f"{name}.parquet"))
        return {"dir": d}

    def reference(self, ctx):
        """Each query's DuckDB ``oracle_sql()`` twin on the staged tables,
        hashed as tools/validate_entry.py hashes them."""
        import duckdb

        import __spark_entry__ as entry
        from tools.validate_entry import value_hash

        con = duckdb.connect()
        try:
            for t in ("documents", "embeddings", "events"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{ctx.staged['dir']}/{t}.parquet'")
            oracles = entry.oracle_sql()
            out = {}
            for q in DOCS_QUERIES:
                res = con.sql(oracles[q])
                rows = res.fetchall()
                out[q] = (len(rows), value_hash(rows, [c[0] for c in res.description]))
            return out
        finally:
            con.close()

    def run_pass(self, ctx, r):
        import __spark_entry__ as entry
        from tools.validate_entry import value_hash

        queries = entry.queries()
        for q, layer in DOCS_QUERIES.items():
            def run(q=q):
                df = queries[q](ctx.spark, ctx.staged["dir"])
                return df.columns, [tuple(row) for row in df.collect()]

            def check(out, q=q) -> bool:
                cols, rows = out
                return (len(rows), value_hash(rows, cols)) == ctx.ref[q]

            r.call(layer, run, check)


class Composite(Workload):
    """Runs its parts in sequence: one set-up, one pass of all parts."""

    def __init__(self, name: str, why: str, parts: tuple[Workload, ...]):
        self.name, self.why, self.parts = name, why, parts

    def _ctx(self, ctx: Ctx, part: Workload) -> Ctx:
        return Ctx(
            ctx.spark, ctx.work, ctx.seed,
            ctx.staged.get(part.name, {}), ctx.ref.get(part.name, {}),
        )

    def stage(self, seed, work):
        return {p.name: p.stage(seed, work) for p in self.parts}

    def reference(self, ctx):
        return {p.name: p.reference(self._ctx(ctx, p)) for p in self.parts}

    def run_pass(self, ctx, r):
        for p in self.parts:
            p.run_pass(self._ctx(ctx, p), r)


# Two workloads, each two of the four parts. Every layer runs in exactly
# one workload except model.freeze, so for a change to any other layer
# one workload exercises it and the other is the no-change control.
WORKLOADS = {
    w.name: w
    for w in (
        Composite(
            "loops_ingest",
            "fixed-point loops (LP, PageRank, CC) on a planted hypergraph, then monorepo "
            "ingest: derive, bucketed write, LP, one incremental LP call per slice",
            (LoopsPlanted(), RepoIngestStream()),
        ),
        Composite(
            "motifs_docs",
            "clique expansion, triangles, coreness, k-truss on a hypergraph with hot "
            "edges, then the dedup, vector and event-stream entry queries; no LP",
            (MotifsSkewed(), DocsPipeline()),
        ),
    )
}
