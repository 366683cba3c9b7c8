"""Time the three exact coreness paths on one graph and assert they agree.

1. **in-task** — the default ``coreness()`` under its row bound: the
   whole adjacency in one task, the Batagelj-Zaversnik level peel in
   vectorized NumPy (``kcore.peel_coreness``).
2. **Spark-round peel** — the same level peel with every removal batch
   as one materialized Spark round (degree agg + the global min + an
   anti semi-join + checkpoint):

       k = 0
       repeat until no vertex alive:
           deg  = alive-degree of every alive vertex
           k    = max(k, min(deg))           # next level
           R    = {v : deg(v) <= k}          # cascade batch at level k
           core[R] = k; remove R from the alive adjacency

3. **sweeps** — ``coreness()`` forced onto its Spark h-index sweep
   fallback with ``spark.graft.coreness.local.maxRows=0``.

All three are exact; the tool asserts they are equal vertex for vertex,
so the comparison is purely schedule cost: the same peel batches as
array work in one task, as one fixed-cost Spark round each, and the
h-index sweeps that shrink nothing but fuse 8 sweeps per round.

Usage: SPARK_GRAFT_CPUS=4 SPARK_DRIVER_MEMORY=4g SPARK_GRAFT_SF_DIR=...
python tools/peel_coreness.py

Set the driver heap below the host's memory: the session default is
16 GB, and the sf0.1 run takes minutes of Spark rounds.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from hypergraph_gpu_label_propagation_spark.model import Hypergraph
from hypergraph_gpu_label_propagation_spark.operators.kcore import coreness
from hypergraph_gpu_label_propagation_spark.operators.triangles import clique_expansion
from hypergraph_gpu_label_propagation_spark.plans.tuning import loop_conf, loop_partitions
from hypergraph_gpu_label_propagation_spark.session import get_spark


def peel_full(spark, half, n_part):
    """Full coreness by level peel; returns (core_df, rounds, wall)."""
    adj = (
        half.unionByName(half.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .repartition(n_part, "v")
        .localCheckpoint(eager=True)
    )
    assigned = None  # (u, core)
    k = 0
    rounds = 0
    t0 = time.monotonic()
    with loop_conf(spark, n_part):
        while True:
            deg = adj.groupBy("u").agg(F.count("*").alias("_d"))
            m = deg.agg(F.min("_d")).collect()[0][0]
            if m is None:
                break
            k = max(k, int(m))
            batch = deg.filter(F.col("_d") <= k).select(
                "u", F.lit(k).cast("int").alias("core")
            )
            assigned = (
                batch
                if assigned is None
                else assigned.unionByName(batch)
            ).localCheckpoint(eager=True)
            gone = batch.select("u")
            new_adj = (
                adj.join(gone.hint("shuffle_hash"), "u", "left_anti")
                .join(
                    gone.select(F.col("u").alias("v")).hint("shuffle_hash"),
                    "v",
                    "left_anti",
                )
                .localCheckpoint(eager=True)
            )
            adj.unpersist()
            adj = new_adj
            rounds += 1
    return assigned, rounds, time.monotonic() - t0


def _timed_coreness(hg, half):
    t0 = time.monotonic()
    res = coreness(hg, adj=half)
    vals = {r["vertex_id"]: r["coreness"] for r in res.coreness.collect()}
    return vals, res.iterations, time.monotonic() - t0


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("peel_coreness", cores=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    hg = Hypergraph.freeze(spark, entrymod._incidence(spark, sf_dir))
    half = clique_expansion(hg).localCheckpoint(eager=True)
    n_pairs = half.count() * 2
    n_part = loop_partitions(n_pairs, spark.sparkContext.defaultParallelism)

    local_vals, local_rounds, local_wall = _timed_coreness(hg, half)
    spark.conf.set("spark.graft.coreness.local.maxRows", "0")
    try:
        sweep_vals, sweep_rounds, sweep_wall = _timed_coreness(hg, half)
    finally:
        spark.conf.unset("spark.graft.coreness.local.maxRows")
    peeled, peel_rounds, peel_wall = peel_full(spark, half, n_part)

    # exactness: all three paths agree vertex for vertex; isolated
    # vertices never appear in the Spark peel's adjacency (coreness 0)
    peel_vals = {r["u"]: r["core"] for r in peeled.collect()}
    mismatches = {
        v: (local_vals[v], sweep_vals.get(v), peel_vals.get(v, 0))
        for v in local_vals
        if not local_vals[v] == sweep_vals.get(v) == peel_vals.get(v, 0)
    }
    assert len(sweep_vals) == len(local_vals), (len(sweep_vals), len(local_vals))
    assert not mismatches, list(mismatches.items())[:5]

    print(
        json.dumps(
            {
                "sf_dir": sf_dir,
                "adj_pairs": n_pairs,
                "cores": spark.sparkContext.defaultParallelism,
                "in_task": {"sec": round(local_wall, 2), "rounds": local_rounds},
                "spark_peel": {"sec": round(peel_wall, 2), "rounds": peel_rounds},
                "sweeps": {"sec": round(sweep_wall, 2), "rounds": sweep_rounds},
                "levels": len(set(peel_vals.values())),
                "exact_match": True,
            }
        )
    )


if __name__ == "__main__":
    main()
