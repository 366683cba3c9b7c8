"""Time the two exact k-truss paths on one graph and assert they agree.

1. **in-task** — the default ``k_truss()`` under its pair bound: every
   pair in one task, the peel in vectorized NumPy
   (``ktruss.peel_truss``).
2. **Spark loop** — ``k_truss()`` forced onto its hybrid Spark peel with
   ``spark.graft.ktruss.local.maxRows=0``.

Each timing covers the call plus collecting its membership.  The tool
asserts both give the same in-truss pairs, so the difference is purely
schedule cost.

Usage: SPARK_GRAFT_CPUS=4 SPARK_DRIVER_MEMORY=4g SPARK_GRAFT_SF_DIR=...
python tools/peel_truss.py [k]      # k defaults to 17, as in q_ktruss

Set the driver heap below the host's memory: the session default is
16 GB.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from hypergraph_gpu_label_propagation_spark.model import Hypergraph
from hypergraph_gpu_label_propagation_spark.operators.ktruss import k_truss
from hypergraph_gpu_label_propagation_spark.operators.triangles import clique_expansion
from hypergraph_gpu_label_propagation_spark.session import get_spark


def _timed_truss(hg, half, k):
    t0 = time.monotonic()
    res = k_truss(hg, k, adj=half)
    rows = res.membership.collect()
    wall = time.monotonic() - t0
    members = {(r["u"], r["v"]) for r in rows if r["in_truss"] == 1}
    return members, len(rows), res.iterations, wall


def main() -> None:
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 17
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR")
    if not sf_dir:
        sys.exit("set SPARK_GRAFT_SF_DIR to a TPC-H parquet directory (sf0.1 for the documented run)")
    spark = get_spark("peel_truss", cores=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    hg = Hypergraph.freeze(spark, entrymod._incidence(spark, sf_dir))
    half = clique_expansion(hg).localCheckpoint(eager=True)
    n_pairs = half.count()

    local, local_rows, local_rounds, local_wall = _timed_truss(hg, half, k)
    spark.conf.set("spark.graft.ktruss.local.maxRows", "0")
    try:
        loop, loop_rows, loop_rounds, loop_wall = _timed_truss(hg, half, k)
    finally:
        spark.conf.unset("spark.graft.ktruss.local.maxRows")

    assert local_rows == loop_rows == n_pairs, (local_rows, loop_rows, n_pairs)
    assert local == loop, (len(local), len(loop))

    print(
        json.dumps(
            {
                "sf_dir": sf_dir,
                "k": k,
                "pairs": n_pairs,
                "cores": spark.sparkContext.defaultParallelism,
                "in_task": {"sec": round(local_wall, 2), "rounds": local_rounds},
                "spark_loop": {"sec": round(loop_wall, 2), "rounds": loop_rounds},
                "truss_pairs": len(local),
                "exact_match": True,
            }
        )
    )


if __name__ == "__main__":
    main()
