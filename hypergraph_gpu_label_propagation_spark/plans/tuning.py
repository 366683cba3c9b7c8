"""Runtime conf scoping for the iterative driver loops.

Measured on this host (sf0.1 hypergraph, 600k incidence rows, local[32],
2 reps): AQE's per-exchange stage-materialization barriers dominate the
superstep at small-to-medium data —

    baseline sp=32 aqe=on : median superstep 1.85 s
    aqe=off  sp=32        : 2.85 s
    aqe=on   sp=8         : 1.93 s
    aqe=off  sp=8         : 1.05 s   <- 1.8x better than default

AQE exists to re-plan unknown data; inside an LP/PageRank/CC loop the
per-superstep frames have KNOWN, stable shapes (one row per vertex/edge,
bounded-size majority partials), so adaptive re-planning buys nothing
and costs a barrier per exchange.  Skew is already absorbed before the
shuffle by the algebraic partial aggregation (operators/majority.py), so
AQE's skew-join splitting is not load-bearing here either.

``loop_conf`` scopes the tuned values to the loop and restores the
session's settings afterwards, so one-shot relational queries keep the
AQE default (where it IS load-bearing).
"""

from __future__ import annotations

import math
from contextlib import contextmanager

from pyspark.sql import SparkSession

# target incidence rows per shuffle partition inside an iterative loop:
# small enough that a task's gather state fits comfortably in memory at
# any scale, large enough that task scheduling doesn't dominate
ROWS_PER_PARTITION = 500_000


def loop_partitions(
    incidence_rows: int | None,
    cores: int,
    floor: int = 8,
) -> int:
    """Shuffle-partition count for an iterative loop over
    ``incidence_rows`` bipartite rows.

    Data-sized, not a constant: ceil(rows / 500k), floored at ``floor``
    (don't starve small graphs of parallelism entirely) and capped at
    2x cores — fewer-wider tasks.  Round-4 A/B on the 200M-row kernel
    at local[32], 64g heap, 6 timed steps each: cap 2x (64 parts)
    min/median 23.4/26.3 s vs cap 4x (128 parts) 26.3/34.0 s — beyond
    ~2 waves, extra tasks are pure scheduling overhead on a fixed-core
    stage (a 1000-executor cluster raises the cap simply by having more
    cores).
    """
    if incidence_rows is None:
        return max(floor, cores)
    return max(floor, min(2 * cores, math.ceil(incidence_rows / ROWS_PER_PARTITION)))


def conf_rows(spark: SparkSession, key: str, default: int) -> int:
    """A row bound from the session conf: ``key`` as an int, or
    ``default`` when it is unset or not an integer."""
    try:
        return int(spark.conf.get(key, str(default)))
    except ValueError:  # a non-integer setting: keep the default
        return default


@contextmanager
def loop_conf(spark: SparkSession, partitions: int, adaptive: bool = False):
    """Scope (shuffle.partitions, adaptive.enabled) to a driver loop and
    restore the session values on exit — including on error."""
    conf = spark.conf
    old_sp = conf.get("spark.sql.shuffle.partitions")
    old_aqe = conf.get("spark.sql.adaptive.enabled")
    conf.set("spark.sql.shuffle.partitions", str(partitions))
    conf.set("spark.sql.adaptive.enabled", "true" if adaptive else "false")
    try:
        yield
    finally:
        conf.set("spark.sql.shuffle.partitions", old_sp)
        conf.set("spark.sql.adaptive.enabled", old_aqe)
