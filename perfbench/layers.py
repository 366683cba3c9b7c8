"""Per-layer metrics of the traced run.

Each layer is one span name: the package module (and function, where a
module has several public calls) that a benchmark call enters. Every
layer reports the same counters; a few loops add their own. A layer that
a workload does not call reports zeros.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from perfbench.spans import COUNTERS, SpanRecorder

# spans opened around the public calls, plus the pass root ``run``
LAYERS = (
    "run",
    "sources.source_files",
    "sources.bucketed.write_bucketed",
    "sources.bucketed.freeze_from_bucketed",
    "model.freeze",
    "operators.label_propagation",
    "operators.pagerank",
    "operators.components",
    "operators.triangles.clique_expansion",
    "operators.triangles.triangle_count",
    "operators.kcore.coreness",
    "operators.ktruss.k_truss",
    "streaming.lp_stream.run_incremental_lp",
    "operators.dedup",
    "operators.similarity",
    "streaming.events",
)

UNITS = {"s": "s", "driver_s": "s", "jobs": "count", "task_s": "s",
         "shuffle_write_bytes": "bytes", "spill_bytes": "bytes"}

# metrics beyond the per-span counters, with their units
EXTRAS = {
    "run.self_s": "s",
    "session.get_spark.s": "s",
    "operators.label_propagation.supersteps": "count",
    "operators.label_propagation.superstep_s": "s",
    "operators.label_propagation.shuffle_read_bytes": "bytes",
    "operators.pagerank.iterations": "count",
    "operators.pagerank.jobs_per_iteration": "count",
    "operators.components.iterations": "count",
    "operators.kcore.coreness.rounds": "count",
    "operators.kcore.coreness.s_per_round": "s",
    "operators.ktruss.k_truss.rounds": "count",
    "operators.ktruss.k_truss.shuffle_read_bytes": "bytes",
    "operators.triangles.clique_expansion.pairs": "count",
    "streaming.lp_stream.run_incremental_lp.supersteps_per_batch": "count",
    "model.freeze.incidence_rows": "count",
    "trace.overhead_ratio": "ratio",
}


def metric_units() -> dict[str, str]:
    """Every per-layer metric name -> unit, in report order."""
    out = {}
    for layer in LAYERS:
        out[f"{layer}.s"] = "s"
        for c in COUNTERS:
            out[f"{layer}.{c}"] = UNITS[c]
    out.update(EXTRAS)
    return out


def pass_metrics(rec: SpanRecorder, notes: dict[str, list[float]]) -> dict[str, float]:
    """Metrics of one traced pass whose spans carry their counters."""
    spans = defaultdict(list)
    for sp in rec.walk():
        spans[sp.name].append(sp)

    def total(layer: str, counter: str) -> float:
        return sum(sp.counters.get(counter, 0.0) for sp in spans[layer])

    def note(name: str, agg=sum) -> float:
        vals = notes.get(name)
        return float(agg(vals)) if vals else 0.0

    def per(a: float, b: float) -> float:
        return a / b if b else 0.0

    out: dict[str, float] = {}
    for layer in LAYERS:
        out[f"{layer}.s"] = sum(sp.s for sp in spans[layer])
        for c in COUNTERS:
            out[f"{layer}.{c}"] = total(layer, c)
    out["run.self_s"] = sum(sp.self_s for sp in spans["run"])
    lp, pr, core, truss = (
        "operators.label_propagation", "operators.pagerank",
        "operators.kcore.coreness", "operators.ktruss.k_truss",
    )
    # counts are totals over the pass; the superstep time is the median
    # superstep, and the incremental supersteps the mean per batch
    for name in (
        f"{lp}.supersteps", f"{pr}.iterations", "operators.components.iterations",
        f"{core}.rounds", f"{truss}.rounds", "operators.triangles.clique_expansion.pairs",
        "model.freeze.incidence_rows",
    ):
        out[name] = note(name)
    out[f"{lp}.superstep_s"] = note(f"{lp}.superstep_s", statistics.median)
    batches = "streaming.lp_stream.run_incremental_lp.supersteps_per_batch"
    out[batches] = note(batches, statistics.mean)
    out[f"{lp}.shuffle_read_bytes"] = total(lp, "shuffle_read_bytes")
    out[f"{pr}.jobs_per_iteration"] = per(out[f"{pr}.jobs"], out[f"{pr}.iterations"])
    out[f"{core}.s_per_round"] = per(out[f"{core}.s"], out[f"{core}.rounds"])
    out[f"{truss}.shuffle_read_bytes"] = total(truss, "shuffle_read_bytes")
    return out


def report(layers: dict[str, float] | None, setup: dict[str, float], overhead: float) -> dict:
    """Per-layer metrics of a traced run: one traced pass's ``layers``
    (see :func:`pass_metrics`), the set-up spans, and the tracing
    overhead ratio."""
    values = dict(layers or {})
    values.update(setup)
    values["trace.overhead_ratio"] = overhead
    return {
        name: {"value": float(values.get(name, 0.0)), "unit": unit}
        for name, unit in metric_units().items()
    }
