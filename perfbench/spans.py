"""Span recorder and Spark stage counters for the traced benchmark run.

A span is a named wall-clock interval around one public call of the
package. Spans are kept in memory; after a traced pass the recorder reads
Spark's status store ONCE and attributes every job and stage to the spans
whose interval contains its submission time. Attribution is by time, not
by job group: Structured Streaming runs ``foreachBatch`` jobs under its
own job group (the query's run id), so a group-based attribution would
lose the stages of ``run_incremental_lp`` and the events queries.

The status store is populated with the UI off (``spark.ui.enabled=false``);
its retention limits (``spark.ui.retainedStages``/``retainedJobs``) must
cover one traced pass, which ``TRACE_CONF`` raises for traced runs.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# per-span counters every span reports (besides its duration ``s``)
COUNTERS = ("driver_s", "jobs", "task_s", "shuffle_write_bytes", "spill_bytes")


# session settings for a traced run: keep every stage and job of a pass in
# the status store until the pass is read out
TRACE_CONF = {"spark.ui.retainedStages": "100000", "spark.ui.retainedJobs": "100000"}


@dataclass
class Span:
    name: str
    start: float  # time.time() seconds: Spark stamps jobs with the same clock
    end: float | None = None
    children: list["Span"] = field(default_factory=list)
    counters: dict[str, float] = field(default_factory=dict)

    @property
    def s(self) -> float:
        return (self.end or self.start) - self.start

    @property
    def self_s(self) -> float:
        """Duration minus the part of the interval its children cover."""
        return self.s - _covered(self.start, self.end, [(c.start, c.end) for c in self.children])


def _covered(lo: float, hi: float, intervals) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class SpanRecorder:
    """Nested spans kept in memory; ``span()`` is a context manager."""

    def __init__(self, clock=time.time):
        self._clock = clock
        self._stack: list[Span] = []
        self.roots: list[Span] = []

    @contextmanager
    def span(self, name: str):
        sp = Span(name, self._clock())
        (self._stack[-1].children if self._stack else self.roots).append(sp)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = self._clock()
            self._stack.pop()

    def walk(self):
        todo = list(self.roots)
        while todo:
            sp = todo.pop(0)
            yield sp
            todo.extend(sp.children)

    def attribute(self, stages: list[dict], jobs: list[dict]) -> None:
        """Fill every span's counters from status-store records (see
        :meth:`StatusReader.read`): a stage or job belongs to a span when
        its submission time falls inside the span's interval."""
        for sp in self.walk():
            lo, hi = sp.start * 1000.0, (sp.end or sp.start) * 1000.0
            mine = [st for st in stages if lo <= st["submissionTime"] <= hi]
            my_jobs = [j for j in jobs if lo <= j["submissionTime"] <= hi]
            job_iv = [
                (j["submissionTime"] / 1000.0, (j.get("completionTime") or hi) / 1000.0)
                for j in my_jobs
            ]
            sp.counters = {
                "driver_s": sp.s - _covered(sp.start, sp.end, job_iv),
                "jobs": float(len(my_jobs)),
                "task_s": sum(st["executorRunTime"] for st in mine) / 1000.0,
                "shuffle_read_bytes": float(sum(st["shuffleReadBytes"] for st in mine)),
                "shuffle_write_bytes": float(sum(st["shuffleWriteBytes"] for st in mine)),
                "spill_bytes": float(sum(st["diskBytesSpilled"] for st in mine)),
            }


class StatusReader:
    """Reads Spark's status store (stages and jobs) through py4j.

    One Jackson serialization per read instead of one py4j round trip per
    field keeps a read at a fraction of a second even with a thousand
    retained stages."""

    def __init__(self, spark):
        sc = spark.sparkContext
        jvm = sc._jvm
        self._sc = sc._jsc.sc()
        self._jvm = jvm
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala_module, "MODULE$"))
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)

    def read(self) -> tuple[list[dict], list[dict]]:
        """(stages, jobs) with a submission time, after the listener bus
        has delivered every pending event to the status store."""
        self._sc.listenerBus().waitUntilEmpty()
        store = self._sc.statusStore()
        stages = store.stageList(
            None, False, False, self._no_quantiles, self._jvm.java.util.ArrayList()
        )
        jobs = store.jobsList(None)
        st = json.loads(self._mapper.writeValueAsString(stages))
        jb = json.loads(self._mapper.writeValueAsString(jobs))
        return (
            [s for s in st if s.get("submissionTime") is not None],
            [j for j in jb if j.get("submissionTime") is not None],
        )
