"""Seeded, output-checked benchmark of the hypergraph engine.

Usage, from the repository root:

    python3 perfbench/run.py --workload loops_ingest --seed 1 --seconds 1 --trace 0

A run starts a ``local[4]`` session, stages the seed's inputs three times
(``setup_s`` takes the median), computes the reference outputs, then runs
measured passes until ``--seconds`` have elapsed, at least one. There is
no warm-up pass: the first pass of a fresh session is the measured
regime (see README.md). Every call of every pass is checked against the
reference.

The last line of stdout is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. With ``--trace 0`` the metrics
are the end-to-end ones; with ``--trace 1`` the run makes a traced pass
(its per-layer counters are the metrics), then an untraced and a traced
pass whose ratio is ``trace.overhead_ratio``. The exit code is 0 only
when every call succeeded and matched its reference; stderr carries one
line of per-call times per pass and the details of any failure.

Everything the run writes goes under ``.perfbench_work/`` in the current
directory and is removed at exit.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import layers  # noqa: E402
from perfbench.spans import TRACE_CONF, SpanRecorder, StatusReader  # noqa: E402

STAGINGS = 3  # set-up repeats of the input staging; setup_s uses the median
E2E_UNITS = {"setup_s": "s", "cpu_s": "s"}


def _isolate(work: str) -> None:
    """Point every scratch location of Spark, the JVM and Python at
    ``work``, before the Spark session starts."""
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    # SPARK_LOCAL_DIRS, when set, overrides spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = os.environ["SPARK_LOCAL_DIRS_OVERRIDE"] = os.path.join(
        work, "local"
    )
    os.environ["SPARK_WAREHOUSE_DIR"] = os.path.join(work, "warehouse")
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # the spark-submit launcher JVM
    # Python workers (pandas UDFs) import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )


def _tree_cpu_s() -> float:
    """User + system CPU seconds of this process and every live
    descendant (the Spark JVM and its Python workers). CPU time excludes
    the time the host steals from a virtual CPU, so it is less sensitive
    to other tenants of the host than wall time."""
    tick = os.sysconf("SC_CLK_TCK")
    stats = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process exited while we read
            continue
        stats[int(d)] = (int(fields[1]), int(fields[11]) + int(fields[12]))
    mine, total = {os.getpid()}, 0
    changed = True
    while changed:
        changed = False
        for pid, (ppid, _) in stats.items():
            if ppid in mine and pid not in mine:
                mine.add(pid)
                changed = True
    for pid in mine:
        if pid in stats:
            total += stats[pid][1]
    return total / tick


def _steal_s() -> float:
    """CPU seconds the host has stolen from this machine's CPUs, summed
    over CPUs (the ``steal`` column of /proc/stat)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def _stop(spark) -> None:
    """Stop the session and wait for the JVM process to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def run(workload_name: str, seed: int, seconds: float, trace: bool, work: str) -> dict:
    from perfbench.workloads import CORES, WORKLOADS, CallFailed, Ctx, Runner
    from hypergraph_gpu_label_propagation_spark.session import get_spark

    wl = WORKLOADS[workload_name]
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    java_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    extra = {"spark.driver.extraJavaOptions": java_opts}
    if trace:
        extra.update(TRACE_CONF)
    spark = get_spark(f"perfbench-{workload_name}", cores=CORES, extra_conf=extra)
    session_s = time.perf_counter() - T_START
    try:
        ctx = Ctx(spark, work, seed)
        staging = []
        for _ in range(STAGINGS):
            t = time.perf_counter()
            ctx.staged = wl.stage(seed, work)
            staging.append(time.perf_counter() - t)
        ctx.ref = wl.reference(ctx)  # benchmark cost, outside setup_s

        status = StatusReader(spark) if trace else None
        attempted = failed = 0
        errors: list[str] = []
        passes: list[dict] = []

        def one_pass(traced: bool) -> None:
            nonlocal attempted, failed
            r = Runner(SpanRecorder() if traced else None)
            t, cpu0, steal0 = time.perf_counter(), _tree_cpu_s(), _steal_s()
            try:
                if traced:
                    with r.recorder.span("run"):
                        wl.run_pass(ctx, r)
                else:
                    wl.run_pass(ctx, r)
            except CallFailed:
                pass
            pass_s, cpu_s = time.perf_counter() - t, _tree_cpu_s() - cpu0
            steal_s = _steal_s() - steal0
            print(
                f"perfbench: pass {len(passes) + 1} {pass_s:.2f} s, cpu {cpu_s:.2f} s, "
                f"stolen {steal_s:.2f} cpu-s, "
                + ", ".join(f"{layer} {dt:.2f}" for layer, dt in r.log)
                + "".join(f", {k} " + "/".join(f"{x:g}" for x in v) for k, v in r.notes.items()),
                file=sys.stderr,
            )
            r.verify()
            attempted += r.attempted
            failed += r.failed
            errors.extend(r.errors)
            if traced:
                r.recorder.attribute(*status.read())
            passes.append({
                "run_s": pass_s,
                "cpu_s": cpu_s,
                "layers": layers.pass_metrics(r.recorder, r.notes) if traced else None,
            })

        t_end = time.perf_counter() + seconds
        if trace:
            # the traced first pass gives the layers, in the regime the
            # untraced runs measure; a second untraced and traced pair of
            # passes gives the tracing overhead
            for traced in (True, False, True):
                one_pass(traced)
                if failed:
                    break
        else:
            one_pass(False)
            while not failed and time.perf_counter() < t_end:
                one_pass(False)
        for e in errors:
            print(e, file=sys.stderr)

        if trace:
            setup = {"session.get_spark.s": session_s}
            overhead = (
                passes[2]["run_s"] / passes[1]["run_s"] if len(passes) == 3 else 0.0
            )
            metrics = layers.report(passes[0]["layers"], setup, overhead)
        else:
            values = {
                "setup_s": session_s + statistics.median(staging),
                "cpu_s": statistics.median(p["cpu_s"] for p in passes),
            }
            metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in values.items()}
        return {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": metrics,
        }
    finally:
        _stop(spark)


def main(argv=None) -> int:
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        import hypergraph_gpu_label_propagation_spark  # noqa: F401
        import __spark_entry__  # noqa: F401
    except ImportError as ex:
        print(f"perfbench: the package is not importable from {ROOT}: {ex}", file=sys.stderr)
        return 2

    base = os.path.join(os.getcwd(), ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    _isolate(work)
    try:
        result = run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
