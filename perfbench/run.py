#!/usr/bin/env python3
"""CDC benchmark: one workload, one seed, one JSON result line.

Usage (from the repository root)::

    python3 perfbench/run.py --workload ingest_narrow --seed 1 --seconds 10 --trace 0

Set-up starts one ``local[4]`` Spark session, generates the workload's
inputs from ``--seed`` (gen.py), builds what the workload needs and runs it
once untimed as a warm-up. The timed window then repeats the workload until
``--seconds`` have passed (at least three times) and reports medians; every
repetition's outputs are checked against the DuckDB reference
(reference.py), and ``pass_rate`` is the share of checks that passed.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` pairs an
untraced repetition (wall-clock throughput, the program's own phase
timings, GC, spill, CPU share and peak memory) with a layer-by-layer replay
under spans (workloads.py) and prints the per-layer metrics; the spans are
written to ``.perfbench/spans/<workload>-<seed>.json``.

The last line of standard output is
``{"correct", "attempted", "failed", "metrics"}``. Everything the run
writes stays under ``.perfbench/`` in the current directory; the command
exits non-zero without a result line when the program is not importable.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("ingest_narrow", "ingest_wide", "daily_cycle")
MIN_REPS = 3


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - _T0:7.2f}s] {msg}",
          file=sys.stderr, flush=True)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--driver-mem", default="3g",
                    help="driver JVM heap (SPARK_DRIVER_MEM); local mode runs "
                    "every task in this one JVM")
    ap.add_argument("--scale", type=float, default=1.0,
                    help="multiply the workload's document count (tests)")
    ap.add_argument("--work-dir", default=os.path.join(os.getcwd(), ".perfbench"))
    return ap.parse_args(argv)


def start_spark(work: str, driver_mem: str):
    os.environ["SPARK_DRIVER_MEM"] = driver_mem
    from binlog_processer_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spark = get_spark(
        "perfbench",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            # keep the JVM's temp files and perf counters out of /tmp; keep
            # the JIT compiler threads alive for the whole run, so that
            # their CPU time stays attributable (probes.tree_cpu_s)
            "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:+PerfDisableSharedMem "
            "-XX:-UseDynamicNumberOfCompilerThreads",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait until every process
    this run started (the JVM and its Python workers) has ended."""
    from pyspark import SparkContext

    import probes

    started = probes.descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)
    deadline = time.time() + 30
    while time.time() < deadline and any(map(probes.alive, started)):
        time.sleep(0.1)
    for pid in filter(probes.alive, started):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass  # ended on its own meanwhile


def run_rep(wl, checks, fn, check_fn) -> dict:
    """One repetition; a raising program call is a failed check and its
    time up to the failure still counts."""
    import probes

    watch = probes.Stopwatch()
    try:
        state = fn()
    except Exception as e:
        traceback.print_exc(file=sys.stderr)
        checks.fail(f"{fn.__name__} raised", e)
        wall, cpu, jit = watch.read()
        return {"cycle_s": wall, "ingest_s": wall, "cycle_cpu_s": cpu,
                "ingest_cpu_s": cpu, "cycle_jit_s": jit,
                "events": sum(wl.events_per_day), "dirs": []}
    try:
        check_fn(checks, state)
    except Exception as e:
        traceback.print_exc(file=sys.stderr)
        checks.fail("check raised", e)
    return state


# CPU seconds of the whole process tree (driver JVM, Python workers, this
# process), not wall seconds: on a shared 4-vCPU host, CPU steal moved wall
# times by up to 40% between runs and CPU seconds far less. The wall-clock
# forms are per-layer metrics. The JVM's JIT compiler threads are left out:
# they compile Spark's freshly generated code on every repetition, their
# share fell from 9.3 s to 2.6 s over ten repetitions of ingest_narrow while
# the rest stayed within 7%, so it set most of the spread between runs. It
# is the per-layer metric jvm.jit_cpu_s.
END_TO_END = {
    "setup_s": "s", "events_per_cpu_s": "1/s", "cycle_cpu_s": "s",
    "pass_rate": "ratio",
}
# per-layer metric → unit, in pipeline order
PER_LAYER = {
    "events_per_s": "1/s", "cycle_s": "s",
    "parse.s": "s", "parse.cpu_s": "s", "parse.rows_in": "count",
    "parse.rows_quarantined": "count", "parse.batch_us_p50": "us",
    "parse.batch_us_p99": "us", "parse.useful_frac": "ratio",
    "resume.files_skipped": "count", "pipeline.quarantine_s": "s",
    "enrich.s": "s", "enrich.rows_dropped": "count",
    "route.s": "s", "route.rows_out": "count", "route.rows_ignored": "count",
    "route.rows_soft_deleted": "count", "route.shuffle_write_mb": "MB",
    "route.task_skew": "ratio",
    "table.write_s": "s", "table.files_written": "count",
    "table.bytes_written_mb": "MB", "table.read_s": "s",
    "aggregate.rollup_s": "s", "aggregate.base_rows": "count",
    "aggregate.publish_s": "s", "catalog.commit_s": "s",
    "verify.replay_s": "s", "verify.s": "s", "verify.findings": "count",
    "repair.s": "s", "repair.rows_written": "count",
    "repair.files_rewritten": "count",
    "pipeline.route_write_s": "s", "pipeline.rollup_s": "s",
    "pipeline.publish_s": "s",
    "spark.gc_s": "s", "spark.spill_mb": "MB", "spark.busy_frac": "ratio",
    "jvm.jit_cpu_s": "s",
    "peak_rss_mb": "MB", "trace.overhead_s": "s",
}
# span whose duration is the metric; 0 on a workload that skips the layer
SPAN_SECONDS = {
    "parse.s": "parse", "enrich.s": "enrich", "route.s": "route",
    "table.write_s": "table.write", "table.read_s": "table.read",
    "aggregate.rollup_s": "aggregate.rollup",
    "aggregate.publish_s": "aggregate.publish",
    "catalog.commit_s": "catalog.commit",
    "verify.replay_s": "verify.replay", "verify.s": "verify",
    "repair.s": "repair",
}


def end_to_end(reps: list[dict], setup_s: float, checks) -> dict:
    med = statistics.median
    return {
        "setup_s": setup_s,
        "events_per_cpu_s": med(r["events"] / r["ingest_cpu_s"] for r in reps),
        "cycle_cpu_s": med(r["cycle_cpu_s"] for r in reps),
        "pass_rate": 1.0 - checks.error_rate,
    }


def layer_row(rep: dict, program: dict, traced: dict, tr) -> dict:
    """Per-layer metrics of one (untraced repetition, traced replay) pair.
    ``program`` holds the untraced repetition's Spark stage delta, GC time
    and peak memory."""
    phases = rep["pipeline"]["phase_sec"]
    io = program["io"]
    m = {k: (tr.seconds(s) if any(r["name"] == s for r in tr.spans) else 0.0)
         for k, s in SPAN_SECONDS.items()}
    m.update(
        {
            "events_per_s": rep["events"] / rep["ingest_s"],
            "cycle_s": rep["cycle_s"],
            "parse.cpu_s": tr.get("parse")["stage"]["cpu_ms"] / 1e3,
            # the program's wall outside its own phases: parse-observation
            # fallback, quarantine re-parse, catalog commit, run report
            "pipeline.quarantine_s": rep["pipeline"]["wall_sec"]
            - sum(phases.values()),
            "pipeline.route_write_s": phases.get("route_write", 0.0),
            "pipeline.rollup_s": phases.get("rollup", 0.0),
            "pipeline.publish_s": phases.get("publish", 0.0),
            "spark.gc_s": program["gc_s"],
            "spark.spill_mb": io["disk_spill_b"] / 1e6,
            "spark.busy_frac": io["cpu_ms"] / max(1, io["task_ms"]),
            "jvm.jit_cpu_s": rep["cycle_jit_s"],
            "peak_rss_mb": program["peak_rss_mb"],
            "trace.overhead_s": tr.seconds("workload") - rep["cycle_s"],
        }
    )
    counts = traced["counts"]
    for k in PER_LAYER:
        if k not in m:
            m[k] = counts.get(k, 0)
    return m


def measure_end_to_end(wl, checks, seconds: float, setup_s: float) -> dict:
    import probes

    reps = []
    t_window = time.perf_counter()
    while len(reps) < MIN_REPS or time.perf_counter() - t_window < seconds:
        host0 = probes.host_cpu()
        rep = run_rep(wl, checks, wl.rep, wl.check)
        log(f"rep {len(reps)}: cycle_s={rep['cycle_s']:.2f} "
            f"cycle_cpu_s={rep['cycle_cpu_s']:.2f} "
            f"jit_cpu_s={rep['cycle_jit_s']:.2f} host_steal="
            f"{probes.steal_frac(host0, probes.host_cpu()):.3f}")
        wl.cleanup(rep)
        reps.append(rep)
    values = end_to_end(reps, setup_s, checks)
    return {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}


def measure_layers(wl, checks, seconds: float, spans_path: str) -> dict:
    """Pairs of (untraced repetition, traced replay) until ``seconds``
    have passed, at least one; the medians of the pairs' metrics."""
    import probes
    from binlog_processer_spark.plans import iostat

    spark = wl.spark
    rows, tracers = [], []
    with probes.RssSampler() as rss:
        t_window = time.perf_counter()
        while not tracers or time.perf_counter() - t_window < seconds:
            io0, gc0 = iostat.stage_totals(spark), probes.jvm_gc_s(spark)
            rss.reset()
            rep = run_rep(wl, checks, wl.rep, wl.check)
            program = {
                "io": iostat.delta(io0, iostat.stage_totals(spark)),
                "gc_s": probes.jvm_gc_s(spark) - gc0,
                "peak_rss_mb": rss.peak_mb(),
            }
            tr = probes.Tracer(spark, f"{wl.name}-{wl.seed}-{len(tracers)}")
            tracers.append(tr)
            traced = run_rep(wl, checks, lambda: wl.traced(tr), wl.check_traced)
            wl.cleanup(rep)
            wl.cleanup(traced)
            if "pipeline" in rep and "counts" in traced:
                rows.append(layer_row(rep, program, traced, tr))
            log(f"traced pair {len(tracers)} done")
    probes.write_spans(tracers, spans_path)
    if not rows:
        raise RuntimeError("every traced repetition failed")
    return {
        k: {"value": statistics.median(r[k] for r in rows), "unit": u}
        for k, u in PER_LAYER.items()
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    try:
        import binlog_processer_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable here: {e}",
              file=sys.stderr)
        return 2

    import workloads
    from reference import Checks

    work = os.path.join(args.work_dir, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    checks = Checks()
    spark = None
    try:
        t_setup = time.perf_counter()
        spark = start_spark(work, args.driver_mem)
        log("session started")
        wl = workloads.make(args.workload, spark, os.path.join(work, "data"),
                            args.seed, args.scale)
        wl.setup(checks)
        log("inputs generated")
        # warm-up: the whole workload once, untimed
        wl.cleanup(run_rep(wl, checks, wl.rep, wl.check))
        setup_s = time.perf_counter() - t_setup
        log(f"warm-up done, setup_s={setup_s:.2f}")
        if args.trace:
            spans = os.path.join(args.work_dir, "spans",
                                 f"{args.workload}-{args.seed}.json")
            metrics = measure_layers(wl, checks, args.seconds, spans)
        else:
            metrics = measure_end_to_end(wl, checks, args.seconds, setup_s)
        wl.close()
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    for f in checks.failures:
        print(f"FAILED {f}", file=sys.stderr)
    print(json.dumps({
        "correct": checks.failed == 0,
        "attempted": checks.attempted,
        "failed": checks.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
