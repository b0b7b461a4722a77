#!/usr/bin/env python3
"""Layered benchmark of the gdalcubes_spark cube engine.

Run from the repository root:

    python3 perfbench/run.py --workload zonal_skewed --seed 1 --seconds 5 --trace 0

Workloads: zonal_skewed, checkpoint_uniform, cube_chain (see workloads.py and
BASELINE.md). One process, one Spark driver on local[<cpus>] with the
host's CPU count (at most 4) and a 4g driver heap.

--trace 0 (end-to-end): set-up, reported as setup_s = session start +
worker warm-up + the median of two input syntheses with parquet writes +
one untimed warm-up iteration (JIT, worker and first-stage cost); then
timed iterations of the job for --seconds seconds and at least one. Every
iteration's output, warm-up included, is checked against a numpy oracle.
Prints setup_s, wall_s (median timed iteration), cells_per_s (median over
the timed iterations of the engine-reported work over the wall) and
worker_peak_rss_mb.

--trace 1 (per layer): an untraced session runs the end-to-end path (its
wall_s is the untraced wall); a second session in the same JVM, with
Spark's event log switched on, runs one traced iteration, then
materializes successive pipeline prefixes with a noop sink.
Prints per-layer self times (differences of prefix walls: approximate
where the engine fuses operators across a prefix boundary), task-level
busy / median / max times, shuffle bytes, GC and failed tasks from the
event log, exact plan and placement counts, per-image decode cost, and the
tracing overhead (traced over untraced wall). Layers a workload does not
run report 0.

The last line of standard output is the result object; the line before it
is a report with the effective session config, host facts, every sample and
the failure list. Scratch data lives under .perfbench/ in the repository
root and is removed on exit, except traces in .perfbench/traces/.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MAX_CORES = 4
DRIVER_MEM = "4g"
SETUP_REPEATS = 2
SESSION_CONF_KEYS = ("spark.master", "spark.driver.memory", "spark.sql.shuffle.partitions",
                     "spark.sql.adaptive.enabled", "spark.sql.execution.arrow.maxRecordsPerBatch",
                     "spark.eventLog.enabled", "spark.sql.warehouse.dir")

UNITS = {"setup_s": "s", "wall_s": "s", "cells_per_s": "1/s", "worker_peak_rss_mb": "MiB"}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_environment(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside `work`, and
    let Python workers import the engine and the benchmark modules."""
    for sub in ("tmp", "local", "warehouse", "events"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    path = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(path),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    })
    os.environ["PYSPARK_SUBMIT_ARGS"] = "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    sys.path[:0] = [ROOT, HERE]


class Session:
    """One Spark session from session.get_spark, sized for the host."""

    def __init__(self, cores: int, event_dir: str | None = None):
        from pyspark import SparkContext

        from gdalcubes_spark.session import get_spark

        if SparkContext._jvm is not None:  # a later session in the same JVM
            props = SparkContext._jvm.java.lang.System
            if event_dir:
                props.setProperty("spark.eventLog.enabled", "true")
                props.setProperty("spark.eventLog.dir", "file://" + event_dir)
                props.setProperty("spark.eventLog.compress", "false")
                props.setProperty("spark.eventLog.rolling.enabled", "false")
            else:
                props.clearProperty("spark.eventLog.enabled")
        elif event_dir:
            raise ValueError("the traced session must follow an untraced one")
        self.spark = get_spark("perfbench", cores=cores, shuffle_partitions=2 * cores)
        self.spark.sparkContext.setLogLevel("ERROR")

    def conf(self) -> dict:
        c = self.spark.sparkContext.getConf()
        return {**{k: c.get(k, None) for k in SESSION_CONF_KEYS}, "SPARK_LOCAL_DIRS": os.environ["SPARK_LOCAL_DIRS"]}

    def warm_workers(self) -> None:
        """Start the Python worker daemons and import the engine in each."""
        sc = self.spark.sparkContext

        def imports(batches):
            import gdalcubes_spark.checkpoint  # noqa: F401
            import gdalcubes_spark.jpegcodec  # noqa: F401
            import gdalcubes_spark.operators.extract_geom  # noqa: F401
            import gdalcubes_spark.operators.window  # noqa: F401
            import gdalcubes_spark.sources.raster_cube  # noqa: F401
            for b in batches:
                yield b

        n = sc.defaultParallelism * 4
        self.spark.range(0, n, numPartitions=n).mapInPandas(imports, "id long").selectExpr("count(*)").collect()

    def hygiene(self) -> None:
        """Between iterations, outside timing: drop caches, collect the heap."""
        self.spark.catalog.clearCache()
        self.spark._jvm.System.gc()

    def stop(self) -> None:
        self.spark.stop()


def shutdown_jvm() -> None:
    """Stop the gateway JVM and wait for it and every process it started."""
    from pyspark import SparkContext

    import probes

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    left = [proc.pid, *probes.descendants(proc.pid)] if proc is not None else []
    try:
        gw.shutdown()
    except Exception as e:  # the JVM may already be gone
        print(f"gateway shutdown: {e!r}", file=sys.stderr)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.time() + 30
    for pid in left:
        while probes.running(pid) and time.time() < deadline:
            time.sleep(0.1)
        if probes.running(pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass


def timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


def run_iteration(sess, wl, inp, problems, group):
    """One job iteration under its own job group: (wall seconds, output or
    None, ok)."""
    sess.hygiene()
    sess.spark.sparkContext.setJobGroup(group, group)
    t0 = time.perf_counter()
    try:
        out = wl.job(sess.spark, inp)
        wall = time.perf_counter() - t0
        bad = wl.check(inp, out)
    except Exception as e:  # a failed iteration is counted, not fatal
        wall = time.perf_counter() - t0
        out, bad = None, [f"{type(e).__name__}: {e}"]
    problems.extend(bad)
    return wall, out, not bad


def set_up(sess, wl, seed, work, report, repeats):
    """Untimed set-up; returns (inputs, setup seconds)."""
    t_warm, _ = timed(sess.warm_workers)
    prep = []
    inp = None
    for k in range(repeats):
        where = os.path.join(work, f"inputs{k}")
        dt, inp = timed(lambda: wl.prepare(sess.spark, seed, where))
        prep.append(dt)
    for k in range(repeats - 1):  # keep only the last copy
        shutil.rmtree(os.path.join(work, f"inputs{k}"), ignore_errors=True)
    t_oracle, _ = timed(lambda: wl.attach_oracle(inp))
    report.update(warm_workers_s=t_warm, prepare_s=prep, oracle_s=t_oracle)
    return inp, t_warm + statistics.median(prep)


def work_done(sess, wl, out, group) -> int:
    """The work behind cells_per_s, as the engine reports it: cells and
    rows of the output, plus for the scans the image→chunk placements the
    iteration's build stage read."""
    import probes

    n = wl.work(out)
    if wl.source_layer == "raster_cube":
        n += probes.scan_placements(sess.spark, group)
    return n


def end_to_end(wl, seed, seconds, work, cores, setup_repeats=SETUP_REPEATS):
    """Set-up including one warm-up iteration, then timed iterations for
    `seconds` and at least one. Returns (report, attempted, failed, metrics,
    inputs); the session is stopped, the JVM kept."""
    import probes

    report = dict(workload=wl.name, seed=seed, trace=0)
    problems = []
    t_sess, sess = timed(lambda: Session(cores))
    report["session_conf"] = sess.conf()
    inp, t_setup = set_up(sess, wl, seed, work, report, setup_repeats)
    warm_wall, _, warm_ok = run_iteration(sess, wl, inp, problems, "warm")
    report.update(session_start_s=t_sess, warmup_iteration_s=warm_wall)
    setup_s = t_sess + t_setup + warm_wall
    walls, works, failed = [], [], 0
    t_start = time.time()
    while not walls or time.time() - t_start < seconds:
        group = f"timed{len(walls)}"
        wall, out, ok = run_iteration(sess, wl, inp, problems, group)
        walls.append(wall)
        failed += not ok
        if ok:
            works.append((work_done(sess, wl, out, group), wall))
    rss = probes.worker_peak_rss_mb()
    sess.stop()
    wall_s = statistics.median(walls)
    cells_per_s = statistics.median(n / w for n, w in works) if works else 0.0
    metrics = dict(setup_s=setup_s, wall_s=wall_s, cells_per_s=cells_per_s, worker_peak_rss_mb=rss)
    attempted, failed = 1 + len(walls), failed + (not warm_ok)
    report.update(wall_samples_s=walls, wall_s_median=wall_s, wall_s_max=max(walls), n=len(walls),
                  failed_share=failed / attempted, work_counts=[n for n, _ in works], problems=problems[:20])
    return report, attempted, failed, metrics, inp


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "gdalcubes_spark")):
        print(f"perfbench: no gdalcubes_spark package next to {HERE}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench", f"run-{args.workload}-{args.seed}-{os.getpid()}")
    prepare_environment(work)
    import probes
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; have {sorted(workloads.WORKLOADS)}",
              file=sys.stderr)
        return 2
    wl = workloads.WORKLOADS[args.workload]
    cores = min(MAX_CORES, len(os.sched_getaffinity(0)))
    try:
        if args.trace:
            import layers

            report, attempted, failed, metrics = layers.traced(args, wl, work, cores)
        else:
            report, attempted, failed, metrics, _ = end_to_end(wl, args.seed, args.seconds, work, cores)
    finally:
        shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)
    report["host"] = probes.host_facts()
    units = UNITS if not args.trace else layers.UNITS
    result = dict(correct=failed == 0, attempted=attempted, failed=failed,
                  metrics={k: {"value": v, "unit": units[k]} for k, v in metrics.items()})
    print(json.dumps(report, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
