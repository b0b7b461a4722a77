"""The traced run (--trace 1): per-layer numbers for one workload.

1. An untraced session: the end-to-end path (run.end_to_end) with one
   set-up, one warm-up and one timed iteration, whose wall is the
   untraced wall.
2. A second session in the same JVM with Spark's event log on: worker
   warm-up, one iteration (the traced wall; its final plan gives the exact
   plan counts), then every pipeline prefix materialized with a noop sink
   under its own job group. The JVM is already warm, so this session runs
   no warm-up iteration; its first iteration still starts the session's
   Python workers for each UDF type, so the traced wall includes that
   (about +7 % on zonal_skewed and +16 % on cube_chain in one test).
3. The event log gives task run times, shuffle bytes and records, GC time
   and failed tasks per job group.

A layer's self time is its prefix wall minus the wall of the prefix it
extends. Where the engine fuses an operator into the previous one (e.g. an
apply_pixel into the scan's build UDF) the split between the two is
approximate: the prefix then runs the fused plan.
"""

from __future__ import annotations

import os
import statistics
import time

import probes
import workloads

UNITS = {
    "read_inventory.self_s": "s", "read_inventory.rows": "count",
    "raster_cube.self_s": "s",
    "raster_cube.placements": "count", "raster_cube.decode_multiplicity": "ratio",
    "raster_cube.chunks_emitted_ratio": "ratio",
    "raster_cube.build_busy_s": "s", "raster_cube.build_task_p50_s": "s",
    "raster_cube.build_task_max_s": "s", "raster_cube.straggler_ratio": "ratio",
    "exchange.scan_shuffle_bytes": "bytes", "exchange.reduce_shuffle_bytes": "bytes",
    "codecs.decode_us.png": "us", "codecs.decode_us.raw": "us", "codecs.decode_us.jpeg": "us",
    "apply_pixel.self_s": "s", "reduce_time.self_s": "s",
    "zonal_stats.self_s": "s", "zonal_stats.rows": "count",
    "write_checkpoint.self_s": "s", "write_checkpoint.bytes": "bytes",
    "write_checkpoint.bytes_per_cell": "bytes/cell", "read_checkpoint.self_s": "s",
    "from_cells.self_s": "s", "fill_time.self_s": "s", "window_space.self_s": "s",
    "aggregate_time.self_s": "s", "cells.self_s": "s",
    "plan.python_udf_nodes": "count", "plan.exchanges": "count", "spark.stages": "count",
    "spark.failed_tasks": "count", "spark.gc_s": "s",
    "trace.untraced_wall_s": "s", "trace.traced_wall_s": "s", "trace.overhead_ratio": "ratio",
}
DECODE_SAMPLE = 32  # payloads per format timed in-process


def decode_us(inp) -> dict:
    """Median single-process codecs.decode time per image, by format, over
    the workload's own stored payloads."""
    import pyarrow.dataset as ds

    from gdalcubes_spark import codecs

    out = {f"codecs.decode_us.{f}": 0.0 for f in ("png", "raw", "jpeg")}
    if not isinstance(inp, workloads.ScanInputs):
        return out
    t = ds.dataset(inp.path, format="parquet", partitioning="hive").to_table(columns=["fmt", "bytes"])
    by_fmt = {}
    for fmt, payload in zip(t.column("fmt").to_pylist(), t.column("bytes").to_pylist()):
        if len(by_fmt.setdefault(fmt, [])) < DECODE_SAMPLE:
            by_fmt[fmt].append(payload)
    for fmt, payloads in by_fmt.items():
        per = []
        for b in payloads:
            codecs.decode(b, fmt)  # first call pays imports / table set-up
            t0 = time.perf_counter()
            codecs.decode(b, fmt)
            per.append((time.perf_counter() - t0) * 1e6)
        out[f"codecs.decode_us.{fmt}"] = statistics.median(per)
    return out


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
               if not f.startswith(".") and not f.startswith("_"))


def traced(args, wl, work, cores):
    import run

    # one set-up instead of two: the traced run reports no set-up time
    # and is already the longest run
    report, attempted, failed, e2e, inp = run.end_to_end(wl, args.seed, 0, work, cores, setup_repeats=1)
    report.update(trace=1, untraced_problems=report.pop("problems"))
    untraced = e2e["wall_s"]
    problems = []

    events = os.path.join(work, "events")
    sess = run.Session(cores, event_dir=events)
    report["traced_session_conf"] = sess.conf()
    sess.warm_workers()
    spans = probes.Spans(wl.name)
    with spans.span("iteration"):
        traced_wall, out, ok = run.run_iteration(sess, wl, inp, problems, "full")
    attempted, failed = attempted + 1, failed + (not ok)
    walls = {}
    stages = wl.stages(sess.spark, inp)
    with spans.span("prefixes"):
        for layer, _ in wl.prefixes:
            sess.hygiene()
            sess.spark.sparkContext.setJobGroup(f"prefix:{layer}", layer)
            with spans.span(layer) as sp:
                try:
                    df = stages[layer]() if callable(stages[layer]) else stages[layer]
                    if df is not None:
                        workloads.noop(df)
                except Exception as e:  # counted as a failed attempt; the run goes on
                    problems.append(f"prefix {layer}: {type(e).__name__}: {e}")
                    attempted, failed = attempted + 1, failed + 1
            walls[layer] = sp["end"] - sp["start"]
    plan = probes.plan_counts(out["final"]) if out else {"plan.python_udf_nodes": 0, "plan.exchanges": 0}
    rows = {"iteration": wl.work(out) if out else 0}
    if "read_inventory" in stages:
        rows["read_inventory"] = stages["read_inventory"].count()
    if out and "zonal" in out:
        rows["zonal_stats"] = len(out["zonal"])
    sess.stop()
    for sp in spans.items:  # row counts at the same boundaries as the spans
        sp["rows"] = rows.get(sp["layer"])
    log = probes.read_event_log(events)

    m = {k: 0.0 for k in UNITS}
    bases = dict(wl.prefixes)
    for layer, base in wl.prefixes:
        key = f"{layer}.self_s"
        if key in m:
            m[key] = walls[layer] - (walls[base] if base else 0.0)
    m["read_inventory.rows"] = rows.get("read_inventory", 0)
    m["zonal_stats.rows"] = rows.get("zonal_stats", 0)
    m.update(decode_us(inp))
    m.update(plan)
    full_stages = log.stage_ids("full")
    m["spark.stages"] = len(full_stages)
    m["spark.gc_s"] = log.total("full", "gc_ms") / 1000.0
    m["spark.failed_tasks"] = log.failed_tasks()
    m["trace.untraced_wall_s"] = untraced
    m["trace.traced_wall_s"] = traced_wall
    m["trace.overhead_ratio"] = traced_wall / untraced

    def shuffle_bytes(layer):
        return log.total(f"prefix:{layer}", "shuffle_write_bytes") if layer else 0

    src = wl.source_layer
    m["exchange.scan_shuffle_bytes"] = shuffle_bytes(src) - shuffle_bytes(bases[src])
    m["exchange.reduce_shuffle_bytes"] = shuffle_bytes("reduce_time") - shuffle_bytes(bases["reduce_time"])

    if isinstance(inp, workloads.ScanInputs):
        stage = log.build_stage("prefix:raster_cube")
        times = log.task_times(stage) if stage is not None else []
        placements = sum(t["shuffle_read_records"] for t in log.tasks.get(stage, []))
        emitted = log.output_rows(stage) if stage is not None else -1
        p50, mx = (statistics.median(times), max(times)) if times else (0.0, 0.0)
        m.update({
            "raster_cube.placements": placements,
            "raster_cube.decode_multiplicity": placements / workloads.N_IMAGES,
            "raster_cube.chunks_emitted_ratio": emitted / workloads.SCAN_CHUNKS,
            "raster_cube.build_busy_s": sum(times),
            "raster_cube.build_task_p50_s": p50,
            "raster_cube.build_task_max_s": mx,
            "raster_cube.straggler_ratio": mx / p50 if p50 else 0.0,
        })
        report["build_tasks"] = len(times)
    if getattr(inp, "last_ckpt", None):
        b = _dir_bytes(os.path.join(inp.last_ckpt, "chunks"))
        m["write_checkpoint.bytes"] = b
        m["write_checkpoint.bytes_per_cell"] = b / workloads.CHECKPOINT_CELLS

    trace_dir = os.path.join(run.ROOT, ".perfbench", "traces")
    os.makedirs(trace_dir, exist_ok=True)
    spans.dump(os.path.join(trace_dir, f"{wl.name}-seed{args.seed}-{os.getpid()}.json"))
    report.update(prefix_walls_s=walls, problems=problems[:20], spans=len(spans.items))
    return report, attempted, failed, m
