"""Measurement helpers: spans, Spark event-log task metrics, plan node
counts, PySpark worker memory from /proc, and host facts.

Spans are recorded around calls into the engine from the benchmark's own
files (the engine itself carries no tracing). Task-level numbers come from
Spark's event log, which only the traced run switches on.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager

# physical-plan operators that run Python code in a worker
PYTHON_NODES = ("FlatMapGroupsInPandas", "MapInPandas", "ArrowEvalPython", "BatchEvalPython",
                "FlatMapCoGroupsInPandas", "AggregateInPandas", "WindowInPandas", "MapInArrow",
                "PythonMapInArrow", "FlatMapGroupsInArrow")


class Spans:
    """In-memory span log: (workload, layer, start, end, parent, rows)."""

    def __init__(self, workload: str):
        self.workload = workload
        self.items = []
        self._stack = []

    @contextmanager
    def span(self, layer: str):
        rec = dict(workload=self.workload, layer=layer, parent=self._stack[-1]["layer"] if self._stack else None,
                   start=time.time(), end=None, rows=None)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self.items.append(rec)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.items, f, indent=1)


# ------------------------------------------------------------------ host / proc


def host_facts() -> dict:
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return dict(cpus=len(os.sched_getaffinity(0)), mem_gb=round(mem_kb / 2**20, 2))


def _proc_table():
    """pid -> (ppid, cmdline) for every visible process."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
            with open(f"/proc/{d}/cmdline", "rb") as f:
                cmd = f.read().replace(b"\0", b" ").decode(errors="replace")
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        out[int(d)] = (ppid, cmd)
    return out


def descendants(root: int):
    table = _proc_table()
    kids = {}
    for pid, (ppid, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return {p: table[p][1] for p in out if p in table}


def running(pid: int) -> bool:
    """True while pid exists and has not exited (a zombie has exited)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


def worker_peak_rss_mb() -> float:
    """Largest VmHWM over this process's PySpark Python workers (and their
    daemon), in MiB."""
    peak = 0
    for pid, cmd in descendants(os.getpid()).items():
        if "pyspark.daemon" not in cmd and "pyspark.worker" not in cmd:
            continue
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        peak = max(peak, int(line.split()[1]))
        except OSError:
            continue
    return peak / 1024.0


# ------------------------------------------------------------------ plans


def plan_counts(dfs) -> dict:
    """Python-UDF nodes and shuffle exchanges in the executed plans of the
    DataFrames a job materialized. After the action a plan is the final
    adaptive plan; the initial-plan copies that adaptive plans print below
    it are skipped."""
    udf = exch = 0
    skip_below = None
    lines = [ln for df in dfs for ln in df._jdf.queryExecution().executedPlan().toString().splitlines()]
    for line in lines:
        indent = len(line) - len(line.lstrip(" :"))
        if skip_below is not None:
            if indent > skip_below:
                continue
            skip_below = None
        if "== Initial Plan ==" in line:
            skip_below = indent
            continue
        node = line.lstrip(" :+-*()0123456789").split(" ")[0]
        udf += node in PYTHON_NODES
        exch += node == "Exchange"
    return {"plan.python_udf_nodes": udf, "plan.exchanges": exch}


# ------------------------------------------------------------------ status store


def _scala_iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def shuffle_read_records(spark, group: str):
    """Shuffle records read by each completed stage of one job group's jobs,
    in stage order, from the SparkContext's live status store (kept whether
    or not the event log is on)."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    ids = set()
    for job in _scala_iter(store.jobsList(None)):
        g = job.jobGroup()
        if g.isDefined() and g.get() == group:
            ids.update(_scala_iter(job.stageIds()))
    stages = store.stageList(None, False, False, sc._gateway.new_array(sc._jvm.double, 0),
                             sc._jvm.java.util.ArrayList())
    return [sd.shuffleReadRecords() for sd in sorted(_scala_iter(stages), key=lambda sd: sd.stageId())
            if sd.stageId() in ids and sd.status().toString() == "COMPLETE"]


def scan_placements(spark, group: str) -> int:
    """Image→chunk placements a scan joined: the records read by the first
    stage of the group that reads a shuffle (the per-chunk build)."""
    return next((n for n in shuffle_read_records(spark, group) if n > 0), 0)


# ------------------------------------------------------------------ event log


def read_event_log(log_dir: str):
    """Parse the single application log under log_dir into per-job stage
    lists and per-stage task records."""
    files = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    jobs, stages, tasks = {}, {}, {}
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = dict(group=props.get("spark.jobGroup.id"), stages=ev["Stage IDs"])
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                acc = {}
                for a in info.get("Accumulables", []):
                    if str(a.get("Value", "")).lstrip("-").isdigit():
                        acc.setdefault(a["Name"], []).append(int(a["Value"]))
                stages[info["Stage ID"]] = dict(acc=acc)
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                tasks.setdefault(ev["Stage ID"], []).append(dict(
                    ok=(ev.get("Task End Reason") or {}).get("Reason") == "Success",
                    run_ms=m.get("Executor Run Time", 0),
                    gc_ms=m.get("JVM GC Time", 0),
                    shuffle_write_bytes=sw.get("Shuffle Bytes Written", 0),
                    shuffle_read_records=sr.get("Total Records Read", 0),
                ))
    return EventLog(jobs, stages, tasks)


class EventLog:
    def __init__(self, jobs, stages, tasks):
        self.jobs, self.stages, self.tasks = jobs, stages, tasks

    def stage_ids(self, group: str):
        """Stages that ran (completed) for the jobs of one job group."""
        ids = sorted({s for j in self.jobs.values() if j["group"] == group for s in j["stages"]})
        return [s for s in ids if s in self.stages]

    def group_tasks(self, group: str):
        return [t for s in self.stage_ids(group) for t in self.tasks.get(s, [])]

    def total(self, group: str, key: str) -> int:
        return sum(t[key] for t in self.group_tasks(group))

    def failed_tasks(self) -> int:
        return sum(not t["ok"] for ts in self.tasks.values() for t in ts)

    def build_stage(self, group: str):
        """The stage of a scan prefix that reads the placement shuffle and
        runs the per-chunk build (the stage with shuffle reads)."""
        cands = [s for s in self.stage_ids(group)
                 if sum(t["shuffle_read_records"] for t in self.tasks.get(s, [])) > 0]
        return cands[0] if cands else None

    def output_rows(self, stage: int) -> int:
        """Rows out of a stage's single row-producing SQL operator (the
        build UDF in a scan prefix); -1 when that is ambiguous."""
        vals = self.stages[stage]["acc"].get("number of output rows", [])
        return vals[0] if len(vals) == 1 else -1

    def task_times(self, stage: int):
        return [t["run_ms"] / 1000.0 for t in self.tasks.get(stage, []) if t["ok"]]
