"""Measurement core: operations, closed-loop passes, spans and Spark
status-store deltas.

One client runs the operations of a pass one after another with no think
time (a closed loop).  Each operation is timed as build (the call into a
graph_spark layer that returns a DataFrame, including any Spark jobs that
call starts eagerly), plan (forcing the executed plan) and collect (the
result delivered to the client as a pandas frame).  Output checks and
trace bookkeeping run between operations, outside the timed spans.
"""

from __future__ import annotations

import contextlib
import dataclasses
import os
import statistics
import sys
import time
import traceback
from typing import Any, Callable

# Parquet scan nodes report the files they opened under this SQL metric.
_FILES_READ_METRIC = "number of files read"


@dataclasses.dataclass
class Op:
    """One client operation.

    ``build(spark)`` calls into a graph_spark layer and returns the result
    DataFrame, or None for a write.  ``check(output)`` compares the output
    (a pandas frame, or None for a write) with the independent reference and
    returns True when it matches."""

    name: str
    layer: str
    build: Callable[[Any], Any]
    check: Callable[[Any], bool]
    kind: str = "compute"  # "read", "write" or "compute"
    scan_metrics: bool = False
    # called after the check; what it returns is kept on the record
    info: Callable[[], dict] | None = None


@dataclasses.dataclass
class OpRecord:
    op: Op
    seconds: float | None  # None when the operation raised
    ok: bool
    phases: dict  # phase -> seconds (build / plan / collect)
    stats: dict  # traced runs only: Spark status-store deltas
    info: dict = dataclasses.field(default_factory=dict)
    rows: int = 0  # rows in the collected output


class Tracer:
    """Spans kept in memory, plus per-operation status-store deltas.

    Disabled, every span is a no-op, so untraced runs execute exactly the
    operation calls.  Enabled, each phase runs under its own Spark job group
    so the jobs it starts can be read back from the status store right
    after the operation (the store retains only about 1000 stages, so the
    deltas are taken per operation, never per session)."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._sc = spark.sparkContext
        if enabled:
            jvm = self._sc._jvm
            self._store = self._sc._jsc.sc().statusStore()
            self._sql_store = spark._jsparkSession.sharedState().statusStore()
            self._no_quantiles = self._sc._gateway.new_array(jvm.double, 0)
            self._quantiles = self._sc._gateway.new_array(jvm.double, 2)
            self._quantiles[0], self._quantiles[1] = 0.5, 1.0
            self._jvm = jvm

    @contextlib.contextmanager
    def span(self, name: str, op_id: int | None = None, group: str | None = None):
        if not self.enabled:
            yield
            return
        if group is not None:
            self._sc.setJobGroup(group, name)
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": op_id,
            "start": time.perf_counter(),
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if group is not None:
                self._sc.setLocalProperty("spark.jobGroup.id", None)

    # ---- status-store reads (traced runs only) ----------------------

    def job_stats(self, group: str) -> dict:
        """Jobs, completed stages and their task metrics for one job group."""
        out = dict(jobs=0, stages=0, tasks=0, run_s=0.0, cpu_s=0.0, gc_s=0.0, shuffle_read_b=0,
                   shuffle_write_b=0, spill_b=0, skew=1.0)
        seen: set = set()
        for jid in self._sc.statusTracker().getJobIdsForGroup(group):
            out["jobs"] += 1
            stage_ids = self._store.job(jid).stageIds()
            for i in range(stage_ids.size()):
                sid = stage_ids.apply(i)
                if sid in seen:
                    continue
                seen.add(sid)
                attempts = self._store.stageData(
                    sid, False, self._jvm.java.util.ArrayList(), False, self._no_quantiles
                )
                for k in range(attempts.size()):
                    sd = attempts.apply(k)
                    if sd.status().toString() != "COMPLETE":
                        continue  # skipped stages reuse an earlier stage's output
                    out["stages"] += 1
                    out["tasks"] += sd.numTasks()
                    out["run_s"] += sd.executorRunTime() / 1e3
                    out["cpu_s"] += sd.executorCpuTime() / 1e9
                    out["gc_s"] += sd.jvmGcTime() / 1e3
                    out["shuffle_read_b"] += sd.shuffleReadBytes()
                    out["shuffle_write_b"] += sd.shuffleWriteBytes()
                    out["spill_b"] += sd.diskBytesSpilled()
                    if sd.numTasks() >= 2:
                        summary = self._store.taskSummary(sid, sd.attemptId(), self._quantiles)
                        if summary.isDefined():
                            rt = summary.get().executorRunTime()
                            med, top = rt.apply(0), rt.apply(1)
                            if med > 0:
                                out["skew"] = max(out["skew"], top / med)
        return out

    def last_execution_id(self) -> int:
        n = self._sql_store.executionsCount()
        if n == 0:
            return -1
        return self._sql_store.executionsList(n - 1, 1).apply(0).executionId()

    def files_read_since(self, execution_id: int) -> int:
        """Sum of the parquet scans' "number of files read" SQL metric over
        the SQL executions started after ``execution_id``."""
        total = 0
        for eid in range(execution_id + 1, self.last_execution_id() + 1):
            values = self._sql_store.executionMetrics(eid)
            nodes = self._sql_store.planGraph(eid).allNodes()
            for k in range(nodes.size()):
                node = nodes.apply(k)
                if not node.name().startswith("Scan"):
                    continue
                metrics = node.metrics()
                for m in range(metrics.size()):
                    metric = metrics.apply(m)
                    if metric.name() == _FILES_READ_METRIC:
                        v = values.get(metric.accumulatorId())
                        if v.isDefined():
                            total += int(v.get().replace(",", ""))
        return total


def run_op(spark, op: Op, tracer: Tracer, op_id: int) -> OpRecord:
    """Run one operation: build, plan, collect; then check its output.

    The check and the status-store reads happen after the timed interval."""
    phases: dict = {}
    exec_before = tracer.last_execution_id() if tracer.enabled and op.scan_metrics else None
    try:
        t_op = time.perf_counter()
        with tracer.span(f"op.{op.name}", op_id):
            t = time.perf_counter()
            with tracer.span(f"{op.layer}.{op.name}", op_id, group=f"pb{op_id}.build"):
                df = op.build(spark)
            phases["build"] = time.perf_counter() - t
            out = None
            if df is not None:
                t = time.perf_counter()
                with tracer.span("spark.plan", op_id, group=f"pb{op_id}.plan"):
                    df._jdf.queryExecution().executedPlan()
                phases["plan"] = time.perf_counter() - t
                t = time.perf_counter()
                with tracer.span("spark.collect", op_id, group=f"pb{op_id}.collect"):
                    out = df.toPandas()
                phases["collect"] = time.perf_counter() - t
        seconds = time.perf_counter() - t_op
    except Exception:  # one failed operation must not end the run
        traceback.print_exc(file=sys.stderr)
        return OpRecord(op, None, False, phases, {})
    try:
        ok = bool(op.check(out))
    except Exception:
        traceback.print_exc(file=sys.stderr)
        ok = False
    if not ok:
        print(f"perfbench: output mismatch in {op.layer}.{op.name}", file=sys.stderr)
    info = op.info() if op.info is not None else {}
    stats: dict = {}
    if tracer.enabled:
        for phase in ("build", "plan", "collect"):
            stats[phase] = tracer.job_stats(f"pb{op_id}.{phase}")
        if exec_before is not None:
            stats["files_read"] = tracer.files_read_since(exec_before)
    return OpRecord(op, seconds, ok, phases, stats, info, 0 if out is None else len(out))


class Runner:
    """Runs passes of a workload's operation sequence; operation ids are
    unique across the run, traced or not."""

    def __init__(self, spark):
        self.spark = spark
        self._next_op_id = 0

    def run_pass(self, ops: list[Op], tracer: Tracer) -> list[OpRecord]:
        recs = []
        for op in ops:
            recs.append(run_op(self.spark, op, tracer, self._next_op_id))
            self._next_op_id += 1
        return recs


def pass_seconds(recs: list[OpRecord]) -> float:
    return sum(r.seconds for r in recs if r.seconds is not None)


def spark_layer_metrics(passes: list[list[OpRecord]], cores: int) -> dict:
    """Per-pass totals of the generic per-layer metrics, median over passes."""
    per_pass = []
    for recs in passes:
        tot = dict(build_s=0.0, plan_s=0.0, collect_s=0.0, build_jobs=0, jobs=0, stages=0,
                   tasks=0, run_s=0.0, cpu_s=0.0, gc_s=0.0, shuffle_read_b=0, shuffle_write_b=0,
                   spill_b=0, skew=1.0)
        for r in recs:
            for phase in ("build", "plan", "collect"):
                tot[f"{phase}_s"] += r.phases.get(phase, 0.0)
                st = r.stats.get(phase)
                if not st:
                    continue
                if phase == "build":
                    tot["build_jobs"] += st["jobs"]
                for key in ("jobs", "stages", "tasks", "run_s", "cpu_s", "gc_s", "shuffle_read_b",
                            "shuffle_write_b", "spill_b"):
                    tot[key] += st[key]
                tot["skew"] = max(tot["skew"], st["skew"])
        wall = pass_seconds(recs)
        per_pass.append({
            "ops.build_s": tot["build_s"],
            "ops.build_jobs": tot["build_jobs"],
            "spark.plan_s": tot["plan_s"],
            "spark.collect_s": tot["collect_s"],
            "spark.jobs": tot["jobs"],
            "spark.stages": tot["stages"],
            "spark.tasks": tot["tasks"],
            "spark.executor_run_s": tot["run_s"],
            "spark.executor_cpu_s": tot["cpu_s"],
            "spark.idle_frac": 1.0 - tot["run_s"] / (wall * cores) if wall > 0 else 0.0,
            "spark.shuffle_read_mb": tot["shuffle_read_b"] / 1e6,
            "spark.shuffle_write_mb": tot["shuffle_write_b"] / 1e6,
            "spark.spill_mb": tot["spill_b"] / 1e6,
            "spark.task_skew": tot["skew"],
            "spark.gc_s": tot["gc_s"],
        })
    return median_dict(per_pass)


def op_metrics(passes: list[list[OpRecord]]) -> dict:
    """``<layer>.<op>_s`` per pass (summed over repeats within a pass), and
    per layer the build time and the Spark jobs its calls started, median
    over passes."""
    per_pass = []
    for recs in passes:
        m: dict = {}
        layer_build: dict = {}
        layer_jobs: dict = {}
        for r in recs:
            if r.seconds is None:
                continue
            key = f"{r.op.layer}.{r.op.name}_s"
            m[key] = m.get(key, 0.0) + r.seconds
            layer = r.op.layer
            layer_build[layer] = layer_build.get(layer, 0.0) + r.phases.get("build", 0.0)
            layer_jobs[layer] = layer_jobs.get(layer, 0) + sum(
                r.stats[p]["jobs"] for p in ("build", "plan", "collect") if p in r.stats
            )
        for layer in layer_build:
            m[f"{layer}.build_s"] = layer_build[layer]
            m[f"{layer}.jobs"] = layer_jobs[layer]
        per_pass.append(m)
    return median_dict(per_pass)


def median_dict(rows: list[dict]) -> dict:
    keys = {k for row in rows for k in row}
    return {k: statistics.median(row[k] for row in rows if k in row) for k in sorted(keys)}


def duckdb_control(threads: int) -> float:
    """A fixed CPU-bound DuckDB query: a contention bracket read before and
    after the measured passes, never during an operation."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(f"SET threads = {threads}")
        t = time.perf_counter()
        con.execute("SELECT sum(hash(i) % 1009) FROM range(10000000) t(i)").fetchall()
        return time.perf_counter() - t
    finally:
        con.close()


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat, in clock ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_frac(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests in between:
    a contention signal the guest cannot otherwise see."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / max(1, sum(delta))


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set size of a process, from /proc/<pid>/status."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"VmHWM missing for pid {pid}")


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait until the JVM
    and every process it started (the Python UDF workers) have exited.

    The gateway JVM exits when its stdin closes.  Its worker processes
    exit on their own once it is gone; they are waited for too, so no
    process outlives the benchmark."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spawned = _descendants(proc.pid) if proc is not None else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        proc.wait(timeout=120)
    deadline = time.monotonic() + 60
    while any(map(_running, spawned)):
        if time.monotonic() > deadline:
            raise RuntimeError(f"Spark worker processes still running: {spawned}")
        time.sleep(0.1)


def _proc_stat(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name, or None when the
    process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except (FileNotFoundError, ProcessLookupError):
        return None


def _running(pid: int) -> bool:
    fields = _proc_stat(pid)
    return fields is not None and fields[0] != "Z"


def _descendants(root: int) -> list[int]:
    """Every process below ``root`` in the process tree."""
    children: dict = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            fields = _proc_stat(int(entry))
            if fields is not None:
                children.setdefault(int(fields[1]), []).append(int(entry))
    out, stack = [], [root]
    while stack:
        for child in children.get(stack.pop(), []):
            out.append(child)
            stack.append(child)
    return out


def machine_info(cpus: int) -> dict:
    import platform

    import duckdb
    import pyspark

    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {
        "nproc": cpus,
        "mem_total_gb": round(mem_kb / 1024 / 1024, 2),
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "duckdb": duckdb.__version__,
        "driver_mem": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
    }
