"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root.  The last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}.  With
``--trace 0`` the metrics are the end-to-end metrics, measured untraced;
with ``--trace 1`` they are the per-layer metrics of a traced run.  The
line before it carries the run's details (machine, versions, seed, input
sizes, per-operation samples).  Everything the run writes stays under
``.perfbench/`` in the working directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

END_TO_END = {
    "setup_s": "s",
    "run_s": "s",
    "throughput": "1/s",
    "op_p50_s": "s",
}

PER_LAYER = {
    "session.start_s": "s",
    "ops.build_s": "s",
    "ops.build_jobs": "count",
    "spark.plan_s": "s",
    "spark.collect_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.idle_frac": "ratio",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.task_skew": "ratio",
    "spark.gc_s": "s",
    "graph.pagerank_s": "s",
    "graph.bfs_s": "s",
    "graph.cc_s": "s",
    "graph.scc_s": "s",
    "graph.build_s": "s",
    "graph.jobs_per_kernel": "count",
    "temporal.values_at_many_s": "s",
    "temporal.value_at_s": "s",
    "temporal.range_aggregate_s": "s",
    "temporal.timeline_s": "s",
    "temporal.align_s": "s",
    "temporal.write_p50_s": "s",
    "temporal.read_p50_s": "s",
    "sources.write_s": "s",
    "sources.files_written": "count",
    "sources.bytes_written_per_row": "B",
    "sources.files_read_frac": "ratio",
    "operators.exact_dedup_s": "s",
    "operators.minhash_lsh_s": "s",
    "operators.lsh_pairs": "count",
    "operators.lsh_useful_frac": "ratio",
    "ctrl.duckdb_pre_s": "s",
    "ctrl.duckdb_post_s": "s",
    "ctrl.steal_frac": "ratio",
    "trace.overhead_frac": "ratio",
}

# Data set-up (generate, write, load, cache) is repeated this many times
# per run and its median enters setup_s.
SETUP_REPEATS = 2
DRIVER_MEM = "2g"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def pin_environment(root: str, workdir: str, cpus: int) -> None:
    """Fix the machine shape and keep every file Spark, the JVM and Python
    write inside the working directory.  Must run before Spark starts."""
    tmp = os.path.join(workdir, "tmp")
    local = os.path.join(workdir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
    })
    sys.path.insert(0, root)


def measure(wl, spark, session_s: float, seconds: float, traced: bool, cpus: int) -> dict:
    from perfbench import harness

    data_s, sizes = [], None
    for rep in range(SETUP_REPEATS):
        if rep:
            wl.unload()
        t = time.perf_counter()
        sizes = wl.generate()
        wl.load(spark)
        data_s.append(time.perf_counter() - t)

    wl.compute_references(cpus)  # untimed: outside setup_s and the passes

    runner = harness.Runner(spark)
    off = harness.Tracer(spark, False)
    warm: list = []
    warm_s = reset_s = 0.0
    for _ in range(wl.warm_passes):
        t = time.perf_counter()
        warm += runner.run_pass(wl.ops(), off)
        warm_s += time.perf_counter() - t
        t = time.perf_counter()
        wl.reset()
        reset_s += time.perf_counter() - t
    setup_s = session_s + statistics.median(data_s) + warm_s + reset_s

    ctrl_pre = harness.duckdb_control(cpus)
    cpu_before = harness.cpu_times()
    tracer = harness.Tracer(spark, traced)
    passes, untraced = [], []
    deadline = time.perf_counter() + seconds
    while len(passes) < (1 if traced else wl.min_passes) or time.perf_counter() < deadline:
        # traced runs: untraced, traced, untraced.  JIT warm-up still speeds
        # up later passes; this order cancels a linear trend out of
        # trace.overhead_frac
        for pass_tracer in ([off, tracer, off] if traced else [tracer]):
            recs = runner.run_pass(wl.ops(), pass_tracer)
            wl.reset()
            (untraced if traced and pass_tracer is off else passes).append(recs)
    steal = harness.steal_frac(cpu_before, harness.cpu_times())
    ctrl_post = harness.duckdb_control(cpus)

    every = warm + [r for recs in untraced + passes for r in recs]
    pass_s = [harness.pass_seconds(recs) for recs in passes]
    op_s = [r.seconds for recs in passes for r in recs if r.seconds is not None]
    e2e = {
        "setup_s": setup_s,
        "run_s": statistics.median(pass_s),
        "throughput": wl.work_per_pass() * len(passes) / sum(pass_s),
        "op_p50_s": statistics.median(op_s),
    }
    detail = {
        "inputs": sizes,
        "work_unit": wl.work_unit,
        "loop": "closed, 1 client, no think time",
        "passes": len(passes),
        "pass_s": pass_s,
        "ops": [[r.op.name, r.seconds, r.ok] for recs in passes for r in recs],
        "op_samples": len(op_s),
        "op_p90_s": statistics.quantiles(op_s, n=10)[-1] if len(op_s) >= 100 else None,
        "fail_frac": sum(not r.ok for r in every) / len(every),
        "setup": {"session_s": session_s, "data_s": data_s, "warm_s": warm_s,
                  "reset_s": reset_s},
        "ctrl_duckdb_s": [ctrl_pre, ctrl_post],
        "steal_frac": steal,
        "peak_rss_mb": harness.vm_hwm_mb(os.getpid()) + harness.vm_hwm_mb(harness.jvm_pid(spark)),
        "end_to_end": e2e,
    }
    result = {"attempted": len(every), "failed": sum(not r.ok for r in every), "detail": detail}
    if not traced:
        result["metrics"] = e2e
        return result

    generic = harness.op_metrics(passes)
    layer = {name: 0.0 for name in PER_LAYER}  # 0: the workload bypasses that layer
    layer.update({k: v for k, v in generic.items() if k in PER_LAYER})
    layer.update(harness.spark_layer_metrics(passes, cpus))
    layer.update(wl.layer_metrics(passes, generic))
    layer.update({
        "session.start_s": session_s,
        "ctrl.duckdb_pre_s": ctrl_pre,
        "ctrl.duckdb_post_s": ctrl_post,
        "ctrl.steal_frac": steal,
        "trace.overhead_frac": statistics.mean(pass_s)
        / statistics.mean(map(harness.pass_seconds, untraced)) - 1.0,
    })
    result["metrics"] = layer
    result["spans"] = tracer.spans
    result["op_stats"] = [[r.op.name, r.stats] for recs in passes for r in recs]
    return result


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "graph_spark", "__init__.py")):
        print("perfbench: graph_spark/ not found; run from the repository root", file=sys.stderr)
        return 2
    cpus = len(os.sched_getaffinity(0))
    workdir = os.path.join(root, ".perfbench", f"{args.workload}-s{args.seed}-p{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    pin_environment(root, workdir, cpus)

    from perfbench import harness
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; have {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    from graph_spark.session import get_spark

    spark = None
    try:
        t = time.perf_counter()
        spark = get_spark("perfbench")
        session_s = time.perf_counter() - t
        spark.sparkContext.setLogLevel("ERROR")
        wl = WORKLOADS[args.workload](args.seed, workdir)
        result = measure(wl, spark, session_s, args.seconds, args.trace == 1, cpus)
    finally:
        if spark is not None:
            harness.stop_spark(spark)
        shutil.rmtree(workdir, ignore_errors=True)

    units = PER_LAYER if args.trace else END_TO_END
    detail = result["detail"]
    detail.update(workload=args.workload, seed=args.seed, seconds=args.seconds, trace=args.trace,
                  machine=harness.machine_info(cpus))
    if args.trace:
        trace_dir = os.path.join(root, ".perfbench", "traces")
        os.makedirs(trace_dir, exist_ok=True)
        with open(os.path.join(trace_dir, f"{args.workload}-s{args.seed}.json"), "w") as f:
            json.dump({"spans": result["spans"], "op_stats": result["op_stats"]}, f)
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {name: {"value": float(result["metrics"][name]), "unit": unit}
                    for name, unit in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
