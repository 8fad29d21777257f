#!/usr/bin/env python3
"""Cold-session benchmark of the engine. See perfbench/README.md.

    python3 perfbench/run.py --workload pipeline_session --seed 1 --seconds 10 --trace 0

Run from the repository root. The last line of stdout is one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones; with --trace 1 the per-layer ones, read
from spans recorded around the engine's public functions. The line
before it records the box. A fuller result, with the errors of any
failed operation, is written under .perfbench_out/.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_ROUNDS = 2
DRIVER_MEM = "2g"
PROBE_ROWS = 10_000_000


def pin_environment(work: str) -> None:
    """Everything the engine reads from the environment, set before
    pyspark starts: worker import path, cores, driver heap, and every
    scratch directory (mirror, staging, checkpoints, JVM temp) inside
    this run's own work directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cpus = str(len(os.sched_getaffinity(0)))
    path = os.environ.get("PYTHONPATH")
    os.environ.update(
        {
            "PYTHONPATH": ROOT + (os.pathsep + path if path else ""),
            "SPARK_GRAFT_CPUS": cpus,
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}",
            "PYSPARK_PYTHON": sys.executable,
        }
    )
    for var in ("SPARK_GRAFT_MIRROR", "SPARK_GRAFT_SHUFFLE_TARGET_MB", "SPARK_MASTER",
                "SPARK_GRAFT_KAFKA_BROKERS", "SPARK_GRAFT_STREAM_PARTITIONS"):
        os.environ.pop(var, None)
    sys.path[:0] = [ROOT, HERE]


def peak_rss_mb(spark) -> float:
    """Peak RSS (VmHWM) of the driver Python process plus the driver JVM."""
    def hwm(pid) -> int:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
        return 0

    jvm = spark._jvm.java.lang.ProcessHandle.current().pid()
    return (hwm("self") + hwm(jvm)) / 1024.0


def tree_cpu_s() -> float:
    """CPU seconds (user + system, with reaped children) of this process
    and every live descendant: the driver, the JVM, the Python workers.
    Time the hypervisor stole from the VM is not in it."""
    procs: dict[int, tuple[int, int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue  # exited while listing
        fields = stat[stat.rindex(")") + 2 :].split()
        procs[int(entry)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        ticks += procs.get(pid, (0, 0))[1]
        todo.extend(kids.get(pid, ()))
    return ticks / os.sysconf("SC_CLK_TCK")


def calibration_probe(spark) -> float:
    """bench.py's box meter at a smaller pinned size: range -> shuffle at
    a pinned 32 partitions -> aggregate, one run."""
    from pyspark.sql import functions as F

    key = "spark.sql.shuffle.partitions"
    saved = spark.conf.get(key)
    spark.conf.set(key, "32")
    try:
        t0 = time.perf_counter()
        spark.range(PROBE_ROWS, numPartitions=32).withColumn(
            "k", F.col("id") % 1000
        ).groupBy("k").agg(F.sum("id"), F.count("*")).write.format("noop").mode(
            "overwrite"
        ).save()
        return time.perf_counter() - t0
    finally:
        spark.conf.set(key, saved)


def shutdown(ctx) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    if ctx.spark is not None:
        ctx.spark.stop()
        ctx.spark = None
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()  # the gateway exits when its stdin closes
            proc.wait(timeout=60)
        except (OSError, subprocess.TimeoutExpired):
            proc.kill()
            proc.wait()


def sweep_dead_runs(runs_root: str) -> None:
    """Remove the work directories of runs whose process is gone."""
    for name in os.listdir(runs_root) if os.path.isdir(runs_root) else ():
        pid = name.rsplit("-", 1)[-1]
        if pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(os.path.join(runs_root, name), ignore_errors=True)


def remove_work(work: str) -> None:
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(work))
    except OSError:
        pass  # another run is still using it


def end_to_end(ctx, setup_s: list[float], wall: float, cpu: float, spark) -> dict:
    lat = [s["latency_s"] for s in ctx.samples]
    return {
        "setup_s": (statistics.median(setup_s), "s"),
        "latency_p50_s": (statistics.median(lat), "s"),
        "ops_per_s": (len(lat) / wall, "1/s"),
        "cpu_s_per_op": (cpu / max(1, len(lat)), "s"),
        "peak_rss_mb": (peak_rss_mb(spark), "MB"),
    }


def tail(values: list[float]) -> dict:
    """The highest percentile with at least ten samples beyond it."""
    s = sorted(values)
    k = len(s) - 11
    if k < 0:
        return {"n": len(s)}
    return {"n": len(s), "pct": round(100 * (k + 1) / len(s), 1), "value_s": s[k]}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    runs_root = os.path.join(ROOT, ".perfbench_work")
    sweep_dead_runs(runs_root)
    work = os.path.join(runs_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    pin_environment(work)
    try:
        import workloads

        if args.workload not in workloads.WORKLOADS:
            ap.error(f"--workload must be one of {workloads.WORKLOADS}")
        tracer = None
        if args.trace:
            import spans

            tracer = spans.Tracer()
            spans.install(tracer)  # before the query modules are imported
        import big_data_final_project_spark.registry  # noqa: F401  engine present?
    except ImportError as exc:
        print(f"perfbench: cannot import the engine: {exc}", file=sys.stderr)
        remove_work(work)
        return 2

    ctx = workloads.Ctx(args.workload, args.seed, work, tracer)
    try:
        setup_s = []
        for rnd in range(SETUP_ROUNDS):
            if rnd:
                workloads.stop_spark(ctx)
            t0 = time.perf_counter()
            phases = workloads.setup(ctx, rnd)
            phases["total_s"] = time.perf_counter() - t0
            setup_s.append(phases["total_s"])
            ctx.setup_rounds.append(phases)
        probe_start = calibration_probe(ctx.spark)
        first_span = len(tracer.spans) if tracer else 0
        overhead0 = tracer.overhead_s if tracer else 0.0
        cpu0, t0 = tree_cpu_s(), time.perf_counter()
        workloads.measure(ctx, args.seconds)
        wall = time.perf_counter() - t0
        cpu = tree_cpu_s() - cpu0
        if tracer:
            measured = range(first_span, len(tracer.spans))
            overhead = tracer.overhead_s - overhead0
        probe_end = calibration_probe(ctx.spark)
        e2e = end_to_end(ctx, setup_s, wall, cpu, ctx.spark)
        ctx.failed += workloads.check(ctx)
        layers = None
        if tracer:
            import layers as layer_metrics

            layers = layer_metrics.summarise(ctx, tracer, measured, overhead, wall)
    finally:
        shutdown(ctx)
        remove_work(work)

    attempted = max(1, len(ctx.samples) + ctx.raised)
    box = {
        "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "driver_mem": DRIVER_MEM,
        "probe_s": {"start": probe_start, "end": probe_end, "rows": PROBE_ROWS},
        "latency_tail": tail([s["latency_s"] for s in ctx.samples]),
        "wall_s": wall,
        "setup_rounds_s": setup_s,
    }
    metrics = layers if tracer else {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    result = {
        "correct": ctx.failed == 0,
        "attempted": attempted,
        "failed": ctx.failed,
        "metrics": metrics,
    }
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    with open(
        os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w"
    ) as fh:
        json.dump(
            {**result, "box": box, "errors": ctx.errors, "samples": ctx.samples,
             "setup_phases": ctx.setup_rounds},
            fh, indent=1,
        )
    for err in ctx.errors:
        print(f"perfbench: FAILED {err}", file=sys.stderr)
    print(json.dumps({"box": box}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
