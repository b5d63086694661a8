"""Benchmark command: one workload, one process, one JSON result line.

    python3 perfbench/run.py --workload {query_mix,lake_load}
                             --seed N --seconds S --trace {0,1}

Run from the repository root.  The run pins Spark to ``local[nproc]``,
works in a fresh directory under ``.perfbench_work/`` (Spark's local
dirs, warehouse and derby log land there too) and removes it at exit.

stdout carries two JSON lines.  The first describes the run: master,
``defaultParallelism``, the numpy-matmul host canary, sample counts and
any output-check failures.  The last is the result:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics, or with ``--trace 1`` the per-layer metrics of a separate
traced run.  See ``perfbench/README.md`` for what each metric means.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "step_p50_s": "s",
    "rows_per_s": "1/s",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "sources.reads": "count",
    "sources.read_s": "s",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "spark.plan_s": "s",
    "spark.exec_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.task_run_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB",
    "plans.silver_s": "s",
    "plans.gold_build_s": "s",
    "sources.gold_write_s": "s",
    "sources.written_mb": "MB",
    "plans.validate_s": "s",
    "plans.validate_jobs": "count",
    "plans.report_s": "s",
    "streaming.latest_offset_ms": "ms",
    "streaming.plan_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.commit_ms": "ms",
    "sources.merge_s": "s",
    "sources.merge_rewrite_mb": "MB",
    "streaming.state_rows": "count",
    "streaming.rows_dropped": "count",
    "trace.wall_s": "s",
    "trace.overhead_s": "s",
}
#: a warm workload keeps running ops until it has this many steps, so the
#: step median has at least ten samples beyond it
MIN_STEPS = 20
WORKLOAD_NAMES = ("query_mix", "lake_load")


def numpy_canary() -> float:
    """``bench.py``'s fixed single-process matmul: host speed, no Spark."""
    import numpy as np

    a = np.random.default_rng(42).standard_normal((1024, 1024))
    t0 = time.perf_counter()
    for _ in range(8):
        a = a @ a / 32.0
    return time.perf_counter() - t0


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Peak resident memory of the JVM plus this Python driver."""
    kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    if jvm_pid:
        with open(f"/proc/{jvm_pid}/status") as f:
            kb += next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return kb / 1024.0


def steal_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks of this VM so far, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway exits when its stdin closes
        proc.wait(timeout=60)


def measure(args, work: str, cpus: int) -> int:
    try:
        from ra2_datalake_linaresjoan_spark.session import get_spark
    except ImportError as e:
        print(f"perfbench: engine package not found next to {HERE}: {e}", file=sys.stderr)
        return 3
    from spans import SparkJobs, Tracer
    from workloads import WORKLOADS, Ctx, OpResult

    canary = numpy_canary()
    spark = get_spark(
        app_name=f"perfbench-{args.workload}",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    jvm_pid = getattr(getattr(spark.sparkContext._gateway, "proc", None), "pid", None)
    try:
        sc = spark.sparkContext
        tracer = Tracer(sc, args.workload, enabled=bool(args.trace))
        ctx = Ctx(spark, work, args.seed, tracer, SparkJobs(sc))
        wl = WORKLOADS[args.workload](ctx)
        if tracer.enabled:
            wl.instrument()
        wl.setup()
        ctx.jobs.since()  # warm-up jobs are not the first op's
        setup_s = time.perf_counter() - T0

        walls, traced_walls, steps, layers = [], [], [], []
        steal0 = steal_ticks()
        t_start = time.perf_counter()
        i = 0
        while True:
            # a warm workload alternates untraced and traced ops in a
            # traced run, so the tracing overhead is measured in-process
            tracer.active = tracer.enabled and (not wl.warm or i % 2 == 1)
            tracer.begin_op(i)
            self_s0 = tracer.self_s
            t0 = time.perf_counter()
            try:
                r = wl.op(i)
            except Exception as e:  # noqa: BLE001 — a raising op is a failed op
                r = OpResult([], False, f"raised {type(e).__name__}: {e}")
            wall = time.perf_counter() - t0
            js = ctx.jobs.since(with_stages=tracer.active)
            if not r.ok:
                ctx.failures.append(f"op {i}: {r.why}")
            steps.extend(r.steps or js.durations)
            if tracer.active:
                traced_walls.append(wall)
                layer = {
                    "spark.jobs": js.jobs,
                    "spark.stages": js.stages,
                    "spark.task_run_s": js.task_run_s,
                    "spark.gc_s": js.gc_s,
                    "spark.shuffle_write_mb": js.shuffle_write_mb,
                    "trace.wall_s": wall,
                    "trace.overhead_s": tracer.self_s - self_s0,
                }
                layer.update(wl.layers(i, js))
                layers.append(layer)
            else:
                walls.append(wall)
            i += 1
            if not wl.warm:
                break
            enough = len(steps) >= MIN_STEPS and (not tracer.enabled or len(traced_walls) >= 2)
            if time.perf_counter() - t_start >= args.seconds and enough:
                break
        rss = peak_rss_mb(jvm_pid)
        steal1 = steal_ticks()
        attempted = i + getattr(wl, "checks", 0)
        info = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "master": sc.master,
            "defaultParallelism": sc.defaultParallelism,
            "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            "cpus": cpus,
            "canary_numpy_matmul_s": round(canary, 4),
            "ops": i,
            "steps": len(steps),
            "step": "query" if wl.warm else "spark job",
            "host_steal_frac": round((steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1), 4),
            "failed_frac": len(ctx.failures) / attempted,
            "failures": ctx.failures[:10],
        }
        if tracer.enabled:
            os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
            tracer.dump(os.path.join(ROOT, ".perfbench_out", f"spans-{args.workload}-{args.seed}.jsonl"))
            tracer.close()
    finally:
        stop_spark(spark)

    if tracer.enabled:
        metrics = {
            k: statistics.median(float(l.get(k, 0.0)) for l in layers) for k in PER_LAYER
        }
        if walls:  # warm workload: traced minus untraced op, in-process
            metrics["trace.overhead_s"] = statistics.median(traced_walls) - statistics.median(walls)
        units = PER_LAYER
    else:
        wall_s = statistics.median(walls)
        metrics = {
            "setup_s": setup_s,
            "wall_s": wall_s,
            "step_p50_s": statistics.median(steps),
            "rows_per_s": wl.input_rows / wall_s,
            "peak_rss_mb": rss,
        }
        units = END_TO_END
    print(json.dumps(info, sort_keys=True))
    print(json.dumps({
        "correct": not ctx.failures,
        "attempted": attempted,
        "failed": len(ctx.failures),
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    cpus = len(os.sched_getaffinity(0))
    base = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=base)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),  # local[nproc], nproc shuffle partitions
        "SPARK_GRAFT_DRIVER_MEM": "3g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })
    sys.path[:0] = [ROOT, HERE]
    os.chdir(work)  # spark-warehouse/ and derby.log land here, not in the checkout
    try:
        return measure(args, work, cpus)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass  # another run's directory is still there


if __name__ == "__main__":
    sys.exit(main())
