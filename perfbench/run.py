#!/usr/bin/env python3
"""Benchmark runner.

    python3 perfbench/run.py --workload {ingest,interactive} \
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. One run:

1. generates the workload's inputs from ``--seed`` under
   ``.perfbench_work/`` (not timed);
2. sets the program up several times (``get_spark`` -> first action ->
   the workload's program-side table set-up); ``setup_s`` is the first,
   cold set-up, which launches the JVM; the others restart the
   SparkContext in the warm JVM and go to the detail line;
3. measures the workload for ``--seconds`` (see ``phases.run_workload``)
   and reads the peak RSS;
4. checks every output against a reference computed outside Spark
   (numpy, DuckDB or plain Python) and counts mismatches as failures;
5. prints one detail JSON line, then the result line.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` wraps every
layer call in a span that is also the Spark job group, enables Spark's
event log, attributes stage and task metrics to spans after the run and
reports the per-layer metrics instead.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("ingest", "interactive")


def _mem_total_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    return 8192


def pin_env(work: str) -> dict:
    """Environment and session conf every run uses."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Duser.timezone=UTC"
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "TZ": "UTC",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join([ROOT, HERE, os.environ.get("PYTHONPATH", "")]).rstrip(os.pathsep),
        "JAVA_TOOL_OPTIONS": java_opts,
    })
    time.tzset()
    driver_mb = min(1024, _mem_total_mb() // 4)
    return {
        "cpus": cpus,
        "conf": {
            "spark.driver.memory": f"{driver_mb}m",
            "spark.driver.extraJavaOptions": java_opts,
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            # testdata-style Parquet: plain TIMESTAMP stays TIMESTAMP (not
            # _NTZ) and TIMESTAMP(NANOS) reads as a long of nanoseconds
            "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
            "spark.sql.legacy.parquet.nanosAsLong": "true",
        },
    }


def rss_peak_mb(spark) -> dict:
    """Peak RSS (VmHWM, MB) of this Python process and of the driver JVM."""
    def hwm(pid) -> float:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1]) / 1024.0
        except OSError:
            pass
        return 0.0
    jvm = spark.sparkContext._gateway.proc.pid if spark is not None else None
    return {"python": hwm("self"), "jvm": hwm(jvm) if jvm else 0.0}


def stop_jvm() -> None:
    """End the driver JVM PySpark launched and wait for it: it exits when
    its stdin closes, taking its Python workers with it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    gw.proc.stdin.close()
    gw.proc.wait(timeout=120)
    SparkContext._gateway = SparkContext._jvm = None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "aeon_mecha_spark")):
        print("perfbench: aeon_mecha_spark not found next to perfbench/; run from a checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    env = pin_env(work)
    try:
        detail, result = run(args, work, env)
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only when no other run uses it
        except OSError:
            pass
    print(json.dumps(detail, sort_keys=True, default=str))
    print(json.dumps(result))
    return 0


def run(args, work: str, env: dict):
    import phases
    import stats
    from common import Ctx
    from spans import Tracer

    trace = bool(args.trace)
    conf = dict(env["conf"])
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": "file://" + log_dir,
                     "spark.eventLog.compress": "false"})

    t0 = time.perf_counter()
    inputs = phases.generate(work, args.seed, args.workload)
    gen_s = time.perf_counter() - t0

    from aeon_mecha_spark.session import get_spark

    tracer = Tracer(trace)
    ctx = Ctx(spark=None, tracer=tracer, work=work, seed=args.seed)
    setup_s = []
    for i in range(phases.SETUPS):
        if ctx.spark is not None:
            tracer.bind(None)
            ctx.spark.stop()
        t0 = time.perf_counter()
        with tracer.span("session.start"):
            spark = get_spark("perfbench", shuffle_partitions=env["cpus"], extra_conf=conf)
        t1 = time.perf_counter()
        ctx.spark = spark
        tracer.bind(spark)
        with tracer.span("session.first_action"):
            spark.range(1).count()
        t2 = time.perf_counter()
        phases.table_setup(ctx, inputs, args.workload, i)
        setup_s.append(time.perf_counter() - t0)
        if i == 0:  # the session layer's figures are the cold start's
            ctx.add("session.start_s", t1 - t0)
            ctx.add("session.first_action_s", t2 - t1)

    ctx.ops.clear()  # op latencies cover the measured phase only
    results = phases.run_workload(ctx, inputs, args.workload, args.seconds)
    # before the checks, whose references and DuckDB twins are the
    # benchmark's memory, not the program's
    peak = rss_peak_mb(ctx.spark)
    t0 = time.perf_counter()
    phases.check_outputs(ctx, inputs, results, args.workload)
    check_s = time.perf_counter() - t0
    ctx.spark.stop()
    stop_jvm()

    e2e = phases.end_to_end(ctx, results, args.workload)
    e2e.update({
        "setup_s": (setup_s[0], "s"),
        "peak_rss_mb": (peak["python"] + peak["jvm"], "MB"),
        "ok_rate": ((ctx.attempted - ctx.failed) / ctx.attempted if ctx.attempted else 0.0, "ratio"),
    })
    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "cpus": env["cpus"], "driver_memory": conf["spark.driver.memory"],
        "generate_s": gen_s, "check_s": check_s, "inputs": inputs["sizes"],
        "setup_cold_s": setup_s[0], "setup_warm_s": statistics.median(setup_s[1:]), "setup_s_each": setup_s,
        "peak_rss_mb_parts": peak,
        "named": {k: v for k, (v, _u) in phases.named(results, args.workload).items()},
        "error_rate": stats.ratio(ctx.failed, ctx.attempted),
        "problems": ctx.problems[:20],
        "summaries": phases.summaries(ctx, results, args.workload),
    }
    if trace:
        metrics = phases.per_layer(ctx, os.path.join(work, "eventlog"))
        detail["end_to_end_traced"] = {k: v for k, (v, _u) in e2e.items()}
    else:
        metrics = e2e
    result = {
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return detail, result


if __name__ == "__main__":
    sys.exit(main())
