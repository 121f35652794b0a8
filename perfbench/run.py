#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of the repository. The engine is
imported from that checkout; everything the run writes goes under
``.perfbench_work/`` there, and all of it but a traced run's span file
is removed at exit. The last line of
standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics of BENCHMARK.json
untraced, the per-layer metrics traced). The lines before it describe
the run: input sizes, the effective Spark configuration, the
``SPARK_GRAFT_*`` environment and the workload's own figures.
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


def session_conf(workdir: str) -> dict[str, str]:
    """Confs the benchmark adds to the engine's own session defaults:
    a quiet console, and scratch space and catalog inside the checkout."""
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(workdir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
    }


def pin_environment(workdir: str) -> dict:
    """Run the engine on its defaults at ``local[nproc]``: drop every
    inherited ``SPARK_GRAFT_*`` variable (several switch plans
    silently) and set only the core count. Returns what was dropped and
    what is in effect."""
    inherited = {k: v for k, v in os.environ.items() if k.startswith("SPARK_GRAFT_")}
    for k in inherited:
        del os.environ[k]
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    os.environ["TMPDIR"] = os.path.join(workdir, "tmp")
    # Every JVM Spark starts keeps its temp files in the checkout too,
    # and keeps all its JIT compiler threads for its whole life, so the
    # CPU they use can be told apart (metrics.JIT_THREADS).
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads -Djava.io.tmpdir={os.environ['TMPDIR']}"
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    effective = {k: v for k, v in os.environ.items() if k.startswith("SPARK_GRAFT_")}
    return {"inherited_and_dropped": inherited, "effective": effective}


def start_session(workdir: str):
    from faexport_db_spark.session import get_spark

    spark = get_spark("perfbench", extra_conf=session_conf(workdir))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit (its Python
    workers end with it)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = gateway.proc
        proc.stdin.close()  # the launched JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def effective_conf(spark) -> dict[str, str]:
    conf = dict(spark.sparkContext.getConf().getAll())
    for key in (
        "spark.sql.shuffle.partitions",
        "spark.sql.adaptive.enabled",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize",
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.session.timeZone",
    ):
        conf[key] = spark.conf.get(key)
    return {k: v for k, v in sorted(conf.items()) if not k.startswith("spark.app.") and k != "spark.driver.host"}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "faexport_db_spark")):
        print(f"perfbench: no engine sources under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    from api_mixed import ApiMixed
    from catalog import AnalyticsCatalog

    workloads = {w.name: w for w in (ApiMixed, AnalyticsCatalog)}
    if args.workload not in workloads:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    workdir = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(workdir, exist_ok=True)
    env = pin_environment(workdir)
    spark = None
    try:
        from check import Tally
        from metrics import jit_cpu_seconds, tree_cpu_seconds
        from spans import Tracer

        run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
        workload = workloads[args.workload](args.seed, workdir)
        # Set-up runs once per run: JVM launch and JIT warm-up happen
        # only in a fresh process, so repeating it in-process would
        # measure something else.
        # JIT warm-up belongs to set-up: its CPU counts here, and is
        # left out of the measured operations.
        t0, cpu0 = time.perf_counter(), tree_cpu_seconds(include_jit=True)
        spark = start_session(workdir)
        session_s = time.perf_counter() - t0
        tracer = Tracer(spark, run_id, enabled=bool(args.trace))
        workload.setup(spark, tracer)
        setup = {"cpu_s": tree_cpu_seconds(include_jit=True) - cpu0, "wall_s": time.perf_counter() - t0}
        # Set-up's outputs are checked after its time is read, so
        # setup_s holds no benchmark-side checking.
        workload.verify()
        setup_layers = tracer.report()
        tracer.spans.clear()  # per-layer metrics cover the measured phase only
        tally = Tally()
        jit0 = jit_cpu_seconds()
        if args.trace:
            # Half the time untraced, half traced: the difference is the
            # tracing overhead. End-to-end metrics come from untraced runs.
            plain = workload.measure(spark, Tracer(spark, run_id, False), args.seconds / 2, tally)
            result = workload.measure(spark, tracer, args.seconds / 2, tally)
        else:
            result = workload.measure(spark, tracer, args.seconds, tally)
        info = {
            "workload": workload.describe(),
            "environment": env,
            "spark_conf": effective_conf(spark),
            "setup": setup,
            "figures": result.figures,
            # JIT compiling during the measured phase, left out of its CPU
            "measured_jit_cpu_s": jit_cpu_seconds() - jit0,
            "error_rate": tally.failed / tally.attempted,
        }
        for key, value in info.items():
            print(f"perfbench: {key} " + json.dumps(value))
        if args.trace:
            spans_path = os.path.join(ROOT, ".perfbench_work", f"spans-{run_id}.jsonl")
            tracer.write(spans_path)
            layers = workload.layer_report(tracer, result)
            print("perfbench: spans " + os.path.relpath(spans_path, ROOT))
            print("perfbench: setup_layers " + json.dumps({"session.get_spark_s": session_s, **setup_layers}))
            print("perfbench: layers " + json.dumps(layers))
            metrics = layer_metrics(tracer, result, plain, session_s)
        else:
            metrics = {
                "setup_s": {"value": setup["cpu_s"], "unit": "s"},
                **result.end_to_end(),
            }
        print(
            json.dumps(
                {
                    "correct": tally.failed == 0,
                    "attempted": tally.attempted,
                    "failed": tally.failed,
                    "metrics": metrics,
                }
            )
        )
        return 0
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(workdir, ignore_errors=True)


def layer_metrics(tracer, traced, plain, session_s: float) -> dict:
    """The per-layer metrics every workload reports: session start, the
    Spark work per unit operation (probe spans left out: that work is
    the benchmark's), and the tracing overhead."""
    ops = len(traced.op_seconds)
    spans = [s for s in tracer.spans if not s.probe]
    jobs = sum(s.jobs for s in spans)
    stages = sum(s.stages for s in spans)
    tasks = sum(s.tasks for s in spans)
    overhead = statistics.median(traced.op_seconds) - statistics.median(plain.op_seconds)
    return {
        "session.get_spark_s": {"value": session_s, "unit": "s"},
        "spark.jobs_per_op": {"value": jobs / ops, "unit": "count"},
        "spark.stages_per_op": {"value": stages / ops, "unit": "count"},
        "spark.tasks_per_op": {"value": tasks / ops, "unit": "count"},
        "trace.overhead_ms_per_op": {"value": 1000.0 * overhead, "unit": "ms"},
    }


if __name__ == "__main__":
    sys.exit(main())
