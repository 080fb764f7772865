"""Benchmark entry point.

    python3 perfbench/run.py --workload star_refresh --seed 1 --seconds 10 --trace 0

Run from the repository root. It generates the workload's inputs from
the seed, starts one Spark session (``local[nproc]``, or half the cores
for the driver-bound dashboard_reads), warms every plan the workload
runs (``setup_s``), measures the timed phase, checks every result
outside the timed window, and prints one JSON object as the last line
of stdout. ``--trace 0`` reports the end-to-end metrics;
``--trace 1`` reports the per-layer metrics, taken from spans around
every call into the engine's layers and from Spark's status store, and
writes the spans to ``.perfbench/traces/``.

Exits with code 2, printing no result, when the engine package is not
importable from the working directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _configure_env(scratch: str, cores: int) -> None:
    """Process environment for a session on ``local[cores]`` and its
    Python workers; all scratch space stays under ``scratch``."""
    tmp = f"{scratch}/tmp"
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "3g"
    os.environ["SPARK_GRAFT_WAREHOUSE"] = f"{scratch}/warehouse"
    os.environ["SPARK_LOCAL_DIRS"] = f"{scratch}/local"
    os.environ["TMPDIR"] = tmp
    # Python workers import the engine for mapInPandas / Arrow UDFs.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--conf spark.ui.showConsoleProgress=false",
            # The status store must keep every job and stage of a run.
            "--conf spark.ui.retainedJobs=100000",
            "--conf spark.ui.retainedStages=100000",
            f"--conf spark.local.dir={scratch}/local",
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Dderby.system.home={tmp}'",
            "pyspark-shell",
        ]
    )


def _stop(spark) -> None:
    """Stop the session and wait for the JVM, which exits when its stdin
    pipe from this process closes."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True,
                    help="accepted for the command contract; each workload runs a fixed number of ops")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import healthcare_oltp_to_olap_gcp_spark.api  # noqa: F401
        import tests.helpers  # noqa: F401
    except ImportError as ex:
        print(f"perfbench: engine not importable from {ROOT}: {ex}", file=sys.stderr)
        return 2
    from perfbench.trace import Tracer, layer_metrics, layer_rollup, status_snapshot
    from perfbench.workloads import WORKLOADS, Run

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    scratch = f"{ROOT}/.perfbench/run-{os.getpid()}"
    shutil.rmtree(scratch, ignore_errors=True)
    spark = None
    try:
        cores = WORKLOADS[args.workload].spark_cores(len(os.sched_getaffinity(0)))
        _configure_env(scratch, cores)
        import pyspark

        workload = WORKLOADS[args.workload](args.seed, scratch)

        from healthcare_oltp_to_olap_gcp_spark.session import get_spark

        t = time.perf_counter()
        spark = get_spark(f"perfbench-{args.workload}")
        spark.sparkContext.setLogLevel("ERROR")
        workload.setup(spark)
        setup_s = time.perf_counter() - t

        tracer = Tracer(f"{args.workload}-{args.seed}") if args.trace else None
        if tracer:
            tracer.install()
        run = Run(spark, tracer)
        try:
            e2e = workload.run(run)
        finally:
            if tracer:
                tracer.uninstall()
        workload.check(run)

        attempted = len(run.latencies)
        e2e.update(setup_s=setup_s, op_p50_s=statistics.median(run.latencies))
        if tracer:
            jobs, stages = status_snapshot(spark)
            layers = layer_rollup(tracer.spans, jobs, stages)
            ratios = workload.ratios(layers) if hasattr(workload, "ratios") else {}
            metrics = layer_metrics(tracer, layers, jobs, stages, cores, ratios)
            os.makedirs(f"{ROOT}/.perfbench/traces", exist_ok=True)
            tracer.dump(
                f"{ROOT}/.perfbench/traces/{args.workload}-seed{args.seed}.json",
                {"end_to_end_traced": e2e, "layers": layers},
            )
        else:
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E_UNITS.items()}

        result = {
            "correct": not run.failures,
            "attempted": attempted,
            "failed": min(len(run.failures), attempted),
            "metrics": metrics,
        }
        stamp = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "nproc": os.cpu_count(), "cores": cores,
            "pyspark": pyspark.__version__, "failures": run.failures[:5],
            "wall_s": round(e2e["wall_s"], 3), "latencies_s": [round(x, 3) for x in run.latencies],
        }
        print(f"perfbench: {json.dumps(stamp)}")
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(scratch, ignore_errors=True)
    print(json.dumps(result))
    return 0


E2E_UNITS = {"setup_s": "s", "mix_p50_s": "s", "op_p50_s": "s"}


if __name__ == "__main__":
    sys.exit(main())
