"""Benchmark of the s3logs_parquet_spark engine: one command, one workload.

    python3 perfbench/run.py --workload etl_dense --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Workloads, metrics and the layer each
metric belongs to are listed in BENCHMARK.json and perfbench/README.md.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` they are the
per-layer ones. The line before it stamps the environment (cores,
memory and load average, at start and end). Progress goes to stderr.

Everything the run writes stays under ``.perfbench-work/`` in the
checkout: the per-seed input cache, Spark's local and temp dirs, and
the run's outputs (removed at exit).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench-work")
PACKAGE = "s3logs_parquet_spark"


def pin_environment(run_dir: str) -> dict:
    """The session environment every run uses, set before the JVM starts."""
    from probe import host_stamp

    host = host_stamp()
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    env = {
        "SPARK_GRAFT_CPUS": str(host["nproc"]),
        # local mode: the driver heap is the executor heap; a quarter of
        # the box, at most 6g (the session default of 48g does not fit
        # a small host)
        "SPARK_DRIVER_MEMORY": f"{max(1, min(6, host['mem_total_mb'] // 4096))}g",
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "SPARK_GRAFT_CHECKPOINT_DIR": os.path.join(run_dir, "checkpoint"),
        # Python workers import the package from any working directory
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    os.environ.update(env)
    os.environ.pop("SPARK_SHUFFLE_PARTITIONS", None)
    return env


def start_session():
    from s3logs_parquet_spark.session import get_spark

    spark = get_spark(app_name="perfbench", extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop the session and wait for the JVM process to end."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits on end of its stdin
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE}/ package next to {os.path.basename(os.path.dirname(__file__))}/; "
              "run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    workload = None
    try:
        env = pin_environment(run_dir)
        from probe import host_stamp

        stamp = {"start": host_stamp()}
        import s3logs_parquet_spark
        from inputs import SPECS, ensure_inputs
        from workloads import Workload, log

        if not os.path.abspath(s3logs_parquet_spark.__file__).startswith(ROOT + os.sep):
            raise RuntimeError(f"{PACKAGE} imported from outside the checkout")
        if args.workload not in SPECS:
            ap.error(f"--workload must be one of {sorted(SPECS)}")
        t0 = time.perf_counter()
        inputs = ensure_inputs(os.path.join(WORK, "inputs"), args.workload, args.seed,
                               workers=int(env["SPARK_GRAFT_CPUS"]))
        log(f"inputs ready in {time.perf_counter() - t0:.1f}s: {inputs.root}")

        workload = Workload(args.workload, inputs, run_dir, start_session)
        measured = workload.trace(args.seconds) if args.trace else workload.run(args.seconds)
        units = declared_units("per_layer" if args.trace else "end_to_end")
        if set(units) != set(measured):
            raise RuntimeError(f"measured {sorted(measured)}, BENCHMARK.json declares {sorted(units)}")
        ledger = workload.ledger
        stop_jvm(workload.spark)
        workload.spark = None
        stamp["end"] = host_stamp()
        print(json.dumps({"env": env, "host": stamp}))
        print(json.dumps({
            "correct": ledger.failed == 0,
            "attempted": ledger.attempted,
            "failed": ledger.failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in measured.items()},
        }))
        return 0
    finally:
        if workload is not None and workload.spark is not None:
            stop_jvm(workload.spark)
        shutil.rmtree(run_dir, ignore_errors=True)


def declared_units(section: str) -> dict:
    """Metric name -> unit, as BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[section]}


if __name__ == "__main__":
    sys.exit(main())
