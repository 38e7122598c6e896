"""Benchmark launcher.

    python3 perfbench/run.py --workload {ingest,readback,anonymize} \\
        --seed N --seconds S --trace {0,1}

Run from the repository root (any working directory works: the
launcher puts the repository on ``PYTHONPATH`` before Spark starts, so
the Python workers Spark forks import ``kapra_spark`` too). One closed-
loop client drives ``local[<nproc>]``. Prints a detail line with the
workload's named metrics and run context, then, as the last line, the
result object ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics of ``BENCHMARK.json`` with ``--trace 0``, the
per-layer ledger with ``--trace 1``. Scratch data lives under
``.bench_data/`` in the repository and is removed on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("ingest", "readback", "anonymize")


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_environment(workdir: str) -> None:
    """Before pyspark starts the JVM: make ``kapra_spark`` importable by
    this process and the Python workers Spark forks, and keep every
    scratch file (JVM temp, shuffle/local dirs, py4j handshake) inside
    ``workdir``."""
    if not os.path.isfile(os.path.join(REPO, "kapra_spark", "__init__.py")):
        raise SystemExit(f"kapra_spark not found next to perfbench/ in {REPO}")
    sys.path.insert(0, REPO)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p)
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(workdir, sub), exist_ok=True)
    tmp = os.path.join(workdir, "tmp")
    os.environ["TMPDIR"] = tmp
    # every JVM spark-submit starts: temp files in the run's directory,
    # and no hsperfdata file (which would go to /tmp regardless)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    # the inputs are small: a 1 GB driver heap is ample and keeps the
    # benchmark's footprint modest on a shared machine
    os.environ["SPARK_DRIVER_MEM"] = "1g"


def start_spark(workdir: str, cpus: int):
    from kapra_spark.session import get_spark

    spark = get_spark("perfbench", master=f"local[{cpus}]", extra_conf={
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the SparkContext, then end the driver JVM pyspark launched
    (it exits when its stdin closes) and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    gateway.shutdown()
    if proc.stdin is not None:
        proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def warm_python_workers(spark) -> None:
    """First Python job of the session: pays the worker fork and import
    cost once, so it is not hidden inside a median."""
    from kapra_spark import datagen

    datagen.tokens_df(spark, 1_000, n_tok=16, fast=True,
                      partitions=spark.sparkContext.defaultParallelism).count()


def load_pins() -> dict:
    with open(os.path.join(HERE, "pins.json")) as f:
        return json.load(f)


def make_workload(name: str):
    from perfbench import workloads as W

    if name == "ingest":
        return W.IngestWorkload()
    if name == "readback":
        return W.ReadbackWorkload()
    return W.AnonymizeWorkload(load_pins()["anonymize"])


def main(argv=None) -> int:
    args = parse_args(argv)
    cpus = len(os.sched_getaffinity(0))
    workdir = os.path.join(REPO, ".bench_data", "perfbench",
                           f"{args.workload}-{os.getpid()}")
    try:
        prepare_environment(workdir)
        return measure(args, cpus, workdir)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def measure(args: argparse.Namespace, cpus: int, workdir: str) -> int:
    from perfbench import ledger as L, procstat
    from perfbench.workloads import Run

    box_ms = procstat.box_probe_ms()
    sampler = procstat.MemorySampler().start()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(workdir, cpus)
        session_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        warm_python_workers(spark)
        workers_s = time.perf_counter() - t0

        run = Run(spark, args.seed, args.seconds, workdir,
                  trace=L.Ledger(spark, enabled=False))
        workload = make_workload(args.workload)
        setup = workload.setup(run)
        setup_s = session_s + workers_s + sum(setup.values())

        if args.trace:
            run.trace = L.Ledger(spark, enabled=True)
            result = workload.measure(run)
            loop_s = sum(workload.unit_times)
            workload.layer_pass(run)
            t0 = time.perf_counter()
            metrics = workload.layers(run, run.trace.executions())
            metrics["trace.ledger_s"] = time.perf_counter() - t0
            # the traced loop's unit time, to set against round_s of the
            # untraced runs; and the share of it the spans themselves took
            metrics["trace.round_s"] = result[workload.ROLES["round_s"]]
            metrics["trace.overhead_share"] = run.trace.bookkeeping_s / loop_s
        else:
            result = workload.measure(run)
            metrics = {role: result[name] for role, name in workload.ROLES.items()}
            metrics["setup_s"] = setup_s
    finally:
        if spark is not None:
            stop_spark(spark)
        sampler.stop()
    peak_mb = sampler.peak_bytes / 2 ** 20
    metrics.setdefault("peak_rss_mb", peak_mb)

    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "nproc": cpus, "box_probe_ms": box_ms, "input": workload.digest,
        "setup_parts_s": {"session": session_s, "python_workers": workers_s, **setup},
        "named": {**result, "setup_s": setup_s, "peak_rss_mb": peak_mb},
        "failures": run.failures,
    }, sort_keys=True))
    if args.trace:
        # a layer the workload never calls reads 0
        values = {m["name"]: metrics.get(m["name"], 0.0) for m in spec["per_layer"]}
    else:
        values = {m["name"]: metrics[m["name"]] for m in spec["end_to_end"]}
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    print(json.dumps({
        "correct": run.setup_ok and run.failed == 0,
        "attempted": run.attempted, "failed": run.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in values.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
