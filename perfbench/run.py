"""Benchmark of the SCD engine's public API; see perfbench/README.md.

    python3 perfbench/run.py --workload cdc_churn --seed 1 --seconds 14 --trace 0
    python3 perfbench/run.py --workload all --seed 1   # every workload, one process each
    python3 perfbench/run.py --smoke                   # every workload once, tiny inputs

Run from the repository root.  Prints the workload's metrics one per line
with their units, then, as the last line, one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics`` (end-to-end metrics
with ``--trace 0``, per-layer metrics with ``--trace 1``).  Exits 0 only
when every operation and every correctness gate passed.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("cdc_churn", "skewed_backfill", "temporal_reads")
CORES = 4  # local[N], capped at the host's CPU count
DRIVER_MEMORY = "2g"


def parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", default=None, choices=WORKLOADS + ("all",))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=14.0)
    p.add_argument("--trace", type=int, default=0, choices=(0, 1))
    p.add_argument("--smoke", action="store_true",
                   help="tiny inputs and one step per workload")
    args = p.parse_args(argv)
    if args.workload is None:
        args.workload = "all" if args.smoke else p.error("--workload is required")
    return args


def run_each(args) -> int:
    """Every workload in a process of its own, one after the other."""
    rc = 0
    for w in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", w,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)] + (["--smoke"] if args.smoke else [])
        print(f"== {w}", flush=True)
        rc = max(rc, subprocess.run(cmd, cwd=ROOT).returncode)
    return rc


def isolate(work: str, trace: bool) -> None:
    """Keep Spark, the JVM and Python temp files inside ``work``."""
    for d in ("tmp", "local", "events", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    # Every JVM the launch starts: temp files in ``work``, and no
    # hsperfdata file, which HotSpot would write under /tmp.
    os.environ["JAVA_TOOL_OPTIONS"] = (
        "-XX:-UsePerfData -Djava.io.tmpdir=" + os.path.join(work, "tmp"))
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "events"),
            "spark.eventLog.compress": "false",
        })
    args = []
    for k, v in conf.items():
        args += ["--conf", f"{k}={v}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def stop(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = parse(argv)
    if args.workload == "all":
        return run_each(args)
    if not os.path.isdir(os.path.join(ROOT, "dbt_scd2_utils_spark")):
        print(f"engine package dbt_scd2_utils_spark not found under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    isolate(work, bool(args.trace))
    try:
        return measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def measure(args, work: str) -> int:
    started = time.perf_counter()
    sys.path.insert(0, ROOT)
    from dbt_scd2_utils_spark.session import get_spark

    import report
    import spans
    import workloads

    sizes = (workloads.SMOKE if args.smoke else workloads.SIZES)[args.workload]
    t = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}", cpus=min(CORES, os.cpu_count() or 1))
    get_spark_s = time.perf_counter() - t
    try:
        tracer = spans.Tracer(spark.sparkContext, enabled=bool(args.trace))
        run = workloads.Run(spark, tracer, work, args.seed, args.seconds, sizes, started)
        try:
            workloads.WORKLOADS[args.workload](run)
        except Exception:
            traceback.print_exc()
            print("workload aborted before its result", file=sys.stderr)
            return 1
        jsc = spark.sparkContext._jsc
        persisted = jsc.getPersistentRDDs().size()
        storage_mb = sum(i.memSize() for i in jsc.sc().getRDDStorageInfo()) / 2**20
    finally:
        stop(spark)

    for line in report.user_lines(run, args.workload):
        print(line)
    print(f"sizes: {sizes}")
    for name, spec in run.inputs.items():
        print(f"input {name}: {spec['rows']} rows, {spec['bytes']} bytes")
    print(f"table rows at end: {run.table_rows}; steps timed: "
          + " ".join(f"{x:.3f}" for x in run.steps))
    e2e = report.end_to_end(run)
    if args.trace:
        jobs = spans.parse_event_log(spans.find_event_log(os.path.join(work, "events")))
        values = report.per_layer(run, get_spark_s, jobs, persisted, storage_mb)
        units = report.PER_LAYER
        for k, unit in report.BACKFILL_ONLY.items():
            print(f"{k} {values.pop(k):.4f} {unit}")
        for k, v in e2e.items():  # traced end-to-end, for the overhead
            print(f"traced {k} {v:.4f} {report.END_TO_END[k]}")
        out = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out, exist_ok=True)
        tracer.write(os.path.join(out, f"spans-{args.workload}-{args.seed}.json"))
    else:
        values, units = e2e, report.END_TO_END
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }))
    return 0 if run.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
