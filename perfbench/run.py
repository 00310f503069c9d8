#!/usr/bin/env python3
"""Layered benchmark of the conflation engine.

    python3 perfbench/run.py --workload conflate|pipeline|queries --seed N \
        --seconds S --trace 0|1 [--scale bench|smoke|full] [--write-pins]

Run from the repository root. Sizes the Spark session from the box (cores
from the CPU affinity mask; driver memory is left at the program default),
prepares the workload's inputs, runs timed units for S seconds and checks
every output against `pins.json`.

stdout: one JSON summary line (every figure by name with its unit, the box,
and load/CPU probes from the start and end of the run), then the result
line: {"correct", "attempted", "failed", "metrics"}. The metrics are the
`end_to_end` list of BENCHMARK.json with --trace 0, and its `per_layer` list
with --trace 1. The full record, spans included, is written to
.perfbench/results/. Scratch files live under .perfbench/ and are removed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

from pyspark import SparkContext  # noqa: E402

from gtfs_conflation_pipeline_spark.session import get_spark  # noqa: E402

import harness  # noqa: E402
import workloads  # noqa: E402

UNITS = {  # units of the figures that are not in BENCHMARK.json
    "resume_s": "s",
    "peak_rss_mb": "MB",
    "failed_ops_ratio": "ratio",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=sorted(workloads.SCALES), default="bench")
    ap.add_argument(
        "--write-pins", action="store_true",
        help="store the observed outputs as the pins of this scale and workload",
    )
    return ap.parse_args(argv)


def stop_spark(spark) -> None:
    """Stop the session and the JVM, then wait until every process this
    one started has ended."""
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on EOF
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 30
    while harness.descendants() and time.time() < deadline:
        time.sleep(0.2)
    for pid in harness.descendants():
        os.kill(pid, signal.SIGKILL)
    while harness.descendants() and time.time() < deadline + 10:
        time.sleep(0.2)


def main(argv=None) -> int:
    args = parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    box = harness.box_info()
    scratch = os.path.join(ROOT, ".perfbench", f"work-{os.getpid()}")
    results = os.path.join(ROOT, ".perfbench", "results")
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(scratch, d), exist_ok=True)
    os.makedirs(results, exist_ok=True)
    # every temporary file of the JVMs (launcher and driver), the Python
    # workers and Spark's shuffle/spill directories stays inside the scratch
    # dir; -UsePerfData stops HotSpot writing its counters file to /tmp
    tmp = os.path.join(scratch, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "local")
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(scratch, "local")

    run_id = f"{args.workload}-{args.scale}-seed{args.seed}-trace{args.trace}"
    tracer = harness.Tracer(run_id)
    checker = harness.Checker(args.scale, args.workload, record=args.write_pins)
    host_start = harness.host_probe()
    try:
        with harness.RssSampler() as rss:
            with tracer.span("session.start") as sp:
                spark = get_spark(
                    f"perfbench-{args.workload}",
                    cores=box["cores"],
                    extra_conf={
                        "spark.ui.showConsoleProgress": "false",
                        "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
                    },
                )
            session_s = sp["end"] - sp["start"]
            box["driver_memory"] = spark.conf.get("spark.driver.memory")
            ctx = workloads.Ctx(
                spark=spark,
                scale=workloads.SCALES[args.scale],
                seed=args.seed,
                seconds=args.seconds,
                trace=bool(args.trace),
                cores=box["cores"],
                work=scratch,
                cache=os.path.join(ROOT, ".perfbench", "cache"),
                tracer=tracer,
                checker=checker,
                runtime=harness.SparkRuntime(spark) if args.trace else None,
            )
            try:
                with tracer.span(f"workload.{args.workload}"):
                    workloads.WORKLOADS[args.workload](ctx)
            finally:
                stop_spark(spark)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    host_end = harness.host_probe()

    e2e = dict(ctx.e2e)
    e2e["setup_s"] = session_s + ctx.setup_s
    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    units.update(UNITS)
    figures = dict(e2e)
    figures["peak_rss_mb"] = rss.peak_mb()
    figures["failed_ops_ratio"] = checker.failed / max(checker.attempted, 1)
    if "resume_s" in ctx.summary:
        figures["resume_s"] = ctx.summary["resume_s"]
    layers = dict(ctx.layers)
    if args.trace:
        layers["session.start_s"] = session_s
        for kind in ("total", "jvm", "python"):
            layers[f"memory.{kind}_peak_mb"] = rss.peak_mb(kind)
        layers["trace.run_s"] = e2e.get("run_s", 0.0)
        layers["trace.cost_s"] = ctx.trace_cost_s

    if args.write_pins:
        checker.save()
    summary = {
        "run": run_id,
        "figures": {k: {"value": v, "unit": units[k]} for k, v in sorted(figures.items())},
        "detail": ctx.summary,
        "box": box,
        "host": {"start": host_start, "end": host_end},
        "ops": {"attempted": checker.attempted, "failed": checker.failed},
    }
    metric_list = bench["per_layer"] if args.trace else bench["end_to_end"]
    source = layers if args.trace else e2e
    metrics = {
        m["name"]: {"value": float(source.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in metric_list
    }
    record = dict(summary, layers=layers, spans=tracer.spans)
    with open(os.path.join(results, f"{run_id}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(json.dumps(summary, default=str))
    print(
        json.dumps(
            {
                "correct": checker.failed == 0,
                "attempted": checker.attempted,
                "failed": checker.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
