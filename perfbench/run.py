#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload extract_bulk --seed 1 --seconds 10 --trace 0

Run from the repository root. Builds the seeded inputs, starts a
``local[4]`` Spark session, runs the workload and checks its outputs, and
prints one JSON object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``attempted`` / ``failed`` count output checks (``failed`` is the
workload's output-mismatch count); any mismatch exits with code 1. With
``--trace 0`` the metrics are the end-to-end metrics of BENCHMARK.json;
with ``--trace 1`` they are its per-layer metrics, and the spans are
written to ``.bench_work/traces/``. All scratch data lives under
``.bench_work/`` and is removed when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MASTER = "local[4]"
# A fixed, pre-touched driver heap (the package defaults to an 8g maximum
# that grows on demand). A heap free to grow has a resident size that
# follows the collector's timing: 1.5-2.9 GB committed, a 0.35 spread of
# peak_rss_mb over ten seeds of extract_bulk; with only the initial heap
# fixed at this size, G1 still grew it to 5-6 GB in runs on a busy host.
# 3g covers what the JVM commits on its own. peak_rss_mb therefore cannot
# see JVM heap use; it moves with Python workers and JVM off-heap memory.
DRIVER_HEAP = "3g"


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)


def check_checkout() -> str | None:
    """The package under test must come from this checkout."""
    pkg = os.path.join(ROOT, "paper_layout_parser_spark", "__init__.py")
    if not os.path.isfile(pkg):
        return f"no paper_layout_parser_spark package under {ROOT}"
    return None


def start_spark(work: str):
    """A local[4] session whose scratch files all stay under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp                      # python workers, kernel cache
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_WAREHOUSE_DIR"] = os.path.join(work, "warehouse")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_HEAP       # read by get_spark
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    from paper_layout_parser_spark.session import get_spark

    t0 = time.monotonic()
    spark = get_spark(master=MASTER, extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_HEAP} -XX:+AlwaysPreTouch",
    })
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).collect()
    return spark, time.monotonic() - t0


def stop_spark(spark) -> None:
    """Stop the session and wait for the gateway JVM (and with it the
    Python workers it forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()     # the gateway server exits on EOF
        try:
            proc.wait(timeout=60)
        except Exception:      # noqa: BLE001 — never leave the JVM behind
            proc.kill()
            proc.wait()


def per_layer_metrics(spec: dict, tracer) -> dict:
    """Every per-layer metric of BENCHMARK.json from the tracer: a count
    recorded at a layer boundary, a span's seconds (``<span>_s``), or a
    layer's Spark jobs/tasks. Layers the workload never calls read 0."""
    span_names = {s["name"] for s in tracer.spans}
    out = {}
    for m in spec["per_layer"]:
        name = m["name"]
        layer, _, what = name.partition(".")
        if name in tracer.counts:
            value = tracer.counts[name]
        elif name.endswith("_s") and name[:-2] in span_names:
            value = tracer.seconds(name[:-2])
        elif what in ("jobs", "tasks"):
            jobs, tasks = tracer.layer_jobs_tasks(layer)
            value = jobs if what == "jobs" else tasks
        else:
            value = 0
        out[name] = {"value": value, "unit": m["unit"]}
    return out


def main(argv: list[str] | None = None) -> int:
    spec = load_spec()
    names = [w["name"] for w in spec["workloads"]]
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=names)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    problem = check_checkout()
    if problem:
        print(f"perfbench: {problem}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from tracing import Tracer
    from workloads import WORKLOADS

    run_id = uuid.uuid4().hex[:12]
    work = os.path.join(ROOT, ".bench_work", f"run-{run_id}")
    os.makedirs(work)
    spark = None
    try:
        spark, session_s = start_spark(work)
        tracer = Tracer(spark, run_id) if args.trace else None
        metrics, chk, info = WORKLOADS[args.workload](
            spark, work, args.seed, args.seconds, session_s, tracer)
        if tracer is not None:
            out = per_layer_metrics(spec, tracer)
            tracer.dump(os.path.join(ROOT, ".bench_work", "traces",
                                     f"{args.workload}-seed{args.seed}-{run_id}.json"),
                        {"workload": args.workload, "seed": args.seed, "info": info})
        else:
            units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
            out = {k: {"value": metrics[k], "unit": u} for k, u in units.items()}
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({"workload": args.workload, "seed": args.seed, **info},
                     default=str), file=sys.stderr)
    for failure in chk.failures:
        print(f"output mismatch: {failure}", file=sys.stderr)
    print(f"output_mismatches {len(chk.failures)} count")
    print(json.dumps({"correct": not chk.failures, "attempted": chk.attempted,
                      "failed": len(chk.failures), "metrics": out}))
    return 1 if chk.failures else 0


if __name__ == "__main__":
    sys.exit(main())
