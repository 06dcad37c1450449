"""Benchmark runner for the spark-sea engine.

    python3 perfbench/run.py --workload {build,serve} --seed N --seconds S --trace {0,1}

Run from the repository root. Builds its inputs from ``--seed``, drives
the engine's public API on ``local[<cores>]`` from one client thread,
checks every timed result, and prints one JSON line as the last line of
stdout: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end metrics of BENCHMARK.json;
with ``--trace 1`` they are its per-layer metrics, and the spans of the
run are written to ``.perfbench_out/``. Exits non-zero when a result is
wrong or a route the workload must exercise was not taken.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark import SparkContext  # noqa: E402

from cs_search_engine_architecture_spark.session import get_spark  # noqa: E402

from tracer import Tracer  # noqa: E402
from workloads import WORKLOADS, Ctx  # noqa: E402

WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")


def _session(cores: int):
    # keep every file Spark and its Python workers write inside the checkout
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # every JVM spark-submit starts: its temp dir, and no hsperfdata files
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, (os.environ.get("JAVA_TOOL_OPTIONS"), java_opts)))
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    """Stop Spark and wait for its JVM (and with it the Python workers)."""
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    declared = spec["per_layer" if args.trace else "end_to_end"]

    cores = len(os.sched_getaffinity(0))
    shutil.rmtree(WORK, ignore_errors=True)
    spark = _session(cores)
    try:
        tracer = Tracer(spark.sparkContext, enabled=bool(args.trace))
        ctx = Ctx(spark, tracer, WORK, args.seed, args.seconds, cores)
        result = WORKLOADS[args.workload](ctx)
        for span in tracer.spans:
            if span.parent is None:
                print(f"span {span.name}: {span.wall:.3f} s", file=sys.stderr)
        if args.trace:
            os.makedirs(OUT, exist_ok=True)
            spans = os.path.join(OUT, f"spans-{args.workload}-seed{args.seed}.jsonl")
            tracer.write(spans)
            print(f"spans written to {spans}", file=sys.stderr)
    finally:
        _stop(spark)
        shutil.rmtree(WORK, ignore_errors=True)

    values = result["layer"] if args.trace else result["e2e"]
    missing = [m["name"] for m in declared if m["name"] not in values]
    if missing:
        raise RuntimeError(f"workload {args.workload} produced no {missing}")
    for err in ctx.errors:
        print(f"FAIL: {err}", file=sys.stderr)
    correct = ctx.failed == 0 and result.get("coverage_ok", True)
    print(json.dumps({
        "correct": correct,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {
            m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
            for m in declared
        },
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
