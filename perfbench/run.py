"""Benchmark of the plumber package: a Kafka-style record transformer on
Spark, and the query set around it.

    python3 perfbench/run.py --workload demo_drain --seed 1 --seconds 10 --trace 0

Workloads: demo_drain drains an Avro backlog through the demo transform,
queries runs the query set one query at a time, and csv_stream feeds the
csv example from an open-loop rate source. BENCHMARK.json lists the first
two only, which keeps a full set of repeated runs short; csv_stream runs
when named.

Run from the checkout root. The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones,
and the spans go to ``.perfbench_work/trace/``. The line before it holds
run details. The exit code is non-zero when any output check fails or the
package is missing.

Every workload reports every end-to-end metric; each is defined on one
workload and mapped onto the others:

==================  ==================  ===================  =================
metric              demo_drain          csv_stream           queries
==================  ==================  ===================  =================
throughput_rec_s    records / drain s   median batch rows/s  queries / total s
latency_p50_ms      median drain        event creation to    median query
                                        sink write
query_total_s       median drain        median trigger       sum of the best
                                                             query times
setup_s             the cold set-up: JVM launch to where timed work starts
==================  ==================  ===================  =================

A timing is a median over the samples of one run; a query's time is its
best over the run's passes (see queryset.py). No percentile above the
median is an end-to-end metric: a run of demo_drain or queries has too few
samples for one. csv_stream has enough; it notes its p99 in the detail line.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
DRIVER_MEM = "3g"  # of a 15 GB host; get_spark's default is sized for a large box

END_TO_END = {
    "throughput_rec_s": "rec/s",
    "latency_p50_ms": "ms",
    "query_total_s": "s",
    "setup_s": "s",
}


def _per_layer() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def _launcher_env(cores: int) -> None:
    """Everything the JVM and the Python workers inherit; it must be set
    before the first session starts."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    conf = {
        # the console progress bar cannot be turned off once the context runs
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    }
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {k}={v}" for k, v in conf.items()
    ) + " pyspark-shell"


def _load1() -> float:
    return round(os.getloadavg()[0], 2)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["demo_drain", "csv_stream", "queries"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    try:
        import kafka_streams_plumber_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the package is not in this checkout ({e})", file=sys.stderr)
        return 2

    cores = len(os.sched_getaffinity(0))
    _launcher_env(cores)

    import gen
    from common import Ctx
    from tracing import Tracer

    gen.check_models(ROOT)
    ctx = Ctx(root=ROOT, work=WORK, seed=args.seed, seconds=args.seconds,
              cores=cores, tracer=Tracer(bool(args.trace)))
    load1_start = _load1()
    if args.workload == "queries":
        from queryset import queries as run
    else:
        import stream

        run = getattr(stream, args.workload)
    metrics, layers = run(ctx)

    if args.trace:
        units = _per_layer()
        values = {k: layers.get(k, 0) for k in units}  # 0: layer not on this path
        trace_dir = os.path.join(WORK, "trace")
        os.makedirs(trace_dir, exist_ok=True)
        ctx.tracer.write(os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json"))
    else:
        units, values = END_TO_END, metrics
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "cores": cores,
        "load1_start": load1_start,
        "load1_end": _load1(),
        "phases_s": ctx.phases,
        "samples": [round(x, 4) for x in ctx.samples],
        "notes": ctx.notes,
    }
    print(json.dumps(detail))
    result = {
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }
    print(json.dumps(result), flush=True)
    return 0 if ctx.failed == 0 and ctx.attempted > 0 else 1


if __name__ == "__main__":
    sys.exit(main())
