"""Trace-link benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload batch_uniform --seed 1 --seconds 10 --trace 0

Run from the repository root.  Prints a table of every metric, then, as the
last line, one JSON object: ``correct``, ``attempted`` (input spans),
``failed`` (spans missing, duplicated or differing from the oracle) and
``metrics`` — the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``.  Scratch files go to ``.perfbench/`` under the
working directory; ``--trace 1`` also leaves the span trace there.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(os.getcwd(), ".perfbench")

WORKLOADS = ("batch_uniform", "batch_hotcell", "stream_live")


def declared_metrics(key: str) -> dict[str, str]:
    """Metric name -> unit, as BENCHMARK.json declares them under ``key``
    (``end_to_end`` for untraced runs, ``per_layer`` for traced runs)."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[key]}


def pin_environment(work: str) -> int:
    """Pin Spark to this machine's cores and a driver heap that fits it, let
    Spark's Python workers import the repository, and keep every scratch
    file (shuffle, temp, warehouse) under ``work``.  Values already set in
    the environment win."""
    cpus = len(os.sched_getaffinity(0))
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(cpus))
    os.environ.setdefault("SPARK_DRIVER_MEM", "4g")
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # -XX:-UsePerfData: no /tmp/hsperfdata_<user> from either JVM (the
    # launcher spark-submit runs first, then the driver)
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.ui.showConsoleProgress=false",
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        f"--driver-java-options '{jvm_opts}'",
        "pyspark-shell",
    ])
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return int(os.environ["SPARK_GRAFT_CPUS"])


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="multiply the input size (the self-test runs toy sizes)")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    # the repository under test must be next to the benchmark
    if not os.path.isdir(os.path.join(ROOT, "simpy__kafka__flink__kafka_spark")):
        print(f"perfbench: no simpy__kafka__flink__kafka_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    shutil.rmtree(WORK, ignore_errors=True)
    cpus = pin_environment(WORK)
    from perfbench import workloads as wl
    from perfbench.probes import Tracer, descendants, shutdown_spark

    ctx = wl.Context(args.workload, args.seed, args.seconds, args.scale, cpus,
                     WORK, Tracer(bool(args.trace)))
    try:
        with ctx.tracer.span("run", workload=args.workload, seed=args.seed):
            run = wl.run_stream if args.workload == "stream_live" else wl.run_batch
            res = run(ctx)
    finally:
        shutdown_spark(ctx.spark)
    leftover = descendants(os.getpid())
    if leftover:
        print(f"perfbench: child processes still running: {leftover}", file=sys.stderr)
        return 3

    shown = {**res.metrics, **res.extra, **res.layers}
    for name in sorted(shown):
        value, unit = shown[name]
        print(f"{name:40s} {value:16.6g} {unit}")
    for key, val in ctx.printed.items():
        print(f"{key:40s} {val}")
    if args.trace:
        path = os.path.join(WORK, f"trace-{args.workload}-{args.seed}.json")
        ctx.tracer.write(path, {"metrics": {k: list(v) for k, v in shown.items()},
                                **ctx.printed})
        print(f"{'trace_file':40s} {path}")
    declared = declared_metrics("per_layer" if args.trace else "end_to_end")
    wrong = {n: u for n, u in declared.items() if shown.get(n, (0, u))[1] != u}
    missing = [n for n in declared if n not in shown]
    if wrong or missing:
        raise RuntimeError(f"metrics missing {missing} or with other units {wrong}")
    print(json.dumps({
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {n: {"value": shown[n][0], "unit": u} for n, u in declared.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
