"""Self-test of the benchmark: every workload at toy size prints every metric
with a unit, and a deliberately corrupted output is counted as failed.

    python3 perfbench/selftest.py

Run from the repository root; takes a few minutes (three Spark start-ups).
Exits 0 when every check passes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TOY = {"batch_uniform": "0.005", "batch_hotcell": "0.05", "stream_live": "1.0"}
TOY_SECONDS = "3"


def run(workload: str, trace: int) -> tuple[list[str], dict]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "1", "--seconds", TOY_SECONDS, "--trace", str(trace),
           "--scale", TOY[workload]]
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"{workload} --trace {trace}: exit code {proc.returncode}")
    lines = proc.stdout.strip().splitlines()
    return lines[:-1], json.loads(lines[-1])


def check_metrics(workload: str, trace: int, table: list[str], result: dict,
                  names: tuple, printed: tuple) -> None:
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        raise SystemExit(f"{workload}: result keys {sorted(result)}")
    if not result["correct"] or result["failed"] or result["attempted"] < 1:
        raise SystemExit(f"{workload}: toy run not correct: {result}")
    if list(result["metrics"]) != list(names):
        raise SystemExit(f"{workload}: JSON metrics {list(result['metrics'])}")
    for name, m in result["metrics"].items():
        if not isinstance(m["value"], (int, float)) or not m["unit"]:
            raise SystemExit(f"{workload}: metric {name} = {m}")
    shown = {line.split()[0]: line.split()[1:] for line in table if line.strip()}
    for name in names + printed:
        # table rows are "name value unit"
        if name not in shown or len(shown[name]) != 2:
            raise SystemExit(f"{workload}: table lacks '{name} value unit'")
    print(f"ok  {workload} --trace {trace}: {len(names)} JSON metrics, "
          f"{len(shown)} table rows")


def check_layer_groups(workload: str, metrics: dict) -> None:
    """Each isolated layer's task time is a part of the fused pass's, so a
    layer's job group must not also hold the pass that filled its cache."""
    fused = metrics["fused.task_s"]["value"]
    for layer in ("parse", "join", "adj", "sink"):
        own = metrics[f"{layer}.task_s"]["value"]
        if not 0 < own < fused:
            raise SystemExit(f"{workload}: {layer}.task_s {own} not within "
                             f"(0, fused.task_s {fused})")
    print(f"ok  {workload}: every layer's task_s is below fused.task_s")


def check_corruption() -> None:
    """Corrupt the real output of the last toy batch_uniform run four ways;
    each must count as failed spans."""
    sys.path.insert(0, ROOT)
    from perfbench import traffic
    from perfbench.workloads import BATCH_SHAPES, _read_output

    shape = BATCH_SHAPES["batch_uniform"]
    shape = traffic.Shape(max(10, int(shape.n_traces * float(TOY["batch_uniform"]))),
                          shape.ip_pool_size, shape.mean_interarrival_ms)
    spans = traffic.make_spans(shape, 1)
    work = os.path.join(os.getcwd(), ".perfbench")
    expected = traffic.oracle(spans)
    output = _read_output(os.path.join(work, "output"))
    if sum(traffic.failures(output, expected).values()) != 0:
        raise SystemExit("uncorrupted toy output does not match the oracle")
    linked = next(k for k, r in enumerate(output) if r[7])
    cases = {
        "missing": output[1:],
        "duplicated": output + output[:1],
        "differing": output[:linked] + [output[linked][:7] + ((),)]
        + output[linked + 1:],
        "unknown": output + [("no_such_span",) + output[0][1:]],
    }
    for kind, corrupted in cases.items():
        found = traffic.failures(corrupted, expected)
        ratio = sum(found.values()) / len(spans)
        if found[kind] < 1 or ratio <= 0:
            raise SystemExit(f"corruption '{kind}' not detected: {found}")
        print(f"ok  corrupted output ({kind}): failed_span_ratio {ratio:.2e}")


def main() -> int:
    sys.path.insert(0, ROOT)
    from perfbench.run import declared_metrics

    e2e = tuple(declared_metrics("end_to_end"))
    layers = tuple(declared_metrics("per_layer"))

    stream_only = ("stream_lag_s", "latency_p99_ms", "p1.batch_ms_p50",
                   "p2.batch_ms_p50", "bridge.rows", "feed.release_late_ms_max")
    for workload in TOY:
        table, result = run(workload, 1)
        printed = e2e + ("failed_span_ratio", "peak_rss_mb", "latency_p50_ms",
                         "latency_p99_ms")
        if workload == "stream_live":
            printed += stream_only
        if workload == "batch_uniform":
            printed += ("local1.spans_per_s", "trace.overhead_s")
        check_metrics(workload, 1, table, result, layers, printed)
        check_layer_groups(workload, result["metrics"])
    table, result = run("batch_uniform", 0)
    check_metrics("batch_uniform", 0, table, result, e2e,
                  ("failed_span_ratio", "peak_rss_mb", "latency_p50_ms"))
    check_corruption()
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
