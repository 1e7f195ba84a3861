"""Seeded span traffic, its wire encoding, and the Spark-free oracle.

Everything here is plain Python: the oracle must not share an engine with
the system it checks.
"""

from __future__ import annotations

import bisect
import inspect
import json
import os
import random
from collections import Counter
from dataclasses import dataclass

from simpy__kafka__flink__kafka_spark.schemas import MAX_LATENCY_MS
from simpy__kafka__flink__kafka_spark.sources.generator import (
    generate_trace_spans,
    inject_send_delays,
)

FIELDS = ("id", "src_ip", "dst_ip", "start_at_ms", "latency_msec", "end_at_ms")

# Spark's event-time timeout fires once the watermark (max event time seen
# minus this horizon) is strictly past a span's end_at_ms.
WATERMARK_MS = 30_000


@dataclass(frozen=True)
class Shape:
    """One traffic shape: how many traces, how many IPs per tier, and the
    mean gap between trace starts."""

    n_traces: int
    ip_pool_size: int
    mean_interarrival_ms: float


def make_spans(shape: Shape, seed: int, id_prefix: str = "",
               start_ms: int = 1_000_000) -> list[tuple]:
    spans = generate_trace_spans(shape.n_traces, seed=seed,
                                 ip_pool_size=shape.ip_pool_size,
                                 mean_interarrival_ms=shape.mean_interarrival_ms,
                                 start_ms=start_ms)
    if id_prefix:
        spans = [(id_prefix + s[0],) + s[1:] for s in spans]
    return spans


def sentinel_after(spans: list[tuple], name: str) -> tuple:
    """A span whose start is past every span's end plus the watermark
    horizon, on IPs no other span uses: it links to nothing and, once
    processed, moves the watermark past every span before it."""
    at = max(s[5] for s in spans) + WATERMARK_MS + 1
    return (name, f"{name}.src", f"{name}.dst", at, 0.0, at)


def to_wire(span: tuple) -> str:
    """The Kafka value format: one JSON object per span."""
    return json.dumps(dict(zip(FIELDS, span)))


def write_wire_files(spans: list[tuple], directory: str, n_files: int) -> int:
    """Write spans as JSON lines over ``n_files`` files; returns bytes."""
    os.makedirs(directory, exist_ok=True)
    total = 0
    for k in range(n_files):
        body = "".join(to_wire(s) + "\n" for s in spans[k::n_files])
        path = os.path.join(directory, f"spans-{k:03d}.json")
        with open(path, "w") as f:
            f.write(body)
        total += len(body.encode())
    return total


def release_schedule(spans: list[tuple], seed: int) -> list[tuple[float, tuple]]:
    """(release offset in s, span) in arrival order: each span is sent at
    its start plus a chi-square send delay (``inject_send_delays``),
    shifted so the first span's start is offset 0."""
    arrival = inject_send_delays(spans, seed=seed)
    # inject_send_delays returns spans in arrival order but not the delays;
    # recompute them with the same draws, from its own default parameters
    params = inspect.signature(inject_send_delays).parameters
    df, scale, cap = (params[k].default for k in ("chisq_df", "scale_ms", "cap_ms"))
    rng = random.Random(seed)
    delay = {}
    for sp in spans:
        delay[sp[0]] = min(cap, rng.gammavariate(df / 2.0, 2.0) * scale / 2.0)
    t0 = min(s[3] for s in spans)
    sched = [((s[3] + delay[s[0]] - t0) / 1000.0, s) for s in arrival]
    if any(a[0] > b[0] for a, b in zip(sched, sched[1:])):
        raise RuntimeError("send delays no longer match inject_send_delays")
    return sched


def candidate_pairs(spans: list[tuple], band_ms: int = MAX_LATENCY_MS) -> int:
    """Sum over (ip, band) cells of n_parent * n_child: the pairs the
    banded join enumerates before its interval predicate."""
    parents: Counter = Counter()
    children: Counter = Counter()
    for s in spans:
        for b in range(s[3] // band_ms, s[5] // band_ms + 1):
            parents[(s[2], b)] += 1
        children[(s[1], s[3] // band_ms)] += 1
    return sum(n * children.get(cell, 0) for cell, n in parents.items())


def _edges(spans: list[tuple]) -> list[tuple[str, str]]:
    """(parent id, child id) for every pair the linker's predicate accepts:
    parent.dst_ip = child.src_ip, parent.start_at_ms <= child.start_at_ms,
    parent.end_at_ms >= child.end_at_ms, distinct ids.  A per-IP sorted
    sweep: a parent that ends after the child cannot start more than the
    longest span's duration before the child's end."""
    longest = max(s[5] - s[3] for s in spans)
    by_dst: dict[str, list[tuple]] = {}
    for s in spans:
        by_dst.setdefault(s[2], []).append((s[3], s[5], s[0]))
    index = {}
    for ip, ps in by_dst.items():
        ps.sort()
        index[ip] = ([p[0] for p in ps], ps)
    out = []
    for c in spans:
        if c[1] not in index:
            continue
        starts, ps = index[c[1]]
        for k in range(bisect.bisect_left(starts, c[5] - longest),
                       bisect.bisect_right(starts, c[3])):
            if ps[k][1] >= c[5] and ps[k][2] != c[0]:
                out.append((ps[k][2], c[0]))
    return out


def oracle(spans: list[tuple]) -> dict[str, tuple]:
    """id -> full linked record (the six span fields, sorted parents, sorted
    children), computed without Spark from the linker's predicate."""
    parents: dict[str, list[str]] = {s[0]: [] for s in spans}
    children: dict[str, list[str]] = {s[0]: [] for s in spans}
    for p, c in _edges(spans):
        parents[c].append(p)
        children[p].append(c)
    return {
        s[0]: s + (tuple(sorted(parents[s[0]])), tuple(sorted(children[s[0]])))
        for s in spans
    }


def record_from_json(line: str) -> tuple:
    d = json.loads(line)
    return (d["id"], d["src_ip"], d["dst_ip"], d["start_at_ms"],
            d["latency_msec"], d["end_at_ms"],
            tuple(d["parents"]), tuple(d["children"]))


def failures(output: list[tuple], expected: dict[str, tuple]) -> dict[str, int]:
    """Failed spans by kind: missing, emitted more than once, record differs
    from the oracle, or an id the oracle does not know."""
    seen = Counter(r[0] for r in output)
    return {
        "missing": sum(1 for i in expected if seen[i] == 0),
        "duplicated": sum(1 for i in expected if seen[i] > 1),
        "differing": sum(1 for r in output if seen[r[0]] == 1
                         and r[0] in expected and r != expected[r[0]]),
        "unknown": sum(1 for i in seen if i not in expected),
    }


def needed_release(spans_sched: list[tuple[float, tuple]],
                   expected: dict[str, tuple]) -> dict[str, float]:
    """Per span: the scheduled release of the last event its output needs,
    namely the later of (a) the last release among the span and its oracle
    parents and children and (b) the first release of a span starting past
    its end plus the watermark horizon (the event that closes it).  The
    schedule must end with a sentinel that closes every other span."""
    rel = {s[0]: t for t, s in spans_sched}
    by_start = sorted((s[3], t) for t, s in spans_sched)
    starts = [st for st, _ in by_start]
    # suffix minimum of release time over spans sorted by start
    suffix = [0.0] * (len(by_start) + 1)
    suffix[-1] = float("inf")
    for k in range(len(by_start) - 1, -1, -1):
        suffix[k] = min(by_start[k][1], suffix[k + 1])
    out = {}
    for sid, rec in expected.items():
        closer = suffix[bisect.bisect_right(starts, rec[5] + WATERMARK_MS)]
        out[sid] = max([rel[sid], closer]
                       + [rel[o] for o in rec[6]] + [rel[o] for o in rec[7]])
    return out
