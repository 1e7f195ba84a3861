"""The three workloads, run against the public functions of
``streaming.pipeline``, ``operators.linking`` and ``streaming.stateful``.

Every workload reports the same end-to-end metric names so that a run of any
workload prints every metric the benchmark declares.  The batch workloads
time the fused pipeline pass by pass; ``stream_live`` replays traffic in real
time, open loop, through the concurrent two-phase streaming pipeline.
"""

from __future__ import annotations

import glob
import math
import os
import statistics
import threading
import time
from dataclasses import dataclass, field

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from simpy__kafka__flink__kafka_spark.operators.linking import (
    aggregate_adjacency,
    link_edges_banded,
    link_traces,
)
from simpy__kafka__flink__kafka_spark.session import get_spark
from simpy__kafka__flink__kafka_spark.streaming.pipeline import (
    aggregate_bridge,
    link_traces_two_phase,
    parse_spans,
    serialize_linked,
    with_event_time,
)

from . import traffic
from .probes import (ProgressListener, RssSampler, Tracer, group_stats,
                     host_steal_share, join_strategies, sql_executions)

# Batch shapes.  batch_uniform is the reference's `--interval 50` traffic
# (10 IPs per tier); batch_hotcell keeps the skewed cell shape of 1 IP per
# tier at 5 ms, so every span lands in one of a few (ip, band) cells.
BATCH_SHAPES = {
    "batch_uniform": traffic.Shape(n_traces=30_000, ip_pool_size=10,
                                   mean_interarrival_ms=50.0),
    "batch_hotcell": traffic.Shape(n_traces=3_000, ip_pool_size=1,
                                   mean_interarrival_ms=5.0),
}
# 4.8 spans per trace every 50 ms: ~96 spans/s, the reference's published
# sustained rate
STREAM_INTERARRIVAL_MS = 50.0
STREAM_SPANS_PER_S = 96
EPOCH_S = 2.0             # real-time length of one stream epoch (see run_stream)
RAMP_S = 3.0              # event time generated before each epoch opens
STREAM_POOL = 10
WARMUP_TRACES = 60        # warm-up traffic pushed through the stream set-up
FEED_TICK_S = 0.1         # the feeder writes one file per tick at most
DRAIN_TIMEOUT_S = 90.0    # give up waiting for stream output after this
# pass times vary by ~10% from pass to pass, so a run times at least
# MIN_PASSES and reports their median
MIN_PASSES = 4
# untimed passes after set-up, over the first 1/SETTLE_SHARE of the input.
# After the cold pass, full passes keep getting faster for 3-5 more passes
# while the JIT compiles code that runs once per query (planning, scheduling);
# small passes warm that code at a fraction of the cost.
SETTLE_PASSES = 8
SETTLE_SHARE = 8


@dataclass
class Context:
    workload: str
    seed: int
    seconds: float
    scale: float
    cpus: int
    work: str
    tracer: Tracer
    spark: SparkSession | None = None
    listener: ProgressListener | None = None
    setup: tuple[float, float] = (0.0, 0.0)    # (session start, warm-up) in s
    printed: dict = field(default_factory=dict)

    def dir(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def start_session(self, cpus: int | None = None) -> float:
        """(Re)start the Spark session; returns its start time in s."""
        t0 = time.perf_counter()
        if self.spark is not None:
            self.spark.stop()
        os.environ["SPARK_GRAFT_CPUS"] = str(cpus or self.cpus)
        self.spark = get_spark("perfbench")
        if self.listener is not None:
            self.spark.streams.addListener(self.listener)
        return time.perf_counter() - t0


@dataclass
class Result:
    attempted: int
    failed: int
    metrics: dict[str, tuple[float, str]]      # name -> (value, unit)
    extra: dict[str, tuple[float, str]]        # printed, not in the JSON line
    layers: dict[str, tuple[float, str]] = field(default_factory=dict)


class Window:
    """The host's CPU steal share between construction and ``close()``: the
    share of time the hypervisor ran other guests while this one wanted to
    run.  Printed next to wall-clock metrics, which it inflates."""

    def __init__(self):
        self._start = host_steal_share()

    def close(self) -> None:
        steal, total = host_steal_share()
        self.steal_share = (steal - self._start[0]) / max(1, total - self._start[1])


def _setup_summary(ctx: Context) -> tuple[float, dict]:
    """setup_s, the one cold set-up of the run, and its two parts."""
    start_s, warmup_s = ctx.setup
    return start_s + warmup_s, {"session.start_s": (start_s, "s"),
                                "session.warmup_s": (warmup_s, "s")}


# --------------------------------------------------------------------- batch

def _fused_pass(spark: SparkSession, in_dir: str, out_dir: str) -> float:
    t0 = time.perf_counter()
    raw = spark.read.text(in_dir)
    serialize_linked(link_traces(parse_spans(raw))).write.mode(
        "overwrite").text(out_dir)
    return time.perf_counter() - t0


def _read_output(out_dir: str) -> list[tuple]:
    rows = []
    for path in sorted(glob.glob(os.path.join(out_dir, "part-*"))):
        with open(path) as f:
            rows.extend(traffic.record_from_json(line) for line in f if line.strip())
    return rows


def run_batch(ctx: Context) -> Result:
    shape = BATCH_SHAPES[ctx.workload]
    shape = traffic.Shape(max(10, int(shape.n_traces * ctx.scale)),
                          shape.ip_pool_size, shape.mean_interarrival_ms)
    spans = traffic.make_spans(shape, ctx.seed)
    in_dir, out_dir = ctx.dir("input"), ctx.dir("output")
    input_bytes = traffic.write_wire_files(spans, in_dir, n_files=2 * ctx.cpus)
    settle_dir = ctx.dir("settle_input")
    traffic.write_wire_files(spans[:len(spans) // SETTLE_SHARE], settle_dir,
                             n_files=2 * ctx.cpus)
    expected = traffic.oracle(spans)

    with ctx.tracer.span("workload", workload=ctx.workload, spans=len(spans)):
        with RssSampler() as rss:
            with ctx.tracer.span("setup"):
                start_s = ctx.start_session()
                ctx.setup = (start_s, _fused_pass(ctx.spark, in_dir, out_dir))
            for k in range(SETTLE_PASSES):
                with ctx.tracer.span("settle", k=k):
                    _fused_pass(ctx.spark, settle_dir, out_dir)
            passes = []
            window = Window()
            deadline = time.perf_counter() + ctx.seconds
            while len(passes) < MIN_PASSES or time.perf_counter() < deadline:
                with ctx.tracer.span("pass", k=len(passes)):
                    passes.append(_fused_pass(ctx.spark, in_dir, out_dir))
            window.close()
        kinds = traffic.failures(_read_output(out_dir), expected)
        failed = sum(kinds.values())

    setup_s, setup_extra = _setup_summary(ctx)
    ctx.printed["pass_s"] = [round(p, 3) for p in passes]
    pass_ms = sorted(p * 1000.0 for p in passes)
    metrics = {
        "setup_s": (setup_s, "s"),
        "spans_per_s": (len(spans) / statistics.median(passes), "spans/s"),
        # all spans of a pass are emitted when its output is complete and
        # all its input was available when it began: latency = pass time
        "latency_p50_ms": (statistics.median(pass_ms), "ms"),
        "latency_p99_ms": (_percentile(pass_ms, 0.99), "ms"),
        "peak_rss_mb": (rss.peak_mb, "MB"),
    }
    extra = {
        "failed_span_ratio": (failed / len(spans), "ratio"),
        **{f"failed.{k}": (v, "spans") for k, v in kinds.items()},
        "host.steal_share": (window.steal_share, "ratio"),
        "input_spans": (len(spans), "spans"),
        "passes": (len(passes), "count"),
        **setup_extra,
    }
    res = Result(len(spans), failed, metrics, extra)
    if ctx.tracer.enabled:
        res.layers = measure_layers(ctx, spans, in_dir, input_bytes, expected)
        res.layers.update(setup_extra)
        if ctx.workload == "batch_uniform":
            res.layers.update(single_core_baseline(ctx, len(spans), in_dir))
    return res


def _percentile(sorted_vals: list[float], q: float) -> float:
    """Nearest-rank percentile of an ascending list."""
    return sorted_vals[max(0, math.ceil(q * len(sorted_vals)) - 1)]


def single_core_baseline(ctx: Context, n_spans: int, in_dir: str) -> dict:
    """batch_uniform at local[1]: one untimed pass, one timed pass."""
    with ctx.tracer.span("local1_baseline"):
        ctx.start_session(cpus=1)
        out_dir = ctx.dir("output_local1")
        _fused_pass(ctx.spark, in_dir, out_dir)
        wall = _fused_pass(ctx.spark, in_dir, out_dir)
        ctx.start_session()
    return {"local1.spans_per_s": (n_spans / wall, "spans/s")}


def measure_layers(ctx: Context, spans: list[tuple], in_dir: str,
                   input_bytes: int, expected: dict) -> dict:
    """Per-layer numbers for the batch pipeline on ``spans``.

    Counts come from ``DataFrame.observe`` at the parse, join and adjacency
    boundaries of one fused pass; task time, shuffle, spill and skew come from
    the status store, per job group, over one isolated pass per layer whose
    input is cached and counted first.  Tracing overhead is the traced fused
    pass minus the median of two untraced ones.
    """
    spark, sc, tr = ctx.spark, ctx.spark.sparkContext, ctx.tracer
    out_dir = ctx.dir("layers_out")
    layers: dict[str, tuple[float, str]] = {}
    with tr.span("layers"):
        untraced = [_fused_pass(spark, in_dir, out_dir) for _ in range(2)]

        from pyspark.sql import Observation
        obs = {k: Observation(k) for k in ("parse", "join", "adj")}
        t0 = time.perf_counter()
        with tr.span("fused_traced"):
            sc.setJobGroup("fused", "fused traced pass")
            raw = spark.read.text(in_dir)
            parsed = parse_spans(raw).observe(
                obs["parse"], F.count(F.lit(1)).alias("rows"))
            edges = link_edges_banded(parsed).observe(
                obs["join"], F.count(F.lit(1)).alias("rows"))
            linked = aggregate_adjacency(parsed, edges).observe(
                obs["adj"], F.count(F.lit(1)).alias("rows"))
            serialize_linked(linked).write.mode("overwrite").text(out_dir)
        traced = time.perf_counter() - t0
        fused = group_stats(spark, "fused")
        strategies = join_strategies(spark, fused["job_ids"])
        if sum(traffic.failures(_read_output(out_dir), expected).values()):
            raise RuntimeError("traced fused pass output differs from the oracle")
        n_edges = obs["join"].get["rows"]
        pairs = traffic.candidate_pairs(spans)

        # each layer's input is cached and counted outside every layer's job
        # group, so a group holds only its own isolated pass
        def untracked() -> None:
            sc.setJobGroup("other", "untracked")

        untracked()
        raw = spark.read.text(in_dir).cache()
        n_raw = raw.count()
        with tr.span("layer.parse"):
            sc.setJobGroup("parse", "isolated parse")
            parse_spans(raw).write.format("noop").mode("overwrite").save()
        untracked()
        parsed = parse_spans(raw).cache()
        parsed.count()
        with tr.span("layer.join"):
            sc.setJobGroup("join", "isolated join")
            link_edges_banded(parsed).write.format("noop").mode("overwrite").save()
        untracked()
        edges = link_edges_banded(parsed).cache()
        edges.count()
        with tr.span("layer.adj"):
            sc.setJobGroup("adj", "isolated adjacency")
            aggregate_adjacency(parsed, edges).write.format("noop").mode(
                "overwrite").save()
        untracked()
        linked = aggregate_adjacency(parsed, edges).cache()
        linked.count()
        sink_dir = ctx.dir("layers_sink")
        with tr.span("layer.sink"):
            sc.setJobGroup("sink", "isolated sink")
            serialize_linked(linked).write.mode("overwrite").text(sink_dir)
        untracked()
        stats = {k: group_stats(spark, k) for k in ("parse", "join", "adj", "sink")}
        for k, st in stats.items():
            n = len(sql_executions(spark, st["job_ids"]))
            if n != 1:
                raise RuntimeError(f"job group '{k}' ran {n} queries, not its "
                                   "isolated pass alone")
        iso_strategies = join_strategies(spark, stats["join"]["job_ids"])
        for df in (raw, parsed, edges, linked):
            df.unpersist()

    sink_files = glob.glob(os.path.join(sink_dir, "part-*"))
    layers.update({
        "parse.rows_in": (n_raw, "rows"),
        "parse.rows_out": (obs["parse"].get["rows"], "rows"),
        "parse.input_bytes": (input_bytes, "bytes"),
        "parse.task_s": (stats["parse"]["task_s"], "s"),
        "join.candidate_pairs": (pairs, "pairs"),
        "join.edges": (n_edges, "edges"),
        "join.useful_ratio": (n_edges / pairs if pairs else 0.0, "ratio"),
        "join.task_s": (stats["join"]["task_s"], "s"),
        "join.task_skew": (stats["join"]["task_skew"], "ratio"),
        "join.shuffle_write_bytes": (stats["join"]["shuffle_write_bytes"], "bytes"),
        "join.spill_bytes": (stats["join"]["spill_bytes"], "bytes"),
        "adj.update_rows": (2 * n_edges, "rows"),
        "adj.rows_out": (obs["adj"].get["rows"], "rows"),
        "adj.task_s": (stats["adj"]["task_s"], "s"),
        "adj.shuffle_write_bytes": (stats["adj"]["shuffle_write_bytes"], "bytes"),
        "adj.spill_bytes": (stats["adj"]["spill_bytes"], "bytes"),
        "sink.rows": (len(_read_output(sink_dir)), "rows"),
        "sink.bytes_written": (sum(os.path.getsize(p) for p in sink_files), "bytes"),
        "sink.files": (len(sink_files), "files"),
        "sink.task_s": (stats["sink"]["task_s"], "s"),
        "fused.task_s": (fused["task_s"], "s"),
        "fused.sort_merge_joins": (strategies.get("SortMergeJoin", 0), "count"),
        "fused.broadcast_hash_joins": (strategies.get("BroadcastHashJoin", 0), "count"),
        "isolated_join.sort_merge_joins": (iso_strategies.get("SortMergeJoin", 0), "count"),
        "isolated_join.broadcast_hash_joins": (
            iso_strategies.get("BroadcastHashJoin", 0), "count"),
        "trace.overhead_s": (traced - statistics.median(untraced), "s"),
    })
    ctx.printed["fused_join_strategy"] = strategies
    ctx.printed["isolated_join_strategy"] = iso_strategies
    return layers


# -------------------------------------------------------------------- stream

class Feeder(threading.Thread):
    """Open-loop replay: every tick, writes the spans whose scheduled
    release has come as one JSON-lines file, atomically (write a hidden file,
    then rename), whether or not the pipeline has kept up."""

    def __init__(self, schedule: list[tuple[float, tuple]], feed_dir: str,
                 t0: float):
        super().__init__(daemon=True)
        self.schedule, self.feed_dir, self.t0 = schedule, feed_dir, t0
        self.released: list[tuple[float, int]] = []   # (time, cumulative spans)
        self.late_max_s = 0.0
        self.error: BaseException | None = None

    def run(self) -> None:
        try:
            i, n_file, next_wake = 0, 0, self.t0
            while i < len(self.schedule):
                wake = max(self.t0 + self.schedule[i][0], next_wake)
                if wake > time.time():
                    time.sleep(wake - time.time())
                now = time.time()
                next_wake = now + FEED_TICK_S
                batch = []
                while i < len(self.schedule) and self.t0 + self.schedule[i][0] <= now:
                    self.late_max_s = max(self.late_max_s,
                                          now - self.t0 - self.schedule[i][0])
                    batch.append(self.schedule[i][1])
                    i += 1
                n_file += 1
                _write_atomic(self.feed_dir, f"feed-{n_file:06d}.json", batch)
                self.released.append((time.time(), i))
        except BaseException as e:  # re-raised by the caller after join
            self.error = e


def _write_atomic(directory: str, name: str, spans: list[tuple]) -> None:
    tmp = os.path.join(directory, "." + name)
    with open(tmp, "w") as f:
        f.write("".join(traffic.to_wire(s) + "\n" for s in spans))
    os.rename(tmp, os.path.join(directory, name))


class EmitSink:
    """The benchmark's own foreachBatch sink: collects each emitted batch and
    stamps it with the time the collect finished."""

    def __init__(self):
        self.rows: list[tuple] = []
        self.times: list[float] = []
        self._lock = threading.Lock()

    def __call__(self, df, batch_id: int) -> None:
        got = [(r.id, r.src_ip, r.dst_ip, r.start_at_ms, r.latency_msec,
                r.end_at_ms, tuple(r.parents), tuple(r.children))
               for r in df.collect()]
        t = time.time()
        with self._lock:
            self.rows.extend(got)
            self.times.extend([t] * len(got))

    def count_ids(self, ids: set) -> int:
        with self._lock:
            return sum(1 for r in self.rows if r[0] in ids)


def _wait(cond, timeout: float, what: str, queries=()) -> None:
    end = time.time() + timeout
    while not cond():
        for q in queries:
            if q.exception() is not None:
                raise RuntimeError(f"streaming query failed: {q.exception()}")
        if time.time() > end:
            raise TimeoutError(f"timed out waiting for {what}")
        time.sleep(0.05)


def _start_stream(ctx: Context, root: str):
    """Phase 1 on fresh directories: the stream-stream join into the parquet
    bridge.  Phase 2 must start only once the bridge's metadata log exists,
    so that it reads committed files only."""
    feed, bridge = os.path.join(root, "feed"), os.path.join(root, "bridge")
    os.makedirs(feed)
    spark = ctx.spark
    spans = with_event_time(parse_spans(spark.readStream.text(feed)))
    q1 = link_traces_two_phase(spans, bridge, os.path.join(root, "ck1"))
    return q1, feed, bridge


def _start_phase2(ctx: Context, root: str, bridge: str, sink: EmitSink):
    return (aggregate_bridge(ctx.spark, bridge).writeStream
            .foreachBatch(sink)
            .option("checkpointLocation", os.path.join(root, "ck2"))
            .start())


def run_stream(ctx: Context) -> Result:
    warm = traffic.make_spans(traffic.Shape(WARMUP_TRACES, STREAM_POOL,
                                            STREAM_INTERARRIVAL_MS),
                              ctx.seed + 1, id_prefix="warm_")
    warm.append(traffic.sentinel_after(warm, "warm_sentinel"))
    # The measured feed is a run of epochs, each ~EPOCH_S of real-time traffic
    # (the first spans in release order), released back to back.  Each epoch
    # starts more than the watermark horizon after the previous epoch's last
    # end, so the first span of the next epoch closes it; a sentinel closes
    # the last.  Every span is sent before anything that makes it late, so
    # nothing is dropped, and each epoch boundary is one watermark close.
    n_spans = max(20, int(ctx.seconds * STREAM_SPANS_PER_S * ctx.scale))
    n_epochs = max(1, round(ctx.seconds / EPOCH_S))
    sched, start_ms, offset = [], warm[-1][3] + 1, 0.0
    per_epoch = n_spans // n_epochs
    # traffic for RAMP_S before the epoch opens, so send delays are already
    # in steady state when it does; spans released before it opens are not sent
    n_traces = int(per_epoch / STREAM_SPANS_PER_S * 1.5 * 1000 / STREAM_INTERARRIVAL_MS
                   + RAMP_S * 1000 / STREAM_INTERARRIVAL_MS)
    for e in range(n_epochs):
        generated = traffic.make_spans(
            traffic.Shape(n_traces, STREAM_POOL, STREAM_INTERARRIVAL_MS),
            ctx.seed * 1000 + e, id_prefix=f"e{e}_", start_ms=start_ms)
        epoch = [(t, s) for t, s in traffic.release_schedule(generated, ctx.seed * 1000 + e)
                 if t >= RAMP_S][:per_epoch]
        sched += [(offset + t - RAMP_S, s) for t, s in epoch]
        offset = sched[-1][0] + FEED_TICK_S
        start_ms = traffic.sentinel_after([s for _, s in epoch], "next")[3]
    spans = [s for _, s in sched]
    sched.append((offset, traffic.sentinel_after(spans, "sentinel")))
    expected = traffic.oracle(spans)
    needed = traffic.needed_release(sched, expected)
    warm_ids = {s[0] for s in warm}
    ids = set(expected)
    if ctx.tracer.enabled:
        ctx.listener = ProgressListener()

    with ctx.tracer.span("workload", workload=ctx.workload, spans=len(spans)):
        with RssSampler() as rss:
            with ctx.tracer.span("setup"):
                start_s = ctx.start_session()
                t0 = time.perf_counter()
                root = ctx.dir("stream")
                sink = EmitSink()
                with ctx.tracer.span("phase1_start"):
                    q1, feed, bridge = _start_stream(ctx, root)
                    _write_atomic(feed, "warm.json", warm)
                    _wait(lambda: os.path.isdir(
                        os.path.join(bridge, "_spark_metadata")),
                        DRAIN_TIMEOUT_S, "phase 1's bridge sink", [q1])
                with ctx.tracer.span("phase2_start"):
                    q2 = _start_phase2(ctx, root, bridge, sink)
                with ctx.tracer.span("warmup_output"):
                    _wait(lambda: sink.count_ids(warm_ids) >= len(warm) - 1,
                          DRAIN_TIMEOUT_S, "warm-up output", [q1, q2])
                ctx.setup = (start_s, time.perf_counter() - t0)

            t_start = time.time() + 0.2
            feeder = Feeder(sched, feed, t_start)
            window = Window()
            with ctx.tracer.span("feed_and_drain"):
                feeder.start()
                feeder.join()
                if feeder.error is not None:
                    raise feeder.error
                try:
                    _wait(lambda: sink.count_ids(ids) >= len(ids),
                          DRAIN_TIMEOUT_S, "stream output", [q1, q2])
                except TimeoutError:
                    pass  # the missing spans count as failed below
            window.close()
            q1.stop()
            q2.stop()

    out = [(r, t) for r, t in zip(sink.rows, sink.times) if r[0] not in warm_ids]
    kinds = traffic.failures([r for r, _ in out], expected)
    failed = sum(kinds.values())
    emit = {}
    for r, t in out:
        emit.setdefault(r[0], t)
    lat_ms = sorted((t - (t_start + needed[i])) * 1000.0
                    for i, t in emit.items() if i in needed)
    last_emit = max(emit.values()) if emit else time.time()
    setup_s, setup_extra = _setup_summary(ctx)
    metrics = {
        "setup_s": (setup_s, "s"),
        "spans_per_s": (len(spans) / (last_emit - t_start), "spans/s"),
        "latency_p50_ms": (statistics.median(lat_ms), "ms"),
        "latency_p99_ms": (_percentile(lat_ms, 0.99), "ms"),
        "peak_rss_mb": (rss.peak_mb, "MB"),
    }
    extra = {
        "failed_span_ratio": (failed / len(spans), "ratio"),
        **{f"failed.{k}": (v, "spans") for k, v in kinds.items()},
        "host.steal_share": (window.steal_share, "ratio"),
        "stream_lag_s": (last_emit - (t_start + sched[-1][0]), "s"),
        "latency_samples": (len(lat_ms), "spans"),
        "input_spans": (len(spans), "spans"),
        "feed_seconds": (sched[-1][0], "s"),
        **setup_extra,
    }
    res = Result(len(spans), failed, metrics, extra)
    if ctx.tracer.enabled:
        res.layers = stream_layers(ctx, q1, q2, feeder, t_start, bridge, len(out))
        res.layers.update(setup_extra)
        in_dir = ctx.dir("stream_batch_input")
        nbytes = traffic.write_wire_files(spans, in_dir, n_files=2 * ctx.cpus)
        res.layers.update(measure_layers(ctx, spans, in_dir, nbytes, expected))
    return res


def stream_layers(ctx: Context, q1, q2, feeder: Feeder, since: float,
                  bridge: str, emitted: int) -> dict:
    out: dict[str, tuple[float, str]] = {}
    for tag, q in (("p1", q1), ("p2", q2)):
        prog = ctx.listener.progress(str(q.id), since)
        dur = sorted(float(p.durationMs.get("triggerExecution", 0)) for p in prog)
        add = sorted(float(p.durationMs.get("addBatch", 0)) for p in prog)
        ops = [p.stateOperators for p in prog]
        out.update({
            f"{tag}.batches": (len(prog), "count"),
            f"{tag}.batch_ms_p50": (statistics.median(dur) if dur else 0.0, "ms"),
            f"{tag}.batch_ms_p99": (_percentile(dur, 0.99) if dur else 0.0, "ms"),
            f"{tag}.add_batch_ms_p50": (statistics.median(add) if add else 0.0, "ms"),
            f"{tag}.input_rows": (sum(p.numInputRows for p in prog), "rows"),
            f"{tag}.state_rows_max": (max((sum(o.numRowsTotal for o in s)
                                           for s in ops), default=0), "rows"),
            f"{tag}.state_bytes_max": (max((sum(o.memoryUsedBytes for o in s)
                                            for s in ops), default=0), "bytes"),
            f"{tag}.rows_dropped_by_watermark": (
                sum(o.numRowsDroppedByWatermark for s in ops for o in s), "rows"),
        })
        if tag == "p1":
            # backlog: spans released but not yet read by phase 1, sampled at
            # each phase-1 progress event
            consumed, backlog = 0, 0
            for p in prog:
                t = _progress_time(p)
                released = max((n for rt, n in feeder.released if rt <= t), default=0)
                backlog = max(backlog, released - consumed)
                consumed += p.numInputRows
            out["feed.backlog_spans_max"] = (backlog, "spans")
    out["p2.emitted_rows"] = (emitted, "rows")
    files = [p for p in glob.glob(os.path.join(bridge, "*.parquet"))
             if os.path.getmtime(p) >= since]
    out["bridge.files"] = (len(files), "files")
    out["bridge.bytes"] = (sum(os.path.getsize(p) for p in files), "bytes")
    out["bridge.rows"] = (out["p2.input_rows"][0], "rows")
    out["feed.release_late_ms_max"] = (feeder.late_max_s * 1000.0, "ms")
    return out


def _progress_time(p) -> float:
    """Trigger start of a progress event as epoch seconds."""
    from datetime import datetime, timezone
    ts = datetime.strptime(p.timestamp, "%Y-%m-%dT%H:%M:%S.%fZ")
    return ts.replace(tzinfo=timezone.utc).timestamp()
