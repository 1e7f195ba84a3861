"""Measurement helpers: an in-memory span tracer, a process-tree peak-RSS
sampler, Spark status-store readers keyed by job group, and a streaming
progress listener."""

from __future__ import annotations

import json
import os
import re
import statistics
import threading
import time
import uuid
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    """Spans (name, start, end, parent, run id) kept in memory and written
    once when the run ends.  A disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield {}
            return
        rec = {"id": len(self.spans), "name": name, "run_id": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None, "attrs": dict(attrs)}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec["attrs"]
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the time its children cover."""
        child_s: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_s[s["parent"]] = (child_s.get(s["parent"], 0.0)
                                        + s["end"] - s["start"])
        out: dict[str, float] = {}
        for s in self.spans:
            own = s["end"] - s["start"] - child_s.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans,
                       "self_s": self.self_times(), **extra}, f, indent=1)


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Samples, every ``period`` s, the sum of VmHWM over every descendant of
    this process (the Spark JVM and its Python workers) and keeps the
    largest sum seen.  A worker that starts and exits between two samples
    is missed."""

    def __init__(self, period: float = 0.5):
        self.period = period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        total = sum(_vm_hwm_kb(p) for p in descendants(os.getpid()))
        self.peak_kb = max(self.peak_kb, total)

    def _run(self) -> None:
        while not self._stop.wait(self.period):
            self._sample()

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self._sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def group_stats(spark, group: str) -> dict:
    """Task time, shuffle, spill and task skew over every stage of every job
    run under ``setJobGroup(group)``, read from Spark's status store."""
    store = spark.sparkContext._jsc.sc().statusStore()
    gw = spark.sparkContext._gateway
    jobs = store.jobsList(None)
    stage_ids = set()
    job_ids = set()
    for k in range(jobs.size()):
        job = jobs.apply(k)
        if job.jobGroup().isDefined() and job.jobGroup().get() == group:
            job_ids.add(job.jobId())
            ids = job.stageIds()
            stage_ids.update(ids.apply(i) for i in range(ids.size()))
    out = {"task_s": 0.0, "shuffle_write_bytes": 0, "spill_bytes": 0,
           "task_skew": 1.0, "job_ids": sorted(job_ids)}
    heaviest = (-1.0, None)
    for sid in stage_ids:
        attempts = store.stageData(sid, False, gw.jvm.java.util.ArrayList(),
                                   False, gw.new_array(gw.jvm.double, 0))
        for a in range(attempts.size()):
            st = attempts.apply(a)
            if st.numCompleteTasks() == 0:
                continue  # skipped stage: its shuffle output was reused
            run_s = st.executorRunTime() / 1000.0
            out["task_s"] += run_s
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            if run_s > heaviest[0]:
                heaviest = (run_s, (sid, st.attemptId()))
    if heaviest[1] is not None:
        tasks = store.taskList(heaviest[1][0], heaviest[1][1], 100_000)
        durs = [tasks.apply(i).duration().get() for i in range(tasks.size())
                if tasks.apply(i).duration().isDefined()]
        if durs and statistics.median(durs) > 0:
            out["task_skew"] = max(durs) / statistics.median(durs)
    return out


_JOINS = re.compile(r"\b(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin|"
                    r"BroadcastNestedLoopJoin|CartesianProduct)\b")


def sql_executions(spark, job_ids: list[int]) -> list:
    """The SQL executions (status-store records) that ran any of ``job_ids``."""
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    want = set(job_ids)
    out = []
    for k in range(execs.size()):
        ex = execs.apply(k)
        jobs = ex.jobs().keys().toList()
        if {jobs.apply(i) for i in range(jobs.size())} & want:
            out.append(ex)
    return out


def join_strategies(spark, job_ids: list[int]) -> dict[str, int]:
    """Counts of physical join operators in the final (post-AQE) plan of the
    SQL execution that ran ``job_ids``: the plan tree before its
    ``Initial Plan`` section and before the per-node details."""
    counts: dict[str, int] = {}
    for ex in sql_executions(spark, job_ids):
        tree = ex.physicalPlanDescription().split("== Initial Plan ==")[0]
        for name in _JOINS.findall(tree.split("\n\n(")[0]):
            counts[name] = counts.get(name, 0) + 1
    return counts


class ProgressListener(StreamingQueryListener):
    """Keeps every streaming progress event with the time it arrived."""

    def __init__(self):
        self.events: list[tuple[float, object]] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        with self._lock:
            self.events.append((time.time(), event.progress))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def progress(self, query_id: str, since: float) -> list:
        with self._lock:
            return [p for t, p in self.events
                    if t >= since and str(p.id) == query_id]


def shutdown_spark(spark) -> None:
    """Stop the session, then the JVM behind it, and wait for every child
    process (the JVM and its Python workers) to exit."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.time() + 30
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)



def host_steal_share() -> tuple[int, int]:
    """(steal ticks, total ticks) from /proc/stat, for a share over a window."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)
