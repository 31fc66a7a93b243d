"""Per-layer tracing from outside the program: wall-clock spans around the
benchmark's own calls into the package, joined with Spark's own records
(the event log, each query's planning tracker, and streaming progress).

Spans live in memory and are written out only when the run ends.  Jobs are
attributed to the span whose interval holds their submission time, because
jobs started on worker threads (as q136 does for its recall families) carry
no job group.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener


@dataclass
class Span:
    name: str              # query key, or a tick-feed phase
    layer: str             # "build" | "exec" | "stream"
    start: float
    end: float


@dataclass
class Spans:
    items: list[Span] = field(default_factory=list)

    def record(self, name: str, layer: str, start: float, end: float) -> None:
        self.items.append(Span(name, layer, start, end))

    def owner(self, t_s: float) -> Span | None:
        for s in self.items:
            if s.start <= t_s <= s.end:
                return s
        return None


class EventLogGate:
    """Detaches Spark's event-log listener for the untraced passes of a traced
    run and attaches it again for the traced ones, so one session gives
    adjacent untraced/traced pairs.  The listener bus is drained before each
    switch, so no event of a traced pass is lost and none of an untraced one
    is written."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._logger = self._sc.eventLogger().get()
        self.on = True

    def set(self, on: bool) -> None:
        if on == self.on:
            return
        self._sc.listenerBus().waitUntilEmpty()
        if on:
            self._sc.addSparkListener(self._logger)
        else:
            self._sc.removeSparkListener(self._logger)
        self.on = on


def overhead(pairs: list[tuple[float, float]]) -> dict[str, float]:
    """``trace.overhead_*`` from (untraced, traced) timings of the same work,
    each pair taken back to back: the median pair difference, and that as a
    share of the median untraced timing.  Callers alternate the order within
    pairs (untraced first, then traced first), so warm-up drift cancels."""
    d = statistics.median(t - u for u, t in pairs)
    return {"trace.overhead_s": d,
            "trace.overhead_pct": 100.0 * d / statistics.median(u for u, _ in pairs)}


def traced_turn(i: int) -> bool:
    """Whether the ``i``-th of a traced run's alternating passes is traced:
    untraced, traced, traced, untraced, ... (pairs 0-1, 2-3, ...)."""
    return i % 4 in (1, 2)


def pairs(items: list, traced_of) -> list[tuple]:
    """(untraced, traced) pairs of back-to-back items."""
    out = []
    for a, b in zip(items[0::2], items[1::2]):
        out.append((a, b) if traced_of(b) else (b, a))
    return out


def planning_phases(df) -> dict[str, float]:
    """Seconds per Catalyst phase from the ``QueryPlanningTracker`` of the
    DataFrame's own query execution, after forcing its physical plan.

    The noop write that follows plans a query execution of its own, so this
    is a proxy: a separate planning of the same logical plan."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = opt.get().durationMs() / 1000.0 if opt.isDefined() else 0.0
    return out


class ProgressLog(StreamingQueryListener):
    """Keeps every micro-batch progress report of every streaming query."""

    def __init__(self):
        self.progress: list[dict] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = json.loads(event.progress.json)
        p["_received"] = time.time()
        self.progress.append(p)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def streaming_layers(progress: list[dict], burst_batch_ids: set[int] | None = None) -> dict[str, float]:
    """streaming.* metrics from progress reports (``durationMs`` parts per
    micro-batch plus stateful-operator figures)."""
    def dur(key):
        return _median([p["durationMs"].get(key, 0) for p in progress])

    ops = [s for p in progress for s in p.get("stateOperators", [])]
    out = {
        "streaming.batches": float(len(progress)),
        "streaming.trigger_ms_p50": dur("triggerExecution"),
        "streaming.add_batch_ms_p50": dur("addBatch"),
        "streaming.query_planning_ms_p50": dur("queryPlanning"),
        "streaming.wal_commit_ms_p50": dur("walCommit"),
        "streaming.commit_offsets_ms_p50": dur("commitOffsets"),
        "streaming.latest_offset_ms_p50": dur("latestOffset"),
        "streaming.state_commit_ms": float(sum(s.get("commitTimeMs", 0) for s in ops)),
        "streaming.state_rows_max": float(max((s.get("numRowsTotal", 0) for s in ops), default=0)),
        "streaming.state_memory_bytes_max": float(max((s.get("memoryUsedBytes", 0) for s in ops), default=0)),
        "streaming.rows_dropped_by_watermark": float(sum(s.get("numRowsDroppedByWatermark", 0) for s in ops)),
    }
    burst = [p for p in progress if burst_batch_ids and p["batchId"] in burst_batch_ids]
    out["streaming.input_rows_per_s"] = _median(
        [p.get("processedRowsPerSecond", 0.0) for p in burst if p.get("numInputRows", 0) > 0]
    )
    return out


def read_event_log(log_dir: str) -> list[dict]:
    """Every event of the (single, uncompressed) application log."""
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path) as fh:
            for line in fh:
                if line.strip():
                    events.append(json.loads(line))
    return events


def exec_layers(events: list[dict], spans: Spans, n_passes: int) -> dict[str, float]:
    """Attribute jobs to spans by submission time and total their task
    metrics per layer, as a per-pass mean."""
    job_span: dict[int, Span] = {}
    stage_job: dict[int, int] = {}
    job_time: dict[int, list[float]] = {}
    t_first = min((s.start for s in spans.items), default=0.0)
    t_last = max((s.end for s in spans.items), default=0.0)
    unattributed = 0
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            t = e["Submission Time"] / 1000.0
            span = spans.owner(t)
            if span is None:
                unattributed += t_first <= t <= t_last
                continue
            job_span[e["Job ID"]] = span
            job_time[e["Job ID"]] = [t, t]
            for sid in e.get("Stage IDs", []):
                stage_job[sid] = e["Job ID"]
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in job_time:
            job_time[e["Job ID"]][1] = e["Completion Time"] / 1000.0

    acc = {k: 0.0 for k in (
        "eager_jobs", "eager_tasks", "eager_job_s", "jobs", "stages", "tasks",
        "run_ms", "cpu_ms", "gc_ms", "shuffle_write", "shuffle_read", "spill",
        "result_bytes", "input_bytes", "input_rows",
    )}
    for jid, span in job_span.items():
        if span.layer == "build":
            acc["eager_jobs"] += 1
            acc["eager_job_s"] += job_time[jid][1] - job_time[jid][0]
        else:
            acc["jobs"] += 1
    stage_tasks: dict[int, list[float]] = {}
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerStageCompleted":
            sid = e["Stage Info"]["Stage ID"]
            if sid in stage_job and job_span[stage_job[sid]].layer != "build":
                acc["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            sid = e["Stage ID"]
            if sid not in stage_job:
                continue
            m = e.get("Task Metrics") or {}
            if job_span[stage_job[sid]].layer == "build":
                acc["eager_tasks"] += 1
                continue
            acc["tasks"] += 1
            run_ms = m.get("Executor Run Time", 0)
            acc["run_ms"] += run_ms
            acc["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
            acc["gc_ms"] += m.get("JVM GC Time", 0)
            acc["result_bytes"] += m.get("Result Size", 0)
            acc["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            sr = m.get("Shuffle Read Metrics", {})
            acc["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            acc["shuffle_write"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            im = m.get("Input Metrics", {})
            acc["input_bytes"] += im.get("Bytes Read", 0)
            acc["input_rows"] += im.get("Records Read", 0)
            stage_tasks.setdefault(sid, []).append(run_ms)
    # skew: slowest task over the median task, median across stages with
    # at least two tasks
    skews = [max(ts) / max(1.0, statistics.median(ts)) for ts in stage_tasks.values() if len(ts) > 1]
    n = max(1, n_passes)
    return {
        "queries.eager_jobs": acc["eager_jobs"] / n,
        "queries.eager_tasks": acc["eager_tasks"] / n,
        "queries.eager_job_s": acc["eager_job_s"] / n,
        "exec.jobs": acc["jobs"] / n,
        "exec.stages": acc["stages"] / n,
        "exec.tasks": acc["tasks"] / n,
        "exec.executor_run_ms": acc["run_ms"] / n,
        "exec.executor_cpu_ms": acc["cpu_ms"] / n,
        "exec.gc_ms": acc["gc_ms"] / n,
        "exec.shuffle_write_bytes": acc["shuffle_write"] / n,
        "exec.shuffle_read_bytes": acc["shuffle_read"] / n,
        "exec.spill_bytes": acc["spill"] / n,
        "exec.result_bytes": acc["result_bytes"] / n,
        "exec.task_skew": _median(skews),
        "exec.unattributed_jobs": float(unattributed),
        "sources.input_bytes": acc["input_bytes"] / n,
        "sources.input_rows": acc["input_rows"] / n,
    }
