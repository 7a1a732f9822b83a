"""Spans around the benchmark's calls into the program, and their roll-up.

A span is (id, parent, name, start, end) in wall-clock seconds, kept in
memory and written out once at the end of a run. Each span tags the Spark
jobs it launches with the job group ``workload/op/layer-call``. After the
run, :func:`rollup` reads the Spark event log (zstd, via pyarrow) and
assigns every job, stage and SQL execution to each span whose interval
holds its start time, so a span's counts include its children's. Time
attribution is used rather than the job group, because streaming queries
run their jobs on their own threads under their own group. Nothing here changes what the program does; the event log
and the streaming listener are the only hooks, both outside the program.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Records spans; with ``enabled`` False it only runs the body."""

    def __init__(self, spark_context, workload: str, enabled: bool):
        self.sc = spark_context
        self.workload = workload
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.progress: list[dict] = []  # streaming QueryProgress records

    @contextlib.contextmanager
    def paused(self):
        """Record nothing inside (untimed warm-up and checks)."""
        enabled, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = enabled

    @contextlib.contextmanager
    def span(self, name: str, attrs: dict | None = None):
        """Time the body as a child of the open span. ``attrs`` is kept by
        reference, so the caller may add to it after the span closes."""
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), parent.id if parent else None, name, time.time(),
                 attrs={} if attrs is None else attrs)
        self.spans.append(s)
        self._stack.append(s)
        root = self._stack[0]
        op = ":".join([root.name, *map(str, root.attrs.values())])  # e.g. query:kmeans_train
        self.sc.setJobGroup(f"{self.workload}/{op}/{name}", name, interruptOnCancel=False)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if self._stack:
                top = self._stack[-1]
                self.sc.setJobGroup(f"{self.workload}/{op}/{top.name}", top.name, interruptOnCancel=False)
            else:
                self.sc.setJobGroup(f"{self.workload}/idle", "idle", interruptOnCancel=False)

    def listen_streaming(self, spark) -> None:
        """Record each micro-batch's ``durationMs`` phases (the Structured
        Streaming progress model)."""
        from pyspark.sql.streaming import StreamingQueryListener

        progress = self.progress

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                progress.append({"t": time.time(), "batch": p.batchId, "durationMs": dict(p.durationMs)})

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        spark.streams.addListener(_Listener())


# ---------------------------------------------------------------------------
# Event-log roll-up
# ---------------------------------------------------------------------------

_STAGE_METRICS = {
    "internal.metrics.executorRunTime": "busy_ms",
    "internal.metrics.jvmGCTime": "gc_ms",
    "internal.metrics.shuffle.read.remoteBytesRead": "shuffle_read_bytes",
    "internal.metrics.shuffle.read.localBytesRead": "shuffle_read_bytes",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_bytes",
    "internal.metrics.memoryBytesSpilled": "spill_bytes",
    "internal.metrics.diskBytesSpilled": "spill_bytes",
    "internal.metrics.input.bytesRead": "input_bytes",
    "internal.metrics.output.bytesWritten": "output_bytes",
}
_COUNTERS = ("jobs", "stages", "tasks", "busy_ms", "gc_ms", "shuffle_read_bytes", "shuffle_write_bytes",
             "spill_bytes", "input_bytes", "output_bytes", "exchanges", "sql_executions", "batches")


def read_event_log(log_dir: str) -> list[dict]:
    import pyarrow as pa

    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True)):
        codec = "zstd" if path.endswith(".zstd") else None
        with pa.input_stream(path, compression=codec) as f:
            text = f.read().decode()
        events.extend(json.loads(line) for line in text.splitlines() if line.strip())
    return events


def _count_exchanges(plan: dict) -> int:
    own = 1 if plan.get("nodeName") in ("Exchange", "BroadcastExchange") else 0
    return own + sum(_count_exchanges(c) for c in plan.get("children", []))


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def rollup(spans: list[Span], events: list[dict], progress: list[dict], cores: int) -> list[dict]:
    """Per-span records: wall, self time, Spark work started inside the span
    (inclusive of children), time with a job running, driver gap, and the
    part of the driver gap spent inside SQL executions."""
    jobs, stages, sql_start, sql_end, sql_plan = {}, [], {}, {}, {}
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            jobs[e["Job ID"]] = [e["Submission Time"] / 1e3, None]
        elif kind == "SparkListenerJobEnd":
            jobs[e["Job ID"]][1] = e["Completion Time"] / 1e3
        elif kind == "SparkListenerStageCompleted":
            # Skipped stages (outputs reused from an earlier job) are never
            # submitted and have no completion event, so nothing counts twice.
            info = e["Stage Info"]
            m = {"stages": 1, "tasks": info["Number of Tasks"]}
            for acc in info.get("Accumulables", []):
                key = _STAGE_METRICS.get(acc.get("Name"))
                if key:
                    m[key] = m.get(key, 0) + int(acc.get("Value") or 0)
            stages.append((info.get("Submission Time", info.get("Completion Time", 0)) / 1e3, m))
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            sql_start[e["executionId"]] = e["time"] / 1e3
            sql_plan[e["executionId"]] = e["sparkPlanInfo"]
        elif kind.endswith("SparkListenerSQLExecutionEnd"):
            sql_end[e["executionId"]] = e["time"] / 1e3
        elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            sql_plan[e["executionId"]] = e["sparkPlanInfo"]

    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)

    def inside(s: Span, t: float) -> bool:
        return s.start <= t < s.end

    out = []
    for s in spans:
        wall = s.end - s.start
        rec = {"id": s.id, "parent": s.parent, "name": s.name, "start": s.start, "wall_s": wall, **s.attrs}
        c = dict.fromkeys(_COUNTERS, 0)
        intervals, sql_intervals = [], []
        for t0, t1 in jobs.values():
            if inside(s, t0):
                c["jobs"] += 1
                intervals.append((t0, min(t1 if t1 is not None else s.end, s.end)))
        for t0, m in stages:
            if inside(s, t0):
                for k, v in m.items():
                    c[k] += v
        for xid, t0 in sql_start.items():
            if inside(s, t0):
                c["sql_executions"] += 1
                c["exchanges"] += _count_exchanges(sql_plan[xid])
                sql_intervals.append((t0, min(sql_end.get(xid, s.end), s.end)))
        phases: dict[str, float] = {}
        for p in progress:
            if inside(s, p["t"]):
                c["batches"] += 1
                for k, v in p["durationMs"].items():
                    phases[k] = phases.get(k, 0) + v
        run = _union_length(intervals)
        rec.update(c)
        rec["streaming_ms"] = phases
        rec["exec_run_s"] = run
        # Inside SQL executions with no job running: adaptive re-planning
        # between stages, code generation, broadcasts, result handling.
        rec["plan_s"] = _union_length(sql_intervals) - _union_length(
            [(max(a, b0), min(b, b1)) for a, b in sql_intervals for b0, b1 in intervals if max(a, b0) < min(b, b1)])
        rec["driver_gap_s"] = wall - run
        rec["self_s"] = wall - sum(k.end - k.start for k in children.get(s.id, []))
        rec["slot_util"] = c["busy_ms"] / 1e3 / (wall * cores) if wall > 0 else 0.0
        out.append(rec)
    return out


def write_spans(path: str, records: list[dict]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        for r in records:
            f.write(json.dumps(r) + "\n")
