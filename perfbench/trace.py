"""In-memory spans around calls into the engine, plus Spark event-log stats.

A span is (layer, name, start, end, parent). Spans are recorded by the
benchmark's own code around each call into an engine module; the engine
itself is not instrumented. Before a span that issues Spark jobs the tracer
sets the Spark job group to the span's id, so the event log ties every job
to the call that caused it. Jobs whose group the engine replaced (Structured
Streaming sets its own run id as the group) fall back to the innermost Spark
span whose wall interval contains the job's submission time; all load comes
from one driver thread, so that interval is unambiguous.

Everything stays in memory until the run ends. A disabled tracer records
nothing and touches no Spark state.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Iterable, Iterator


@dataclass
class Span:
    sid: int
    parent: int | None
    layer: str
    name: str
    spark: bool
    t0: float  # perf_counter
    t1: float = 0.0
    w0: float = 0.0  # wall clock (epoch seconds), to match event-log times
    w1: float = 0.0
    children_s: float = 0.0

    @property
    def dur(self) -> float:
        return self.t1 - self.t0

    @property
    def self_s(self) -> float:
        return self.dur - self.children_s


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._sc = None
        self.overhead_s = 0.0  # time spent inside the tracer itself

    def attach_spark(self, sc) -> None:
        """Job groups go to this SparkContext (None once Spark is stopped)."""
        self._sc = sc

    @contextmanager
    def span(self, layer: str, name: str = "", spark: bool = False) -> Iterator[Span | None]:
        """Record one span; yields it (None when tracing is off)."""
        if not self.enabled:
            yield None
            return
        c0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        s = Span(
            sid=len(self.spans),
            parent=parent.sid if parent else None,
            layer=layer,
            name=name or layer,
            spark=spark,
            t0=0.0,
            w0=time.time(),
        )
        self.spans.append(s)
        self._stack.append(s)
        if spark and self._sc is not None:
            self._sc.setJobGroup(f"perfbench-{s.sid}", s.name)
        s.t0 = time.perf_counter()
        self.overhead_s += s.t0 - c0
        try:
            yield s
        finally:
            s.t1 = time.perf_counter()
            c1 = s.t1
            s.w1 = time.time()
            self._stack.pop()
            if parent is not None:
                parent.children_s += s.dur
            if spark and self._sc is not None:
                if parent is not None and parent.spark:
                    self._sc.setJobGroup(f"perfbench-{parent.sid}", parent.name)
                else:
                    self._sc.setLocalProperty("spark.jobGroup.id", None)
                    self._sc.setLocalProperty("spark.job.description", None)
            self.overhead_s += time.perf_counter() - c1

    # ---- queries over the recorded spans

    def under(self, root: Span) -> list[Span]:
        """``root`` and every span nested inside it."""
        keep = {root.sid}
        out = [root]
        for s in self.spans[root.sid + 1:]:
            if s.parent in keep:
                keep.add(s.sid)
                out.append(s)
        return out

    def layer_spans(self, layer: str, name: str | None = None) -> list[Span]:
        return [
            s for s in self.spans
            if s.layer == layer and (name is None or s.name == name)
        ]


# ---------------------------------------------------------------- event log


# Job and stage ids restart at 0 in every SparkContext, so both are keyed
# by (application number, id): the n-th application start in the log.
Key = tuple[int, int]


@dataclass
class TaskStat:
    stage: Key
    launch_ms: int
    finish_ms: int
    shuffle_write: int
    shuffle_read: int
    spill_disk: int
    input_bytes: int
    output_bytes: int


@dataclass
class EventLog:
    # job key -> (job group or None, submission time ms, stage keys)
    jobs: dict[Key, tuple[str | None, int, list[Key]]] = field(default_factory=dict)
    tasks: list[TaskStat] = field(default_factory=list)


def parse_event_log(lines: Iterable[str]) -> EventLog:
    """The job, stage and task facts the per-layer stats need, from the JSON
    lines of one or more Spark event logs, each log's lines contiguous."""
    log = EventLog()
    app = -1
    for line in lines:
        if '"SparkListenerApplicationStart"' in line:
            app += 1
            continue
        if '"SparkListenerJobStart"' not in line and '"SparkListenerTaskEnd"' not in line:
            continue
        ev = json.loads(line)
        if ev["Event"] == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            log.jobs[(app, int(ev["Job ID"]))] = (
                props.get("spark.jobGroup.id"),
                int(ev["Submission Time"]),
                [(app, int(x)) for x in ev.get("Stage IDs", [])],
            )
        else:
            info = ev.get("Task Info") or {}
            m = ev.get("Task Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            log.tasks.append(
                TaskStat(
                    stage=(app, int(ev["Stage ID"])),
                    launch_ms=int(info.get("Launch Time", 0)),
                    finish_ms=int(info.get("Finish Time", 0)),
                    shuffle_write=int(sw.get("Shuffle Bytes Written", 0)),
                    shuffle_read=int(sr.get("Remote Bytes Read", 0))
                    + int(sr.get("Local Bytes Read", 0)),
                    spill_disk=int(m.get("Disk Bytes Spilled", 0)),
                    input_bytes=int((m.get("Input Metrics") or {}).get("Bytes Read", 0)),
                    output_bytes=int((m.get("Output Metrics") or {}).get("Bytes Written", 0)),
                )
            )
    return log


def read_event_logs(log_dir: str) -> EventLog:
    """Every event-log file under ``log_dir`` (Spark 4 writes each app's log
    as a directory of rolled ``events_*`` files)."""
    lines: list[str] = []
    for d, _, files in sorted(os.walk(log_dir)):
        for name in sorted(files):
            with open(os.path.join(d, name), encoding="utf-8") as f:
                lines.extend(f)
    return parse_event_log(lines)


@dataclass
class SparkStats:
    jobs: int = 0
    task_s: float = 0.0
    map_task_s: float = 0.0  # tasks of stages that read no shuffle
    reduce_task_s: float = 0.0  # tasks of stages that read a shuffle
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0
    output_bytes: int = 0


def span_for_job(spans: list[Span], group: str | None, submit_ms: int) -> Span | None:
    """The span a job belongs to: by job group when the group is one the
    tracer set, else the innermost Spark span open at submission time."""
    if group and group.startswith("perfbench-"):
        sid = int(group.split("-", 1)[1])
        if 0 <= sid < len(spans):
            return spans[sid]
    t = submit_ms / 1000.0
    best = None
    for s in spans:
        if s.spark and s.w0 <= t <= s.w1 and (best is None or s.w0 >= best.w0):
            best = s
    return best


def spark_stats_by_span(log: EventLog, spans: list[Span]) -> dict[int, SparkStats]:
    """Aggregate task metrics per span id. A stage shared by several jobs
    (AQE re-plans) is counted once, under its first job."""
    stage_span: dict[Key, int] = {}
    out: dict[int, SparkStats] = defaultdict(SparkStats)
    for job_id in sorted(log.jobs):
        group, submit_ms, stage_ids = log.jobs[job_id]
        s = span_for_job(spans, group, submit_ms)
        if s is None:
            continue
        out[s.sid].jobs += 1
        for st in stage_ids:
            stage_span.setdefault(st, s.sid)
    reads_shuffle = {t.stage for t in log.tasks if t.shuffle_read > 0}
    for t in log.tasks:
        sid = stage_span.get(t.stage)
        if sid is None:
            continue
        st = out[sid]
        dt = max(t.finish_ms - t.launch_ms, 0) / 1000.0
        st.task_s += dt
        if t.stage in reads_shuffle:
            st.reduce_task_s += dt
        else:
            st.map_task_s += dt
        st.shuffle_write_bytes += t.shuffle_write
        st.spill_bytes += t.spill_disk
        st.input_bytes += t.input_bytes
        st.output_bytes += t.output_bytes
    return dict(out)


def sum_stats(stats: Iterable[SparkStats]) -> SparkStats:
    acc = SparkStats()
    for s in stats:
        acc.jobs += s.jobs
        acc.task_s += s.task_s
        acc.map_task_s += s.map_task_s
        acc.reduce_task_s += s.reduce_task_s
        acc.shuffle_write_bytes += s.shuffle_write_bytes
        acc.spill_bytes += s.spill_bytes
        acc.input_bytes += s.input_bytes
        acc.output_bytes += s.output_bytes
    return acc
