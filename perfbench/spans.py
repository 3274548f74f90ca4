"""In-memory spans and Spark event-log attribution for the traced run.

Spans are recorded by the benchmark around calls into the engine's public
functions; nothing inside the engine is instrumented. Spark's own event log
(turned on only through the benchmark session's confs) supplies jobs,
stages, task metrics and the Python-runner SQL metrics, attributed to a
span through the job group the benchmark sets around each call.
"""

from __future__ import annotations

import bisect
import json
import time
import uuid
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from pathlib import Path


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    run_id: str
    start: float  # epoch seconds, comparable with event-log timestamps
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans in memory; ``enabled=False`` records nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), parent, name, self.run_id, time.time(), attrs=attrs)
        self.spans.append(sp)
        self._stack.append(sp.id)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name and s.end]

    def self_time(self, span: Span) -> float:
        """Duration minus the part of it covered by the span's children."""
        kids = [(c.start, c.end) for c in self.spans if c.parent == span.id]
        return span.duration - _covered(kids, span.start, span.end)

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w", encoding="utf-8") as fh:
            for sp in self.spans:
                fh.write(json.dumps({**asdict(sp), "self_s": self.self_time(sp)}) + "\n")


def _covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


# SQL metrics of the Python runners (mapInPandas, pandas UDFs, Arrow eval).
PY_RUN_METRIC = "time to run Python workers"
PY_SENT_METRIC = "data sent to Python workers"


@dataclass
class GroupStats:
    """Event-log totals for one job group."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    exec_run_ms: int = 0
    exec_cpu_ns: int = 0
    shuffle_write_b: int = 0
    shuffle_read_b: int = 0
    spill_b: int = 0
    python_run_ms: int = 0
    python_sent_b: int = 0
    job_intervals: list = field(default_factory=list)  # epoch seconds


class GroupLog:
    """Job groups the benchmark set, in order, with the time each was set."""

    def __init__(self) -> None:
        self.times: list[float] = []
        self.names: list[str] = []

    def set(self, name: str) -> None:
        self.times.append(time.time())
        self.names.append(name)

    def owner(self, group: str, submitted: float) -> str:
        """The benchmark group a job belongs to.

        Jobs that a call submits from another thread under a group of its
        own (a streaming query's micro-batches run under the query's run
        id) belong to the group the benchmark had set when they started.
        """
        if group in self.names:
            return group
        i = bisect.bisect_right(self.times, submitted) - 1
        return self.names[i] if i >= 0 else group


def parse_event_log(path: Path, log: GroupLog) -> dict[str, GroupStats]:
    """Aggregate one Spark event log by the benchmark's job groups."""
    groups: dict[str, GroupStats] = defaultdict(GroupStats)
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                job_start[jid] = ev["Submission Time"] / 1000.0
                group = log.owner((ev.get("Properties") or {}).get("spark.jobGroup.id") or "", job_start[jid])
                job_group[jid] = group
                groups[group].jobs += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                if jid in job_start:
                    groups[job_group[jid]].job_intervals.append(
                        (job_start[jid], ev["Completion Time"] / 1000.0)
                    )
            elif kind == "SparkListenerStageCompleted":
                sid = ev["Stage Info"]["Stage ID"]
                groups[stage_group.get(sid, "")].stages += 1
            elif kind == "SparkListenerTaskEnd":
                g = groups[stage_group.get(ev["Stage ID"], "")]
                g.tasks += 1
                m = ev.get("Task Metrics") or {}
                g.exec_run_ms += m.get("Executor Run Time", 0)
                g.exec_cpu_ns += m.get("Executor CPU Time", 0)
                g.shuffle_write_b += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                rd = m.get("Shuffle Read Metrics") or {}
                g.shuffle_read_b += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                g.spill_b += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                    name = acc.get("Name")
                    if name == PY_RUN_METRIC:
                        g.python_run_ms += int(acc.get("Update", 0))
                    elif name == PY_SENT_METRIC:
                        g.python_sent_b += int(acc.get("Update", 0))
    return dict(groups)


def driver_gap_s(span: Span, stats: GroupStats | None) -> float:
    """Time inside ``span`` during which none of its group's jobs ran."""
    covered = _covered(stats.job_intervals, span.start, span.end) if stats else 0.0
    return span.duration - covered
