"""The query harness shared by ``bench.py`` and ``scripts/``.

Every step that carries session state from one measured query to the
next lives here, so the harnesses measure the same way: the table touch,
the warm-up, the cache sweep between queries, the min-of-N noop-sink
timed run, the session options that turn on the event log, and the
event-log parser that attributes jobs, stages and task metrics to queries
by Spark job group.
"""

from __future__ import annotations

import json
import sys
import tempfile
import time
from collections.abc import Iterable, Iterator
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from .catalog import TABLES, table
from .registry import QueryFn, load_all
from .session import get_spark

# Measured scale, and the warm-up scale: sf0.001 compiles the same
# whole-stage-codegen classes as sf0.1 on almost no data.
SF_DIR = "/root/testdata/sf0.1"
WARM_DIR = "/root/testdata/sf0.001"


def _log_failure(prog: str, name: str, step: str, exc: Exception) -> None:
    print(f"{prog}: {name}: {step} failed: {exc!r}", file=sys.stderr)


def noop(df: DataFrame) -> None:
    """Force every output column of ``df`` end to end, writing nothing."""
    df.write.format("noop").mode("overwrite").save()


def touch_tables(spark: SparkSession, sf_dir: str) -> None:
    """Read every table once so file listing, footer reads and JVM JIT do
    not land in the first measured query."""
    for name in TABLES:
        noop(table(spark, sf_dir, name))


def sweep(spark: SparkSession, name: str, prog: str) -> None:
    """Drop every cache the previous query left in the session, so its
    memory pressure does not tax the timing of ``name``.

    ``clearCache()`` alone does NOT free localCheckpoint RDD blocks (they
    wait for driver GC and the ContextCleaner), so checkpoint-heavy
    queries would tax whichever query runs next: every persistent RDD is
    unpersisted explicitly. A failed sweep is logged to stderr with the
    query name (stdout carries only results) and the run goes on.
    """
    try:
        spark.catalog.clearCache()
        for jrdd in spark.sparkContext._jsc.getPersistentRDDs().values():
            jrdd.unpersist(False)
    except Exception as exc:
        _log_failure(prog, name, "cache sweep", exc)


def warm_up(spark: SparkSession, name: str, fn: QueryFn, prog: str) -> None:
    """One unmeasured run at ``WARM_DIR`` (skipped when it is absent); a
    failure is logged to stderr with the query name."""
    if not Path(WARM_DIR).exists():
        return
    try:
        noop(fn(spark, WARM_DIR))
    except Exception as exc:
        _log_failure(prog, name, "warm-up", exc)


def time_query(
    spark: SparkSession, name: str, fn: QueryFn, sf_dir: str, runs: int, prog: str
) -> list[float]:
    """Sweep, warm up, then time ``runs`` noop-sink runs at ``sf_dir``.
    Callers report the min: steady-state throughput, robust to JIT warm-up
    and machine noise."""
    sweep(spark, name, prog)
    warm_up(spark, name, fn, prog)
    walls = []
    for _ in range(runs):
        start = time.perf_counter()
        noop(fn(spark, sf_dir))
        walls.append(time.perf_counter() - start)
    return walls


def profile_queries(
    names: list[str] | None, sf_dir: str, prog: str
) -> dict[str, dict]:
    """Run each query once (default: the headline set) after the sweep and
    warm-up, under its own job group in an event-logged session, and
    return ``parse_events``' record per query plus its ``wall_s``."""
    with tempfile.TemporaryDirectory(prefix="omdp_eventlog_") as log_dir:
        spark = get_spark(
            app_name=f"omdp-{prog}",
            extra_confs={
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": log_dir,
                # one plain JSON-lines file (Spark 4 defaults to rolling
                # zstd parts), and no per-update executor metrics chatter
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.logStageExecutorMetrics": "false",
                # progress bars would interleave with the stderr table
                "spark.ui.showConsoleProgress": "false",
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        specs = load_all()
        if names is None:
            names = [n for n, s in specs.items() if s.bench]
        sc = spark.sparkContext
        spans: dict[str, tuple[float, float]] = {}
        for name in names:
            sweep(spark, name, prog)
            warm_up(spark, name, specs[name].fn, prog)
            sc.setJobGroup(name, name)
            start = time.time() * 1000
            try:
                noop(specs[name].fn(spark, sf_dir))
            finally:
                sc.setJobGroup("", "")
            spans[name] = (start, time.time() * 1000)
        app_id = sc.applicationId
        spark.stop()  # flushes the event log
        records = parse_events(_event_lines(log_dir, app_id), names, spans)
    for name, (start, end) in spans.items():
        records[name]["wall_s"] = round((end - start) / 1000, 3)
    return records


def _event_lines(log_dir: str, app_id: str) -> Iterator[str]:
    files = sorted(Path(log_dir).glob(f"{app_id}*"))
    if not files:
        raise FileNotFoundError(f"no event log for {app_id} under {log_dir}")
    for path in files:
        with open(path) as fh:
            yield from fh


def parse_events(
    lines: Iterable[str],
    names: list[str],
    spans: dict[str, tuple[float, float]] | None = None,
) -> dict[str, dict]:
    """Attribute an event log to job groups, one record per name in ``names``.

    JobStart carries the group in its Properties and the job's Stage IDs;
    StageCompleted and TaskEnd rows are keyed by Stage ID. Jobs of other
    groups (table touch, warm-up, noop commits) and events before any
    JobStart are dropped, not misattributed.

    ``spans`` maps a name to the (start, end) epoch ms of its run. The
    driver gaps are the time from the run's start to its first job plus
    the idle time between jobs (planning, collects, py4j chatter);
    ``tail_s`` is the time after the last job ends. Without a span the run
    is taken to start at its first job and end at its last.

    ``stage_skew`` = max(task ms) / mean(task ms) of the query's worst
    multi-task stage: ~1.0 means the stage's wall shrinks with cluster
    width, >>1 means one task serializes it however many executors exist
    (the hot-key signature ``scripts/bench_skew.py`` prices). A one-task
    stage is trivially "skewed" and is not counted.
    """
    jobs: dict[str, list[dict]] = {n: [] for n in names}
    job_by_id: dict[int, dict] = {}
    stage_owner: dict[int, str] = {}
    stage_run: dict[int, dict] = {}
    stage_task_ms: dict[int, list[float]] = {}
    agg: dict[str, dict] = {
        n: {
            "tasks": 0,
            "input_bytes": 0,
            "shuffle_write_bytes": 0,
            "shuffle_read_bytes": 0,
            "memory_spill_bytes": 0,
            "disk_spill_bytes": 0,
            "max_task_ms": 0,
            "stage_skew": None,
        }
        for n in names
    }
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group in agg:
                job = {
                    "job": ev.get("Job ID"),
                    "start": ev.get("Submission Time", 0),
                    "end": None,
                    "stage_ids": ev.get("Stage IDs", []),
                }
                jobs[group].append(job)
                job_by_id[job["job"]] = job
                for sid in job["stage_ids"]:
                    stage_owner[sid] = group
        elif kind == "SparkListenerJobEnd":
            job = job_by_id.get(ev.get("Job ID"))
            if job is not None:
                job["end"] = ev.get("Completion Time", 0)
        elif kind == "SparkListenerStageCompleted":
            si = ev.get("Stage Info") or {}
            sid = si.get("Stage ID")
            if sid in stage_owner:
                stage_run[sid] = {
                    "stage": sid,
                    "ms": (si.get("Completion Time") or 0)
                    - (si.get("Submission Time") or 0),
                    "tasks": si.get("Number of Tasks", 0),
                    "name": si.get("Stage Name", "")[:70],
                }
        elif kind == "SparkListenerTaskEnd":
            sid = ev.get("Stage ID")
            owner = stage_owner.get(sid)
            if owner is None:
                continue
            m = ev.get("Task Metrics") or {}
            a = agg[owner]
            a["tasks"] += 1
            a["input_bytes"] += (m.get("Input Metrics") or {}).get(
                "Bytes Read", 0
            )
            a["shuffle_write_bytes"] += (
                m.get("Shuffle Write Metrics") or {}
            ).get("Shuffle Bytes Written", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            a["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            a["memory_spill_bytes"] += m.get("Memory Bytes Spilled", 0)
            a["disk_spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            info = ev.get("Task Info") or {}
            dur = (info.get("Finish Time") or 0) - (info.get("Launch Time") or 0)
            if dur > 0:
                a["max_task_ms"] = max(a["max_task_ms"], dur)
                stage_task_ms.setdefault(sid, []).append(dur)
    for sid, durs in stage_task_ms.items():
        if len(durs) < 2:
            continue
        owner = stage_owner[sid]
        skew = round(max(durs) / (sum(durs) / len(durs)), 2)
        prev = agg[owner]["stage_skew"]
        if prev is None or skew > prev:
            agg[owner]["stage_skew"] = skew

    for name in names:
        q_jobs = jobs[name]
        span = (spans or {}).get(name)
        prev_end = span[0] if span else (q_jobs[0]["start"] if q_jobs else 0)
        job_ms = gap_ms = 0
        detail = []
        for job in q_jobs:
            end = job["end"] or job["start"]
            gap = job["start"] - prev_end
            job_ms += end - job["start"]
            gap_ms += max(gap, 0)
            ran = sorted(s for s in job["stage_ids"] if s in stage_run)
            detail.append(
                {
                    "job": job["job"],
                    "ms": end - job["start"],
                    "gap_ms": gap,
                    "stages": [stage_run[s] for s in ran],
                }
            )
            prev_end = end
        a = agg[name]
        a["jobs"] = len(q_jobs)
        a["job_s"] = round(job_ms / 1000, 3)
        a["driver_gap_s"] = round(gap_ms / 1000, 3)
        a["tail_s"] = round(((span[1] - prev_end) if span else 0) / 1000, 3)
        # a stage reused from an earlier job is listed (skipped) in later
        # jobs' Stage IDs too: count each stage that ran once
        a["stages"] = len(
            {s for job in q_jobs for s in job["stage_ids"] if s in stage_run}
        )
        a["job_detail"] = detail
    return agg
