"""Per-query shuffle/spill byte profile for the headline set.

Seconds hide what decides 100 TB behavior; BYTES moved through the
shuffle do not. This harness runs each headline query once under an
event-log-enabled session with a per-query job group, then parses the
event log and attributes task metrics (shuffle read/write bytes, memory/
disk spill, input bytes, task count) to queries via
JobStart.properties["spark.jobGroup.id"] -> stage ids -> TaskEnd rows.

The resulting table is the direct answer to "is there a shuffle here
that becomes the bottleneck at scale": a query whose shuffle bytes
approach its input bytes re-materializes the dataset per stage; one
whose shuffle bytes are a small fraction reduces early (map-side
combine, semi-join reduction, digest keys). Spill > 0 at this sf means
executor memory was already insufficient three orders of magnitude
below target scale.

Usage: python scripts/shuffle_profile.py [--names a,b,c] [--sf DIR]
Prints one JSON line per query plus a markdown table on stderr.
"""

from __future__ import annotations

import json
import sys
import tempfile
from pathlib import Path

REPO_ROOT = str(Path(__file__).resolve().parent.parent)
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

SF = "/root/testdata/sf0.1"


def run_profiled(names: list[str] | None, sf_dir: str) -> dict[str, dict]:
    from open_molecule_data_pipeline_spark.registry import load_all
    from open_molecule_data_pipeline_spark.session import get_spark

    log_dir = tempfile.mkdtemp(prefix="omdp_eventlog_")
    spark = get_spark(
        app_name="omdp-shuffle-profile",
        extra_confs={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            # plain JSON lines (default is zstd) so the parse below needs
            # no codec; keep logs small: no per-update metrics chatter
            "spark.eventLog.compress": "false",
            "spark.eventLog.logStageExecutorMetrics": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    specs = load_all()
    if names is None:
        names = [n for n, s in specs.items() if s.bench]

    for name in names:
        try:
            spark.catalog.clearCache()
        except Exception as exc:
            print(
                f"shuffle_profile: {name}: cache sweep failed: {exc!r}",
                file=sys.stderr,
            )
        sc = spark.sparkContext
        sc.setJobGroup(name, name)
        try:
            specs[name].fn(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
        finally:
            sc.setJobGroup("", "")
    app_id = spark.sparkContext.applicationId
    spark.stop()  # flushes the event log

    # ---- parse: job group -> stages -> task metrics ----------------------
    # Spark 4 writes a rolling "event log v2" DIRECTORY per application
    # (eventlog_v2_<appId>/events_*); older versions write a single file.
    log_files = []
    for p in sorted(Path(log_dir).glob(f"*{app_id}*")):
        if p.is_dir():
            log_files.extend(
                f for f in sorted(p.iterdir()) if f.name.startswith("events")
            )
        else:
            log_files.append(p)
    assert log_files, f"no event log under {log_dir}"

    def lines():
        for log_file in log_files:
            with open(log_file) as fh:
                yield from fh

    return parse_events(lines(), names)


def parse_events(lines, names: list[str]) -> dict[str, dict]:
    """Attribute task metrics to job groups: JobStart carries the group in
    its Properties and the job's Stage IDs; TaskEnd rows carry per-task
    metrics keyed by Stage ID. Besides byte counters, the per-STAGE task
    runtimes feed a straggler metric: ``stage_skew`` = max(task ms) /
    mean(task ms) of the query's worst multi-task stage — ~1.0 means the
    stage's wall-clock shrinks with cluster width, >>1 means one task
    serializes it no matter how many executors exist (the hot-key /
    unsplittable-partition signature bench_skew.py prices). Unit-tested
    against a synthetic log in tests/test_plans_perf.py."""
    stage_owner: dict[int, str] = {}
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
                for sid in ev.get("Stage IDs", []):
                    stage_owner[sid] = group
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
    # worst-stage skew per query, over multi-task stages only (a 1-task
    # stage is trivially "skewed" and means nothing)
    for sid, durs in stage_task_ms.items():
        if len(durs) < 2:
            continue
        owner = stage_owner[sid]
        skew = round(max(durs) / (sum(durs) / len(durs)), 2)
        prev = agg[owner]["stage_skew"]
        if prev is None or skew > prev:
            agg[owner]["stage_skew"] = skew
    return agg


def main() -> None:
    names = None
    if "--names" in sys.argv:
        names = sys.argv[sys.argv.index("--names") + 1].split(",")
    sf_dir = SF
    if "--sf" in sys.argv:
        sf_dir = sys.argv[sys.argv.index("--sf") + 1]

    agg = run_profiled(names, sf_dir)

    def mb(b: int) -> str:
        return f"{b / 1e6:8.1f}"

    print(
        "| query | tasks | input MB | shuffle write MB | shuffle read MB "
        "| spill MB | max task ms | worst stage skew |",
        file=sys.stderr,
    )
    print("|---|---|---|---|---|---|---|---|", file=sys.stderr)
    for name, a in sorted(
        agg.items(), key=lambda kv: -kv[1]["shuffle_write_bytes"]
    ):
        print(json.dumps({"query": name, "sf_dir": sf_dir, **a}))
        spill = a["memory_spill_bytes"] + a["disk_spill_bytes"]
        print(
            f"| {name} | {a['tasks']} | {mb(a['input_bytes'])} "
            f"| {mb(a['shuffle_write_bytes'])} "
            f"| {mb(a['shuffle_read_bytes'])} | {mb(spill)} "
            f"| {a['max_task_ms']} | {a['stage_skew']} |",
            file=sys.stderr,
        )


if __name__ == "__main__":
    main()
