"""Per-query JOB/STAGE wall breakdown (optimization round r16).

Seconds per query tell you *that* a query is slow; this tells you *why*
at local scale: how many sequential jobs it runs (each a full scheduler
round-trip), how the wall splits across jobs, and the gaps BETWEEN jobs
(driver-side work: planning, collects, py4j chatter). Parses the same
event log shape as shuffle_profile.py.

Usage: python scripts/stage_profile_r16.py --names a,b,c [--sf DIR]
"""

from __future__ import annotations

import json
import sys
import tempfile
import time
from pathlib import Path

REPO_ROOT = str(Path(__file__).resolve().parent.parent)
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

SF = "/root/testdata/sf0.1"


def main() -> None:
    names = sys.argv[sys.argv.index("--names") + 1].split(",")
    sf_dir = SF
    if "--sf" in sys.argv:
        sf_dir = sys.argv[sys.argv.index("--sf") + 1]

    from open_molecule_data_pipeline_spark.registry import load_all
    from open_molecule_data_pipeline_spark.session import get_spark

    log_dir = tempfile.mkdtemp(prefix="omdp_eventlog_")
    spark = get_spark(
        app_name="omdp-stage-profile",
        extra_confs={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.logStageExecutorMetrics": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    specs = load_all()

    walls: dict[str, float] = {}
    spans: dict[str, tuple[float, float]] = {}
    warm = "/root/testdata/sf0.001"
    for name in names:
        try:
            spark.catalog.clearCache()
            jrdds = spark.sparkContext._jsc.getPersistentRDDs()
            for jrdd in jrdds.values():
                jrdd.unpersist(False)
        except Exception as exc:
            print(
                f"stage_profile_r16: {name}: cache sweep failed: {exc!r}",
                file=sys.stderr,
            )
        # warm-up at sf0.001 (outside the job group) like bench.py
        try:
            specs[name].fn(spark, warm).write.format("noop").mode(
                "overwrite"
            ).save()
        except Exception as exc:
            print(
                f"stage_profile_r16: {name}: warm-up failed: {exc!r}",
                file=sys.stderr,
            )
        sc = spark.sparkContext
        sc.setJobGroup(name, name)
        t0 = time.time()
        wall0 = time.perf_counter()
        specs[name].fn(spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        walls[name] = time.perf_counter() - wall0
        spans[name] = (t0 * 1000, time.time() * 1000)
        sc.setJobGroup("", "")
    app_id = spark.sparkContext.applicationId
    spark.stop()

    log_files = []
    for p in sorted(Path(log_dir).glob(f"*{app_id}*")):
        if p.is_dir():
            log_files.extend(
                f for f in sorted(p.iterdir()) if f.name.startswith("events")
            )
        else:
            log_files.append(p)

    jobs: dict[int, dict] = {}
    job_owner: dict[int, str] = {}
    stage_owner: dict[int, str] = {}
    stages: dict[int, dict] = {}
    for log_file in log_files:
        for line in open(log_file):
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                jid = ev["Job ID"]
                if group in names:
                    job_owner[jid] = group
                    jobs[jid] = {
                        "start": ev.get("Submission Time", 0),
                        "end": None,
                        "stages": ev.get("Stage IDs", []),
                        "desc": (ev.get("Properties") or {}).get(
                            "spark.job.description", ""
                        )[:60],
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_owner[sid] = group
            elif kind == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                if jid in jobs:
                    jobs[jid]["end"] = ev.get("Completion Time", 0)
            elif kind == "SparkListenerStageCompleted":
                si = ev.get("Stage Info", {})
                sid = si.get("Stage ID")
                if sid in stage_owner:
                    stages[sid] = {
                        "name": si.get("Stage Name", "")[:70],
                        "ms": (si.get("Completion Time") or 0)
                        - (si.get("Submission Time") or 0),
                        "tasks": si.get("Number of Tasks", 0),
                    }

    for name in names:
        print(f"\n=== {name}  wall={walls[name]:.2f}s ===")
        q_jobs = sorted(j for j in jobs if job_owner[j] == name)
        prev_end = spans[name][0]
        job_ms = 0
        gap_ms = 0
        for jid in q_jobs:
            j = jobs[jid]
            gap = j["start"] - prev_end
            dur = (j["end"] or j["start"]) - j["start"]
            job_ms += dur
            gap_ms += max(gap, 0)
            n_real = [s for s in j["stages"] if s in stages]
            print(
                f"  job {jid}: {dur:6.0f} ms (gap before: {gap:5.0f} ms) "
                f"stages={len(j['stages'])} run={len(n_real)}"
            )
            for sid in sorted(n_real):
                s = stages[sid]
                print(
                    f"    stage {sid}: {s['ms']:6.0f} ms {s['tasks']:4d} tasks  {s['name']}"
                )
            prev_end = j["end"] or j["start"]
        tail = spans[name][1] - prev_end
        print(
            f"  TOTAL: jobs={len(q_jobs)} in-job={job_ms / 1000:.2f}s "
            f"gaps={gap_ms / 1000:.2f}s tail={tail / 1000:.2f}s"
        )


if __name__ == "__main__":
    main()
