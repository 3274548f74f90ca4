"""Per-query layer profile: jobs, driver gaps, stages, tasks and bytes.

Seconds tell you *that* a query is slow; this tells you *why*. Each query
runs once after the shared cache sweep and sf0.001 warm-up, under its own
job group in an event-logged session, and the event log is attributed to
queries by ``open_molecule_data_pipeline_spark.profile.parse_events``:

- how many sequential jobs it runs (each a full scheduler round-trip), the
  time inside them, and the driver gaps before and between them (planning,
  collects, py4j chatter);
- the bytes it moves: a query whose shuffle bytes approach its input bytes
  re-materializes the dataset per stage, one whose shuffle bytes are a
  small fraction reduces early (map-side combine, semi-join reduction,
  digest keys); spill > 0 at this scale means executor memory is already
  insufficient far below target scale;
- ``stage_skew``, the straggler ratio of its worst multi-task stage.

Usage: python scripts/profile_queries.py [--names a,b,c] [--sf DIR]
Prints one JSON line per query (``job_detail`` lists each job's duration,
the gap before it and the stages that ran) and a markdown table on stderr.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

REPO_ROOT = str(Path(__file__).resolve().parent.parent)
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)


def main() -> None:
    from open_molecule_data_pipeline_spark.profile import SF_DIR, profile_queries

    names = None
    if "--names" in sys.argv:
        names = sys.argv[sys.argv.index("--names") + 1].split(",")
    sf_dir = SF_DIR
    if "--sf" in sys.argv:
        sf_dir = sys.argv[sys.argv.index("--sf") + 1]

    records = profile_queries(names, sf_dir, "profile_queries")

    def mb(b: int) -> str:
        return f"{b / 1e6:.1f}"

    print(
        "| query | wall s | jobs | in-job s | driver gaps s | stages | tasks "
        "| input MB | shuffle write MB | shuffle read MB | spill MB "
        "| max task ms | worst stage skew |",
        file=sys.stderr,
    )
    print("|---" * 13 + "|", file=sys.stderr)
    for name, a in sorted(
        records.items(), key=lambda kv: -kv[1]["shuffle_write_bytes"]
    ):
        print(json.dumps({"query": name, "sf_dir": sf_dir, **a}))
        spill = a["memory_spill_bytes"] + a["disk_spill_bytes"]
        print(
            f"| {name} | {a['wall_s']} | {a['jobs']} | {a['job_s']} "
            f"| {a['driver_gap_s']} | {a['stages']} | {a['tasks']} "
            f"| {mb(a['input_bytes'])} | {mb(a['shuffle_write_bytes'])} "
            f"| {mb(a['shuffle_read_bytes'])} | {mb(spill)} "
            f"| {a['max_task_ms']} | {a['stage_skew']} |",
            file=sys.stderr,
        )


if __name__ == "__main__":
    main()
