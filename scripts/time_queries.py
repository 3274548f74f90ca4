"""Time named queries with bench.py's exact methodology (min of 3, noop
sink, sf0.001 warm-up, cache sweep between queries) without paying a
full 34-query run — the fast inner loop for the optimization rounds.

Usage: python scripts/time_queries.py name1 name2 ... [--sf DIR] [--runs N]
"""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

REPO_ROOT = str(Path(__file__).resolve().parent.parent)
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)


def main() -> None:
    from open_molecule_data_pipeline_spark.profile import (
        SF_DIR,
        time_query,
        touch_tables,
    )
    from open_molecule_data_pipeline_spark.registry import load_all
    from open_molecule_data_pipeline_spark.session import get_spark

    args = list(sys.argv[1:])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", SF_DIR)
    runs = 3
    if "--sf" in args:
        i = args.index("--sf")
        sf_dir = args[i + 1]
        del args[i : i + 2]
    if "--runs" in args:
        i = args.index("--runs")
        runs = int(args[i + 1])
        del args[i : i + 2]

    spark = get_spark(app_name="omdp-time-queries")
    spark.sparkContext.setLogLevel("ERROR")
    specs = load_all()
    touch_tables(spark, sf_dir)
    timings: dict[str, float] = {}
    for name in args:
        walls = time_query(spark, name, specs[name].fn, sf_dir, runs, "time_queries")
        timings[name] = round(min(walls), 3)
        print(f"{name}: min={min(walls):.3f} runs={[round(w, 3) for w in walls]}")
    print(json.dumps(timings))
    spark.stop()


if __name__ == "__main__":
    main()
