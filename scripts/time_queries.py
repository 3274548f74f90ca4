"""Time named queries with bench.py's exact methodology (min of 3, noop
sink, sf0.001 warm-up, cache hygiene between queries) without paying a
full 34-query run — the fast inner loop for the optimization rounds.

Usage: python scripts/time_queries.py name1 name2 ... [--sf DIR] [--runs N]
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

REPO_ROOT = str(Path(__file__).resolve().parent.parent)
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)


def main() -> None:
    args = list(sys.argv[1:])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    runs = 3
    if "--sf" in args:
        i = args.index("--sf")
        sf_dir = args[i + 1]
        del args[i : i + 2]
    if "--runs" in args:
        i = args.index("--runs")
        runs = int(args[i + 1])
        del args[i : i + 2]

    from open_molecule_data_pipeline_spark.registry import load_all
    from open_molecule_data_pipeline_spark.session import get_spark

    spark = get_spark(app_name="omdp-time-queries")
    spark.sparkContext.setLogLevel("ERROR")
    specs = load_all()

    from open_molecule_data_pipeline_spark.catalog import TABLES, table

    for name in TABLES:
        table(spark, sf_dir, name).write.format("noop").mode("overwrite").save()

    warm_dir = "/root/testdata/sf0.001"
    warm_ok = Path(warm_dir).exists()
    timings: dict[str, float] = {}
    for name in args:
        spec = specs[name]
        try:
            spark.catalog.clearCache()
            jrdds = spark.sparkContext._jsc.getPersistentRDDs()
            for jrdd in jrdds.values():
                jrdd.unpersist(False)
        except Exception as exc:
            print(
                f"time_queries: {name}: cache sweep failed: {exc!r}",
                file=sys.stderr,
            )
        if warm_ok:
            try:
                spec.fn(spark, warm_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
            except Exception as exc:
                print(
                    f"time_queries: {name}: warm-up failed: {exc!r}",
                    file=sys.stderr,
                )
        best = []
        for _ in range(runs):
            t0 = time.time()
            spec.fn(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            best.append(time.time() - t0)
        timings[name] = round(min(best), 3)
        print(f"{name}: min={min(best):.3f} runs={[round(b,3) for b in best]}")
    print(json.dumps(timings))
    spark.stop()


if __name__ == "__main__":
    main()
