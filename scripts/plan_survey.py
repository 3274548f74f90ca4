"""Registry-wide plan survey: formatted-plan size plus construction and
explain wall per query. Analysis-bound queries (the singleton-louvain
r17 finding: a ~2.2 MB nested-InMemoryRelation plan re-analyzed per run)
show up as multi-hundred-KB plans or multi-second explain calls without
any job needing to run.

Usage: python scripts/plan_survey.py [--sf DIR] [name ...]
Writes /tmp/plan_survey.jsonl and prints the top offenders.
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

REPO_ROOT = str(Path(__file__).resolve().parent.parent)
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)


def main() -> None:
    from open_molecule_data_pipeline_spark.profile import SF_DIR, sweep
    from open_molecule_data_pipeline_spark.registry import load_all
    from open_molecule_data_pipeline_spark.session import get_spark

    args = list(sys.argv[1:])
    sf_dir = SF_DIR
    if "--sf" in args:
        i = args.index("--sf")
        sf_dir = args[i + 1]
        del args[i : i + 2]

    spark = get_spark(app_name="omdp-plan-survey")
    spark.sparkContext.setLogLevel("ERROR")
    specs = load_all()
    names = args or sorted(specs)

    rows = []
    with open("/tmp/plan_survey.jsonl", "w") as out:
        for name in names:
            sweep(spark, name, "plan_survey")
            t0 = time.perf_counter()
            try:
                df = specs[name].fn(spark, sf_dir)
                t1 = time.perf_counter()
                plan = df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"
                )
                t2 = time.perf_counter()
                row = {
                    "name": name,
                    "construct_s": round(t1 - t0, 3),
                    "explain_s": round(t2 - t1, 3),
                    "plan_bytes": len(plan),
                }
            except Exception as exc:  # noqa: BLE001 - survey keeps going
                row = {"name": name, "error": str(exc)[:200]}
            rows.append(row)
            out.write(json.dumps(row) + "\n")
            out.flush()

    ok = [r for r in rows if "plan_bytes" in r]
    print("\n== top 20 by plan_bytes ==")
    for r in sorted(ok, key=lambda r: -r["plan_bytes"])[:20]:
        print(f"{r['plan_bytes']:>9}  {r['construct_s']:6.2f}s con {r['explain_s']:6.2f}s exp  {r['name']}")
    print("\n== top 20 by construct+explain wall ==")
    for r in sorted(ok, key=lambda r: -(r["construct_s"] + r["explain_s"]))[:20]:
        print(f"{r['construct_s'] + r['explain_s']:8.2f}s  {r['plan_bytes']:>9}B  {r['name']}")
    for r in rows:
        if "error" in r:
            print("ERROR", r["name"], r["error"])
    spark.stop()


if __name__ == "__main__":
    main()
