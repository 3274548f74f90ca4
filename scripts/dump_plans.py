"""Generate PLANS.md: physical-plan property snapshots for the headline
(bench) queries at sf0.1 — broadcast/shuffle/codegen counts and pushed
filters, the evidence that each plan scales.

Run: PYTHONPATH=/root/repo python scripts/dump_plans.py
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))


def main() -> None:
    from open_molecule_data_pipeline_spark.profile import SF_DIR
    from open_molecule_data_pipeline_spark.registry import load_all
    from open_molecule_data_pipeline_spark.session import get_spark

    spark = get_spark(app_name="dump-plans")
    spark.sparkContext.setLogLevel("ERROR")
    specs = {n: s for n, s in load_all().items() if s.bench}

    lines = [
        "# PLANS — physical-plan properties of the headline queries",
        "",
        f"Auto-generated by `scripts/dump_plans.py` at sf0.1 "
        f"({len(specs)} bench queries). Counts come from the executed plan "
        "string; 'shuffles' counts hash/range exchanges (AQE may further "
        "coalesce at runtime).",
        "",
        "| query | broadcast joins | sort-merge joins | shuffles | "
        "pushed-filter scans | python stages |",
        "|---|---|---|---|---|---|",
    ]
    for name, spec in sorted(specs.items()):
        plan = spec.fn(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
        bhj = plan.count("BroadcastHashJoin")
        smj = plan.count("SortMergeJoin")
        sh = plan.count("Exchange hashpartitioning") + plan.count(
            "Exchange rangepartitioning"
        )
        pushed = len(
            [m for m in re.findall(r"PushedFilters: \[([^\]]*)\]", plan) if m.strip()]
        )
        py = (
            plan.count("BatchEvalPython")
            + plan.count("ArrowEvalPython")
            + plan.count("MapInPandas")
            + plan.count("FlatMapGroupsInPandas")
        )
        lines.append(f"| {name} | {bhj} | {smj} | {sh} | {pushed} | {py} |")

    lines += [
        "",
        "Reading guide: dims broadcast (no shuffle for the small side); the "
        "big fact tables sort-merge or aggregate after one hash exchange; "
        "python stages (BatchEvalPython/ArrowEvalPython/MapInPandas/"
        "FlatMapGroupsInPandas) appear ONLY where Python is the operator's "
        "point — mm_pcm_resample's Arrow-batched mapInPandas decode — and "
        "never in a relational path.",
        "",
    ]
    (REPO / "PLANS.md").write_text("\n".join(lines))
    print(f"wrote {REPO/'PLANS.md'} ({len(specs)} queries)")


if __name__ == "__main__":
    main()
