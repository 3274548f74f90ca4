"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints ONE JSON line:
``{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}``

Each query is forced end-to-end with the noop sink (computes every output
column, writes nothing). Per query: one unmeasured warm-up execution at
sf0.001 (compiles the same whole-stage-codegen classes), then the min of
3 measured runs at the target scale — steady-state throughput, robust to
JIT warm-up and machine noise. The steps live in
``open_molecule_data_pipeline_spark/profile.py``, shared with ``scripts/``.
"""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

# Headline-set cap (VERDICT r10 #6 / r11 #5, policy since r12): at most
# HEADLINE_CAP queries carry ``bench=True``. The set is meant to stay a
# representative cross-family sample whose total wall time the driver can
# re-run per round, not an ever-growing census — promoting a query means
# DEMOTING a sibling whose cost/plan the newcomer subsumes (r12 example:
# text_hybrid_rrf_topk in, its own sparse arm text_bm25_topk out).
# tests/test_plans_perf.py lints len(bench=True) <= HEADLINE_CAP.
HEADLINE_CAP = 34

REPO_ROOT = str(Path(__file__).resolve().parent)
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

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", SF_DIR)
    sf = float(Path(sf_dir).name.replace("sf", "") or 0.1)

    spark = get_spark(app_name="omdp-bench")
    spark.sparkContext.setLogLevel("ERROR")

    specs = {n: s for n, s in load_all().items() if s.bench}
    touch_tables(spark, sf_dir)
    timings = {
        name: round(min(time_query(spark, name, spec.fn, sf_dir, 3, "bench")), 3)
        for name, spec in sorted(specs.items())
    }

    total = round(sum(timings.values()), 3)
    # Ledger hook (VERDICT r7 #8): when SPARK_GRAFT_LEDGER_LABEL is set,
    # append this run to BENCH_LOCAL_LEDGER.jsonl so the weak-watch lint
    # (tests/test_plans_perf.py) can flag >1.5x round-over-round headline
    # regressions that lack a BENCH_HISTORY.md attribution. Attributions
    # ride in SPARK_GRAFT_LEDGER_ATTRIB as a JSON object {query: reason}.
    # The stdout contract (one JSON line) is unchanged either way.
    label = os.environ.get("SPARK_GRAFT_LEDGER_LABEL")
    if label:
        entry = {
            "label": label,
            "source": "local-min3",
            "sf": sf,
            "total": total,
            "queries": timings,
            "attributions": json.loads(
                os.environ.get("SPARK_GRAFT_LEDGER_ATTRIB", "{}")
            ),
        }
        with open(Path(REPO_ROOT) / "BENCH_LOCAL_LEDGER.jsonl", "a") as fh:
            fh.write(json.dumps(entry) + "\n")
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
