"""Dump .explain("formatted") for headline (bench) queries to plans/<round>/.

Usage:
  python scripts/dump_explain.py r18 before            # all bench queries
  python scripts/dump_explain.py r18 after name1 name2 # just the named ones

Writes plans/<round>/<query>_<tag>.txt — the before/after plan evidence
an optimization round's write-up checks its plan claims against.
"""

from __future__ import annotations

import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))


def main() -> int:
    if len(sys.argv) < 3 or sys.argv[2] not in ("before", "after"):
        print(__doc__)
        return 2
    rnd, tag, names = sys.argv[1], sys.argv[2], sys.argv[3:]

    from open_molecule_data_pipeline_spark.profile import SF_DIR
    from open_molecule_data_pipeline_spark.registry import load_all
    from open_molecule_data_pipeline_spark.session import get_spark

    spark = get_spark(app_name=f"dump-explain-{tag}")
    spark.sparkContext.setLogLevel("ERROR")
    specs = load_all()
    if not names:
        names = sorted(n for n, s in specs.items() if s.bench)

    out_dir = REPO / "plans" / rnd
    out_dir.mkdir(parents=True, exist_ok=True)
    for name in names:
        spec = specs[name]
        df = spec.fn(spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        (out_dir / f"{name}_{tag}.txt").write_text(plan)
        print(f"wrote {name}_{tag}.txt ({len(plan)} chars)")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
