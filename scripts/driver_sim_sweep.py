"""Full-contract parity sweep under a VANILLA session (driver simulation).

Unlike the pytest suite (whose session fixture applies repo confs), this
builds the same bare session the external driver uses and compares every
contract query against its DuckDB oracle at sf0.01, appending one JSON
line per query to the results file so the sweep can resume across
invocations.

Usage: python scripts/driver_sim_sweep.py [--start N] [--count N]
       [--out /tmp/sweep.jsonl]
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

REPO_ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO_ROOT))
sys.path.insert(0, str(REPO_ROOT / "tests"))

SF = "/root/testdata/sf0.01"


def main() -> int:
    args = sys.argv[1:]

    def opt(name: str, default):
        if name in args:
            return type(default)(args[args.index(name) + 1])
        return default

    start = opt("--start", 0)
    count = opt("--count", 10_000)
    out = Path(opt("--out", "/tmp/driver_sim_sweep.jsonl"))

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("driver-sim-sweep")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as E
    from _compare import canon, run_oracle

    qs, oracles = E.queries(), E.oracle_sql()
    names = list(qs)[start : start + count]
    done = set()
    if out.exists():
        for lineno, line in enumerate(out.read_text().splitlines(), 1):
            try:
                done.add(json.loads(line)["name"])
            except (ValueError, KeyError, TypeError) as exc:
                print(f"{out}:{lineno}: malformed result line: {exc!r}",
                      file=sys.stderr)

    n_fail = 0
    with out.open("a") as fh:
        for i, name in enumerate(names):
            if name in done:
                continue
            t0 = time.perf_counter()
            try:
                got = canon(qs[name](spark, SF).toPandas())
                want = canon(run_oracle(oracles[name], SF))
                ok = got == want
            except Exception as exc:  # noqa: BLE001
                ok = False
                print(f"ERR {name}: {exc!r}"[:300], file=sys.stderr)
            dt = round(time.perf_counter() - t0, 2)
            fh.write(json.dumps({"name": name, "ok": ok, "s": dt}) + "\n")
            fh.flush()
            if not ok:
                n_fail += 1
                print(f"MISMATCH {name}", file=sys.stderr)
    print(f"swept {len(names)} (skipped {len(done & set(names))} done), "
          f"fail {n_fail}")
    # nonzero on any mismatch/error so automation cannot read a red sweep
    # as green (ADVICE r7)
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
