"""100x scale-proof: derive an sf10-equivalent dataset (100 key-offset
referentially-closed copies of sf0.1, same vocabulary-bijection rules as
``bench_scale.py``) and time a representative non-streaming query subset
at both scales. The 10x run proves the constants near test scale; this
run shows two decades of scaling on the same plans — the difference
between "survives 10x" and "credibly 100 TB-shaped".

Differences from the 10x harness, both deliberate:
- tables are written MULTI-PART (parallel write + a realistic many-file
  layout at this volume); the streaming twins that need the single-file
  glob are excluded from the subset
- the derivation unions copies in 10-copy batches to keep the logical
  plan shallow

Usage: python scripts/bench_scale100.py [--regen] [--names a,b,c]
"""

from __future__ import annotations

import json
import sys
import time
from functools import reduce
from pathlib import Path

REPO_ROOT = str(Path(__file__).resolve().parent.parent)
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)
sys.path.insert(0, str(Path(__file__).resolve().parent))

from bench_scale import BASE_SF, FIXED, KEY_OF, KEYED  # noqa: E402

SCALE_DIR = "/tmp/omdp_scale_sf10"
N_COPIES = 100

DEFAULT_NAMES = (
    "agg_pricing_summary",
    "join_shipping_priority",
    "join_local_supplier_volume",
    "window_topk_per_customer",
    "ts_tumbling_hour",
    "dedup_exact",
    "dedup_minhash_lsh_pairs",
    "text_word_freq_top20",
    "sim_ivf_topk",
    "cdc_table_diff",
)


def generate(spark) -> None:
    from pyspark.sql import functions as F

    from open_molecule_data_pipeline_spark.catalog import table

    strides: dict[str, int] = {}
    for name, key in KEY_OF.items():
        strides[name] = (
            table(spark, BASE_SF, name).agg(F.max(key)).collect()[0][0] + 1
        )
    strides["events_user"] = (
        table(spark, BASE_SF, "events").agg(F.max("user_id")).collect()[0][0] + 1
    )

    Path(SCALE_DIR).mkdir(parents=True, exist_ok=True)
    for name in FIXED:
        table(spark, BASE_SF, name).write.mode("overwrite").parquet(
            f"{SCALE_DIR}/{name}.parquet"
        )
    for name, keymap in KEYED.items():
        base = table(spark, BASE_SF, name)
        copies = []
        for k in range(N_COPIES):
            c = base
            for col, src in keymap.items():
                c = c.withColumn(
                    col, (F.col(col) + F.lit(k * strides[src])).cast("long")
                )
            if name == "documents" and k > 0:
                suffix = F.lit(f"_{k}")
                c = c.withColumn(
                    "text",
                    F.array_join(
                        F.transform(
                            F.split("text", " "), lambda t: F.concat(t, suffix)
                        ),
                        " ",
                    ),
                )
                c = c.withColumn("n_chars", F.length("text").cast("long"))
            copies.append(c)
        out = reduce(lambda a, b: a.unionByName(b), copies)
        out.write.mode("overwrite").parquet(f"{SCALE_DIR}/{name}.parquet")
        print(f"  generated {name}: {N_COPIES}x", file=sys.stderr)


def run_once(spark, sf_dir: str, names) -> dict[str, float]:
    from open_molecule_data_pipeline_spark.registry import load_all

    specs = load_all()
    timings = {}
    for name in names:
        try:
            spark.catalog.clearCache()
        except Exception as exc:
            print(
                f"bench_scale100: {name}: cache sweep failed: {exc!r}",
                file=sys.stderr,
            )
        start = time.perf_counter()
        specs[name].fn(spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        timings[name] = round(time.perf_counter() - start, 3)
    return timings


def main() -> None:
    from open_molecule_data_pipeline_spark.session import get_spark

    spark = get_spark(app_name="omdp-bench-scale100")
    spark.sparkContext.setLogLevel("ERROR")

    names = DEFAULT_NAMES
    if "--names" in sys.argv:
        names = tuple(sys.argv[sys.argv.index("--names") + 1].split(","))

    if "--regen" in sys.argv or not Path(f"{SCALE_DIR}/lineitem.parquet").exists():
        print("generating derived sf10 dataset...", file=sys.stderr)
        generate(spark)

    def min_of_two(sf_dir):
        a, b = run_once(spark, sf_dir, names), run_once(spark, sf_dir, names)
        return {k: min(a[k], b[k]) for k in a}

    run_once(spark, BASE_SF, names)  # warm
    base = min_of_two(BASE_SF)
    run_once(spark, SCALE_DIR, names)  # warm
    scaled = min_of_two(SCALE_DIR)

    print(json.dumps({"sf": 0.1, "queries": base}))
    print(json.dumps({"sf": 10.0, "queries": scaled, "derived": True}))
    for name in names:
        r = scaled[name] / max(base[name], 1e-9)
        flag = " <-- SUPER-LINEAR" if r > 250 else ""
        print(f"{name:32s} {base[name]:8.3f}s {scaled[name]:8.3f}s  x{r:6.1f}{flag}")
    worst = max(names, key=lambda n: scaled[n] / max(base[n], 1e-9))
    print(f"worst ratio: {worst} x{scaled[worst] / max(base[worst], 1e-9):.1f}"
          f" (linear expectation x100)")
    spark.stop()


if __name__ == "__main__":
    main()
