"""Scale-proof bench: derive a dataset of N key-offset copies of sf0.1 and
time queries at both scales (VERDICT r4 #4).

The plan lints prove the SHAPES are scale-safe; this run proves the
CONSTANTS: each query's wall-clock ratio at N times the rows, flagged when
it exceeds 2.5x the linear expectation (ratio > 2.5 * N).

- ``10`` (default): derived sf1 in the single-file layout, one parquet
  FILE per table (the streaming twins' pathGlobFilter matches leaf file
  names); times every headline query.
- ``100``: derived sf10 in a multi-part layout (parallel write and a
  realistic many-file layout at this volume); times ``SUBSET_100``, a
  representative non-streaming subset (the twins need the single-file
  glob). Two decades of scaling on the same plans: the difference between
  "survives 10x" and "credibly 100 TB-shaped".

Derivation (keys offset per copy so every copy is referentially
self-contained; dims ``region``/``nation`` stay fixed, as in TPC-H):

- copy k of each fact/dim row gets key += k * (max_key + 1) for every key
  column (orderkey/custkey/partkey/suppkey/doc_id/vec_id/user_id/event_id)
- ``documents.text`` for copy k > 0 maps every token t -> t_k: a per-copy
  VOCABULARY BIJECTION. Cross-copy token/shingle sets are disjoint (no LSH
  band can collide across copies), while within-copy Jaccard structure is
  preserved EXACTLY — so MinHash candidate/pair counts scale exactly Nx.
  (A salting variant was tried first: ~25% junk tokens per doc left
  cross-copy Jaccard ~0.8, where the r=2/b=4 band scheme collides with
  p=0.98 — 10-doc hard-negative families and millions of singleton tokens
  in the inverted index; a different workload, not a scale-up.)
- timestamps/values/embeddings are unchanged: time-range density and
  vector geometry grow Nx in rows, not in range

Timing per query and scale: the shared cache sweep and sf0.001 warm-up,
then the min of 2 noop-sink runs (single cold runs showed 3x swings on the
shuffle-heavy queries).

Usage: python scripts/bench_scale.py [10|100] [--regen] [--names a,b,c]
Writes the derived tables to /tmp/omdp_scale_sf{N/10}/ (reused if present)
and prints one JSON line per scale plus a ratio table.
"""

from __future__ import annotations

import json
import os
import sys
from functools import reduce
from pathlib import Path

REPO_ROOT = str(Path(__file__).resolve().parent.parent)
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

from open_molecule_data_pipeline_spark.profile import (  # noqa: E402
    SF_DIR,
    time_query,
    touch_tables,
)

BASE_SF = os.environ.get("SPARK_GRAFT_SF_DIR", SF_DIR)

# key columns to offset, per table: {table: {column: stride column}}. A
# column that names itself defines a key space (its stride is its max + 1
# in its own table); a foreign key takes the stride of the key it
# references, so every copy stays referentially closed.
KEYED = {
    "customer": {"c_custkey": "c_custkey"},
    "orders": {"o_orderkey": "o_orderkey", "o_custkey": "c_custkey"},
    "lineitem": {
        "l_orderkey": "o_orderkey",
        "l_partkey": "p_partkey",
        "l_suppkey": "s_suppkey",
    },
    "part": {"p_partkey": "p_partkey"},
    "supplier": {"s_suppkey": "s_suppkey"},
    "events": {"event_id": "event_id", "user_id": "user_id"},
    "documents": {"doc_id": "doc_id"},
    "embeddings": {"vec_id": "vec_id"},
}
FIXED = ("region", "nation")

SUBSET_100 = (
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


def scale_dir(copies: int) -> str:
    return f"/tmp/omdp_scale_sf{copies // 10}"


def generate(spark, copies: int) -> None:
    from pyspark.sql import functions as F

    from open_molecule_data_pipeline_spark.catalog import table
    from open_molecule_data_pipeline_spark.operators._util import (
        write_single_parquet_file,
    )

    out_dir = scale_dir(copies)

    def write(df, name: str) -> None:
        if copies <= 10:
            write_single_parquet_file(df, f"{out_dir}/{name}.parquet")
        else:
            df.write.mode("overwrite").parquet(f"{out_dir}/{name}.parquet")

    strides = {
        col: table(spark, BASE_SF, name).agg(F.max(col)).collect()[0][0] + 1
        for name, keymap in KEYED.items()
        for col, src in keymap.items()
        if col == src
    }

    Path(out_dir).mkdir(parents=True, exist_ok=True)
    for name in FIXED:
        write(table(spark, BASE_SF, name), name)
    for name, keymap in KEYED.items():
        base = table(spark, BASE_SF, name)
        copies_df = []
        for k in range(copies):
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
                            F.split("text", " "),
                            lambda t: F.concat(t, suffix),
                        ),
                        " ",
                    ),
                )
                c = c.withColumn("n_chars", F.length("text").cast("long"))
            copies_df.append(c)
        write(reduce(lambda a, b: a.unionByName(b), copies_df), name)
        print(f"  generated {name}: {copies}x", file=sys.stderr)


def main() -> None:
    from open_molecule_data_pipeline_spark.registry import load_all
    from open_molecule_data_pipeline_spark.session import get_spark

    copies = 10
    if len(sys.argv) > 1 and sys.argv[1].isdigit():
        copies = int(sys.argv[1])
    out_dir = scale_dir(copies)
    spark = get_spark(app_name=f"omdp-bench-scale{copies}")
    spark.sparkContext.setLogLevel("ERROR")

    if "--regen" in sys.argv or not Path(f"{out_dir}/lineitem.parquet").exists():
        print(f"generating derived {copies}x dataset...", file=sys.stderr)
        generate(spark, copies)

    specs = load_all()
    if "--names" in sys.argv:  # comma-separated explicit query list
        names = sys.argv[sys.argv.index("--names") + 1].split(",")
    elif copies <= 10:
        names = sorted(n for n, s in specs.items() if s.bench)
    else:
        names = list(SUBSET_100)

    def min_of_two(sf_dir: str) -> dict[str, float]:
        touch_tables(spark, sf_dir)
        walls = {
            n: time_query(spark, n, specs[n].fn, sf_dir, 2, "bench_scale")
            for n in names
        }
        return {n: round(min(w), 3) for n, w in walls.items()}

    base = min_of_two(BASE_SF)
    scaled = min_of_two(out_dir)

    print(json.dumps({"sf": 0.1, "queries": base}))
    scaled_sf = round(0.1 * copies, 3)
    print(json.dumps({"sf": scaled_sf, "queries": scaled, "derived": True}))
    ratios = {}
    for name in names:
        r = ratios[name] = scaled[name] / max(base[name], 1e-9)
        flag = " <-- SUPER-LINEAR" if r > 2.5 * copies else ""
        print(f"{name:32s} {base[name]:8.3f}s {scaled[name]:8.3f}s  x{r:6.1f}{flag}")
    worst = max(ratios, key=ratios.get)
    print(f"worst ratio: {worst} x{ratios[worst]:.1f} (linear expectation x{copies})")
    spark.stop()


if __name__ == "__main__":
    main()
