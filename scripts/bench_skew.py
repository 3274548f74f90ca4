"""Skew stress: quantify what a pathological hot key does to a shuffle
join, and what each mitigation buys back.

Derives a skewed fact table from the 10x lineitem (bench_scale's derived
sf1): HOT_SHARE of all rows are rewritten to ONE join key. Then the same
join+aggregate (fact JOIN orders ON orderkey, grouped totals) runs under
three strategies, broadcast disabled throughout so the join is forced to
shuffle (the cluster-scale case — a dim too big to broadcast):

  naive     AQE skew split OFF: the hot key's entire partition lands on
            one reducer — the straggler that stretches the stage to the
            hot key's size regardless of cluster width.
  aqe_skew  AQE skew split ON (thresholds lowered to engage at local
            volumes): Spark splits the oversized partition into chunks
            and replicates the matching build side per chunk at runtime.
  salted    the blanket (key, salt) rewrite of join_salted_skew: EVERY
            dim row replicated N_SALTS times. Included as the honest
            negative datapoint — when the dim is large, replication
            costs more than the straggler saves (see results).
  salted_hot  production targeted salting: the fact splits into hot/cold
            on the known hot key set (in production, from
            profile_skew_keys), the cold side joins plain, and ONLY the
            hot dim rows are replicated across salts — straggler broken
            at ~zero replication cost.

All strategies must return IDENTICAL aggregates (asserted, exact
integer cents) — the mitigations are plan-only. Prints one JSON line
with timings and the skew profile.

Usage: python scripts/bench_skew.py [--hot-share 0.4]
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

REPO_ROOT = str(Path(__file__).resolve().parent.parent)
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)
sys.path.insert(0, str(Path(__file__).resolve().parent))

from bench_scale import generate, scale_dir  # noqa: E402

SCALE_DIR = scale_dir(10)

SKEW_DIR = "/tmp/omdp_skew_fact"
HOT_KEY = 7
N_SALTS = 16


def build_fact(spark, hot_share: float) -> None:
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{SCALE_DIR}/lineitem.parquet")
    # deterministic hot assignment: xxhash64 buckets a fixed share of rows
    # onto HOT_KEY (a real orderkey, so the join finds a match)
    bucket = F.pmod(F.xxhash64("l_orderkey", "l_linenumber"), F.lit(1000))
    skewed = li.withColumn(
        "l_orderkey",
        F.when(bucket < int(hot_share * 1000), F.lit(HOT_KEY)).otherwise(
            F.col("l_orderkey")
        ),
    )
    skewed.write.mode("overwrite").parquet(f"{SKEW_DIR}/lineitem.parquet")


def run_strategy(spark, strategy: str) -> tuple[float, list]:
    from pyspark.sql import functions as F

    skew_on = "true" if strategy == "aqe_skew" else "false"
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", skew_on)
    # engage the splitter at local volumes (defaults are 256 MB-scale)
    spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8m"
    )
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4m")

    fact = spark.read.parquet(f"{SKEW_DIR}/lineitem.parquet")
    orders = spark.read.parquet(f"{SCALE_DIR}/orders.parquet")

    if strategy == "salted":
        fact = fact.withColumn(
            "__salt", F.pmod(F.col("l_linenumber"), F.lit(N_SALTS))
        )
        orders_rep = orders.withColumn(
            "__salt", F.explode(F.sequence(F.lit(0), F.lit(N_SALTS - 1)))
        )
        joined = fact.join(
            orders_rep,
            (fact.l_orderkey == orders_rep.o_orderkey)
            & (fact["__salt"] == orders_rep["__salt"]),
        )
    elif strategy == "salted_hot":
        cold = fact.filter(F.col("l_orderkey") != HOT_KEY).join(
            orders, F.col("l_orderkey") == orders.o_orderkey
        )
        hot = fact.filter(F.col("l_orderkey") == HOT_KEY).withColumn(
            "__salt", F.pmod(F.col("l_linenumber"), F.lit(N_SALTS))
        )
        orders_hot = orders.filter(
            F.col("o_orderkey") == HOT_KEY
        ).withColumn(
            "__salt", F.explode(F.sequence(F.lit(0), F.lit(N_SALTS - 1)))
        )
        hot_joined = hot.join(
            orders_hot,
            (hot.l_orderkey == orders_hot.o_orderkey)
            & (hot["__salt"] == orders_hot["__salt"]),
        )
        joined = cold.select(
            "l_returnflag", "l_extendedprice"
        ).unionByName(hot_joined.select("l_returnflag", "l_extendedprice"))
    else:
        joined = fact.join(orders, fact.l_orderkey == orders.o_orderkey)

    agg = joined.groupBy("l_returnflag").agg(
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias(
            "cents"
        ),
        F.count(F.lit(1)).alias("n"),
    )
    start = time.perf_counter()
    rows = sorted(map(tuple, agg.collect()))
    return round(time.perf_counter() - start, 3), rows


def main() -> None:
    from open_molecule_data_pipeline_spark.session import get_spark

    hot_share = 0.4
    if "--hot-share" in sys.argv:
        hot_share = float(sys.argv[sys.argv.index("--hot-share") + 1])

    spark = get_spark(app_name="omdp-bench-skew")
    spark.sparkContext.setLogLevel("ERROR")
    if not Path(f"{SCALE_DIR}/lineitem.parquet").exists():
        print("generating derived sf1 dataset...", file=sys.stderr)
        generate(spark, 10)
    build_fact(spark, hot_share)

    # force shuffle joins: the scenario is a dim too big to broadcast
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")

    results: dict[str, float] = {}
    baseline_rows = None
    for strategy in ("naive", "aqe_skew", "salted", "salted_hot"):
        run_strategy(spark, strategy)  # warm
        t1, rows = run_strategy(spark, strategy)
        t2, rows2 = run_strategy(spark, strategy)
        assert rows == rows2
        if baseline_rows is None:
            baseline_rows = rows
        assert rows == baseline_rows, f"{strategy} changed the result"
        results[strategy] = min(t1, t2)

    print(
        json.dumps(
            {
                "hot_share": hot_share,
                "hot_key": HOT_KEY,
                "n_salts": N_SALTS,
                "seconds": results,
                "identical_results": True,
            }
        )
    )
    for s, t in results.items():
        print(f"{s:10s} {t:8.3f}s", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
