"""Shared helpers for cross-engine (Spark vs DuckDB) deterministic results.

Floating-point aggregates are the main parity hazard: both engines sum
doubles in nondeterministic order, so two runs of ``sum(price)`` can differ
in the last bits and any post-hoc rounding can land on different sides of a
half-way boundary. The testdata's monetary/quantity columns are
fixed-decimal values stored as doubles, so we sum the *scaled integer*
representation (exact in int64) and divide once at the end — a single
correctly-rounded FP op that is bit-identical across engines.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def lsum(col: Column | str, scale: int) -> Column:
    """Exact sum of a fixed-precision decimal column stored as double.

    ``scale`` must be 10**d where d >= the column's true decimal digits
    (prices/quantities/discounts: 2; price*(1-disc): 4; with (1+tax): 6).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(F.round(c * scale).cast("long")) / float(scale)


def s_lsum(expr: str, scale: int) -> str:
    """SQL twin of :func:`lsum`, valid in both DuckDB and Spark SQL.

    The inner cast defeats DuckDB's HUGEINT sum; the divisor is cast to
    double explicitly because a ``100.0`` literal parses as DECIMAL in both
    dialects, which would produce a decimal result instead of Spark's double.
    """
    return (
        f"(cast(sum(cast(round(({expr}) * {scale}) as bigint)) as bigint)"
        f" / cast({scale} as double))"
    )


def lavg(col: Column | str, scale: int) -> Column:
    """Exact-mean: scaled-integer sum divided by count, same op order as SQL."""
    return lsum(col, scale) / F.count(F.lit(1))


def s_lavg(expr: str, scale: int) -> str:
    return f"({s_lsum(expr, scale)} / count(*))"


def rounded(col: Column, digits: int = 6) -> Column:
    return F.round(col, digits)


def two_pass_global_window(df, order_cols, value_col=None, out_col="__running"):
    """Scale-safe global running total / row number.

    A ``Window.orderBy(...)`` with no ``partitionBy`` funnels every row
    through ONE task — correct at test scale, dead at 100 TB. The standard
    two-pass form: range-partition on the ordering key, compute the window
    *within* each range partition, then add each partition's prefix offset
    (the offsets live in a partition-count-sized side table, computed with a
    window over at most ``spark.sql.shuffle.partitions`` rows and broadcast
    back). Range partitions are contiguous in the sort order, so
    ``partition prefix + local running value == global running value``
    regardless of where the sampled boundaries land.

    ``order_cols`` must be a total order (include a tie-breaker).
    ``value_col=None`` -> global ``row_number`` in ``out_col``; otherwise the
    inclusive running ``sum(value_col)``.
    """
    from pyspark.sql import Window as W

    # Both the local-window branch and the offsets branch MUST see the same
    # sampled range boundaries / __pid assignment. persist() makes that
    # structural: one InMemoryRelation -> one range exchange -> one
    # RangePartitioner sampling pass, instead of relying on Spark's
    # exchange-reuse rule to dedupe two identical subplans (which a future
    # canonicalization divergence could silently break). The cache is freed
    # by clearCache()/ContextCleaner; blocks are the already-projected rows.
    ranged = (
        df.repartitionByRange(*order_cols)
        .withColumn("__pid", F.spark_partition_id())
        .persist()
    )
    local_w = (
        W.partitionBy("__pid")
        .orderBy(*order_cols)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    if value_col is None:
        local = F.row_number().over(W.partitionBy("__pid").orderBy(*order_cols))
        per_pid = F.count(F.lit(1))
    else:
        local = F.sum(value_col).over(local_w)
        per_pid = F.sum(value_col)
    with_local = ranged.withColumn("__local", local)
    # offsets: one row per range partition — a global window over a
    # bounded-cardinality table is the sanctioned exception to the
    # no-partitionless-window rule (see tests/test_plans_perf.py).
    offsets_w = W.orderBy("__pid").rowsBetween(W.unboundedPreceding, -1)
    offsets = (
        ranged.groupBy("__pid")
        .agg(per_pid.alias("__cnt"))
        .select(
            "__pid",
            F.coalesce(F.sum("__cnt").over(offsets_w), F.lit(0)).alias("__offset"),
        )
    )
    return (
        with_local.join(F.broadcast(offsets), "__pid")
        .withColumn(out_col, F.col("__offset") + F.col("__local"))
        .drop("__pid", "__local", "__offset")
    )


def local_df(spark, rows, schema):
    """A small driver-side table as a SINGLE-slice DataFrame: the default
    ``createDataFrame`` parallelizes even 1-row data into
    defaultParallelism slices, so every job over such a table (a
    broadcast build, a union branch) ran that many near-empty tasks."""
    return spark.createDataFrame(
        spark.sparkContext.parallelize(list(rows), 1), schema=schema
    )


def spread(df, *keys):
    """Repartition a coarsely-partitioned input before per-row-heavy compute.

    Small dimension tables often arrive as one parquet file = one partition;
    a shuffle-free projection chain (e.g. per-doc MinHash signatures) then
    runs on a single core no matter how wide the cluster is. One cheap
    round-robin/hash shuffle up front buys full parallelism for the
    expensive map stage. At 100 TB inputs are naturally multi-file, but the
    guard is still correct: repartition only widens, never narrows work.
    """
    try:
        n = df.sparkSession.sparkContext.defaultParallelism
        if df.rdd.getNumPartitions() >= n:
            return df
    except Exception:
        # Spark Connect exposes no sparkContext/rdd, so neither the target
        # width nor the current width is knowable here — skip rather than
        # risk narrowing an already-wide input with a blind repartition.
        return df
    return df.repartition(n, *keys) if keys else df.repartition(n)


def write_single_parquet_file(df, dest: str) -> None:
    """Write ``df`` as ONE parquet FILE at ``dest`` (not a directory).

    Mirrors the testdata layout ({table}.parquet leaf files), which the
    streaming twins' ``pathGlobFilter`` depends on: stage a coalesce(1)
    directory write, then promote the single part file.
    """
    import glob
    import os
    import shutil

    stage = f"{dest}._stage"
    df.coalesce(1).write.mode("overwrite").parquet(stage)
    part = glob.glob(f"{stage}/part-*.parquet")[0]
    shutil.rmtree(dest, ignore_errors=True)
    if os.path.exists(dest):
        os.remove(dest)
    shutil.move(part, dest)
    shutil.rmtree(stage, ignore_errors=True)
