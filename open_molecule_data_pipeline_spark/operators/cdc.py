"""Change-data-capture style operators without a lakehouse format.

MERGE INTO needs Delta/Iceberg jars (not in this runtime); the classic
emulation is anti-join + union: updates win, unmatched current rows
survive. At 100 TB both sides hash-shuffle on the key once — same cost
profile as a real MERGE's find-touched-files phase, minus transactionality
(which the idempotent-output + checkpoint layer provides at job level).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..catalog import table
from ..registry import register
from ._util import local_df

# The "updates" feed is derived deterministically from the data itself so
# the operator is oracle-checkable: every customer with custkey % 10 == 0
# gets a new acctbal and one brand-new customer row appears.

_CDC_ORACLE = """
WITH updates AS (
  SELECT c_custkey, c_name, round(c_acctbal + 1000.0, 2) AS c_acctbal
  FROM customer WHERE c_custkey % 10 = 0
  UNION ALL
  SELECT -1 AS c_custkey, 'Customer#new' AS c_name, 0.0 AS c_acctbal
)
SELECT c_custkey, c_name, c_acctbal, is_updated FROM (
  SELECT u.c_custkey, u.c_name, u.c_acctbal, true AS is_updated FROM updates u
  UNION ALL
  SELECT c.c_custkey, c.c_name, round(c.c_acctbal, 2) AS c_acctbal,
         false AS is_updated
  FROM customer c
  WHERE NOT EXISTS (SELECT 1 FROM updates u WHERE u.c_custkey = c.c_custkey)
) t
"""


@register("cdc_merge_upsert", oracle=_CDC_ORACLE, tags=("cdc", "merge"))
def cdc_merge_upsert(spark, sf_dir):
    current = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", F.round("c_acctbal", 2).alias("c_acctbal")
    )
    updates = (
        current.filter(F.col("c_custkey") % 10 == 0)
        .select(
            "c_custkey",
            "c_name",
            F.round(F.col("c_acctbal") + 1000.0, 2).alias("c_acctbal"),
        )
        .unionByName(
            local_df(
                spark,
                [(-1, "Customer#new", 0.0)],
                "c_custkey long, c_name string, c_acctbal double",
            )
        )
    )
    untouched = current.join(updates, "c_custkey", "left_anti")
    return updates.withColumn("is_updated", F.lit(True)).unionByName(
        untouched.withColumn("is_updated", F.lit(False))
    )


# --------------------------------------------------------------------------
# day-over-day retention: of users active on day D, how many were also
# active on D+1. Self-join of the distinct (user, day) activity set.
# --------------------------------------------------------------------------

_RETENTION_ORACLE = """
WITH activity AS (
  SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events
)
SELECT a.day AS day, count(*) AS active_users,
       count(b.user_id) AS retained_next_day
FROM activity a
LEFT JOIN activity b
  ON b.user_id = a.user_id AND b.day = a.day + INTERVAL 1 DAY
GROUP BY a.day
"""


@register("ts_retention_daily", oracle=_RETENTION_ORACLE, tags=("timeseries", "retention"))
def ts_retention_daily(spark, sf_dir):
    e = table(spark, sf_dir, "events")
    activity = e.select(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).distinct()
    a = activity.alias("a")
    b = activity.alias("b")
    return (
        a.join(
            b,
            (F.col("b.user_id") == F.col("a.user_id"))
            & (F.col("b.day") == F.col("a.day") + F.expr("INTERVAL 1 DAY")),
            "left",
        )
        .groupBy(F.col("a.day").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("active_users"),
            F.count(F.col("b.user_id")).alias("retained_next_day"),
        )
    )


# --------------------------------------------------------------------------
# Full-outer table diff (data reconciliation): classify every key of two
# table versions as added / removed / changed / unchanged. The "new
# version" is derived deterministically from orders by md5-nibble (drop
# '0'-keys, bump '1'-key prices, append '2'-keys under shifted ids) so
# both engines reconcile identical inputs. One full-outer shuffle join on
# the key — the canonical snapshot-vs-snapshot audit at any scale.
# --------------------------------------------------------------------------

_DIFF_ORACLE = """
WITH v2 AS (
  SELECT o_orderkey, o_custkey,
         CASE WHEN substr(md5(cast(o_orderkey AS VARCHAR)), 1, 1) = '1'
              THEN o_totalprice + 1.0 ELSE o_totalprice END AS o_totalprice
  FROM orders
  WHERE substr(md5(cast(o_orderkey AS VARCHAR)), 1, 1) <> '0'
  UNION ALL
  SELECT o_orderkey + 100000000, o_custkey, o_totalprice
  FROM orders
  WHERE substr(md5(cast(o_orderkey AS VARCHAR)), 1, 1) = '2'
)
SELECT CASE WHEN a.o_orderkey IS NULL THEN 'added'
            WHEN b.o_orderkey IS NULL THEN 'removed'
            WHEN a.o_totalprice <> b.o_totalprice THEN 'changed'
            ELSE 'unchanged' END AS status,
       cast(count(*) AS BIGINT) AS n
FROM orders a FULL OUTER JOIN v2 b ON a.o_orderkey = b.o_orderkey
GROUP BY 1
"""


@register("cdc_table_diff", oracle=_DIFF_ORACLE, tags=("cdc", "join"), bench=True)
def cdc_table_diff(spark, sf_dir):
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    nib = F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 1)
    v2 = (
        o.filter(nib != "0")
        .withColumn(
            "o_totalprice",
            F.when(nib == "1", F.col("o_totalprice") + 1.0).otherwise(
                F.col("o_totalprice")
            ),
        )
        .unionByName(
            o.filter(nib == "2").withColumn(
                "o_orderkey", F.col("o_orderkey") + 100000000
            )
        )
    )
    a, b = o.alias("a"), v2.alias("b")
    joined = a.join(b, F.col("a.o_orderkey") == F.col("b.o_orderkey"), "full")
    status = (
        F.when(F.col("a.o_orderkey").isNull(), "added")
        .when(F.col("b.o_orderkey").isNull(), "removed")
        .when(F.col("a.o_totalprice") != F.col("b.o_totalprice"), "changed")
        .otherwise("unchanged")
    )
    return joined.groupBy(status.alias("status")).agg(
        F.count(F.lit(1)).alias("n")
    )


# --------------------------------------------------------------------------
# SCD2 interval construction from a change log: compress each user's event
# stream to type-change rows (lag comparison), then derive
# [valid_from, valid_to) with lead — open intervals get NULL valid_to.
# Two windows over the same (user_id, ts) partitioning = one shuffle.
# --------------------------------------------------------------------------

_SCD2_ORACLE = """
WITH chg AS (
  SELECT user_id, event_type, ts, event_id,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type
  FROM events
), compressed AS (
  SELECT user_id, event_type, ts, event_id FROM chg
  WHERE prev_type IS NULL OR event_type <> prev_type
)
SELECT user_id, event_type, ts AS valid_from,
       lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
FROM compressed
"""


@register("cdc_scd2_intervals", oracle=_SCD2_ORACLE, tags=("cdc", "window"))
def cdc_scd2_intervals(spark, sf_dir):
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    chg = e.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.lag("event_type").over(w).alias("prev_type"),
    )
    compressed = chg.filter(
        F.col("prev_type").isNull() | (F.col("event_type") != F.col("prev_type"))
    )
    return compressed.select(
        "user_id",
        "event_type",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
    )


# --------------------------------------------------------------------------
# SCD2 point-in-time (AS OF) lookup: enrich each purchase with the
# dimension state (the user's last event_type change) in effect at the
# purchase's event time — the temporal-join read side of the SCD2 build
# above, and the query every warehouse runs against a type-2 dimension.
# Implementation is the distributed as-of join of operators/asof.py
# (union + one partitioned window, no range explosion); the oracle derives
# the same answer from the compressed change log with a window. A state
# change AT the purchase timestamp wins (<=-semantics, tie-break
# event_id), matching the SCD2 convention that valid_from is inclusive.
# --------------------------------------------------------------------------

_PIT_ORACLE = """
WITH chg AS (
  SELECT user_id, event_type, ts, event_id,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type
  FROM events
), compressed AS (
  SELECT user_id, event_type AS state, ts AS state_ts, event_id AS state_eid
  FROM chg WHERE prev_type IS NULL OR event_type <> prev_type
), purchases AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
), ranked AS (
  SELECT p.event_id, p.user_id, c.state,
         row_number() OVER (PARTITION BY p.event_id
                            ORDER BY c.state_ts DESC, c.state_eid DESC) AS rn
  FROM purchases p
  JOIN compressed c
    ON c.user_id = p.user_id AND c.state_ts <= p.ts
)
SELECT user_id, state,
       cast(count(*) AS BIGINT) AS n_purchases
FROM ranked WHERE rn = 1
GROUP BY user_id, state
"""


@register("cdc_scd2_pointintime", oracle=_PIT_ORACLE, tags=("cdc", "asof"))
def cdc_scd2_pointintime(spark, sf_dir):
    from .asof import asof_join

    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    compressed = (
        e.select(
            "user_id",
            "event_type",
            "ts",
            "event_id",
            F.lag("event_type").over(w).alias("prev_type"),
        )
        .filter(
            F.col("prev_type").isNull()
            | (F.col("event_type") != F.col("prev_type"))
        )
        .select(
            "user_id",
            F.col("event_type").alias("state"),
            F.col("ts").alias("state_ts"),
            F.col("event_id").alias("state_eid"),
        )
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    enriched = asof_join(
        purchases,
        compressed,
        left_on="user_id",
        right_on="user_id",
        left_time="ts",
        right_time="state_ts",
        value_cols=["state"],
        right_tiebreak="state_eid",
    )
    return enriched.groupBy("user_id", "state").agg(
        F.count(F.lit(1)).alias("n_purchases")
    )


# --------------------------------------------------------------------------
# Incremental aggregate maintenance — the delta-refresh contract behind
# every materialized rollup at 100 TB: maintaining SUM/COUNT aggregates
# under appends must equal a full recompute WITHOUT rescanning the base.
# The query splits orders at a date watermark, computes the base rollup
# and the delta rollup independently, merges them with pure aggregate
# algebra (sum+sum, count+count, avg re-derived from merged sums), and
# emits the merged rollup; the oracle is the FULL recompute over the
# union — a hash match proves the merge algebra is lossless. All sums ride
# the scaled-int64 protocol so merge order cannot drift. (AVG is the
# canonical non-trivially-mergeable case: merged as s/n, never avg-of-avg.)
# --------------------------------------------------------------------------

_INC_AGG_ORACLE = """
SELECT o_orderpriority,
       cast(count(*) AS BIGINT) AS n_orders,
       cast(sum(cast(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS price_cents,
       round(cast(sum(cast(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             / cast(count(*) AS DOUBLE) / 100, 6) AS avg_price
FROM orders
GROUP BY o_orderpriority
"""


@register(
    "cdc_incremental_agg_maintenance",
    oracle=_INC_AGG_ORACLE,
    tags=("cdc", "agg", "merge"),
)
def cdc_incremental_agg_maintenance(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    watermark = "1996-01-01"

    def rollup(df):
        return df.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("cents"),
        )

    base = rollup(o.filter(F.col("o_orderdate") < watermark))
    delta = rollup(o.filter(F.col("o_orderdate") >= watermark))
    merged = (
        base.unionByName(delta)
        .groupBy("o_orderpriority")
        .agg(
            F.sum("n").cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("price_cents"),
        )
    )
    return merged.select(
        "o_orderpriority",
        "n_orders",
        "price_cents",
        F.round(
            F.col("price_cents") / F.col("n_orders").cast("double") / 100, 6
        ).alias("avg_price"),
    )


# --------------------------------------------------------------------------
# Cohort retention MATRIX (the product-analytics triangle): users grouped
# by first-activity week, each cohort's distinct actives counted at every
# week offset, with the retention share against the cohort's size. The
# daily next-day variant above answers "how sticky is today"; the matrix
# answers "how do cohorts age" — a different join shape (first-activity
# anchor + all-offsets fan-out, not a 1-lag self-join). Exact protocol:
# weeks via date_trunc, offsets as integer week-diffs from epoch-day
# arithmetic, one division per cell. Cost at 100 TB: one distinct
# (user, week) pre-aggregate, one min-per-user anchor, one join back —
# all keyed on user_id.
# --------------------------------------------------------------------------

_COHORT_ORACLE = """
WITH activity AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events
),
anchor AS (
  SELECT user_id, min(wk) AS cohort_wk FROM activity GROUP BY user_id
),
sizes AS (
  SELECT cohort_wk, cast(count(*) AS BIGINT) AS cohort_users
  FROM anchor GROUP BY cohort_wk
),
cells AS (
  SELECT n.cohort_wk,
         cast((epoch(a.wk) - epoch(n.cohort_wk)) / 604800 AS INTEGER)
             AS week_offset,
         cast(count(DISTINCT a.user_id) AS BIGINT) AS active_users
  FROM activity a JOIN anchor n ON a.user_id = n.user_id
  GROUP BY 1, 2
)
SELECT c.cohort_wk, c.week_offset, c.active_users, s.cohort_users,
       round(c.active_users / cast(s.cohort_users AS DOUBLE), 6)
           AS retention
FROM cells c JOIN sizes s ON c.cohort_wk = s.cohort_wk
"""


@register(
    "ts_cohort_retention_matrix",
    oracle=_COHORT_ORACLE,
    tags=("timeseries", "retention", "agg"),
)
def ts_cohort_retention_matrix(spark, sf_dir):
    e = table(spark, sf_dir, "events")
    activity = e.select(
        "user_id", F.date_trunc("week", "ts").alias("wk")
    ).distinct()
    anchor = activity.groupBy("user_id").agg(F.min("wk").alias("cohort_wk"))
    sizes = anchor.groupBy("cohort_wk").agg(
        F.count(F.lit(1)).alias("cohort_users")
    )
    cells = (
        activity.join(anchor, "user_id")
        .groupBy(
            "cohort_wk",
            (
                (
                    F.unix_timestamp(F.col("wk").cast("timestamp"))
                    - F.unix_timestamp(F.col("cohort_wk").cast("timestamp"))
                )
                / 604800
            )
            .cast("int")
            .alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("active_users"))
    )
    return cells.join(F.broadcast(sizes), "cohort_wk").select(
        "cohort_wk",
        "week_offset",
        "active_users",
        "cohort_users",
        F.round(
            F.col("active_users") / F.col("cohort_users").cast("double"), 6
        ).alias("retention"),
    )


# --------------------------------------------------------------------------
# Time travel over an ops log (r10): reconstruct table state AS OF every
# version — the Delta/Iceberg VERSION AS OF read expressed relationally.
# A deterministic upsert/delete log is derived from orders (key =
# o_custkey, version = o_orderkey % 6 + 1, every 17th op a delete;
# within (key, version) the highest o_orderkey wins — the commit-order
# tie rule). Reconstruction is the SCD2 construction run on the log:
# latest-op-per-(key,version) via one ranked window, validity interval
# [version, next_version) via lead() PARTITIONED by key, then each live
# row fans out to the <= 6 versions it serves through a JVM
# sequence+explode (bounded by the version count, never a theta join).
# At 100 TB the per-key windows shuffle once on key; the version spine
# is a constant — the same plan Delta's log replay induces.
# --------------------------------------------------------------------------

_TIME_TRAVEL_ORACLE = """
WITH ops AS (
  SELECT o_custkey AS k,
         (o_orderkey % 6) + 1 AS ver,
         o_orderkey AS seq,
         CASE WHEN o_orderkey % 17 = 0 THEN 'D' ELSE 'U' END AS op,
         cast(round(o_totalprice * 100) AS BIGINT) AS val_e2
  FROM orders
),
latest AS (
  SELECT k, ver, op, val_e2
  FROM (
    SELECT k, ver, op, val_e2,
           row_number() OVER (PARTITION BY k, ver ORDER BY seq DESC) AS rn
    FROM ops
  ) x WHERE rn = 1
),
iv AS (
  SELECT k, ver, op, val_e2,
         coalesce(lead(ver) OVER (PARTITION BY k ORDER BY ver), 7) AS nxt
  FROM latest
),
live AS (
  SELECT k, val_e2, t.v
  FROM iv, generate_series(1, 6) t(v)
  WHERE op = 'U' AND t.v >= ver AND t.v < nxt
)
SELECT v AS version,
       cast(count(*) AS BIGINT) AS n_live_keys,
       cast(sum(val_e2) AS BIGINT) AS total_value_e2
FROM live
GROUP BY v
"""


@register(
    "cdc_time_travel",
    oracle=_TIME_TRAVEL_ORACLE,
    tags=("cdc", "window"),
)
def cdc_time_travel(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    ops = o.select(
        F.col("o_custkey").alias("k"),
        (F.col("o_orderkey") % 6 + 1).alias("ver"),
        F.col("o_orderkey").alias("seq"),
        F.when(F.col("o_orderkey") % 17 == 0, F.lit("D"))
        .otherwise(F.lit("U")).alias("op"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("val_e2"),
    )
    ranked = ops.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("k", "ver").orderBy(F.col("seq").desc())
        ),
    ).filter(F.col("rn") == 1)
    iv = ranked.withColumn(
        "nxt",
        F.coalesce(
            F.lead("ver").over(Window.partitionBy("k").orderBy("ver")),
            F.lit(7),
        ),
    )
    live = (
        iv.filter(F.col("op") == "U")
        .withColumn(
            "version",
            F.explode(
                F.sequence(F.col("ver"), F.least(F.col("nxt") - 1, F.lit(6)))
            ),
        )
    )
    return live.groupBy("version").agg(
        F.count(F.lit(1)).alias("n_live_keys"),
        F.sum("val_e2").alias("total_value_e2"),
    )


# --------------------------------------------------------------------------
# Vacuum eligibility report (r10): the other half of time travel — given
# the same deterministic ops log as cdc_time_travel and a retention
# watermark (versions >= _VACUUM_KEEP stay queryable), classify every log
# entry as RETAINED or vacuumable, split by WHY it is vacuumable:
#   dup_superseded — not the latest op for its (key, version): invisible
#     at every version, reclaimable regardless of retention;
#   expired — latest for its (key, version) but its validity interval
#     [ver, next_ver) ends at or before the watermark: only versions no
#     one can query still reference it.
# This is Delta/Iceberg VACUUM expressed relationally: "file referenced
# by any retained snapshot" becomes "interval intersects [watermark,
# inf)". Per-key windows shuffle once on key (same plan as the time
# travel read); everything else is exact integer counts per version.
# --------------------------------------------------------------------------

_VACUUM_KEEP = 4  # retain versions >= 4 (of the 1..6 spine)

_VACUUM_ORACLE = f"""
WITH ops AS (
  SELECT o_custkey AS k,
         (o_orderkey % 6) + 1 AS ver,
         o_orderkey AS seq
  FROM orders
),
ranked AS (
  SELECT k, ver, seq,
         row_number() OVER (PARTITION BY k, ver ORDER BY seq DESC) AS rn
  FROM ops
),
latest AS (
  SELECT k, ver,
         lead(ver) OVER (PARTITION BY k ORDER BY ver) AS next_ver
  FROM ranked WHERE rn = 1
),
tagged AS (
  SELECT ver, 'dup_superseded' AS status FROM ranked WHERE rn > 1
  UNION ALL
  SELECT ver,
         CASE WHEN next_ver IS NOT NULL AND next_ver <= {_VACUUM_KEEP}
              THEN 'expired' ELSE 'retained' END AS status
  FROM latest
)
SELECT ver AS version, status, cast(count(*) AS BIGINT) AS n_ops
FROM tagged GROUP BY ver, status
"""


@register(
    "cdc_vacuum_report",
    oracle=_VACUUM_ORACLE,
    tags=("cdc", "lakehouse"),
)
def cdc_vacuum_report(spark, sf_dir):
    from pyspark.sql import Window as W

    o = table(spark, sf_dir, "orders")
    ops = o.select(
        F.col("o_custkey").alias("k"),
        ((F.col("o_orderkey") % 6) + 1).alias("ver"),
        F.col("o_orderkey").alias("seq"),
    )
    wr = W.partitionBy("k", "ver").orderBy(F.col("seq").desc())
    ranked = ops.withColumn("rn", F.row_number().over(wr))
    wl = W.partitionBy("k").orderBy("ver")
    latest = (
        ranked.where(F.col("rn") == 1)
        .select("k", "ver")
        .withColumn("next_ver", F.lead("ver").over(wl))
    )
    dup = ranked.where(F.col("rn") > 1).select(
        "ver", F.lit("dup_superseded").alias("status")
    )
    kept = latest.select(
        "ver",
        F.when(
            F.col("next_ver").isNotNull() & (F.col("next_ver") <= _VACUUM_KEEP),
            "expired",
        )
        .otherwise("retained")
        .alias("status"),
    )
    return (
        dup.unionByName(kept)
        .groupBy(F.col("ver").alias("version"), "status")
        .agg(F.count(F.lit(1)).cast("long").alias("n_ops"))
    )


# --------------------------------------------------------------------------
# Hash-chain log integrity (r13): the tamper-evidence primitive for an
# append-only ops log — every entity's events fold into a rolling
# md5 chain h_k = md5(h_{k-1} || '-' || payload_k) seeded with
# md5(entity_id), so the chain HEAD commits to the entire history in
# order: any edited, dropped, or reordered row changes the head (the
# audit property a mutable-table CDC pipeline ships downstream instead
# of re-shipping the log). Chains are sequential BY DESIGN, so the
# parallel unit is the ENTITY: one groupBy collects each customer's
# orders (bounded per entity), one in-memory fold computes the head —
# no global sequential pass exists. The oracle folds the identical
# algebra via list_reduce seeded by prepending md5(entity) (the LCS/
# rouge.py seed trick, probed exact on DuckDB v1.0).
# --------------------------------------------------------------------------

_CHAIN_ORACLE = """
WITH payload AS (
  SELECT o_custkey,
         cast(o_orderkey AS VARCHAR) || '-'
           || cast(cast(round(o_totalprice * 100) AS BIGINT) AS VARCHAR)
           AS p,
         o_orderkey
  FROM orders
),
chains AS (
  SELECT o_custkey AS custkey,
         cast(count(*) AS BIGINT) AS n_orders,
         list_reduce(
           list_concat([md5(cast(o_custkey AS VARCHAR))],
                       list(p ORDER BY o_orderkey)),
           (acc, x) -> md5(acc || '-' || x)) AS chain_head
  FROM payload GROUP BY o_custkey
)
SELECT custkey, n_orders, chain_head FROM chains
"""


@register("cdc_hash_chain_audit", oracle=_CHAIN_ORACLE, tags=("cdc", "quality"))
def cdc_hash_chain_audit(spark, sf_dir):
    """Per-customer rolling md5 chain head over the order log — the
    tamper-evidence commitment for an append-only history."""
    o = table(spark, sf_dir, "orders")
    payload = o.select(
        F.col("o_custkey").alias("custkey"),
        F.struct(
            F.col("o_orderkey").alias("k"),
            F.concat(
                F.col("o_orderkey").cast("string"),
                F.lit("-"),
                F.round(F.col("o_totalprice") * 100)
                .cast("long")
                .cast("string"),
            ).alias("p"),
        ).alias("e"),
    )
    chains = payload.groupBy("custkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.aggregate(
            F.array_sort(F.collect_list("e")),
            F.md5(F.col("custkey").cast("string")),
            lambda acc, x: F.md5(F.concat(acc, F.lit("-"), x["p"])),
        ).alias("chain_head"),
    )
    return chains.select("custkey", "n_orders", "chain_head")
