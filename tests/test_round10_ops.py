"""Edge-semantics pins for the r10 operators (parity with the DuckDB
oracle is covered by test_oracle_parity; these pin the CONTRACTS that
parity alone would not catch if both engines drifted together)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F


def test_twa_excludes_single_event_days(spark):
    """A user-day with one event has no LOCF segment (zero span) and must
    be absent from the output, not present with NULL/0 — the documented
    denominator contract."""
    from open_molecule_data_pipeline_spark.operators.ts_extra3 import (
        ts_time_weighted_avg,
    )
    import open_molecule_data_pipeline_spark.catalog as cat

    rows = [
        (1, "2024-01-01 00:00:00", 10, 10.0),
        (2, "2024-01-01 01:00:00", 10, 30.0),  # user 10: one 1h segment
        (3, "2024-01-01 12:00:00", 20, 99.0),  # user 20: single event
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    orig = cat.table
    try:
        cat.table = lambda s, d, n: df
        import open_molecule_data_pipeline_spark.operators.ts_extra3 as m

        m_table = m.table
        m.table = cat.table
        try:
            out = {r.user_id: r for r in ts_time_weighted_avg(spark, "x").collect()}
        finally:
            m.table = m_table
    finally:
        cat.table = orig
    assert set(out) == {10}
    # the only segment carries value 10.0 for the full hour -> TWA = 10
    assert out[10].twa == pytest.approx(10.0)
    assert out[10].span_us == 3_600_000_000


def test_drawdown_peak_never_decreases(spark, sf_dir):
    """max_drawdown_e2 >= 0 always, and a user whose equity is monotone
    nondecreasing has drawdown exactly 0 — pinned on a synthetic series
    plus nonnegativity on the real table."""
    from open_molecule_data_pipeline_spark.operators.ts_extra3 import (
        window_max_drawdown,
    )
    import open_molecule_data_pipeline_spark.operators.ts_extra3 as m

    rows = [
        (1, "2024-01-01 00:00:00", 1, 5.0),
        (2, "2024-01-01 01:00:00", 1, 3.0),   # rising equity: 5, 8
        (3, "2024-01-01 00:00:00", 2, 5.0),
        (4, "2024-01-01 01:00:00", 2, -2.0),  # drop of 2.00 from peak
        (5, "2024-01-01 02:00:00", 2, 10.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    orig = m.table
    try:
        m.table = lambda s, d, n: df
        out = {r.user_id: r for r in window_max_drawdown(spark, "x").collect()}
    finally:
        m.table = orig
    assert out[1].max_drawdown_e2 == 0
    assert out[2].max_drawdown_e2 == 200  # 2.00 in centi-units
    assert out[2].peak_equity_e2 == 1300

    real = window_max_drawdown(spark, sf_dir).agg(
        F.min("max_drawdown_e2")
    ).collect()[0][0]
    assert real >= 0


def test_kfold_deterministic_and_balanced(spark, sf_dir):
    """Same input -> identical folds across runs; every fold non-empty and
    the largest/smallest fold ratio stays under 2 (the md5 split is
    near-uniform, not Bernoulli-noisy)."""
    from open_molecule_data_pipeline_spark.operators.readability import (
        sample_kfold_assign,
    )

    a = {r.fold: r.n_docs for r in sample_kfold_assign(spark, sf_dir).collect()}
    b = {r.fold: r.n_docs for r in sample_kfold_assign(spark, sf_dir).collect()}
    assert a == b
    assert set(a) == {0, 1, 2, 3, 4}
    assert max(a.values()) < 2 * min(a.values())


def test_ridge_shrinks_slopes(spark, sf_dir):
    """With lambda on the slope diagonal, |b_ridge| <= |b_ols| + eps for
    both features in every group on this data (well-conditioned moments;
    the shrinkage direction is the point of the operator)."""
    from open_molecule_data_pipeline_spark.operators.ml_extra import (
        ml_ridge_regression,
    )

    for r in ml_ridge_regression(spark, sf_dir).collect():
        assert abs(r.b1_ridge) <= abs(r.b1_ols) + 1e-6, r
        assert abs(r.b2_ridge) <= abs(r.b2_ols) + 1e-6, r


def test_mad_ignores_injected_outliers(spark):
    """The defining robustness property: adding a single extreme outlier
    must leave the median and MAD of the group unchanged (stddev-based
    scoring would inflate sigma and mask it)."""
    import open_molecule_data_pipeline_spark.operators.ts_extra3 as m
    from open_molecule_data_pipeline_spark.operators.ts_extra3 import (
        ts_anomaly_robust_mad,
    )

    base = [(i, "a", 10.0 + (i % 5)) for i in range(101)]

    def run(rows):
        df = spark.createDataFrame(
            rows, "event_id long, event_type string, value double"
        )
        orig = m.table
        try:
            m.table = lambda s, d, n: df
            return {r.event_type: r for r in ts_anomaly_robust_mad(spark, "x").collect()}
        finally:
            m.table = orig

    clean = run(base)["a"]
    spiked = run(base + [(999, "a", 1e6)])["a"]
    assert spiked.med == clean.med
    assert spiked.mad == clean.mad
    assert spiked.n_outliers == clean.n_outliers + 1


def test_url_parse_edge_contract(spark):
    """PATH on a path-less URL is '' (empty string) while absent QUERY is
    NULL — the Hive-compat contract the oracle mirrors with nullif."""
    from open_molecule_data_pipeline_spark.operators.funcs_extra4 import (
        func_url_parse,
    )

    rows = {r.url: r for r in func_url_parse(spark, "x").collect()}
    bare = rows["http://example.com?x=1"]
    assert bare.path == "" and bare.query == "x=1" and bare.px == "1"
    clean = rows["https://example.com/a/b/c"]
    assert clean.query is None and clean.ref is None and clean.ui is None
    auth = rows["https://user:pw@secure.example.com:8443/login?next=/home&x=9"]
    assert auth.host == "secure.example.com" and auth.ui == "user:pw"


def test_vwap_turnover_is_exact_integer(spark, sf_dir):
    """turnover_e2 must be an exact int64 (scaled-integer rule): the sum
    of per-hour turnovers equals the single global turnover computed the
    same way — associativity holds exactly for integers (it would not
    for double sums)."""
    from open_molecule_data_pipeline_spark.operators.ts_extra3 import (
        ts_vwap_hourly,
    )
    from open_molecule_data_pipeline_spark.catalog import table

    hourly = ts_vwap_hourly(spark, sf_dir).agg(
        F.sum("turnover_e2").alias("t"), F.sum("volume").alias("v")
    ).collect()[0]
    e = table(spark, sf_dir, "events")
    vol = F.get_json_object("props", "$.k").cast("long")
    glob = e.agg(
        F.sum(F.round(F.col("value") * vol * 100).cast("long")).alias("t"),
        F.sum(vol).alias("v"),
    ).collect()[0]
    assert hourly.t == glob.t and hourly.v == glob.v


def test_murcko_pruning_properties():
    """Structural pins independent of the golden table: scaffold is
    idempotent (scaffold(scaffold(s)) == scaffold(s)), acyclic inputs
    yield None, and the scaffold's atoms are a subset of the molecule's
    (never grows)."""
    from open_molecule_data_pipeline_spark.functions.chem import (
        murcko_scaffold,
        parse_smiles,
    )

    for s in ["CC(=O)OC1=CC=CC=C1C(=O)O", "NCCCCc1ccccc1",
              "c1ccccc1Cc1ccccc1", "C1CCCCC1CCC1CCCCC1"]:
        m = murcko_scaffold(s)
        assert m is not None
        assert murcko_scaffold(m) == m, s
        assert len(parse_smiles(m)[0]) <= len(parse_smiles(s)[0])
    for s in ["CCO", "CC(N)O", "[NH4+].[Cl-]", "C"]:
        assert murcko_scaffold(s) is None, s


def test_murcko_exocyclic_double_bond_pruned():
    """The basic framework variant drops exocyclic =O with its
    substituent: cyclohexanone prunes to cyclohexane's ring, not to a
    ring-plus-carbonyl."""
    from open_molecule_data_pipeline_spark.functions.chem import murcko_scaffold

    assert murcko_scaffold("O=C1CCCCC1") == murcko_scaffold("C1CCCCC1")


def test_time_travel_versions_monotone_until_deletes(spark, sf_dir):
    """State reconstruction sanity: every version 1..6 present; the live
    count at version v equals the number of keys whose latest op <= v is
    an upsert — cross-checked by replaying the log in pandas."""
    from open_molecule_data_pipeline_spark.operators.cdc import cdc_time_travel
    from open_molecule_data_pipeline_spark.catalog import table

    out = {r.version: r for r in cdc_time_travel(spark, sf_dir).collect()}
    assert set(out) == {1, 2, 3, 4, 5, 6}

    pdf = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    ).toPandas()
    pdf["ver"] = pdf.o_orderkey % 6 + 1
    pdf["op"] = (pdf.o_orderkey % 17 == 0).map({True: "D", False: "U"})
    pdf["val"] = (pdf.o_totalprice * 100).round().astype("int64")
    latest = (
        pdf.sort_values("o_orderkey")
        .groupby(["o_custkey", "ver"], as_index=False)
        .last()
    )
    for v in (1, 6):
        state = (
            latest[latest.ver <= v]
            .sort_values("ver")
            .groupby("o_custkey", as_index=False)
            .last()
        )
        live = state[state.op == "U"]
        assert out[v].n_live_keys == len(live)
        assert out[v].total_value_e2 == int(live.val.sum())


def test_rfm_scores_in_range_and_consistent(spark, sf_dir):
    """Every score in 1..4; a user maximal in all three raw dimensions
    relative to the thresholds scores (4,4,4) orientation: LOWER recency
    is BETTER (score 4), higher F/M are better."""
    from open_molecule_data_pipeline_spark.operators.ts_extra3 import ts_rfm_scores

    rows = ts_rfm_scores(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 1 <= r.r_score <= 4 and 1 <= r.f_score <= 4 and 1 <= r.m_score <= 4
    best_r = min(rows, key=lambda r: (r.r_days, r.user_id))
    assert best_r.r_score == 4
    best_m = max(rows, key=lambda r: (r.m_cents, r.user_id))
    assert best_m.m_score == 4


def test_target_encode_loo_excludes_self(spark, sf_dir):
    """The leakage contract: for rows with y=1 the LOO encoding must be
    strictly below the same category's y=0 encoding (removing a positive
    lowers the mean; removing a negative raises it) — per category,
    max(enc | y=1) < min(enc | y=0)."""
    from open_molecule_data_pipeline_spark.operators.ml_extra import (
        ml_target_encode_loo,
    )

    rows = ml_target_encode_loo(spark, sf_dir).collect()
    by_cat = {}
    for r in rows:
        by_cat.setdefault(r.cat, {})[r.y] = r
    for cat, d in by_cat.items():
        if 0 in d and 1 in d:
            assert d[1].enc_ppm_max < d[0].enc_ppm_min, cat


def test_footer_stats_never_reads_data_pages(spark, sf_dir):
    """The audit's mapInPandas must receive only (pid, path) rows — the
    file LIST — never row data; and the per-pid totals must sum to the
    table's row count."""
    from open_molecule_data_pipeline_spark.operators.parquet_meta import (
        layout_footer_stats,
    )
    from open_molecule_data_pipeline_spark.catalog import table

    out = layout_footer_stats(spark, sf_dir)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the python stage's input is the tiny parallelized file list, so the
    # scan feeding it must NOT be a parquet relation of the events schema
    total = out.agg(F.sum("n_rows")).collect()[0][0]
    assert total == table(spark, sf_dir, "events").count()
    assert out.count() == 16


def test_interval_overlap_binning_is_exact(spark, sf_dir):
    """The equi-join on covered hour buckets must equal the brute-force
    inequality overlap join (no residual filter needed) — recomputed here
    with a genuine theta join over the same Spark-side intermediates."""
    import open_molecule_data_pipeline_spark.operators.ts_extra3 as m

    # the pytest fixture runs at a small SF where no hour reaches the
    # production threshold — drop it to 1 so the equivalence is exercised
    # on a non-empty window set (both sides read the patched value)
    orig_min = m._INCIDENT_MIN
    m._INCIDENT_MIN = 1
    e = m.table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t"),
    )
    from pyspark.sql import Window as W

    w_ord = W.partitionBy("user_id").orderBy("t", "event_id")
    new_s = F.when(
        F.lag("t").over(w_ord).isNull()
        | ((F.col("t") - F.lag("t").over(w_ord)) > 1_800_000_000), 1
    ).otherwise(0)
    srank = F.sum(new_s).over(
        W.partitionBy("user_id").orderBy("t", "event_id").rowsBetween(
            W.unboundedPreceding, W.currentRow))
    sess = (e.select("user_id", "t", srank.alias("srank"))
            .groupBy("user_id", "srank")
            .agg(F.min("t").alias("ss"), F.max("t").alias("se")))
    win = (e.filter(F.col("event_type") == "error")
           .groupBy(F.expr(f"t div {m._HOUR_US}").alias("hb"))
           .agg(F.count(F.lit(1)).alias("n_errors"))
           .filter(F.col("n_errors") >= m._INCIDENT_MIN)
           .select((F.col("hb") * m._HOUR_US).alias("ws"), "n_errors"))
    brute = (
        win.join(sess, (F.col("ss") < F.col("ws") + m._HOUR_US)
                 & (F.col("ws") <= F.col("se")))
        .groupBy("ws").agg(F.count(F.lit(1)).alias("n_sessions"))
    )
    try:
        got = {r.window_start_us: r.n_sessions
               for r in m.join_interval_overlap(spark, sf_dir).collect()}
        want = {r.ws: r.n_sessions for r in brute.collect()}
    finally:
        m._INCIDENT_MIN = orig_min
    assert got == want and got


def test_ndjson_pyds_sink_two_phase_commit(spark, tmp_path):
    """Writer protocol pins: staged files are promoted on commit (no
    _staging remains), the _SUCCESS manifest row counts sum to the input,
    and compress=false emits plain NDJSON."""
    import json as _json

    from open_molecule_data_pipeline_spark.sinks.python_datasource_sink import (
        register_ndjson_sink,
    )

    register_ndjson_sink(spark)
    df = spark.createDataFrame(
        [(i, f"m{i}") for i in range(10)], "i long, s string"
    )
    out = tmp_path / "nd"
    (
        df.repartition(3)
        .write.format("omdp_ndjson")
        .option("path", str(out))
        .option("compress", "false")
        .mode("append")
        .save()
    )
    assert not (out / "_staging").exists()
    manifest = _json.loads((out / "_SUCCESS").read_text())
    assert sum(manifest.values()) == 10
    files = sorted(out.glob("part-*.ndjson"))
    assert files and set(manifest) == {f.name for f in files}
    rows = [
        _json.loads(line)
        for f in files
        for line in f.read_text().splitlines()
    ]
    assert sorted(r["i"] for r in rows) == list(range(10))


def test_ndjson_pyds_sink_requires_path(spark):
    import pytest as _pytest
    from py4j.protocol import Py4JJavaError

    from open_molecule_data_pipeline_spark.sinks.python_datasource_sink import (
        register_ndjson_sink,
    )

    register_ndjson_sink(spark)
    df = spark.createDataFrame([(1,)], "i long")
    with _pytest.raises(Exception) as ei:
        df.write.format("omdp_ndjson").mode("append").save()
    assert "path" in str(ei.value)


def _write_embeddings(td, rows):
    """A single-file embeddings table both engines read."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array([r[0] for r in rows], pa.int64()),
                "embedding": pa.array(
                    [r[1] for r in rows], pa.list_(pa.float32())
                ),
                "label": pa.array([0] * len(rows), pa.int32()),
            }
        ),
        f"{td}/embeddings.parquet",
    )


def test_kmeans_null_seed_coordinate_matches_oracle(spark, tmp_path):
    """A NULL coordinate in a seed vector seeds a NULL centroid (the
    oracle's scalar subquery yields NULL), every argmin comparison with
    it is NULL, so no row is assigned and later centroids divide by an
    empty count — both engines must agree instead of raising."""
    import duckdb

    from open_molecule_data_pipeline_spark.operators.ml_extra import (
        _KMEANS_FULL_ORACLE,
        ml_kmeans_lloyd_3iter,
    )

    from ._compare import canon

    _write_embeddings(
        tmp_path,
        [
            (v, [float(v % 3), float(v // 3), 0.5, None if v == 1 else 1.0])
            for v in range(10)
        ],
    )
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW embeddings AS SELECT * FROM"
            f" '{tmp_path}/embeddings.parquet'"
        )
        want = con.execute(_KMEANS_FULL_ORACLE).df()
    finally:
        con.close()
    got = ml_kmeans_lloyd_3iter(spark, str(tmp_path)).toPandas()
    assert canon(got) == canon(want)
    assert list(got.sort_values("iter")["iter"]) == [1, 2, 3]


def test_kmeans_duplicate_seed_id_raises(spark, tmp_path):
    """Two rows with the same seed vec_id leave no single seed to pick:
    the query refuses instead of keeping whichever row came last."""
    from open_molecule_data_pipeline_spark.operators.ml_extra import (
        ml_kmeans_lloyd_3iter,
    )

    _write_embeddings(
        tmp_path,
        [(v, [float(v), 0.0, 0.0, 0.0]) for v in range(6)]
        + [(2, [9.0, 9.0, 9.0, 9.0])],
    )
    with pytest.raises(ValueError, match="seed vec_id 2 is not unique"):
        ml_kmeans_lloyd_3iter(spark, str(tmp_path))
