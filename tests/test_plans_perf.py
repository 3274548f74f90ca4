"""Physical-plan property guards: pushdown, pruning, broadcast, codegen.

These assert the *shape* of execution, not timings — the properties that
decide whether a query survives a 100x scale-up. A regression here (filter
stops pushing, a dim join stops broadcasting) is a performance bug even
while results stay correct.
"""

from __future__ import annotations

from open_molecule_data_pipeline_spark.registry import load_all

SPECS = load_all()


def _plan(spark, sf_dir, name) -> str:
    df = SPECS[name].fn(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_and_pruning(spark, sf_dir):
    plan = _plan(spark, sf_dir, "agg_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual" in plan
    # projection pruning: the scan must not read the key columns Q1 ignores
    assert "l_orderkey" not in plan
    assert "l_partkey" not in plan


def test_dim_joins_broadcast(spark, sf_dir):
    plan = _plan(spark, sf_dir, "join_local_supplier_volume")
    assert plan.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in plan or plan.count("BroadcastHashJoin") >= 4


def test_semi_join_stays_semi(spark, sf_dir):
    plan = _plan(spark, sf_dir, "join_semi_order_priority")
    assert "LeftSemi" in plan


def test_anti_join_stays_anti(spark, sf_dir):
    plan = _plan(spark, sf_dir, "join_anti_customers_without_orders")
    assert "LeftAnti" in plan


def test_topk_uses_bounded_sort(spark, sf_dir):
    plan = _plan(spark, sf_dir, "sort_top10_orders")
    # global top-k must not be a full global sort
    assert "TakeOrderedAndProject" in plan


def test_partial_aggregation_present(spark, sf_dir):
    plan = _plan(spark, sf_dir, "agg_pricing_summary")
    # two HashAggregate levels = map-side partial + final
    assert plan.count("HashAggregate") >= 2


def test_no_python_in_relational_paths(spark, sf_dir):
    for name in (
        "agg_pricing_summary",
        "dedup_minhash_lsh_pairs",
        "text_quality_score",
        "sim_topk_bruteforce",
        "ts_asof_latest_order",
    ):
        plan = _plan(spark, sf_dir, name)
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name


def test_whole_stage_codegen_active(spark, sf_dir):
    import contextlib
    import io

    df = SPECS["agg_pricing_summary"].fn(spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("codegen")
    out = buf.getvalue()
    assert "WholeStageCodegen" in out
    assert "Found" in out  # "Found N WholeStageCodegen subtrees"


def test_volume_shipping_broadcasts_all_dims(spark, sf_dir):
    # Q7: customer/supplier/nation x2 all broadcast; lineitem-orders is the
    # only join allowed to shuffle at scale.
    plan = _plan(spark, sf_dir, "join_volume_shipping")
    assert plan.count("BroadcastHashJoin") >= 4
    assert "BatchEvalPython" not in plan


def test_correlated_min_uses_window_not_self_join(spark, sf_dir):
    # Q2 shape: one window over p_type, no join of part against itself.
    plan = _plan(spark, sf_dir, "subquery_min_price_part")
    assert "Window" in plan
    assert "Join" not in plan


def test_waiting_suppliers_single_lineitem_pass(spark, sf_dir):
    # Q21 rewrite: per-order aggregate instead of two lineitem self-joins —
    # lineitem (big side) is scanned twice but re-joined on the already
    # shuffled orderkey; supplier stays broadcast.
    plan = _plan(spark, sf_dir, "join_waiting_suppliers")
    assert plan.count("BroadcastHashJoin") >= 1
    assert "BatchEvalPython" not in plan


def test_tfidf_no_python_and_partial_aggs(spark, sf_dir):
    plan = _plan(spark, sf_dir, "text_tfidf_topterms")
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert plan.count("HashAggregate") >= 2


def test_ivf_broadcasts_centroids_and_probes(spark, sf_dir):
    # IVF: the centroid cross product and the probe join must broadcast the
    # small side; the corpus must never be broadcast.
    plan = _plan(spark, sf_dir, "sim_ivf_topk")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan


def test_ivf_persisted_prunes_partitions(spark, sf_dir):
    # The probe must NOT scan the whole persisted index: the inverted-list
    # FileScan carries a dynamic-pruning PartitionFilter fed by the
    # broadcast probe side (plus any statically inferred cent_id filter).
    plan = _plan(spark, sf_dir, "sim_ivf_persisted")
    assert "dynamicpruning" in plan.lower()
    assert "PartitionFilters: []" not in plan.split("omdp_roundtrip_ivf")[1].split("\n")[0]


def test_audio_frames_stays_jvm(spark, sf_dir):
    plan = _plan(spark, sf_dir, "mm_audio_frames")
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "Generate" in plan  # explode(sequence) is a JVM generator


def test_no_low_cardinality_block_joins(spark, sf_dir):
    """VERDICT r1 #3: a shuffle join whose every key is a low-cardinality
    blocking column (lang/source/label) is block-quadratic — at 100 TB one
    (lang=en, source=web) block is O(n^2). Candidate generation must always
    include a high-cardinality component (LSH band key, doc id, hash).
    Broadcast joins are exempt: a broadcastable side is small by definition,
    so the product is bounded."""
    import re

    low_card = {"lang", "source", "label", "l_returnflag", "o_orderstatus"}
    join_re = re.compile(
        r"(?:SortMergeJoin|ShuffledHashJoin)(?:\(skew=true\))? \[([^\]]*)\], \[([^\]]*)\]"
    )
    offenders: list[str] = []
    for name, spec in sorted(SPECS.items()):
        plan = spec.fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        for m in join_re.finditer(plan):
            for side in (m.group(1), m.group(2)):
                keys = {re.sub(r"#\d+L?$", "", k.strip()) for k in side.split(",") if k.strip()}
                if keys and keys <= low_card:
                    offenders.append(f"{name}: shuffle join keyed only on {sorted(keys)}")
    assert not offenders, offenders


def test_no_partitionless_windows_in_source():
    """VERDICT r1 #4: a window spec that begins with orderBy (no
    partitionBy) funnels the whole input through one task. The only
    sanctioned sites are in operators/_util.py, where the window runs over a
    bounded-cardinality offsets table (<= shuffle partitions rows); global
    top-k must use orderBy().limit() -> TakeOrderedAndProject instead."""
    import re
    from pathlib import Path

    ops = Path(__file__).resolve().parent.parent / "open_molecule_data_pipeline_spark"
    pattern = re.compile(r"\b(?:W|Window)\.orderBy\(")
    offenders = []
    for path in sorted(ops.rglob("*.py")):
        if path.name == "_util.py":
            continue
        for i, line in enumerate(path.read_text().splitlines(), 1):
            if pattern.search(line):
                offenders.append(f"{path.name}:{i}: {line.strip()}")
    assert not offenders, offenders


# (file, enclosing function) -> bounded-input rationale. The ONLY sanctioned
# Spark-side SQL-text partitionless windows (VERDICT r9 #8: the allowlist is
# the single source of truth — a new unlisted site fails the lint below).
_PARTITIONLESS_SQL_EXEMPT = {
    ("ts_extra2.py", "ts_sliding_distinct_hll"): (
        "both windows range over the hour-bucket AGGREGATE table, one row "
        "per hour — cardinality grows with the time span, never with raw "
        "row count (rationale at ts_extra2.py ts_sliding_distinct_hll)"
    ),
}


def test_no_partitionless_sql_windows_in_spark_side_text():
    """Companion to the source lint above for SQL-TEXT windows: an
    ``OVER (ORDER BY ...)`` with no PARTITION BY inside a string that Spark
    executes (``F.expr(...)`` / ``spark.sql(...)``) is the same
    single-task funnel as ``Window.orderBy``. Oracle strings are DuckDB-side
    and exempt by construction — the AST walk only visits strings passed to
    ``expr``/``sql`` calls (directly, via f-string pieces, or via a
    module-level constant referenced by name)."""
    import ast
    import re
    from pathlib import Path

    ops = Path(__file__).resolve().parent.parent / "open_molecule_data_pipeline_spark"
    pat = re.compile(r"OVER\s*\(\s*ORDER\s+BY", re.I)
    offenders: list[str] = []
    hits: set[tuple[str, str]] = set()
    for path in sorted(ops.rglob("*.py")):
        tree = ast.parse(path.read_text())
        module_strs: dict[str, str] = {}
        for node in tree.body:
            if (
                isinstance(node, ast.Assign)
                and isinstance(node.value, ast.Constant)
                and isinstance(node.value.value, str)
            ):
                for tgt in node.targets:
                    if isinstance(tgt, ast.Name):
                        module_strs[tgt.id] = node.value.value
        func_of: dict[int, str] = {}
        for fn in ast.walk(tree):
            if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                for ch in ast.walk(fn):
                    func_of.setdefault(id(ch), fn.name)
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            name = f.attr if isinstance(f, ast.Attribute) else (
                f.id if isinstance(f, ast.Name) else None
            )
            if name not in ("expr", "sql"):
                continue
            texts: list[str] = []
            for arg in node.args:
                if isinstance(arg, ast.Name) and arg.id in module_strs:
                    texts.append(module_strs[arg.id])
                for c in ast.walk(arg):
                    if isinstance(c, ast.Constant) and isinstance(c.value, str):
                        texts.append(c.value)
            for text in texts:
                if pat.search(text):
                    key = (path.name, func_of.get(id(node), "<module>"))
                    if key in _PARTITIONLESS_SQL_EXEMPT:
                        hits.add(key)
                    else:
                        offenders.append(
                            f"{path.name}:{node.lineno} in {key[1]}: "
                            f"{text.strip()[:80]!r}"
                        )
    assert not offenders, offenders
    # stale-allowlist guard: every exemption must still match a real site
    stale = set(_PARTITIONLESS_SQL_EXEMPT) - hits
    assert not stale, f"stale _PARTITIONLESS_SQL_EXEMPT entries: {stale}"


def test_ntile_and_packing_plans_have_no_global_window(spark, sf_dir):
    """The two-pass rewrites must not contain a partitionless Window node:
    every Window in the plan either partitions by __pid or runs over the
    bounded offsets table (whose input is an aggregate, not the raw scan)."""
    for name in ("window_ntile_quartiles", "text_sequence_packing"):
        plan = _plan(spark, sf_dir, name)
        assert "rangepartitioning" in plan.lower(), name  # two-pass first stage
        assert "__pid" in plan, name  # partition-local windows
        # both branches must read ONE materialized range-partitioned subtree
        # (persist() in two_pass_global_window): if each branch re-executed
        # its own exchange, RangePartitioner could sample different
        # boundaries per branch and the broadcast offsets would mismatch.
        assert "InMemoryTableScan" in plan, name


def test_word_freq_topk_uses_bounded_sort(spark, sf_dir):
    plan = _plan(spark, sf_dir, "text_word_freq_top20")
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan


# Queries whose broadcast side is bounded by a CONSTANT in the code (K
# centroids via `vec_id < N_CLUSTERS`, the N_QUERIES query batch, a
# 256-codeword PQ codebook): the hinted subtree scans a big table but a
# literal filter caps the row count, which the structural lint below
# cannot see. Every entry must be bounded by construction — adding a name
# here to silence the lint for an SF-scaling side is a scale bug.
_CONSTANT_BOUNDED_BROADCASTS = {
    "ml_embedding_truncate_recall",
    "ml_kmeans_assign",
    "ml_knn_classify",
    "ml_ndcg_linear",
    "mllib_brp_neighbors",
    "mllib_brp_recall",
    "sim_ann_lsh_topk",
    # BQ (r13): both hinted sides are constant-bounded — the N_QUERIES
    # query batch (vec_id < N_QUERIES) and the rerank shortlist (two
    # row_number <= K/R_CAND filters above the scan)
    "sim_binary_quant_hamming",
    "sim_binary_quant_recall",
    # r14: both hinted sides are literal-bounded — SemDeDup's 16 fixed
    # coarse centroids (vec_id < 16; the fine split is map-side) and the
    # JL recall query batch (vec_id < 8)
    "dedup_semantic_semdedup",
    # r15: the incremental pass broadcasts the same two literal-bounded
    # sides as the full SemDeDup run (16 centroids + the 1-row B scalar)
    "dedup_semdedup_incremental",
    "sim_jl_projection_recall",
    "sim_ivf_recall",
    "sim_ivf_sampled_quantizer",
    "sim_pq_adc_topk",
    "sim_pq_encode",
    "sim_topk_bruteforce",
}

# one column per SF-scaling table; nation/region (fixed 25/5 rows) are
# deliberately absent — force-broadcasting those is fine at any scale
_BIG_TABLE_COLS = (
    "c_custkey", "p_partkey", "s_suppkey", "o_orderkey", "l_orderkey",
    "doc_id", "vec_id", "event_id",
)
# a hinted subtree containing any of these between the hint and the scan
# has bounded (or at least data-reduced) cardinality — allowed. "Join" is
# deliberately NOT here (ADVICE r8): a join of two SF-scaling tables does
# not reduce cardinality, so it must not exempt a forced broadcast.
_BOUNDING_NODES = ("Aggregate", "GlobalLimit", "Deduplicate", "Distinct")


def _forced_big_broadcast(analyzed_plan: str) -> bool:
    """True if a broadcast ResolvedHint's subtree scans an SF-scaling table
    with no aggregation/limit/dedup between the hint and the scan."""
    lines = analyzed_plan.splitlines()

    def depth(ln: str) -> int:
        for j, ch in enumerate(ln):
            if ch not in " :+-":
                return j
        return len(ln)

    for i, ln in enumerate(lines):
        if "ResolvedHint" not in ln or "broadcast" not in ln:
            continue
        d = depth(ln)
        sub: list[str] = []
        for nxt in lines[i + 1:]:
            if depth(nxt) <= d:
                break
            sub.append(nxt)
        body = "\n".join(sub)
        if any(c in body for c in _BIG_TABLE_COLS) and not any(
            b in body for b in _BOUNDING_NODES
        ):
            return True
    return False


def test_forced_big_broadcast_heuristic():
    """String-level spec of the lint's plan classifier, pinned against
    hand-written analyzed-plan shapes so a Spark plan-format drift that
    silently blinds the lint shows up as a test failure, not as a missed
    regression."""
    flagged = "\n".join([
        "Join Inner, (o_custkey#1L = c_custkey#2L)",
        ":- Relation [o_orderkey#0L,o_custkey#1L] parquet",
        "+- ResolvedHint (strategy=broadcast)",
        "   +- Relation [c_custkey#2L,c_name#3] parquet",
    ])
    assert _forced_big_broadcast(flagged)

    # an Aggregate between the hint and the scan bounds the side — allowed
    bounded = "\n".join([
        "Join Inner, (o_custkey#1L = c_custkey#2L)",
        ":- Relation [o_orderkey#0L,o_custkey#1L] parquet",
        "+- ResolvedHint (strategy=broadcast)",
        "   +- Aggregate [c_custkey#2L], [c_custkey#2L]",
        "      +- Relation [c_custkey#2L,c_name#3] parquet",
    ])
    assert not _forced_big_broadcast(bounded)

    # fixed-size dims (nation/region) are not in _BIG_TABLE_COLS — allowed
    small_dim = "\n".join([
        "Join Inner, (c_nationkey#4L = n_nationkey#5L)",
        ":- Relation [c_custkey#2L,c_nationkey#4L] parquet",
        "+- ResolvedHint (strategy=broadcast)",
        "   +- Relation [n_nationkey#5L,n_name#6] parquet",
    ])
    assert not _forced_big_broadcast(small_dim)

    # a non-broadcast strategy hint (merge/shuffle_hash) is not a broadcast
    merge_hint = flagged.replace("strategy=broadcast", "strategy=merge")
    assert not _forced_big_broadcast(merge_hint)

    # the sibling BEFORE the hint must not leak into the hint's subtree:
    # the big-table scan here is the probe side, the hinted side is tiny
    sibling = "\n".join([
        "Join Inner, (g#7L = g#8L)",
        ":- Relation [doc_id#9L,g#7L] parquet",
        "+- ResolvedHint (strategy=broadcast)",
        "   +- LocalRelation [g#8L]",
    ])
    assert not _forced_big_broadcast(sibling)


def test_plan_lint_registry_wide(spark, sf_dir):
    """Every registered query's plan, linted for the three shapes that do
    not survive scale: row-at-a-time Python UDFs (BatchEvalPython),
    un-broadcast Cartesian products, and forced broadcasts of SF-scaling
    tables (a hint Spark obeys unconditionally — at cluster scale it OOMs
    the driver where an unhinted join would degrade to SMJ via AQE).
    Arrow-batched Python (MapInPandas / FlatMapGroupsInPandas / UDTF) is
    allowed — that is the sanctioned escape hatch.

    Also asserted here (same per-query loop, near-zero extra cost):
    contract queries must emit FLAT top-level output columns only — the
    external harness canonicalizes result cells with a pandas raw-column
    sort, which throws on array/map/struct cells (VERDICT r8 #1:
    func_array_membership was the one offender)."""
    # stale-allowlist guard (ADVICE r8): every exempted name must still
    # be a registered query, else the exemption silently does nothing
    stale = _CONSTANT_BOUNDED_BROADCASTS - set(SPECS)
    assert not stale, f"stale _CONSTANT_BOUNDED_BROADCASTS entries: {stale}"
    offenders: list[str] = []
    for name, spec in sorted(SPECS.items()):
        df = spec.fn(spark, sf_dir)
        qe = df._jdf.queryExecution()
        plan = qe.executedPlan().toString()
        # BatchEvalPythonUDTF is the (batched) UDTF node, not a row-wise UDF
        plan = plan.replace("BatchEvalPythonUDTF", "PythonUDTF")
        if "BatchEvalPython" in plan:
            offenders.append(f"{name}: row-wise Python UDF")
        if "CartesianProduct" in plan:
            offenders.append(f"{name}: CartesianProduct")
        if name not in _CONSTANT_BOUNDED_BROADCASTS and _forced_big_broadcast(
            qe.analyzed().toString()
        ):
            offenders.append(f"{name}: forced broadcast of an SF-scaling table")
        if spec.contract:
            nested = [
                f.name
                for f in df.schema.fields
                if f.dataType.typeName() in ("array", "map", "struct")
            ]
            if nested:
                offenders.append(
                    f"{name}: nested top-level output columns {nested} "
                    "(driver canonicalizer cannot hash them)"
                )
    assert not offenders, offenders


def test_inverted_index_prunes_buckets(spark, sf_dir):
    # The posting-list read-back must carry a static PartitionFilter on the
    # bucket column (the term->bucket literals are computed before the plan
    # is built), so the lookup scans only the probed buckets.
    plan = _plan(spark, sf_dir, "text_inverted_index_persisted")
    assert "PartitionFilters: [" in plan
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "bucket" in m.group(1), plan[:2000]


def test_bucketed_join_has_no_shuffle(spark, sf_dir):
    # Both sides pre-bucketed on the join key: the SMJ must read bucket i
    # against bucket i directly — no hashpartitioning exchange anywhere in
    # the join subtree (the only allowed exchange is the final single-row
    # aggregate's SinglePartition).
    plan = _plan(spark, sf_dir, "format_bucketed_join")
    assert "SortMergeJoin" in plan
    assert "Exchange hashpartitioning" not in plan


def test_semijoin_reduction_plan(spark, sf_dir):
    """join_semijoin_reduction must actually contain the two LeftSemi
    reducers (that's its whole point — the oracle can't see plan shape)."""
    plan = _plan(spark, sf_dir, "join_semijoin_reduction")
    assert plan.count("LeftSemi") >= 2
    assert "CartesianProduct" not in plan


def test_perceptual_dedup_no_cartesian(spark, sf_dir):
    """dHash/audio-fingerprint near-dup must pair through equi-joins on
    band chunks / signatures — never a cross product."""
    for name in ("mm_image_dhash_neardup", "mm_audio_fingerprint_neardup"):
        plan = _plan(spark, sf_dir, name)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_bitmap_distinct_two_level(spark, sf_dir):
    """agg_bitmap_distinct's merged branch must aggregate bitmaps, not
    re-shuffle raw keys (the pre-aggregation pattern under test)."""
    plan = _plan(spark, sf_dir, "agg_bitmap_distinct")
    assert "bitmap_construct_agg" in plan
    assert "bitmap_or_agg" in plan


def test_attribution_single_window_no_join(spark, sf_dir):
    """ts_attribution_last_touch replaces a theta join with one window —
    the plan must contain a Window and NO join operator at all."""
    plan = _plan(spark, sf_dir, "ts_attribution_last_touch")
    assert "Window" in plan
    for op in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
               "CartesianProduct", "BroadcastNestedLoopJoin"):
        assert op not in plan, op


def test_kn_ladder_plan_shape(spark, sf_dir):
    """The shared order-n KN window ladder keeps its exchange and sort
    budget: one exchange on the pivot word w_{n-1}, one on w_n, and the
    window levels sharing sorts through prefix-sequenced keys — at most
    8 Exchange and n Sort operators at every order."""
    import re
    from collections import Counter

    for n, name in (
        (3, "text_kn_trigram_ppl"),
        (4, "text_kn_fourgram_ppl"),
        (5, "text_kn_fivegram_ppl"),
    ):
        ops = Counter(
            m.group(1)
            for line in _plan(spark, sf_dir, name).splitlines()
            if (m := re.match(r"[\s:|+\-]*(\w+)", line))
        )
        assert ops["Exchange"] <= 8, (name, ops)
        assert ops["Sort"] <= n, (name, ops)


def test_seeded_louvain_job_budget(spark, sf_dir):
    """The one-sweep Louvain views run on the seeded core's driver-side
    community state: a stats job, one job per sweep, a coarsen job and a
    local output. A per-sweep join pipeline (adjacency x assignment,
    broadcast community tables, checkpoints) costs ~3x the jobs."""
    sc = spark.sparkContext
    for name, budget in (
        ("graph_louvain_pass", 15),
        ("graph_louvain_coarsen", 10),
    ):
        group = f"job-budget-{name}"
        sc.setJobGroup(group, group)
        try:
            SPECS[name].fn(spark, sf_dir).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        assert jobs <= budget, (name, jobs)


def test_irls_moment_passes_partial_agg(spark, sf_dir):
    """Each IRLS round is a map-side-combinable aggregation: every
    HashAggregate must come in partial+final pairs and no join beyond the
    1-row beta cross joins (which Spark plans as broadcast nested loop
    over a single-row side)."""
    plan = _plan(spark, sf_dir, "ml_logreg_irls")
    assert plan.count("HashAggregate") >= 8  # >= 4 passes x 2 levels
    assert "SortMergeJoin" not in plan


def test_duplicate_spans_digest_shuffle(spark, sf_dir):
    """dedup_duplicate_spans shuffles md5 digests, not document bodies:
    the exchange feeding the per-gram window must not carry `text`."""
    plan = _plan(spark, sf_dir, "dedup_duplicate_spans")
    assert "CartesianProduct" not in plan
    import re
    exchanges = [
        seg for seg in plan.split("Exchange hashpartitioning")[1:]
    ]
    assert exchanges, "expected at least one hash exchange"
    # the gram-key exchange partitions by `key` (the digest column)
    assert any(seg.startswith("(key") for seg in exchanges)


def test_headline_ledger_regressions_attributed():
    """Weak-watch lint (VERDICT r7 #8): every consecutive pair of recorded
    headline runs in BENCH_LOCAL_LEDGER.jsonl is compared per-query; a
    >1.5x slowdown (and >0.3 s absolute, to ignore sub-second jitter)
    must carry an attribution in the newer entry, and every attributed
    name must be discussed in BENCH_HISTORY.md. This codifies the manual
    drift-attribution work done in r6->r7."""
    import json
    from pathlib import Path

    root = Path(__file__).resolve().parent.parent
    ledger_path = root / "BENCH_LOCAL_LEDGER.jsonl"
    assert ledger_path.exists(), "ledger missing — record a headline run"
    entries = [
        json.loads(line)
        for line in ledger_path.read_text().splitlines()
        if line.strip()
    ]
    assert entries, "ledger is empty"
    history = (root / "BENCH_HISTORY.md").read_text()
    problems = []
    # Compare each entry against the most recent PRIOR entry at the SAME
    # scale factor — cross-sf deltas are expected, not regressions.
    last_at_sf: dict[float, dict] = {}
    pairs = []
    for cur in entries:
        prev = last_at_sf.get(cur["sf"])
        if prev is not None:
            pairs.append((prev, cur))
        last_at_sf[cur["sf"]] = cur
    for prev, cur in pairs:
        for name, t in cur["queries"].items():
            p = prev["queries"].get(name)
            if p is None:
                continue
            if t / max(p, 1e-9) > 1.5 and t - p > 0.3:
                if name not in cur.get("attributions", {}):
                    problems.append(
                        f"{name}: {p:.3f}s ({prev['label']}) -> {t:.3f}s "
                        f"({cur['label']}) = x{t / p:.2f} with no attribution"
                    )
    for entry in entries:
        for name in entry.get("attributions", {}):
            if name not in history:
                problems.append(
                    f"attribution for {name} ({entry['label']}) has no "
                    "BENCH_HISTORY.md discussion"
                )
    assert not problems, "\n".join(problems)


def test_unhinted_joins_degrade_to_smj_with_identical_results(spark, sf_dir):
    """The r8 forced-broadcast drops bet that when a dim side outgrows the
    broadcast threshold at cluster scale, the unhinted join DEGRADES to a
    shuffle join instead of OOMing the driver. Simulate exactly that:
    with the broadcast threshold disabled, the plan must contain shuffle
    joins (SMJ/shuffled-hash) and ZERO broadcast hash joins, and the
    result must stay bit-identical to the default-threshold run."""
    from ._compare import canon

    name = "join_volume_shipping"  # Q7: 4 dim joins, all unhinted since r8
    baseline = canon(SPECS[name].fn(spark, sf_dir).toPandas())
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    aqe_thresh = spark.conf.get(
        "spark.sql.adaptive.autoBroadcastJoinThreshold", None
    )
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        df = SPECS[name].fn(spark, sf_dir)
        degraded = canon(df.toPandas())
        plan = df._jdf.queryExecution().executedPlan().toString()
        # the fixed-25-row nation dims KEEP their explicit hints (that is
        # correct at any scale); every remaining broadcast must be one of
        # those — the unhinted customer/supplier joins must have fallen
        # back to shuffle joins
        import re

        for m in re.finditer(r"BroadcastHashJoin \[([^\]]*)\]", plan):
            assert "nationkey" in m.group(1), plan[:2000]
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
        if aqe_thresh is None:
            spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
        else:
            spark.conf.set(
                "spark.sql.adaptive.autoBroadcastJoinThreshold", aqe_thresh
            )
    assert degraded == baseline


def test_shuffle_profile_event_attribution():
    """Unit spec for the harness's event-log parser (profile.parse_events):
    jobs and task metrics land on the query owning the stage via JobStart's
    job group; stages from foreign groups (session warm-up, noop commits)
    and events before any JobStart are dropped, not misattributed; driver
    gaps count the time before and between a query's jobs, not inside
    them or in other groups' jobs."""
    import json as _json

    from open_molecule_data_pipeline_spark.profile import parse_events

    def task_end(stage, write=0, read_local=0, read_remote=0, spill=0,
                 dur_ms=100):
        return _json.dumps({
            "Event": "SparkListenerTaskEnd",
            "Stage ID": stage,
            "Task Info": {"Launch Time": 1000, "Finish Time": 1000 + dur_ms},
            "Task Metrics": {
                "Input Metrics": {"Bytes Read": 10},
                "Shuffle Write Metrics": {"Shuffle Bytes Written": write},
                "Shuffle Read Metrics": {
                    "Local Bytes Read": read_local,
                    "Remote Bytes Read": read_remote,
                },
                "Memory Bytes Spilled": spill,
                "Disk Bytes Spilled": 0,
            },
        })

    def job_start(group, stages):
        return _json.dumps({
            "Event": "SparkListenerJobStart",
            "Stage IDs": stages,
            "Properties": {"spark.jobGroup.id": group},
        })

    lines = [
        task_end(0, write=999),                 # before any JobStart: dropped
        job_start("q1", [1, 2]),
        task_end(1, write=100),
        task_end(2, read_local=40, read_remote=60),
        job_start("other-group", [3]),          # not a profiled query
        task_end(3, write=5000),
        job_start("q2", [4]),
        task_end(4, write=7, spill=3, dur_ms=300),   # straggler: 3x the mean
        task_end(4, write=8, dur_ms=100),
    ]
    agg = parse_events(lines, ["q1", "q2"])
    shuffle_fields = (
        "tasks", "input_bytes", "shuffle_write_bytes", "shuffle_read_bytes",
        "memory_spill_bytes", "disk_spill_bytes", "max_task_ms", "stage_skew",
    )
    agg = {q: {k: agg[q][k] for k in shuffle_fields} for q in agg}
    assert agg["q1"] == {
        "tasks": 2, "input_bytes": 20, "shuffle_write_bytes": 100,
        "shuffle_read_bytes": 100, "memory_spill_bytes": 0,
        "disk_spill_bytes": 0, "max_task_ms": 100,
        # q1's stages have ONE task each: no multi-task stage, no skew
        "stage_skew": None,
    }
    assert agg["q2"] == {
        "tasks": 2, "input_bytes": 20, "shuffle_write_bytes": 15,
        "shuffle_read_bytes": 0, "memory_spill_bytes": 3,
        "disk_spill_bytes": 0, "max_task_ms": 300,
        # stage 4: max 300 / mean 200 = 1.5
        "stage_skew": 1.5,
    }

    def timed_job(group, job, stages, start, end):
        return [
            _json.dumps({
                "Event": "SparkListenerJobStart", "Job ID": job,
                "Submission Time": start, "Stage IDs": stages,
                "Properties": {"spark.jobGroup.id": group},
            }),
            _json.dumps({
                "Event": "SparkListenerJobEnd", "Job ID": job,
                "Completion Time": end,
            }),
        ]

    def stage_done(stage):
        return _json.dumps({
            "Event": "SparkListenerStageCompleted",
            "Stage Info": {"Stage ID": stage, "Submission Time": 0,
                           "Completion Time": 10, "Number of Tasks": 1},
        })

    timed = [
        *timed_job("q1", 10, [1], 1_000, 1_400),
        stage_done(1),
        *timed_job("q1", 11, [1, 2], 1_700, 2_000),  # reuses stage 1 (skipped)
        stage_done(2),
        *timed_job("other", 12, [3], 2_100, 2_500),  # not a profiled query
        stage_done(3),
        *timed_job("q2", 13, [4], 2_600, 2_900),
    ]
    spans = {"q1": (900, 2_200), "q2": (2_550, 3_000)}
    agg = parse_events(timed, ["q1", "q2"], spans)
    # q1: gaps 100 ms (run start -> job 10) + 300 ms (job 10 -> job 11)
    assert (agg["q1"]["jobs"], agg["q1"]["job_s"]) == (2, 0.7)
    assert (agg["q1"]["driver_gap_s"], agg["q1"]["tail_s"]) == (0.4, 0.2)
    assert agg["q1"]["stages"] == 2
    assert [j["gap_ms"] for j in agg["q1"]["job_detail"]] == [100, 300]
    # q2: the "other" group's job is not q2's; its 50 ms head gap is
    assert (agg["q2"]["jobs"], agg["q2"]["job_s"]) == (1, 0.3)
    assert (agg["q2"]["driver_gap_s"], agg["q2"]["tail_s"]) == (0.05, 0.1)
    # without spans a run starts at its first job: only the gap between jobs
    agg = parse_events(timed, ["q1", "q2"])
    assert agg["q1"]["driver_gap_s"] == 0.3
    assert agg["q2"]["driver_gap_s"] == agg["q2"]["tail_s"] == 0.0


def test_harness_sweep_frees_checkpoint_blocks(spark):
    """The harness's cache sweep between measured queries leaves no
    persistent RDD behind: clearCache() drops the persisted DataFrame but
    not localCheckpoint blocks, which would otherwise tax the next query."""
    from open_molecule_data_pipeline_spark.profile import sweep

    persisted = spark.range(1000).selectExpr("id * 2 AS x").persist()
    persisted.count()
    spark.range(500).selectExpr("id + 1 AS y").localCheckpoint()
    jsc = spark.sparkContext._jsc
    assert len(jsc.getPersistentRDDs()) >= 2
    sweep(spark, "fixture", "test")
    assert len(jsc.getPersistentRDDs()) == 0


def test_harness_owns_cache_sweep_and_event_log():
    """profile.py is the one owner of the session state the harnesses
    manage: outside it, neither bench.py nor any script sweeps caches or
    sets the event-log options (copies drift: three scripts once swept
    with clearCache() alone)."""
    import re
    from pathlib import Path as _Path

    root = _Path(__file__).resolve().parent.parent
    owned = re.compile(r"getPersistentRDDs|clearCache|eventLog")
    profile = root / "open_molecule_data_pipeline_spark" / "profile.py"
    assert {"getPersistentRDDs", "clearCache", "eventLog"} <= set(
        owned.findall(profile.read_text())
    )
    offenders = [
        f"{path.relative_to(root)}:{lineno}"
        for path in [root / "bench.py", *sorted((root / "scripts").glob("*.py"))]
        for lineno, line in enumerate(path.read_text().splitlines(), 1)
        if owned.search(line)
    ]
    assert not offenders, offenders


def test_headline_set_capped():
    """bench.py HEADLINE_CAP policy (VERDICT r11 #5): the headline set is
    a bounded cross-family sample — promotion requires demotion. The cap
    held at 34 through r11 by accident; this lint makes it policy."""
    import bench
    from open_molecule_data_pipeline_spark.registry import load_all

    names = sorted(n for n, s in load_all().items() if s.bench)
    assert len(names) <= bench.HEADLINE_CAP, (
        f"{len(names)} headline queries exceed HEADLINE_CAP="
        f"{bench.HEADLINE_CAP}; demote a subsumed sibling: {names}"
    )
    # the flagship RAG shape stays promoted (VERDICT r11 #7)
    assert "text_hybrid_rrf_topk" in names
