"""Iterative graph operators: connected components for dedup clustering.

Near-duplicate pairs (MinHash LSH output) form a graph whose connected
components are the duplicate clusters; the canonical representative is the
minimum doc_id in each component. Implementation is distributed min-label
propagation — a driver-side loop of joins, each iteration one shuffle,
converging in O(component diameter) rounds (small for dedup graphs).
``localCheckpoint`` truncates lineage so the loop doesn't stack plans.

The oracle computes the same fixpoint with a recursive CTE (transitive
closure + min over reachable nodes) — an exact check for an iterative
algorithm.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..registry import register
from .dedup import _MINHASH_PAIRS_ORACLE, dedup_minhash_lsh_pairs


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 30,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """(node, component) where component = min node id reachable.

    Lineage is truncated every iteration so the loop doesn't stack plans.
    With ``checkpoint_dir`` set, truncation is RELIABLE: each generation is
    written to the shared filesystem (parquet round-trip — the
    fault-tolerant equivalent of ``sc.setCheckpointDir`` + ``checkpoint()``
    without mutating session-global state) and survives executor loss,
    which is what a 1000-executor cluster needs for a long loop. Without
    one it falls back to ``localCheckpoint`` (executor-local blocks: fine
    in local mode / short loops, lost on executor death).
    """
    spark = edges.sparkSession
    generation = 0
    gen_paths: dict[int, str] = {}

    def persist(df: DataFrame, eager: bool = True) -> DataFrame:
        nonlocal generation
        if checkpoint_dir is None:
            # eager=False lets the CALLER's next full-scan action double as
            # the checkpoint materialization — one job instead of two per
            # loop iteration (the convergence count below touches every
            # partition, so truncation is complete, never partial).
            return df.localCheckpoint(eager=eager)
        path = f"{checkpoint_dir.rstrip('/')}/cc_gen_{generation}"
        gen_paths[generation] = path
        generation += 1
        df.write.mode("overwrite").parquet(path)
        return spark.read.parquet(path)

    def release(df: DataFrame | None, gen: int) -> None:
        """Free a superseded generation: unpersist the localCheckpoint blocks
        (they are only GC'd by ContextCleaner otherwise — in a long session,
        e.g. a 20-query bench, the pinned blocks accumulate), or delete the
        parquet dir once nothing references it."""
        if df is None:
            return
        if checkpoint_dir is None:
            try:
                df.unpersist()
            except Exception:
                pass
        else:
            path = gen_paths.pop(gen, None)
            if path is not None:
                import shutil

                shutil.rmtree(path, ignore_errors=True)

    # Checkpoint the edge set once: every iteration joins against it, and
    # without this the edges' upstream lineage (for dedup_clusters: the full
    # MinHash-LSH pipeline) would recompute per iteration. Checkpoint it
    # PRE-PARTITIONED on ``b`` — the per-iteration join key — so the loop's
    # joins reuse the persisted partitioning instead of re-exchanging the
    # edge table every round (guide §2.4: two operations keyed the same way
    # share one exchange; the union would otherwise persist 2x
    # shuffle.partitions blocks that AQE re-shuffles per iteration).
    # r16 note: a `.persist()` variant (keeps InMemoryRelation partitioning
    # + stats) was measured and REJECTED — dedup_clusters 3.1→3.8 s in a
    # 3-round alternating A/B at sf0.1; the un-truncated LSH lineage makes
    # each iteration's plan (and its optimizer pass) heavier.
    undirected = persist(
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionByName(
            edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
        )
        .repartition("b")
    )
    # Seed labels one step ahead of the naive label=node start: every node's
    # initial label is min(self, neighbors). Same fixpoint (labels only
    # decrease, bounded below by the component min), one fewer propagation
    # round on the star/clique-shaped graphs LSH dedup produces.
    labels = persist(
        undirected.groupBy(F.col("a").alias("node"))
        .agg(F.min("b").alias("m"))
        .select("node", F.least("node", "m").alias("label"))
    )
    labels_gen = generation - 1

    changed = 0
    it = 0
    while it < max_iter:
        # r16 (guide §2.4 / §7.3): TWO propagation rounds per convergence
        # probe. The count on the second round's lazy checkpoint scans
        # every partition, which materializes BOTH chained checkpoints in
        # ONE job — halving the per-round scheduler barriers that
        # dominate the loop at small scale (each round's work is one
        # cached-edge join). Exit stays exact: labels only decrease, and
        # a round after convergence is an identity pass, so "second
        # round changed nothing" == converged (the possible extra
        # identity round costs one join, not a wrong answer). Superseded
        # generations are released only after the probe materializes
        # their successors.
        steps = min(2, max_iter - it)
        pending: list = []
        for _ in range(steps):
            neighbor_min = (
                undirected.join(labels, undirected.b == labels.node)
                .groupBy(F.col("a").alias("node"))
                .agg(F.min("label").alias("nbr_label"))
            )
            updated = persist(
                labels.join(neighbor_min, "node", "left").select(
                    "node",
                    F.least(
                        F.col("label"), F.coalesce("nbr_label", F.col("label"))
                    ).alias("label"),
                    (
                        F.coalesce("nbr_label", F.col("label"))
                        < F.col("label")
                    ).alias("__changed"),
                ),
                eager=False,
            )
            pending.append((labels, labels_gen))
            labels = updated.drop("__changed")
            labels_gen = generation - 1
            it += 1
        # full count, not limit(1): scanning every partition is what
        # materializes the lazy checkpoint chain in the same job as the
        # check
        changed = updated.filter(F.col("__changed")).count()
        for prev, prev_gen in pending:
            release(prev, prev_gen)
        if changed == 0:
            break
    if changed != 0:
        raise RuntimeError(
            f"connected_components did not converge within {max_iter} "
            "iterations (component diameter exceeds max_iter); raise max_iter"
        )
    # The returned labels are themselves checkpointed, so the edge set's
    # blocks/files are no longer referenced — free them now.
    release(undirected, 0)
    return labels.select("node", F.col("label").alias("component"))


_CLUSTERS_ORACLE = f"""
WITH RECURSIVE pairs AS ({_MINHASH_PAIRS_ORACLE}),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b AS a, doc_a AS b FROM pairs
),
reach(src, dst) AS (
  SELECT a, a FROM (SELECT DISTINCT a FROM edges) n
  UNION
  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
)
SELECT src AS doc_id, min(dst) AS cluster_rep
FROM reach GROUP BY src
"""


@register("dedup_clusters", oracle=_CLUSTERS_ORACLE, tags=("dedup", "graph"), bench=True)
def dedup_clusters(spark, sf_dir):
    pairs = dedup_minhash_lsh_pairs(spark, sf_dir)
    comps = connected_components(pairs, src="doc_a", dst="doc_b")
    return comps.select(
        F.col("node").alias("doc_id"), F.col("component").alias("cluster_rep")
    )


def connected_components_twostar(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 20,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """(node, component) via alternating large-star / small-star rounds
    (Kiveris et al., "Connected Components in MapReduce and Beyond").

    Where min-label propagation (:func:`connected_components`) needs
    O(component diameter) rounds, the two-star algorithm contracts paths by
    pointer-doubling and converges in O(log n) rounds regardless of
    diameter — the scale path for 100 TB dedup graphs whose components can
    be long chains (boilerplate families, near-dup drift over time), not
    just the star/clique shapes LSH usually emits. Each round is two
    equi-join + groupBy stages over the edge list; the edge count never
    grows (each round maps every edge to exactly one canonical (big, small)
    edge), so per-round shuffle volume is bounded by the input edge count.

    - large-star: every node u connects its STRICTLY LARGER neighbors to
      m(u) = min(N(u) + u).
    - small-star: edges oriented big->small; every node u connects its
      smaller neighbors (and itself) to their minimum.

    At the fixpoint the edge set is a forest of stars rooted at each
    component's minimum node id — the same labeling contract as
    :func:`connected_components`, checked by the same recursive-CTE oracle.
    Lineage per generation is truncated exactly like the min-label loop:
    ``localCheckpoint`` (or parquet generations under ``checkpoint_dir``),
    superseded generations freed eagerly.
    """
    spark = edges.sparkSession
    generation = 0
    gen_paths: dict[int, str] = {}

    def persist(df: DataFrame, eager: bool = True) -> DataFrame:
        nonlocal generation
        if checkpoint_dir is None:
            return df.localCheckpoint(eager=eager)
        path = f"{checkpoint_dir.rstrip('/')}/cc2_gen_{generation}"
        gen_paths[generation] = path
        generation += 1
        df.write.mode("overwrite").parquet(path)
        return spark.read.parquet(path)

    def release(df: DataFrame | None, gen: int) -> None:
        if df is None:
            return
        if checkpoint_dir is None:
            try:
                df.unpersist()
            except Exception:
                pass
        else:
            path = gen_paths.pop(gen, None)
            if path is not None:
                import shutil

                shutil.rmtree(path, ignore_errors=True)

    # r16 optimization round (guide §2.4): both star steps attached the
    # per-u minimum with a groupBy + self-join — two exchanges of the
    # edge stream per step, and the join re-executed the neighborhood
    # subtree inside the aggregate branch. min over (partition by u) is a
    # window aggregate, so each step is now ONE exchange + one window
    # pass; small_star's self-edge rides the same pass as a first-row
    # flag instead of a second aggregation branch.
    _wu = Window.partitionBy("u")

    def large_star(e: DataFrame) -> DataFrame:
        # neighborhoods in both directions; m = min(neighbors + self)
        nbrs = e.unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        # no intermediate distinct: duplicates are bounded by the (already
        # distinct) input neighborhood size and collapse in small_star's
        # terminal distinct — one fewer exchange per round
        return (
            nbrs.withColumn("m", F.least(F.min("v").over(_wu), F.col("u")))
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )

    def small_star(e: DataFrame) -> DataFrame:
        # edges arrive canonically (u > v); m = min of u's smaller nbrs;
        # exactly one self-edge (u, m) per u is emitted via the first-row
        # flag (input is distinct, so row_number is deterministic per u)
        x = e.withColumn("m", F.min("v").over(_wu)).withColumn(
            "first", F.row_number().over(_wu.orderBy("v")) == 1
        )
        via_nbr = x.filter(F.col("v") != F.col("m")).select(
            F.col("v").alias("u"), F.col("m").alias("v")
        )
        self_edge = x.filter("first").select("u", F.col("m").alias("v"))
        return via_nbr.unionByName(self_edge).distinct()

    # nodes whose only edges are self-loops still deserve a (node, node)
    # label (same contract as connected_components) — remember them before
    # the canonicalization drops self-loops
    self_nodes = (
        edges.filter(F.col(src) == F.col(dst))
        .select(F.col(src).alias("node"))
        .distinct()
    )
    cur = persist(
        edges.select(
            F.greatest(F.col(src), F.col(dst)).alias("u"),
            F.least(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct(),
        eager=False,  # the initial fixpoint probe below materializes it
    )
    cur_gen = generation - 1

    def is_star_forest(e: DataFrame) -> bool:
        # The algorithm's fixpoints are exactly the min-rooted star
        # forests: (a) every big-side node points at ONE root and (b) no
        # root is itself a big-side node (edges stay canonical u > v, so a
        # star root is automatically its component minimum). Testing the
        # CURRENT set directly — one take(1)-bounded job over a per-node
        # role aggregation — terminates without computing the redundant
        # extra round a set-equality (subtract) check needs. The edge set
        # is distinct, so "appears >1 time as big side" == "has >1 root".
        roles = e.select(
            F.col("u").alias("node"),
            F.lit(1).alias("as_big"),
            F.lit(0).alias("as_small"),
        ).unionAll(
            e.select(F.col("v"), F.lit(0), F.lit(1))
        )
        violations = (
            roles.groupBy("node")
            .agg(F.sum("as_big").alias("nb"), F.max("as_small").alias("ms"))
            .filter(
                (F.col("nb") > 1) | ((F.col("nb") >= 1) & (F.col("ms") == 1))
            )
        )
        return violations.isEmpty()

    # max_iter + 1 probes: the result of round max_iter still deserves its
    # fixpoint check (probe-then-compute would otherwise discard a
    # successful final round as "not converged"). Each probe doubles as
    # the lazy checkpoint's materializer (r16: the separate count job per
    # round is gone): the violations aggregation's map side scans every
    # partition of its input before isEmpty can return, so truncation is
    # complete before the superseded generation is freed.
    converged = is_star_forest(cur)
    rounds_run = 0
    while not converged and rounds_run < max_iter:
        nxt = persist(small_star(large_star(cur)), eager=False)
        nxt_gen = generation - 1
        converged = is_star_forest(nxt)
        release(cur, cur_gen)
        cur, cur_gen = nxt, nxt_gen
        rounds_run += 1
    if not converged:
        raise RuntimeError(
            f"connected_components_twostar did not converge within "
            f"{max_iter} rounds; raise max_iter"
        )
    # fixpoint edges are (member, root): emit member labels + root labels
    labels = (
        cur.select(F.col("u").alias("node"), F.col("v").alias("component"))
        .unionByName(
            cur.select(
                F.col("v").alias("node"), F.col("v").alias("component")
            )
        )
        .distinct()
    )
    singletons = self_nodes.join(labels, "node", "left_anti").select(
        "node", F.col("node").alias("component")
    )
    return labels.unionByName(singletons)


@register(
    "dedup_clusters_twostar",
    oracle=_CLUSTERS_ORACLE,
    tags=("dedup", "graph", "iterative"),
    bench=True,
)
def dedup_clusters_twostar(spark, sf_dir):
    """Same contract as ``dedup_clusters`` (same MinHash-LSH pair input,
    same recursive-CTE oracle), computed with the two-star algorithm — the
    O(log n)-round variant for deep components at 100 TB."""
    pairs = dedup_minhash_lsh_pairs(spark, sf_dir)
    comps = connected_components_twostar(pairs, src="doc_a", dst="doc_b")
    return comps.select(
        F.col("node").alias("doc_id"), F.col("component").alias("cluster_rep")
    )


# --------------------------------------------------------------------------
# End-to-end dedup application: drop every cluster member except the
# canonical representative — the composite of the whole ladder
# (shingle -> MinHash -> LSH pairs -> components -> filtered corpus).
# --------------------------------------------------------------------------

_APPLY_ORACLE = f"""
WITH RECURSIVE pairs AS ({_MINHASH_PAIRS_ORACLE}),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b AS a, doc_a AS b FROM pairs
),
reach(src, dst) AS (
  SELECT a, a FROM (SELECT DISTINCT a FROM edges) n
  UNION
  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
),
clusters AS (
  SELECT src AS doc_id, min(dst) AS cluster_rep FROM reach GROUP BY src
)
SELECT d.doc_id, d.lang, d.source
FROM documents d
WHERE NOT EXISTS (
  SELECT 1 FROM clusters c
  WHERE c.doc_id = d.doc_id AND c.doc_id <> c.cluster_rep
)
"""


@register("dedup_apply_clusters", oracle=_APPLY_ORACLE, tags=("dedup", "graph"))
def dedup_apply_clusters(spark, sf_dir):
    from ..catalog import table

    docs = table(spark, sf_dir, "documents")
    pairs = dedup_minhash_lsh_pairs(spark, sf_dir)
    comps = connected_components(pairs, src="doc_a", dst="doc_b")
    losers = comps.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("doc_id")
    )
    return docs.join(losers, "doc_id", "left_anti").select(
        "doc_id", "lang", "source"
    )


# --------------------------------------------------------------------------
# k-core decomposition (iterative peeling): repeatedly drop nodes with
# degree < k until the surviving subgraph is stable — the standard
# dense-substructure filter (community cores, spam farms, and for dedup
# graphs the "everything links to everything" boilerplate families whose
# clusters deserve different treatment than a chain of drifted revisions).
# Each peel round is one degree aggregation + two semi-joins over the
# (shrinking) edge list; the edge set only shrinks, so an edge-count
# equality check is a sound fixpoint test (one cheap job per round on
# checkpointed data). Converges in <= max-degree rounds; typically a
# handful. The oracle unrolls a fixed number of peel rounds as chained
# CTEs — peeling is idempotent at the fixpoint, so unrolling MORE rounds
# than Spark needed is a no-op (the Spark side raises if it ever needs
# more than the unroll budget, keeping the two in lockstep).
# --------------------------------------------------------------------------

K_CORE = 5
_KCORE_ROUNDS = 16  # SQL unroll budget; Spark asserts convergence within it


def kcore_edges(
    edges: DataFrame,
    k: int = K_CORE,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = _KCORE_ROUNDS,
) -> DataFrame:
    """Surviving undirected edge list (u, v) of the k-core.

    ``edges`` is an undirected edge list given one direction per pair;
    lineage is truncated per round like the CC loops.
    """
    und = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .unionByName(
            edges.select(F.col(dst).alias("u"), F.col(src).alias("v"))
        )
        .distinct()
        .localCheckpoint()
    )
    prev_count = und.count()
    for _ in range(max_iter):
        keep = (
            und.groupBy("u")
            .agg(F.count(F.lit(1)).alias("d"))
            .filter(F.col("d") >= k)
            .select("u")
        )
        nxt = (
            und.join(keep, "u", "left_semi")
            .join(keep.select(F.col("u").alias("v")), "v", "left_semi")
            .localCheckpoint(eager=False)
        )
        nxt_count = nxt.count()
        try:
            und.unpersist()
        except Exception:
            pass
        und = nxt
        if nxt_count == prev_count:
            return und
        prev_count = nxt_count
    raise RuntimeError(
        f"kcore did not converge within {max_iter} rounds; raise max_iter "
        "(and the oracle unroll budget)"
    )


def _kcore_oracle(k: int = K_CORE, rounds: int = _KCORE_ROUNDS) -> str:
    # AS MATERIALIZED is load-bearing: DuckDB inlines plain CTEs, and each
    # round references the previous one ~3 times — an unmaterialized
    # 12-level chain expands to 3^12 subplans (observed as "too many open
    # files" on the parquet scan).
    base = """
WITH li AS MATERIALIZED (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem WHERE l_partkey % 50 < 3
),
e0 AS MATERIALIZED (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
u0 AS MATERIALIZED (
  SELECT u, v FROM e0 UNION SELECT v, u FROM e0
)"""
    prev = "u0"
    for i in range(1, rounds + 1):
        base += f""", k{i} AS MATERIALIZED (
  SELECT u FROM {prev} GROUP BY u HAVING count(*) >= {k}
), u{i} AS MATERIALIZED (
  SELECT e.u, e.v FROM {prev} e
  JOIN k{i} a ON a.u = e.u
  JOIN k{i} b ON b.u = e.v
)"""
        prev = f"u{i}"
    base += f"""
SELECT u AS node, cast(count(*) AS BIGINT) AS core_degree
FROM {prev} GROUP BY u
"""
    return base


@register("graph_kcore", oracle=_kcore_oracle(), tags=("graph", "iterative"))
def graph_kcore(spark, sf_dir):
    """K_CORE-core of the part co-occurrence graph (thinned sparser than
    the triangle-count graph so the peel genuinely cascades — at sf0.01 it
    runs ~8 rounds, 120 -> 86 nodes): member nodes + in-core degree. At
    real scale the round count tracks the graph's degeneracy depth; the
    per-round cost shrinks with the surviving edge set."""
    from ..catalog import table

    li = (
        table(spark, sf_dir, "lineitem")
        .filter(F.col("l_partkey") % 50 < 3)  # sparser than the triangle
        .select("l_orderkey", "l_partkey")    # graph so peeling cascades
        .distinct()
    )
    a, b = li.alias("a"), li.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v")
        )
        .distinct()
    )
    core = kcore_edges(edges, k=K_CORE, src="u", dst="v")
    return core.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("core_degree")
    )


# --------------------------------------------------------------------------
# PageRank, 3 unrolled power iterations, on the nation same-region clique
# graph (a -> b when both share a region, a != b). The Spark side runs the
# canonical iterative join-agg loop (rank/deg join edges, sum by dst); the
# oracle unrolls the identical recurrence as chained CTEs, so an iterative
# distributed algorithm gets an exact cross-engine check. Per-node in-sums
# span <= 24 terms; round(6) absorbs summation-order ulp drift.
# --------------------------------------------------------------------------

N_PR_ITERS = 3
DAMPING = 0.85


def _pr_oracle() -> str:
    base = """
WITH edges AS (
  SELECT a.n_nationkey AS src, b.n_nationkey AS dst
  FROM nation a JOIN nation b
    ON a.n_regionkey = b.n_regionkey AND a.n_nationkey <> b.n_nationkey
), deg AS (
  SELECT src, cast(count(*) AS DOUBLE) AS d FROM edges GROUP BY src
), nodes AS (
  SELECT n_nationkey AS node FROM nation
), nn AS (
  SELECT cast(count(*) AS DOUBLE) AS n FROM nodes
), r0 AS (
  SELECT node, 1.0 / nn.n AS rank FROM nodes, nn
)"""
    prev = "r0"
    for i in range(1, N_PR_ITERS + 1):
        base += f""", r{i} AS (
  SELECT nodes.node,
         (1 - {DAMPING}) / nn.n
         + {DAMPING} * coalesce(sum_in.s, 0.0) AS rank
  FROM nodes
  CROSS JOIN nn
  LEFT JOIN (
    SELECT e.dst AS node, sum(p.rank / deg.d) AS s
    FROM edges e
    JOIN {prev} p ON p.node = e.src
    JOIN deg ON deg.src = e.src
    GROUP BY e.dst
  ) sum_in ON sum_in.node = nodes.node
)"""
        prev = f"r{i}"
    base += f"""
SELECT node, round(rank, 6) AS rank FROM {prev}
"""
    return base


@register(
    # demoted from the headline set r14 (VERDICT r13 #4): its
    # join+agg-iteration plan shape is subsumed by graph_louvain_pass,
    # now the heaviest registered query and the promoted tracker
    "graph_pagerank_3iter", oracle=_pr_oracle(), tags=("graph", "iterative")
)
def graph_pagerank_3iter(spark, sf_dir):
    from ..catalog import table

    n = table(spark, sf_dir, "nation")
    a, b = n.alias("a"), n.alias("b")
    edges = a.join(
        b,
        (F.col("a.n_regionkey") == F.col("b.n_regionkey"))
        & (F.col("a.n_nationkey") != F.col("b.n_nationkey")),
    ).select(
        F.col("a.n_nationkey").alias("src"), F.col("b.n_nationkey").alias("dst")
    )
    edges = edges.localCheckpoint(eager=True)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).cast("double").alias("d"))
    nodes = n.select(F.col("n_nationkey").alias("node"))
    n_nodes = float(nodes.count())

    ranks = nodes.withColumn("rank", F.lit(1.0 / n_nodes))
    for _ in range(N_PR_ITERS):
        contrib = (
            edges.join(ranks, edges.src == ranks.node)
            .join(deg, "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.col("rank") / F.col("d")).alias("s"))
        )
        ranks = nodes.join(contrib, "node", "left").select(
            "node",
            (
                F.lit((1 - DAMPING) / n_nodes)
                + F.lit(DAMPING) * F.coalesce(F.col("s"), F.lit(0.0))
            ).alias("rank"),
        )
    return ranks.select("node", F.round("rank", 6).alias("rank"))


# --------------------------------------------------------------------------
# Triangle counting + global clustering coefficient on the part
# co-occurrence graph (edge u-v when parts u < v ship in the same order;
# node set thinned to partkey % 50 < 10 to keep the demo graph dense).
# The standard distributed shape: edges are canonically oriented (u < v) so
# each triangle is counted exactly once by the wedge join
# e1(a,b) |> e2(b,c) |> closing edge (a,c). Every join is an equi-join on
# node ids (high-cardinality keys); wedge count is a per-node degree
# aggregate — integers end to end, one float division at the very end.
# At real scale the orientation would be by (degree, id) instead of raw id
# (the Schank-Wagner trick bounding wedge fanout by sqrt(|E|)); id order is
# the same plan and exact on this graph.
# --------------------------------------------------------------------------

_TRIANGLE_ORACLE = """
WITH li AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem WHERE l_partkey % 50 < 10
),
edges AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
deg AS (
  SELECT node, cast(count(*) AS BIGINT) AS d FROM (
    SELECT u AS node FROM edges UNION ALL SELECT v FROM edges
  ) t GROUP BY node
),
tri AS (
  SELECT cast(count(*) AS BIGINT) AS n_triangles
  FROM edges e1
  JOIN edges e2 ON e2.u = e1.v
  JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
),
wedge AS (
  SELECT cast(sum(d * (d - 1) / 2) AS BIGINT) AS n_wedges FROM deg
)
SELECT cast((SELECT count(*) FROM deg) AS BIGINT) AS n_nodes,
       cast((SELECT count(*) FROM edges) AS BIGINT) AS n_edges,
       n_triangles,
       round(3.0 * n_triangles / n_wedges, 6) AS clustering_coeff
FROM tri, wedge
"""


@register("graph_triangle_count", oracle=_TRIANGLE_ORACLE, tags=("graph",))
def graph_triangle_count(spark, sf_dir):
    from ..catalog import table

    li = (
        table(spark, sf_dir, "lineitem")
        .filter(F.col("l_partkey") % 50 < 10)
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a, b = li.alias("a"), li.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v")
        )
        .distinct()
    )
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select("v"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.u") == F.col("e1.v"))
        .join(
            e3,
            (F.col("e3.u") == F.col("e1.u")) & (F.col("e3.v") == F.col("e2.v")),
        )
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    wedges = deg.agg(
        F.sum(F.col("d") * (F.col("d") - 1) / 2).cast("long").alias("n_wedges")
    )
    counts = deg.agg(F.count(F.lit(1)).alias("n_nodes")).crossJoin(
        F.broadcast(edges.agg(F.count(F.lit(1)).alias("n_edges")))
    )
    return (
        counts.crossJoin(F.broadcast(tri))
        .crossJoin(F.broadcast(wedges))
        .select(
            "n_nodes",
            "n_edges",
            "n_triangles",
            F.round(3.0 * F.col("n_triangles") / F.col("n_wedges"), 6).alias(
                "clustering_coeff"
            ),
        )
    )


# --------------------------------------------------------------------------
# Multi-source BFS: k-hop shortest hop distances from a seed set — the
# missing "shortest paths" member of the iterative-graph family (CC and
# PageRank above converge on labels/mass; BFS converges on DISTANCE).
# Frontier-expansion form: each round joins the current frontier to the
# edge list (one equi-join shuffle on node id) and anti-joins the visited
# set, so per-round cost tracks |frontier ∪ edges touched|, never |V|².
# The bipartite supplier-part graph comes from lineitem (supplier 2s,
# part 2p+1 packed into one integer node space); seeds are the suppliers
# of nation 0. The oracle unrolls the same expansion as NOT-IN chains —
# exact for a fixed k.
# --------------------------------------------------------------------------

N_BFS_HOPS = 3


def bfs_khop(edges: DataFrame, seeds: DataFrame, k: int) -> DataFrame:
    """(node, hop) minimum hop distance (<= k) from any seed node.

    ``edges``: columns (u, v), undirected expansion handled here.
    ``seeds``: column (node). Each round localCheckpoints the frontier so
    the loop doesn't stack lineage (same discipline as
    :func:`connected_components`).
    """
    undirected = (
        edges.select("u", "v")
        .unionByName(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
        .localCheckpoint()
    )
    visited = seeds.select("node", F.lit(0).alias("hop")).localCheckpoint()
    frontier = visited
    for hop in range(1, k + 1):
        nxt = (
            undirected.join(frontier, undirected.u == frontier.node)
            .select(F.col("v").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .select("node", F.lit(hop).alias("hop"))
            .localCheckpoint()
        )
        new_visited = visited.unionByName(nxt).localCheckpoint()
        visited.unpersist()
        frontier.unpersist()
        visited, frontier = new_visited, nxt
        if frontier.isEmpty():
            break
    return visited


_BFS_ORACLE = """
WITH e AS (
  SELECT DISTINCT l_suppkey * 2 AS u, l_partkey * 2 + 1 AS v FROM lineitem
),
ud AS (SELECT u, v FROM e UNION SELECT v, u FROM e),
d0 AS (
  SELECT DISTINCT s_suppkey * 2 AS node FROM supplier WHERE s_nationkey = 0
),
d1 AS (
  SELECT DISTINCT ud.v AS node FROM ud JOIN d0 ON ud.u = d0.node
  WHERE ud.v NOT IN (SELECT node FROM d0)
),
d2 AS (
  SELECT DISTINCT ud.v AS node FROM ud JOIN d1 ON ud.u = d1.node
  WHERE ud.v NOT IN (SELECT node FROM d0 UNION ALL SELECT node FROM d1)
),
d3 AS (
  SELECT DISTINCT ud.v AS node FROM ud JOIN d2 ON ud.u = d2.node
  WHERE ud.v NOT IN (
    SELECT node FROM d0 UNION ALL SELECT node FROM d1
    UNION ALL SELECT node FROM d2
  )
),
allhops AS (
  SELECT node, 0 AS hop FROM d0
  UNION ALL SELECT node, 1 FROM d1
  UNION ALL SELECT node, 2 FROM d2
  UNION ALL SELECT node, 3 FROM d3
)
SELECT cast(hop AS INTEGER) AS hop,
       CASE WHEN node % 2 = 0 THEN 'supplier' ELSE 'part' END AS node_type,
       cast(count(*) AS BIGINT) AS n_nodes,
       cast(min(node) AS BIGINT) AS min_node,
       cast(max(node) AS BIGINT) AS max_node
FROM allhops
GROUP BY hop, CASE WHEN node % 2 = 0 THEN 'supplier' ELSE 'part' END
"""


@register("graph_bfs_khop", oracle=_BFS_ORACLE, tags=("graph",))
def graph_bfs_khop(spark, sf_dir):
    from ..catalog import table

    li = table(spark, sf_dir, "lineitem")
    edges = li.select(
        (F.col("l_suppkey") * 2).alias("u"),
        (F.col("l_partkey") * 2 + 1).alias("v"),
    ).distinct()
    seeds = (
        table(spark, sf_dir, "supplier")
        .filter(F.col("s_nationkey") == 0)
        .select((F.col("s_suppkey") * 2).alias("node"))
        .distinct()
    )
    visited = bfs_khop(edges, seeds, N_BFS_HOPS)
    return visited.groupBy(
        F.col("hop").cast("int").alias("hop"),
        F.when(F.col("node") % 2 == 0, "supplier")
        .otherwise("part")
        .alias("node_type"),
    ).agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.min("node").cast("long").alias("min_node"),
        F.max("node").cast("long").alias("max_node"),
    )


# --------------------------------------------------------------------------
# Synchronous label propagation (community detection): every node adopts
# the most frequent label among its neighbors each round (ties -> smallest
# label), all updates computed from the PREVIOUS round's labels. The
# community-structure member of the iterative-graph family (CC converges
# on connectivity, PageRank on mass, BFS on distance; LPA converges on
# modularity-ish communities). Rounds are FIXED at 3 so the unrolled SQL
# oracle is exact — real deployments iterate to stability; each extra
# round is the same one-join-one-agg-one-bounded-window template.
#
# Per-round cost at 100 TB: one equi-join shuffle of (node, label) pairs
# against the edge list, one (node, label) count aggregation (map-side
# combinable), and one per-node window whose partition size is the node's
# DEGREE (bounded by the data's fan-out, never |V|). Labels are node ids
# — 8 bytes — so the shuffled payload stays narrow. The same
# localCheckpoint discipline as connected_components is unnecessary at 3
# unrolled rounds (lineage depth is constant).
# --------------------------------------------------------------------------

_LPA_ROUNDS = 3


def _lpa_oracle(rounds: int = _LPA_ROUNDS) -> str:
    parts = [
        """
WITH e AS (
  SELECT DISTINCT l_suppkey * 2 AS u, l_partkey * 2 + 1 AS v FROM lineitem
),
ud AS (SELECT u, v FROM e UNION SELECT v, u FROM e),
l0 AS (SELECT DISTINCT u AS node, u AS lbl FROM ud)"""
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f""",
c{r} AS (
  SELECT ud.u AS node, p.lbl, cast(count(*) AS BIGINT) AS c
  FROM ud JOIN l{r - 1} p ON ud.v = p.node
  GROUP BY ud.u, p.lbl
),
l{r} AS (
  SELECT node, lbl FROM (
    SELECT node, lbl,
           row_number() OVER (PARTITION BY node ORDER BY c DESC, lbl) AS rn
    FROM c{r}
  ) WHERE rn = 1
)"""
        )
    parts.append(
        f""",
sizes AS (
  SELECT lbl, cast(count(*) AS BIGINT) AS n_nodes
  FROM l{rounds} GROUP BY lbl
),
tot AS (SELECT cast(count(*) AS BIGINT) AS n_communities FROM sizes)
SELECT s.lbl, s.n_nodes, t.n_communities
FROM sizes s CROSS JOIN tot t
ORDER BY s.n_nodes DESC, s.lbl LIMIT 15"""
    )
    return "".join(parts)


@register("graph_label_propagation", oracle=_lpa_oracle(), tags=("graph", "iterative"))
def graph_label_propagation(spark, sf_dir):
    from pyspark.sql import Window as W

    from ..catalog import table

    li = table(spark, sf_dir, "lineitem")
    e = li.select(
        (F.col("l_suppkey") * 2).alias("u"),
        (F.col("l_partkey") * 2 + 1).alias("v"),
    ).distinct()
    ud = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    labels = ud.select(F.col("u").alias("node")).distinct().select(
        "node", F.col("node").alias("lbl")
    )
    w = W.partitionBy("node").orderBy(F.col("c").desc(), F.col("lbl"))
    for _ in range(_LPA_ROUNDS):
        cnt = (
            ud.join(labels.withColumnRenamed("node", "v"), "v")
            .groupBy(F.col("u").alias("node"), "lbl")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        labels = (
            cnt.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("node", "lbl")
        )
    # r16: sizes is read twice (the n_communities broadcast + the top-15
    # sort), and unpersisted each read re-ran the WHOLE 3-round LPA
    # pipeline (profile: a duplicate multi-exchange subtree). One
    # persist+count runs the propagation once; the cache is one row per
    # surviving label, far smaller than the label table itself. Not
    # unpersisted here (the returned DataFrame reads it). Only the
    # harness sweep (``profile.sweep``) frees it between queries;
    # outside that harness it stays in the session.
    sizes = labels.groupBy("lbl").agg(F.count(F.lit(1)).alias("n_nodes")).persist()
    sizes.count()
    tot = sizes.agg(F.count(F.lit(1)).alias("n_communities"))
    return (
        sizes.crossJoin(F.broadcast(tot))
        .orderBy(F.col("n_nodes").desc(), "lbl")
        .limit(15)
    )


# --------------------------------------------------------------------------
# Personalized PageRank: teleportation lands on a SEED SET (region-0
# nations) instead of uniformly — the related-entity / recommendation
# ranking (scores concentrate around the seeds; nodes unreachable from
# them decay to zero). Same 3-round unrolled template as
# graph_pagerank_3iter, differing only in the teleport vector — which is
# exactly the point: on a cluster, personalization is a FREE rewrite of
# the same iterative join-agg plan, not a new algorithm.
# --------------------------------------------------------------------------


def _ppr_oracle() -> str:
    base = f"""
WITH edges AS (
  SELECT a.n_nationkey AS src, b.n_nationkey AS dst
  FROM nation a JOIN nation b
    ON a.n_regionkey = b.n_regionkey AND a.n_nationkey <> b.n_nationkey
), deg AS (
  SELECT src, cast(count(*) AS DOUBLE) AS d FROM edges GROUP BY src
), nodes AS (
  SELECT n_nationkey AS node,
         CASE WHEN n_regionkey = 0 THEN 1 ELSE 0 END AS is_seed
  FROM nation
), ns AS (
  SELECT cast(sum(is_seed) AS DOUBLE) AS n_seeds FROM nodes
), r0 AS (
  SELECT node, is_seed / ns.n_seeds AS rank FROM nodes, ns
)"""
    prev = "r0"
    for i in range(1, N_PR_ITERS + 1):
        base += f""", r{i} AS (
  SELECT nodes.node,
         (1 - {DAMPING}) * nodes.is_seed / ns.n_seeds
         + {DAMPING} * coalesce(sum_in.s, 0.0) AS rank
  FROM nodes
  CROSS JOIN ns
  LEFT JOIN (
    SELECT e.dst AS node, sum(p.rank / deg.d) AS s
    FROM edges e
    JOIN {prev} p ON p.node = e.src
    JOIN deg ON deg.src = e.src
    GROUP BY e.dst
  ) sum_in ON sum_in.node = nodes.node
)"""
        prev = f"r{i}"
    base += f"""
SELECT node, round(rank, 6) AS rank FROM {prev}
"""
    return base


@register(
    "graph_pagerank_personalized", oracle=_ppr_oracle(), tags=("graph", "iterative")
)
def graph_pagerank_personalized(spark, sf_dir):
    from ..catalog import table

    n = table(spark, sf_dir, "nation")
    a, b = n.alias("a"), n.alias("b")
    edges = a.join(
        b,
        (F.col("a.n_regionkey") == F.col("b.n_regionkey"))
        & (F.col("a.n_nationkey") != F.col("b.n_nationkey")),
    ).select(
        F.col("a.n_nationkey").alias("src"), F.col("b.n_nationkey").alias("dst")
    )
    edges = edges.localCheckpoint(eager=True)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).cast("double").alias("d"))
    nodes = n.select(
        F.col("n_nationkey").alias("node"),
        F.when(F.col("n_regionkey") == 0, 1).otherwise(0).alias("is_seed"),
    ).localCheckpoint(eager=True)
    # the seed count rides as a broadcast 1-row column instead of a
    # driver-side scalar fetch (VERDICT r6 #7: no collect in operators)
    seeds = nodes.agg(F.sum("is_seed").cast("double").alias("n_seeds"))
    nodes = nodes.crossJoin(F.broadcast(seeds))

    ranks = nodes.select(
        "node", (F.col("is_seed") / F.col("n_seeds")).alias("rank")
    )
    for _ in range(N_PR_ITERS):
        contrib = (
            edges.join(ranks, edges.src == ranks.node)
            .join(deg, "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.col("rank") / F.col("d")).alias("s"))
        )
        ranks = nodes.join(contrib, "node", "left").select(
            "node",
            (
                F.lit(1 - DAMPING) * F.col("is_seed") / F.col("n_seeds")
                + F.lit(DAMPING) * F.coalesce(F.col("s"), F.lit(0.0))
            ).alias("rank"),
        )
    return ranks.select("node", F.round("rank", 6).alias("rank"))


# --------------------------------------------------------------------------
# Cluster-quality report (r13): the accounting a dedup pipeline owner
# reads before TRUSTING the clusters — per connected component: size,
# representative, how many of its pairs LSH actually measured (edge
# coverage: a size-k cluster has k(k-1)/2 possible pairs but CC merges
# over a spanning subgraph), and the measured pairs' mean true Jaccard.
# A big cluster with low mean Jaccard or low coverage is the classic
# dedup failure smell — chained borderline pairs gluing unrelated docs,
# exactly what transitive-closure clustering does silently. Pure
# composition of the two proven pieces (LSH pair table with verified
# Jaccards + its connected components); everything after the join is
# cluster-table-sized.
# --------------------------------------------------------------------------

_CLUSTER_Q_TOP = 10

_CLUSTER_Q_ORACLE = f"""
WITH comp AS ({_CLUSTERS_ORACLE}),
p AS ({_MINHASH_PAIRS_ORACLE}),
edges AS (
  SELECT c.cluster_rep, cast(round(p.jaccard * 1000000) AS BIGINT) AS j6
  FROM p JOIN comp c ON c.doc_id = p.doc_a
),
per_edge AS (
  SELECT cluster_rep, cast(count(*) AS BIGINT) AS n_edges,
         cast(sum(j6) // count(*) AS BIGINT) AS mean_jaccard_ppm
  FROM edges GROUP BY cluster_rep
),
sizes AS (
  SELECT cluster_rep, cast(count(*) AS BIGINT) AS n_docs
  FROM comp GROUP BY cluster_rep
)
SELECT s.cluster_rep, s.n_docs, e.n_edges, e.mean_jaccard_ppm,
       cast(2 * e.n_edges * 1000000 // (s.n_docs * (s.n_docs - 1)) AS BIGINT)
         AS edge_coverage_ppm
FROM sizes s JOIN per_edge e ON e.cluster_rep = s.cluster_rep
ORDER BY s.n_docs DESC, s.cluster_rep
LIMIT {_CLUSTER_Q_TOP}
"""


@register(
    "dedup_cluster_quality",
    oracle=_CLUSTER_Q_ORACLE,
    tags=("dedup", "graph"),
)
def dedup_cluster_quality(spark, sf_dir):
    """Per-cluster size, measured-edge coverage, and mean true Jaccard
    of measured pairs — the trust report over the CC dedup clusters."""
    pairs = dedup_minhash_lsh_pairs(spark, sf_dir).localCheckpoint(eager=True)
    comps = connected_components(pairs, src="doc_a", dst="doc_b")
    edges = pairs.join(
        comps.select(
            F.col("node").alias("doc_a"),
            F.col("component").alias("cluster_rep"),
        ),
        "doc_a",
    ).select(
        "cluster_rep",
        F.round(F.col("jaccard") * 1_000_000).cast("long").alias("j6"),
    )
    per_edge = edges.groupBy("cluster_rep").agg(
        F.count(F.lit(1)).cast("long").alias("n_edges"),
        F.expr("sum(j6) div count(1)").cast("long").alias("mean_jaccard_ppm"),
    )
    sizes = comps.groupBy(F.col("component").alias("cluster_rep")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    return (
        sizes.join(per_edge, "cluster_rep")
        .withColumn(
            "edge_coverage_ppm",
            F.expr("2 * n_edges * 1000000 div (n_docs * (n_docs - 1))"),
        )
        .orderBy(F.desc("n_docs"), "cluster_rep")
        .limit(_CLUSTER_Q_TOP)
        .select(
            "cluster_rep",
            "n_docs",
            "n_edges",
            "mean_jaccard_ppm",
            "edge_coverage_ppm",
        )
    )
