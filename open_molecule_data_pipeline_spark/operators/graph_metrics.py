"""Per-node graph metrics: local clustering coefficient, Jaccard link
prediction.

Same co-purchase graph as ``graph_triangle_count`` (parts are nodes, an
edge connects parts appearing in the same order, restricted to the
l_partkey % 50 < 10 slice so density stays realistic). Both metrics are
neighborhood-local, so the distributed shape is edge-join-edge on shared
endpoints — cost tracks wedge count, never |V|²:

- ``graph_clustering_coefficient``: per-node triangles / wedges, the
  canonical community-density signal. Triangles from the oriented
  (u<v<w) three-way edge join, credited to each corner; coefficient
  reported as an exact ppm integer (2*tri*1e6 // d*(d-1)).
- ``graph_jaccard_neighbors``: link prediction over distance-2 pairs —
  |N(a) ∩ N(c)| / |N(a) ∪ N(c)| for non-adjacent a<c reachable through a
  shared neighbor. The candidate set comes from the wedge join (never
  all-pairs), existing edges drop out via an anti join, and only the
  top-20 scored pairs are returned through a bounded TakeOrdered.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..catalog import table
from ..registry import register

_EDGE_SQL = """
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        WHERE l_partkey % 50 < 10) a
  JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        WHERE l_partkey % 50 < 10) b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
"""


def _edges(spark, sf_dir):
    li = (
        table(spark, sf_dir, "lineitem")
        .filter(F.col("l_partkey") % 50 < 10)
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a, b = li.alias("a"), li.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
        .distinct()
    )


def _edges_cached(spark, sf_dir):
    """Edge table persisted and materialized EAGERLY (guide §5 caching,
    the dedup_prefix_filter_join precedent): every metric below reads the
    edge table from 3-4 subtrees under one action, and with a LAZY
    persist those concurrent AQE query-stage jobs race the empty cache
    and each re-run the full lineitem self-join (r16 adamic_adar
    profile: seven concurrent 32-task jobs over the identical edge
    subtree). One count barrier makes every consumer a block read — at
    100 TB each skipped re-run is a corpus-slice scan + self-join.
    Not unpersisted by the caller (its result still reads the cache).
    Only the harness sweep (``profile.sweep``) frees it between queries;
    outside that harness it stays in the session."""
    e = _edges(spark, sf_dir).persist()
    e.count()
    return e


_CC_ORACLE = f"""
WITH edges AS ({_EDGE_SQL}),
deg AS (
  SELECT node, cast(count(*) AS BIGINT) AS d FROM (
    SELECT u AS node FROM edges UNION ALL SELECT v FROM edges
  ) n GROUP BY node
),
tri AS (
  SELECT corner, cast(count(*) AS BIGINT) AS n_tri FROM (
    SELECT e1.u AS corner FROM edges e1
    JOIN edges e2 ON e2.u = e1.v
    JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
    UNION ALL
    SELECT e1.v FROM edges e1
    JOIN edges e2 ON e2.u = e1.v
    JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
    UNION ALL
    SELECT e2.v FROM edges e1
    JOIN edges e2 ON e2.u = e1.v
    JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
  ) c GROUP BY corner
)
SELECT deg.node, deg.d,
       cast(coalesce(tri.n_tri, 0) AS BIGINT) AS n_tri,
       cast((2 * coalesce(tri.n_tri, 0) * 1000000) // (deg.d * (deg.d - 1))
            AS BIGINT) AS cc_ppm
FROM deg LEFT JOIN tri ON tri.corner = deg.node
WHERE deg.d >= 2
"""


@register(
    "graph_clustering_coefficient", oracle=_CC_ORACLE, tags=("graph", "agg")
)
def graph_clustering_coefficient(spark, sf_dir):
    edges = _edges_cached(spark, sf_dir)
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select("v"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    triangles = e1.join(e2, F.col("e2.u") == F.col("e1.v")).join(
        e3,
        (F.col("e3.u") == F.col("e1.u")) & (F.col("e3.v") == F.col("e2.v")),
    )
    corners = (
        triangles.select(F.col("e1.u").alias("corner"))
        .unionAll(triangles.select(F.col("e1.v").alias("corner")))
        .unionAll(triangles.select(F.col("e2.v").alias("corner")))
    )
    tri = corners.groupBy("corner").agg(F.count(F.lit(1)).alias("n_tri"))
    return (
        deg.filter(F.col("d") >= 2)
        .join(tri, deg["node"] == tri["corner"], "left")
        .select(
            "node",
            "d",
            F.coalesce("n_tri", F.lit(0)).alias("n_tri"),
            # n_tri on a d~1e6 hub reaches ~5e11; x2e6 passes int64, so
            # the ppm numerator runs in decimal(38,0) (quotient <= 1e6
            # comes back as bigint)
            F.expr(
                "cast((2 * cast(coalesce(n_tri, 0) as decimal(38,0))"
                "      * 1000000) div (cast(d as decimal(38,0)) * (d - 1))"
                "      as long)"
            ).alias("cc_ppm"),
        )
    )


_JACCARD_ORACLE = f"""
WITH edges AS ({_EDGE_SQL}),
und AS (
  SELECT u AS a, v AS b FROM edges UNION ALL SELECT v, u FROM edges
),
deg AS (
  SELECT a AS node, cast(count(*) AS BIGINT) AS d FROM und GROUP BY a
),
common AS (
  SELECT x.a AS a, y.b AS c, cast(count(*) AS BIGINT) AS cn
  FROM und x JOIN und y ON y.a = x.b AND x.a < y.b
  GROUP BY x.a, y.b
),
cand AS (
  SELECT cm.a, cm.c, cm.cn
  FROM common cm
  WHERE NOT EXISTS (SELECT 1 FROM edges e WHERE e.u = cm.a AND e.v = cm.c)
)
SELECT cand.a, cand.c, cand.cn AS n_common,
       cast((cand.cn * 1000000) // (da.d + dc.d - cand.cn) AS BIGINT)
         AS jaccard_ppm
FROM cand
JOIN deg da ON da.node = cand.a
JOIN deg dc ON dc.node = cand.c
ORDER BY jaccard_ppm DESC, cand.a, cand.c
LIMIT 20
"""


@register("graph_jaccard_neighbors", oracle=_JACCARD_ORACLE, tags=("graph", "join"))
def graph_jaccard_neighbors(spark, sf_dir):
    edges = _edges_cached(spark, sf_dir)
    und = edges.select(F.col("u").alias("a"), F.col("v").alias("b")).unionAll(
        edges.select(F.col("v").alias("a"), F.col("u").alias("b"))
    )
    deg = und.groupBy(F.col("a").alias("node")).agg(
        F.count(F.lit(1)).alias("d")
    )
    x = und.select(F.col("a"), F.col("b").alias("mid"))
    y = und.select(F.col("a").alias("mid"), F.col("b").alias("c"))
    common = (
        x.join(y, "mid")
        .filter(F.col("a") < F.col("c"))
        .groupBy("a", "c")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    cand = common.join(
        edges,
        (common["a"] == edges["u"]) & (common["c"] == edges["v"]),
        "left_anti",
    )
    da = deg.select(F.col("node").alias("a"), F.col("d").alias("da"))
    dc = deg.select(F.col("node").alias("c"), F.col("d").alias("dc"))
    # deg has one row per NODE — it grows with the graph, so it is not
    # force-broadcast: AQE broadcasts it while it fits under the
    # threshold and falls back to a shuffle join on billion-node graphs
    scored = (
        cand.join(da, "a")
        .join(dc, "c")
        .select(
            "a",
            "c",
            "n_common",
            F.expr("(n_common * 1000000) div (da + dc - n_common)").alias(
                "jaccard_ppm"
            ),
        )
    )
    return scored.orderBy(
        F.col("jaccard_ppm").desc(), "a", "c"
    ).limit(20)


# --------------------------------------------------------------------------
# Adamic-Adar link prediction (r10) — the degree-weighted sibling of
# graph_jaccard_neighbors: AA(a,c) = Σ_{z ∈ N(a)∩N(c)} 1/ln(deg(z)),
# which discounts common neighbors that are promiscuous hubs. Same
# candidate discipline: pairs come from the wedge join (cost = wedge
# count, never |V|²), existing edges drop via anti join, bounded
# TakeOrdered returns the top-20. Per-wedge weights are quantized to ppm
# int64 AT THE MIDDLE NODE (deg is an exact int → 1e6/ln(d) is one shared
# double expression → round is deterministic), so the per-pair score sum
# is exact integer arithmetic; a middle node always has deg >= 2, so
# ln(d) > 0 by construction.
# --------------------------------------------------------------------------

_AA_ORACLE = f"""
WITH edges AS ({_EDGE_SQL}),
und AS (
  SELECT u AS a, v AS b FROM edges UNION ALL SELECT v, u FROM edges
),
deg AS (
  SELECT a AS node, cast(count(*) AS BIGINT) AS d FROM und GROUP BY a
),
wedges AS (
  SELECT x.a AS a, y.b AS c, x.b AS mid
  FROM und x JOIN und y ON y.a = x.b AND x.a < y.b
),
weighted AS (
  SELECT w.a, w.c,
         cast(round(1000000 / ln(cast(dm.d AS DOUBLE))) AS BIGINT) AS w6
  FROM wedges w JOIN deg dm ON dm.node = w.mid
),
scored AS (
  SELECT a, c, cast(count(*) AS BIGINT) AS n_common,
         cast(sum(w6) AS BIGINT) AS aa_ppm
  FROM weighted GROUP BY a, c
),
cand AS (
  SELECT s.a, s.c, s.n_common, s.aa_ppm
  FROM scored s
  WHERE NOT EXISTS (SELECT 1 FROM edges e WHERE e.u = s.a AND e.v = s.c)
)
SELECT a, c, n_common, aa_ppm
FROM cand
ORDER BY aa_ppm DESC, a, c
LIMIT 20
"""


@register("graph_adamic_adar", oracle=_AA_ORACLE, tags=("graph", "join"))
def graph_adamic_adar(spark, sf_dir):
    edges = _edges_cached(spark, sf_dir)
    und = edges.select(F.col("u").alias("a"), F.col("v").alias("b")).unionAll(
        edges.select(F.col("v").alias("a"), F.col("u").alias("b"))
    )
    deg = und.groupBy(F.col("a").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    x = und.select("a", F.col("b").alias("mid"))
    y = und.select(F.col("a").alias("mid"), F.col("b").alias("c"))
    wedges = x.join(y, "mid").filter(F.col("a") < F.col("c"))
    dm = deg.select(F.col("node").alias("mid"), F.col("d").alias("dm"))
    # deg grows with the graph: no forced broadcast (same AQE note as
    # graph_jaccard_neighbors)
    weighted = wedges.join(dm, "mid").select(
        "a",
        "c",
        F.round(F.lit(1000000) / F.log(F.col("dm").cast("double")))
        .cast("long")
        .alias("w6"),
    )
    scored = weighted.groupBy("a", "c").agg(
        F.count(F.lit(1)).cast("long").alias("n_common"),
        F.sum("w6").cast("long").alias("aa_ppm"),
    )
    cand = scored.join(
        edges,
        (scored["a"] == edges["u"]) & (scored["c"] == edges["v"]),
        "left_anti",
    )
    return cand.orderBy(F.col("aa_ppm").desc(), "a", "c").limit(20)


# --------------------------------------------------------------------------
# Degree assortativity (r10): Newman's r — the Pearson correlation between
# the degrees at the two ends of an edge, over the directed double cover
# (each undirected edge counted both ways, the standard convention).
# r > 0: hubs attach to hubs; r < 0: hub-and-spoke. One groupBy for
# degrees, one high-card join per endpoint, then a single partial+final
# aggregation of five EXACT int64 moments (Σx, Σy, Σxy, Σx², Σy²; deg ≤
# ~1e5 even at sf100 ⇒ products ≤ 1e10, sums ≤ ~1e17 — inside int64);
# r is one shared double expression over those ints.
# --------------------------------------------------------------------------

_ASSORT_ORACLE = f"""
WITH edges AS ({_EDGE_SQL}),
und AS (
  SELECT u AS a, v AS b FROM edges UNION ALL SELECT v, u FROM edges
),
deg AS (
  SELECT a AS node, cast(count(*) AS BIGINT) AS d FROM und GROUP BY a
),
m AS (
  SELECT cast(count(*) AS BIGINT) AS m,
         cast(sum(da.d) AS BIGINT) AS sx,
         cast(sum(db.d) AS BIGINT) AS sy,
         cast(sum(da.d * db.d) AS BIGINT) AS sxy,
         cast(sum(da.d * da.d) AS BIGINT) AS sxx,
         cast(sum(db.d * db.d) AS BIGINT) AS syy
  FROM und
  JOIN deg da ON da.node = und.a
  JOIN deg db ON db.node = und.b
), nodes AS (
  SELECT cast(count(*) AS BIGINT) AS n_nodes FROM deg
)
SELECT m.m AS n_directed_edges, nodes.n_nodes,
       round((cast(m.m AS DOUBLE) * cast(m.sxy AS DOUBLE)
              - cast(m.sx AS DOUBLE) * cast(m.sy AS DOUBLE))
             / sqrt((cast(m.m AS DOUBLE) * cast(m.sxx AS DOUBLE)
                     - cast(m.sx AS DOUBLE) * cast(m.sx AS DOUBLE))
                    * (cast(m.m AS DOUBLE) * cast(m.syy AS DOUBLE)
                       - cast(m.sy AS DOUBLE) * cast(m.sy AS DOUBLE))), 6)
         AS assortativity
FROM m, nodes
"""


@register(
    "graph_assortativity",
    oracle=_ASSORT_ORACLE,
    tags=("graph", "stats"),
)
def graph_assortativity(spark, sf_dir):
    edges = _edges_cached(spark, sf_dir)
    und = edges.select(F.col("u").alias("a"), F.col("v").alias("b")).unionAll(
        edges.select(F.col("v").alias("a"), F.col("u").alias("b"))
    )
    deg = und.groupBy(F.col("a").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    da = deg.select(F.col("node").alias("a"), F.col("d").alias("dx"))
    db = deg.select(F.col("node").alias("b"), F.col("d").alias("dy"))
    m = (
        und.join(da, "a")
        .join(db, "b")
        .groupBy()
        .agg(
            F.count(F.lit(1)).cast("long").alias("m"),
            F.sum("dx").cast("long").alias("sx"),
            F.sum("dy").cast("long").alias("sy"),
            F.sum(F.col("dx") * F.col("dy")).cast("long").alias("sxy"),
            F.sum(F.col("dx") * F.col("dx")).cast("long").alias("sxx"),
            F.sum(F.col("dy") * F.col("dy")).cast("long").alias("syy"),
        )
    )
    nodes = deg.groupBy().agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    num = d("m") * d("sxy") - d("sx") * d("sy")
    den = F.sqrt(
        (d("m") * d("sxx") - d("sx") * d("sx"))
        * (d("m") * d("syy") - d("sy") * d("sy"))
    )
    return m.crossJoin(F.broadcast(nodes)).select(
        F.col("m").alias("n_directed_edges"),
        "n_nodes",
        F.round(num / den, 6).alias("assortativity"),
    )


# --------------------------------------------------------------------------
# Modularity Q of a node partition (r10): the community-quality score —
# Q = Σ_c [ L_c/m − (D_c/2m)² ] with L_c intra-community edges, D_c the
# community degree sum, m total undirected edges. Evaluated on the
# nation co-region graph for TWO partitions side by side: 'region' (the
# generative communities — Q near its max for this graph) and 'hash'
# (nation % 7 — a null partition, Q ≈ 0), so the single output table
# demonstrates both the metric and its null calibration. All moments are
# exact int64 (L_c, D_c, m are counts); Q is one shared double
# expression per partition row.
# --------------------------------------------------------------------------

_MOD_ORACLE = """
WITH edges AS (
  SELECT a.n_nationkey AS u, b.n_nationkey AS v
  FROM nation a JOIN nation b
    ON a.n_regionkey = b.n_regionkey AND a.n_nationkey < b.n_nationkey
),
parts AS (
  SELECT n_nationkey AS node, 'region' AS part,
         cast(n_regionkey AS BIGINT) AS cid
  FROM nation
  UNION ALL
  SELECT n_nationkey, 'hash', cast(n_nationkey % 7 AS BIGINT) FROM nation
),
m AS (SELECT cast(count(*) AS BIGINT) AS m FROM edges),
deg AS (
  SELECT node, cast(count(*) AS BIGINT) AS d FROM (
    SELECT u AS node FROM edges UNION ALL SELECT v FROM edges
  ) t GROUP BY node
),
dsum AS (
  SELECT p.part, p.cid, cast(sum(deg.d) AS BIGINT) AS dc
  FROM parts p JOIN deg ON deg.node = p.node
  GROUP BY p.part, p.cid
),
lc AS (
  SELECT pu.part, pu.cid, cast(count(*) AS BIGINT) AS l
  FROM edges e
  JOIN parts pu ON pu.node = e.u
  JOIN parts pv ON pv.node = e.v AND pv.part = pu.part
  WHERE pu.cid = pv.cid
  GROUP BY pu.part, pu.cid
),
terms AS (
  SELECT d.part, d.cid, coalesce(lc.l, 0) AS l, d.dc, m.m
  FROM dsum d LEFT JOIN lc ON lc.part = d.part AND lc.cid = d.cid, m
)
,
q9 AS (
  SELECT part,
         cast(round((cast(l AS DOUBLE) / cast(m AS DOUBLE)
                     - (cast(dc AS DOUBLE)
                        / (cast(2 AS DOUBLE) * cast(m AS DOUBLE)))
                       * (cast(dc AS DOUBLE)
                          / (cast(2 AS DOUBLE) * cast(m AS DOUBLE))))
                    * 1000000000) AS BIGINT) AS t9,
         m
  FROM terms
)
SELECT part AS partition_name,
       cast(count(*) AS BIGINT) AS n_communities,
       max(m) AS m_edges,
       round(cast(sum(t9) AS DOUBLE) / cast(1000000000 AS DOUBLE), 6)
         AS modularity_q
FROM q9 GROUP BY part
"""


@register(
    "graph_modularity",
    oracle=_MOD_ORACLE,
    tags=("graph", "stats"),
)
def graph_modularity(spark, sf_dir):
    n = table(spark, sf_dir, "nation")
    a, b = n.alias("a"), n.alias("b")
    edges = a.join(
        b,
        (F.col("a.n_regionkey") == F.col("b.n_regionkey"))
        & (F.col("a.n_nationkey") < F.col("b.n_nationkey")),
    ).select(F.col("a.n_nationkey").alias("u"), F.col("b.n_nationkey").alias("v"))
    edges = edges.localCheckpoint(eager=True)
    parts = n.select(
        F.col("n_nationkey").alias("node"),
        F.lit("region").alias("part"),
        F.col("n_regionkey").cast("long").alias("cid"),
    ).unionByName(
        n.select(
            F.col("n_nationkey").alias("node"),
            F.lit("hash").alias("part"),
            (F.col("n_nationkey") % 7).cast("long").alias("cid"),
        )
    )
    m = edges.groupBy().agg(F.count(F.lit(1)).cast("long").alias("m"))
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionByName(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    dsum = (
        parts.join(deg, "node")
        .groupBy("part", "cid")
        .agg(F.sum("d").cast("long").alias("dc"))
    )
    pu = parts.select(
        F.col("node").alias("u"), F.col("part"), F.col("cid").alias("cu")
    )
    pv = parts.select(
        F.col("node").alias("v2"), F.col("part").alias("pv_part"),
        F.col("cid").alias("cv"),
    )
    lc = (
        edges.join(F.broadcast(pu), "u")
        .join(
            F.broadcast(pv),
            (F.col("v") == F.col("v2")) & (F.col("part") == F.col("pv_part")),
        )
        .where(F.col("cu") == F.col("cv"))
        .groupBy("part", F.col("cu").alias("cid"))
        .agg(F.count(F.lit(1)).cast("long").alias("l"))
    )
    terms = (
        dsum.join(F.broadcast(lc), ["part", "cid"], "left")
        .crossJoin(F.broadcast(m))
        .select(
            "part",
            F.coalesce("l", F.lit(0)).alias("l"),
            "dc",
            "m",
        )
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    half = d("dc") / (F.lit(2).cast("double") * d("m"))
    # per-community terms quantized to nano-units BEFORE the sum: the hash
    # partition's Q is ~0, where a raw double sum could land on +-1e-17
    # and round to 0.0 vs -0.0 depending on engine sum order
    t9 = F.round((d("l") / d("m") - half * half) * 1000000000).cast("long")
    return terms.select("part", "m", t9.alias("t9")).groupBy(
        F.col("part").alias("partition_name")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_communities"),
        F.max("m").cast("long").alias("m_edges"),
        F.round(
            F.sum("t9").cast("double") / F.lit(1000000000).cast("double"), 6
        ).alias("modularity_q"),
    )


# --------------------------------------------------------------------------
# Power-law degree-exponent estimate (r12) — the scale-free screen run on
# any graph before choosing partitioning/skew strategy (alpha ~ 2-3 means
# hub-dominated degree skew; the answer decides whether joins on node
# keys need salting). Continuous MLE per Clauset-Shalizi-Newman:
# alpha = 1 + n_tail / sum(ln(k_i / (kmin - 0.5))) over degrees k >= kmin
# (kmin = 2 fixed). Per-node ln terms are quantized to nano-units BEFORE
# the sum (the established order-free-exact pattern), so the cross-engine
# hash is stable. Cost: the distinct-edge build + one degree groupBy.
# --------------------------------------------------------------------------

_KMIN = 2

_PLAW_ORACLE = f"""
WITH e AS ({_EDGE_SQL}),
deg AS (
  SELECT node, cast(count(*) AS BIGINT) AS k FROM (
    SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e
  ) t GROUP BY node
),
tail AS (
  SELECT k, cast(round(ln(cast(k AS DOUBLE) / {_KMIN - 0.5}) * 1000000000)
                 AS BIGINT) AS lnq
  FROM deg WHERE k >= {_KMIN}
)
SELECT cast((SELECT count(*) FROM deg) AS BIGINT) AS n_nodes,
       cast(count(*) AS BIGINT) AS n_tail,
       cast(max(k) AS BIGINT) AS k_max,
       round(1 + cast(count(*) AS DOUBLE) * 1000000000
                 / cast(sum(lnq) AS DOUBLE), 6) AS alpha
FROM tail
"""


@register(
    "graph_powerlaw_alpha",
    oracle=_PLAW_ORACLE,
    tags=("graph", "agg"),
)
def graph_powerlaw_alpha(spark, sf_dir):
    e = _edges(spark, sf_dir)
    deg = (
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("k"))
    )
    n_nodes = deg.agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    tail = deg.filter(F.col("k") >= _KMIN).select(
        "k",
        F.expr(
            f"cast(round(ln(cast(k as double) / {_KMIN - 0.5})"
            " * 1000000000) as bigint)"
        ).alias("lnq"),
    )
    return (
        tail.agg(
            F.count(F.lit(1)).cast("long").alias("n_tail"),
            F.max("k").cast("long").alias("k_max"),
            F.round(
                1
                + F.count(F.lit(1)).cast("double")
                * 1000000000
                / F.sum("lnq").cast("double"),
                6,
            ).alias("alpha"),
        )
        .crossJoin(F.broadcast(n_nodes))
        .select("n_nodes", "n_tail", "k_max", "alpha")
    )


# --------------------------------------------------------------------------
# Hash-seeded random walks (r13): the DeepWalk/node2vec INPUT stage — a
# walk corpus over the co-occurrence graph, one 4-step walk per node.
# The RNG is the repo's seeded-hash discipline (sample_bernoulli_hash):
# at step t, walk w moves to the neighbor v minimizing
# md5(walk || '-' || t || '-' || v) — a uniform choice over the adjacency
# that is REPRODUCIBLE across runs, engines, and partitionings (the
# property actual RNG walks lack, and the reason production walk
# generators hash instead of sampling). Different walks traversing the
# same node at the same step stay independent because the walk id salts
# the hash.
#
# Scale shape: one equi-join frontier x adjacency + one per-walk argmin
# per step (window partitioned by walk id — corpus-cardinality key, no
# skew beyond max degree), k = 4 steps. Walk count scales with nodes,
# per-step cost with frontier x mean degree — the linear DeepWalk plan.
# --------------------------------------------------------------------------

_WALK_STEPS = 4


def _walk_oracle() -> str:
    base = f"""
WITH edges AS ({_EDGE_SQL}),
adj AS (
  SELECT u AS cur, v AS nxt FROM edges
  UNION ALL
  SELECT v, u FROM edges
),
w0 AS (SELECT DISTINCT cur AS walk, cur AS n0 FROM adj)"""
    prev = "w0"
    for t in range(1, _WALK_STEPS + 1):
        cols = ", ".join(f"n{i}" for i in range(t))
        base += f""",
w{t} AS (
  SELECT walk, {cols}, nxt AS n{t} FROM (
    SELECT p.walk, {", ".join("p.n%d" % i for i in range(t))}, a.nxt,
           row_number() OVER (
             PARTITION BY p.walk
             ORDER BY md5(cast(p.walk AS VARCHAR) || '-' || '{t}' || '-'
                          || cast(a.nxt AS VARCHAR)), a.nxt) AS rn
    FROM {prev} p JOIN adj a ON a.cur = p.n{t - 1}
  ) s WHERE rn = 1
)"""
        prev = f"w{t}"
    cols = ", ".join(f"n{i}" for i in range(_WALK_STEPS + 1))
    return base + f"\nSELECT walk, {cols} FROM {prev}"


@register(
    "graph_hash_random_walks",
    oracle=_walk_oracle(),
    tags=("graph", "training"),
)
def graph_hash_random_walks(spark, sf_dir):
    """One deterministic 4-step hash-seeded walk per node over the part
    co-occurrence graph — the DeepWalk walk-corpus generator."""
    from pyspark.sql import Window

    e = _edges(spark, sf_dir)
    adj = e.select(F.col("u").alias("cur"), F.col("v").alias("nxt")).unionAll(
        e.select(F.col("v"), F.col("u"))
    )
    frontier = adj.select(
        F.col("cur").alias("walk"), F.col("cur").alias("n0")
    ).distinct()
    for t in range(1, _WALK_STEPS + 1):
        h = F.md5(
            F.concat(
                F.col("walk").cast("string"),
                F.lit(f"-{t}-"),
                F.col("nxt").cast("string"),
            )
        )
        wn = Window.partitionBy("walk").orderBy(h, "nxt")
        frontier = (
            frontier.join(adj, F.col(f"n{t - 1}") == F.col("cur"))
            .withColumn("rn", F.row_number().over(wn))
            .filter(F.col("rn") == 1)
            .select(
                "walk",
                *[f"n{i}" for i in range(t)],
                F.col("nxt").alias(f"n{t}"),
            )
        )
    return frontier
