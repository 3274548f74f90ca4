"""Similarity search over the embeddings table.

- Brute-force cosine top-k: broadcast the (small) query set against the
  candidate corpus; the per-pair dot product is a JVM higher-order-function
  expression (``aggregate(zip_with(...))``) — no Python, no shuffle except
  the final per-query top-k window.
- LSH-bucketed ANN: 8 deterministic random-hyperplane signs bucket the
  corpus; candidates are an equi-join on the bucket id. At 100 TB the
  bucket join replaces the q x N cross product with q x (N / 2^8)-ish,
  and the bucket table can be written out partitioned by bucket for reuse.

The hyperplanes are +-1 vectors derived from md5 at module import (seeded,
no RNG state), embedded as literals in both the Spark plan and the oracle
SQL so the two engines score identical planes.

The ANN family (IVF here, PQ in ``pq.py``, IVFADC in ``ivfpq.py``, BQ in
``binquant.py``, the hybrid dense arm in ``retrieval.py``) shares one core.
``_util.py`` holds the vector folds (``_DOT``, ``_D2``) and the per-query
rank cut (``top_n``). This module holds the cosine pieces: the corpus with
its norms (``_emb_with_norm``), the brute-force top-n (``_exact_topn``),
the md5-sampled centroid pick (``_sampled_centroids``), corpus x centroid
scoring (``_score_cells``), the argmax assignment and probe window
(``_assign_probe``), the probe-to-top-n tail (``_probe_topn``) and the
recall@k join (``_recall_at_k``). ``pq.py`` holds the sub-space split,
codebook, encoder, LUT and ADC rank that ``ivfpq.py`` reuses.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from ..catalog import table
from ..registry import register
from ._util import _DOT, spread, top_n

DIM = 64
N_PLANES = 8
K = 5
N_QUERIES = 10  # queries are vec_id < N_QUERIES


def _planes() -> list[list[int]]:
    """Deterministic +-1 hyperplanes from md5(plane|dim) parity."""
    planes = []
    for p in range(N_PLANES):
        row = []
        for i in range(DIM):
            digest = hashlib.md5(f"plane{p}|{i}".encode()).hexdigest()
            row.append(1 if int(digest[0], 16) % 2 == 0 else -1)
        planes.append(row)
    return planes


PLANES = _planes()

def _plane_sql_array(p: int) -> str:
    return "[" + ", ".join(f"{v}.0" for v in PLANES[p]) + "]"


def _plane_spark_array(p: int) -> str:
    return "array(" + ", ".join(f"{v}.0D" for v in PLANES[p]) + ")"


# --------------------------------------------------------------------------
# brute-force cosine top-k
# --------------------------------------------------------------------------

_TOPK_ORACLE = f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> cast(x AS DOUBLE)) AS e
  FROM embeddings
),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_dot_product(q.e, c.e)
           / (sqrt(list_dot_product(q.e, q.e)) * sqrt(list_dot_product(c.e, c.e)))
           AS cos
  FROM v q JOIN v c ON q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id
)
SELECT query_id, neighbor_id, round(cos, 6) AS cos
FROM (
  SELECT query_id, neighbor_id, cos,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id) AS rn
  FROM scored
) t WHERE rn <= {K}
"""


def _emb_with_norm(spark, sf_dir, *extra, dims=None):
    """(vec_id, embedding, vv, *extra): the embeddings with the norm ``vv``
    computed once per vector, never per scored pair — the higher-order
    ``aggregate`` lambdas skip whole-stage codegen, so a per-pair norm
    would redo the costliest expression once per partner (same doubles
    either way). ``dims`` keeps only the first ``dims`` components, so
    norms and dots read only those. spread: a single-file table is one
    scan partition, which would pin every corpus x queries or corpus x
    centroids product to one task."""
    e = table(spark, sf_dir, "embeddings")
    if dims is not None:
        e = e.select("vec_id", F.slice("embedding", 1, dims).alias("embedding"))
    norm = F.sqrt(F.expr(_DOT.format(a="embedding", b="embedding")))
    return spread(e.select("vec_id", "embedding", norm.alias("vv"), *extra), "vec_id")


def _exact_topn(e, n, *same):
    """Brute-force cosine top-``n`` (query_id, neighbor_id, cos rounded to
    6 digits) of the query batch ``vec_id < N_QUERIES`` over ``e`` from
    ``_emb_with_norm``: the query side is broadcast, the self-match is
    dropped, and a candidate must equal its query on every column in
    ``same`` (the LSH bucket). Ranked on the raw cosine."""
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("vv").alias("qn"),
        *[F.col(c).alias(f"q_{c}") for c in same],
    )
    cond = F.col("vec_id") != F.col("query_id")
    for c in same:
        cond = (F.col(c) == F.col(f"q_{c}")) & cond
    dot = F.expr(_DOT.format(a="qe", b="embedding"))
    scored = e.join(F.broadcast(q), cond).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        (dot / (F.col("qn") * F.col("vv"))).alias("cos"),
    )
    return top_n(scored, "query_id", n, F.col("cos").desc(), "neighbor_id").select(
        "query_id", "neighbor_id", F.round("cos", 6).alias("cos")
    )


@register("sim_topk_bruteforce", oracle=_TOPK_ORACLE, tags=("similarity",), bench=True)
def sim_topk_bruteforce(spark, sf_dir):
    return _exact_topn(_emb_with_norm(spark, sf_dir), K)


# --------------------------------------------------------------------------
# LSH bucket assignment (sign of dot with each hyperplane -> 8-bit bucket)
# --------------------------------------------------------------------------

_BUCKET_DUCK = " + ".join(
    f"(CASE WHEN list_dot_product(e, {_plane_sql_array(p)}) >= 0"
    f" THEN {1 << p} ELSE 0 END)"
    for p in range(N_PLANES)
)

_BUCKETS_ORACLE = f"""
SELECT vec_id, cast({_BUCKET_DUCK} AS INTEGER) AS bucket
FROM (
  SELECT vec_id, list_transform(embedding, x -> cast(x AS DOUBLE)) AS e
  FROM embeddings
) v
"""


def _bucket_col() -> F.Column:
    terms = None
    for p in range(N_PLANES):
        dot = F.expr(_DOT.format(a="embedding", b=_plane_spark_array(p)))
        term = F.when(dot >= 0, 1 << p).otherwise(0)
        terms = term if terms is None else terms + term
    return terms.cast("int")


@register("sim_lsh_buckets", oracle=_BUCKETS_ORACLE, tags=("similarity", "lsh"))
def sim_lsh_buckets(spark, sf_dir):
    e = table(spark, sf_dir, "embeddings")
    return e.select("vec_id", _bucket_col().alias("bucket"))


# --------------------------------------------------------------------------
# ANN: per-query top-3 restricted to the query's bucket. Approximate by
# construction but fully deterministic, so it still gets an exact oracle.
# --------------------------------------------------------------------------

_ANN_ORACLE = f"""
WITH v AS (
  SELECT vec_id, e, cast({_BUCKET_DUCK} AS INTEGER) AS bucket
  FROM (
    SELECT vec_id, list_transform(embedding, x -> cast(x AS DOUBLE)) AS e
    FROM embeddings
  ) raw
),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_dot_product(q.e, c.e)
           / (sqrt(list_dot_product(q.e, q.e)) * sqrt(list_dot_product(c.e, c.e)))
           AS cos
  FROM v q JOIN v c
    ON q.bucket = c.bucket AND q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id
)
SELECT query_id, neighbor_id, round(cos, 6) AS cos
FROM (
  SELECT query_id, neighbor_id, cos,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id) AS rn
  FROM scored
) t WHERE rn <= 3
"""


@register("sim_ann_lsh_topk", oracle=_ANN_ORACLE, tags=("similarity", "lsh"))
def sim_ann_lsh_topk(spark, sf_dir):
    e = _emb_with_norm(spark, sf_dir, _bucket_col().alias("bucket"))
    return _exact_topn(e, 3, "bucket")


# --------------------------------------------------------------------------
# IVF-style ANN: a sampled coarse quantizer (every 37th vector serves as a
# centroid — deterministic, no k-means RNG/iteration state to reproduce
# cross-engine), assignment of every vector to its nearest centroid, and a
# probe of the query's nprobe=2 nearest cells. At 100 TB the assignment is
# the classic IVF build cost (N x n_centroids dots with the centroid set
# broadcast, no shuffle), the inverted lists are a partitioned write, and
# the probe join touches ~nprobe/n_centroids of the corpus instead of all
# of it. Centroid ranking orders by the ROUNDED cosine (+ centroid id) so
# a last-ulp libm difference cannot flip which cells are probed.
# --------------------------------------------------------------------------

# Coarse-quantizer size follows the FAISS guideline k ~ sqrt(n): centroids
# are every stride-th vec_id with stride = floor(sqrt(n)), so assignment
# cost is n*k = O(n^1.5) — NOT the O(n^2/c) a fixed stride degrades to
# once n grows (the r5 10x scale run measured exactly that with the old
# constant stride 37: k grew linearly with the corpus). nprobe stays
# fixed; probe cost per query is ~nprobe/k of the corpus either way.
NPROBE = 2
K_CENT = 32  # the fixed-K sampled quantizer, see sim_ivf_topk

_STRIDE_SQL = "(SELECT cast(floor(sqrt(count(*))) AS BIGINT) FROM embeddings)"

_IVF_ORACLE = f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> cast(x AS DOUBLE)) AS e
  FROM embeddings
),
cent AS (
  SELECT vec_id AS cent_id, e AS cent_e FROM v
  WHERE vec_id % {_STRIDE_SQL} = 1
),
cd AS (
  SELECT v.vec_id, cent.cent_id,
         round(list_dot_product(v.e, cent.cent_e)
           / (sqrt(list_dot_product(v.e, v.e)) * sqrt(list_dot_product(cent.cent_e, cent.cent_e))), 6)
           AS ccos,
         row_number() OVER (
           PARTITION BY v.vec_id
           ORDER BY round(list_dot_product(v.e, cent.cent_e)
             / (sqrt(list_dot_product(v.e, v.e)) * sqrt(list_dot_product(cent.cent_e, cent.cent_e))), 6) DESC,
             cent.cent_id
         ) AS crn
  FROM v CROSS JOIN cent
),
assign AS (
  SELECT vec_id, cent_id FROM cd WHERE crn = 1
),
probe AS (
  SELECT vec_id AS query_id, cent_id FROM cd
  WHERE crn <= {NPROBE} AND vec_id < {N_QUERIES}
),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_dot_product(q.e, c.e)
           / (sqrt(list_dot_product(q.e, q.e)) * sqrt(list_dot_product(c.e, c.e)))
           AS cos
  FROM probe p
  JOIN assign a ON a.cent_id = p.cent_id
  JOIN v q ON q.vec_id = p.query_id
  JOIN v c ON c.vec_id = a.vec_id AND c.vec_id <> q.vec_id
)
SELECT query_id, neighbor_id, round(cos, 6) AS cos
FROM (
  SELECT query_id, neighbor_id, cos,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id) AS rn
  FROM scored
) t WHERE rn <= 3
"""


def _score_cells(e, cent):
    """(vec_id, embedding, vv, cent_id, ccos): every vector of ``e`` (from
    ``_emb_with_norm``) scored against every centroid of ``cent``
    (cent_id, cent_e, kk) — corpus x broadcast centroids, no shuffle. Both
    norms are per-side columns, so ``cdot / (vv * kk)`` evaluates the fold
    once per pair, and the rounded scores match the oracle bit-for-bit."""
    cdot = F.expr(_DOT.format(a="embedding", b="cent_e"))
    ccos = F.round(cdot / (F.col("vv") * F.col("kk")), 6)
    return e.crossJoin(F.broadcast(cent)).select(
        "vec_id", "embedding", "vv", "cent_id", ccos.alias("ccos")
    )


def _ivf_scored(spark, sf_dir):
    """``_score_cells`` against the sqrt(n) quantizer: every stride-th
    vec_id with stride = floor(sqrt(n))."""
    e = _emb_with_norm(spark, sf_dir)
    stride = table(spark, sf_dir, "embeddings").agg(
        F.floor(F.sqrt(F.count(F.lit(1)))).cast("long").alias("stride")
    )
    cent = (
        e.crossJoin(F.broadcast(stride))
        .filter(F.col("vec_id") % F.col("stride") == 1)
        .select(
            F.col("vec_id").alias("cent_id"),
            F.col("embedding").alias("cent_e"),
            F.col("vv").alias("kk"),
        )
    )
    return _score_cells(e, cent)


def _sampled_centroids(df, *cols):
    """The fixed-K quantizer's centroids: the K_CENT rows of ``df`` with
    the smallest (md5(vec_id), vec_id) key, as (cent_id, *cols). A
    hash-uniform deterministic draw, selected with a bounded top-k
    (TakeOrderedAndProject, never a full sort of the corpus)."""
    return (
        df.select(
            F.col("vec_id").alias("cent_id"),
            *cols,
            F.md5(F.col("vec_id").cast("string")).alias("h"),
        )
        .orderBy("h", "cent_id")
        .limit(K_CENT)
        .drop("h")
    )


def _sampled_scored(spark, sf_dir):
    """``_score_cells`` against the fixed-K sampled quantizer — only the
    centroid SET differs from ``_ivf_scored``."""
    e = _emb_with_norm(spark, sf_dir)
    cent = _sampled_centroids(
        e, F.col("embedding").alias("cent_e"), F.col("vv").alias("kk")
    )
    return _score_cells(e, cent)


def _assign_probe(scored):
    """(assign, probe) of an IVF index over ``scored`` (``_score_cells``):
    assign = (neighbor_id, ce, cn, cent_id), the inverted lists; probe =
    (query_id, qe, qn, cent_id), the NPROBE best cells of each query.

    Assignment does NOT rank with a window over the corpus x centroids
    product (that would shuffle every score row, embedding included,
    n_centroids times per vector): argmax by (ccos DESC, cent_id ASC) is a
    map-side-combinable ``max_by`` over the struct (ccos, -cent_id), so
    each map partition collapses a vector's n_centroids score rows to one
    before the exchange, and the 64-float embedding rides in the same
    aggregate. The probe-side rank window only ever sees the
    ``vec_id < N_QUERIES`` rows (filter pushed below the cross product).
    """
    argmax_key = F.struct(F.col("ccos"), (-F.col("cent_id")).alias("neg_cent"))
    assign = (
        scored.groupBy("vec_id")
        .agg(
            F.max_by("cent_id", argmax_key).alias("cent_id"),
            F.any_value("embedding").alias("ce"),  # constant within group
            F.any_value("vv").alias("cn"),  # precomputed norm rides along
        )
        .select(F.col("vec_id").alias("neighbor_id"), "ce", "cn", "cent_id")
    )
    probe = top_n(
        scored.filter(F.col("vec_id") < N_QUERIES),
        "vec_id",
        NPROBE,
        F.col("ccos").desc(),
        "cent_id",
        rank="crn",
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("vv").alias("qn"),
        F.col("cent_id"),
    )
    return assign, probe


def _probe_topn(lists, probe, n, cos_digits=None):
    """The IVF tail: inverted lists (neighbor_id, ce, cn, cent_id) joined
    to the broadcast probe (query_id, qe, qn, cent_id), the self-match
    dropped, the exact cosine, and the top ``n`` per query by (cos DESC,
    neighbor_id) with the rank in ``rn``. ``cos_digits`` rounds the cosine
    before it is ranked (for an oracle that ranks the rounded value)."""
    cos = F.expr(_DOT.format(a="qe", b="ce")) / (F.col("qn") * F.col("cn"))
    if cos_digits is not None:
        cos = F.round(cos, cos_digits)
    scored = (
        lists.join(F.broadcast(probe), "cent_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", cos.alias("cos"))
    )
    return top_n(scored, "query_id", n, F.col("cos").desc(), "neighbor_id")


def _ivf_top3(lists, probe):
    return _probe_topn(lists, probe, 3).select(
        "query_id", "neighbor_id", F.round("cos", 6).alias("cos")
    )


def _recall_at_k(truth, approx, k):
    """Per-query recall@k: every (query_id, neighbor_id) row of the exact
    top-k ``truth`` left-joined to the approximate top-k ``approx``, which
    is broadcast (both sides are k * |queries| rows, constants). A query
    whose approximate list misses every true neighbor keeps its row with
    n_hit 0; approximate rows outside ``truth`` count for nothing; recall
    is n_hit / k, not n_hit over the rows found."""
    hits = F.broadcast(
        approx.select(
            F.col("query_id").alias("hit_query"), F.col("neighbor_id").alias("hit")
        )
    )
    on = (F.col("query_id") == F.col("hit_query")) & (
        F.col("neighbor_id") == F.col("hit")
    )
    joined = truth.join(hits, on, "left")
    return joined.groupBy("query_id").agg(
        F.count("hit").alias("n_hit"),
        F.round(F.count("hit") / F.lit(k).cast("double"), 6).alias("recall"),
    )


def _brute_recall3(spark, sf_dir, ivf):
    """recall@3 of an IVF top-3 against the brute-force top-3."""
    brute = sim_topk_bruteforce(spark, sf_dir)
    truth = top_n(brute, "query_id", 3, F.col("cos").desc(), "neighbor_id")
    return _recall_at_k(truth, ivf, 3)


# --------------------------------------------------------------------------
# IVF with PERSISTED inverted lists: the build writes the assignment
# partitioned by cent_id (the reuse promised above — on a cluster this is
# the index artifact living on shared storage), and the probe join reads it
# back with dynamic partition pruning: the broadcast probe side's cent_id
# set prunes the scan to ~nprobe/n_centroids of the stored corpus
# (PartitionFilters: dynamicpruning#... in the plan, asserted by
# tests/test_plans_perf.py). Same result as the sqrt(n)-quantizer build
# scored by ``sim_ivf_recall``, whose oracle it shares — the round-trip
# through the partitioned store must be lossless. The quantizer choice is orthogonal
# to the persist/DPP mechanics this query demonstrates; the default
# index build is the sampled fixed-K one in ``sim_ivf_topk``.
# --------------------------------------------------------------------------


@register("sim_ivf_persisted", oracle=_IVF_ORACLE, tags=("similarity", "ivf"))
def sim_ivf_persisted(spark, sf_dir):
    from .file_formats import _scratch

    assign, probe = _assign_probe(_ivf_scored(spark, sf_dir))
    out = _scratch("ivf", sf_dir)
    assign.write.mode("overwrite").partitionBy("cent_id").parquet(str(out))
    lists = spark.read.parquet(str(out)).select(
        "neighbor_id", "ce", "cn", F.col("cent_id").cast("long")
    )
    return _ivf_top3(lists, probe)


# --------------------------------------------------------------------------
# ANN quality evaluation: recall@3 of the IVF index against the brute-force
# ground truth, per query. This is the metric that decides nprobe /
# n_centroids trade-offs at scale; both sides are compositions of the two
# queries above (Spark: reuse the DataFrame builders; oracle: their SQL
# texts as derived tables), so the eval inherits their determinism rules.
# --------------------------------------------------------------------------

_RECALL_ORACLE = f"""
WITH ivf AS ({_IVF_ORACLE}),
br AS ({_TOPK_ORACLE}),
br3 AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos DESC, neighbor_id) AS rn
    FROM br
  ) t WHERE rn <= 3
)
SELECT br3.query_id,
       cast(count(ivf.neighbor_id) AS BIGINT) AS n_hit,
       round(count(ivf.neighbor_id) / cast(3 AS DOUBLE), 6) AS recall
FROM br3 LEFT JOIN ivf
  ON br3.query_id = ivf.query_id AND br3.neighbor_id = ivf.neighbor_id
GROUP BY br3.query_id
"""


@register("sim_ivf_recall", oracle=_RECALL_ORACLE, tags=("similarity", "ivf", "eval"))
def sim_ivf_recall(spark, sf_dir):
    # Recall-parity baseline: this eval deliberately scores the DEMOTED
    # sqrt(n)-quantizer index (its O(n^1.5) assignment measured x42.6 at
    # 100x corpus, BENCH_HISTORY r7) so that, side by side with
    # ``sim_ivf_sampled_quantizer`` (same metric over the default sampled
    # index), the registry carries standing proof the O(n*K) build
    # matches the sqrt(n) build's recall@3.
    ivf = _ivf_top3(*_assign_probe(_ivf_scored(spark, sf_dir)))
    return _brute_recall3(spark, sf_dir, ivf)


# --------------------------------------------------------------------------
# Semantic dedup (SemDeDup, Abbas et al. 2023): cluster the embedding
# space, then drop every vector that has a more-canonical (smaller-id)
# neighbor ABOVE the cosine threshold within its OWN cluster. Clustering
# is what makes this tractable at 100 TB: candidate pairs are confined to
# clusters, so with the sqrt(n) coarse quantizer shared with IVF the pair
# cost is n * sqrt(n), never n^2 — and the per-cluster work is an
# embarrassingly parallel shuffle on cent_id. The keep-rule (drop iff a
# smaller vec_id within threshold exists) needs no transitive closure, so
# the whole composite is exactly SQL-expressible and the oracle is exact.
# --------------------------------------------------------------------------

SEM_THRESH = 0.3  # random-embedding corpus: ~1% of within-cluster pairs

_SEMDEDUP_ORACLE = f"""
WITH v AS (
  SELECT vec_id, label, list_transform(embedding, x -> cast(x AS DOUBLE)) AS e
  FROM embeddings
),
cent AS (
  SELECT vec_id AS cent_id, e AS cent_e FROM v
  WHERE vec_id % {_STRIDE_SQL} = 1
),
cd AS (
  SELECT v.vec_id, cent.cent_id,
         round(list_dot_product(v.e, cent.cent_e)
           / (sqrt(list_dot_product(v.e, v.e)) * sqrt(list_dot_product(cent.cent_e, cent.cent_e))), 6)
           AS ccos,
         row_number() OVER (
           PARTITION BY v.vec_id
           ORDER BY round(list_dot_product(v.e, cent.cent_e)
             / (sqrt(list_dot_product(v.e, v.e)) * sqrt(list_dot_product(cent.cent_e, cent.cent_e))), 6) DESC,
             cent.cent_id
         ) AS crn
  FROM v CROSS JOIN cent
),
assign AS (
  SELECT vec_id, cent_id FROM cd WHERE crn = 1
),
dropped AS (
  SELECT DISTINCT b.vec_id
  FROM assign a
  JOIN assign b ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
  JOIN v x ON x.vec_id = a.vec_id
  JOIN v y ON y.vec_id = b.vec_id
  WHERE round(list_dot_product(x.e, y.e)
          / (sqrt(list_dot_product(x.e, x.e)) * sqrt(list_dot_product(y.e, y.e))), 6)
        >= {SEM_THRESH}
)
SELECT s.cent_id,
       cast(count(*) AS BIGINT) AS n_members,
       cast(sum(CASE WHEN d.vec_id IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped,
       cast(sum(CASE WHEN d.vec_id IS NULL THEN s.vec_id ELSE 0 END) AS BIGINT) AS kept_checksum
FROM assign s LEFT JOIN dropped d ON d.vec_id = s.vec_id
GROUP BY s.cent_id
"""


@register(
    "dedup_semantic_clusters",
    oracle=_SEMDEDUP_ORACLE,
    tags=("dedup", "similarity", "ml"),
)
def dedup_semantic_clusters(spark, sf_dir):
    """SemDeDup composite: per-cluster member/drop counts + an exact
    checksum of the kept vec_ids, reusing the IVF assignment (sqrt(n)
    centroids, map-side argmax)."""
    assign, _ = _assign_probe(_ivf_scored(spark, sf_dir))
    members = assign.select(
        F.col("neighbor_id").alias("vec_id"), "ce", "cn", "cent_id"
    )
    a = members.alias("a")
    b = members.alias("b")
    cos = F.round(
        F.expr(_DOT.format(a="a.ce", b="b.ce"))
        / (F.col("a.cn") * F.col("b.cn")),
        6,
    )
    dropped = (
        a.join(
            b,
            (F.col("a.cent_id") == F.col("b.cent_id"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .filter(cos >= SEM_THRESH)
        .select(F.col("b.vec_id").alias("vec_id"))
        .distinct()
        .withColumn("is_dropped", F.lit(1))
    )
    flagged = members.select("cent_id", "vec_id").join(
        dropped, "vec_id", "left"
    )
    return flagged.groupBy("cent_id").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.sum(F.coalesce("is_dropped", F.lit(0))).cast("long").alias("n_dropped"),
        F.sum(
            F.when(F.col("is_dropped").isNull(), F.col("vec_id")).otherwise(0)
        )
        .cast("long")
        .alias("kept_checksum"),
    )


# --------------------------------------------------------------------------
# Sample-trained FIXED-K coarse quantizer (VERDICT r6 #2): the sqrt(n)
# quantizer above keeps cell sizes balanced by growing k with the corpus,
# but its assignment cost is n*k = O(n^1.5) — the one measured scale-killer
# in the 100x run (x50.9). Production IVF trains the quantizer on a SAMPLE
# with k independent of n, making assignment O(n*K): linear in the corpus.
# Here the "training" is a deterministic uniform draw expressible on both
# engines: the K_CENT vectors with the smallest (md5(vec_id), vec_id) key —
# hash-random, selected with a bounded top-k (TakeOrderedAndProject, never
# a full sort of the corpus) and broadcast to the assignment pass. The
# registered query is the RECALL EVAL (same shape as sim_ivf_recall):
# per-query recall@3 of the sampled-quantizer index vs the brute-force
# ground truth, so one driver row proves both the index round-trip and
# that the fixed-k quantizer's quality holds.
# --------------------------------------------------------------------------

_SAMPLED_IVF_SQL = f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> cast(x AS DOUBLE)) AS e
  FROM embeddings
),
cent AS (
  SELECT vec_id AS cent_id, e AS cent_e FROM v
  ORDER BY md5(cast(vec_id AS VARCHAR)), vec_id
  LIMIT {K_CENT}
),
cd AS (
  SELECT v.vec_id, cent.cent_id,
         round(list_dot_product(v.e, cent.cent_e)
           / (sqrt(list_dot_product(v.e, v.e)) * sqrt(list_dot_product(cent.cent_e, cent.cent_e))), 6)
           AS ccos,
         row_number() OVER (
           PARTITION BY v.vec_id
           ORDER BY round(list_dot_product(v.e, cent.cent_e)
             / (sqrt(list_dot_product(v.e, v.e)) * sqrt(list_dot_product(cent.cent_e, cent.cent_e))), 6) DESC,
             cent.cent_id
         ) AS crn
  FROM v CROSS JOIN cent
),
assign AS (
  SELECT vec_id, cent_id FROM cd WHERE crn = 1
),
probe AS (
  SELECT vec_id AS query_id, cent_id FROM cd
  WHERE crn <= {NPROBE} AND vec_id < {N_QUERIES}
),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_dot_product(q.e, c.e)
           / (sqrt(list_dot_product(q.e, q.e)) * sqrt(list_dot_product(c.e, c.e)))
           AS cos
  FROM probe p
  JOIN assign a ON a.cent_id = p.cent_id
  JOIN v q ON q.vec_id = p.query_id
  JOIN v c ON c.vec_id = a.vec_id AND c.vec_id <> q.vec_id
)
SELECT query_id, neighbor_id, round(cos, 6) AS cos
FROM (
  SELECT query_id, neighbor_id, cos,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id) AS rn
  FROM scored
) t WHERE rn <= 3
"""

_SAMPLED_RECALL_ORACLE = f"""
WITH ivf AS ({_SAMPLED_IVF_SQL}),
br AS ({_TOPK_ORACLE}),
br3 AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos DESC, neighbor_id) AS rn
    FROM br
  ) t WHERE rn <= 3
)
SELECT br3.query_id,
       cast(count(ivf.neighbor_id) AS BIGINT) AS n_hit,
       round(count(ivf.neighbor_id) / cast(3 AS DOUBLE), 6) AS recall
FROM br3 LEFT JOIN ivf
  ON br3.query_id = ivf.query_id AND br3.neighbor_id = ivf.neighbor_id
GROUP BY br3.query_id
"""


@register(
    "sim_ivf_topk",
    oracle=_SAMPLED_IVF_SQL,
    tags=("similarity", "ivf"),
    bench=True,
)
def sim_ivf_topk(spark, sf_dir):
    """Default IVF ANN top-3 — r8 (VERDICT r7 #2): the index build uses
    the sampled fixed-K coarse quantizer (K_CENT sample-ranked centroids,
    assignment cost O(n*K)), replacing the sqrt(n) quantizer whose
    O(n^1.5) build measured x42.6 at 100x corpus. The sampled build held
    x3.7 at 100x INCLUDING its brute-force recall ground truth
    (BENCH_HISTORY r7), and ``sim_ivf_sampled_quantizer`` is the standing
    recall@3 proof for this exact index. Oracle: the sampled-quantizer
    IVF SQL, switched in lockstep with the build."""
    return _ivf_top3(*_assign_probe(_sampled_scored(spark, sf_dir)))


@register(
    "sim_ivf_sampled_quantizer",
    oracle=_SAMPLED_RECALL_ORACLE,
    tags=("similarity", "ivf", "eval"),
    bench=True,
)
def sim_ivf_sampled_quantizer(spark, sf_dir):
    # both sides of the recall join are bounded by 3 * N_QUERIES rows
    # (constants, independent of corpus size) — broadcast, never SMJ
    return _brute_recall3(spark, sf_dir, sim_ivf_topk(spark, sf_dir))


# --------------------------------------------------------------------------
# Matryoshka-style truncation eval (Kusupati et al. 2022): score neighbors
# with only the FIRST _TRUNC_DIM components and measure recall@K against
# the full-dimension brute-force ground truth. This is the metric that
# decides how far an embedding column can be truncated before indexing /
# shipping it — at 100 TB, keeping 16 of 64 dims is a 4x cut in scan,
# shuffle, and index bytes, and this query prices exactly what that costs
# in retrieval quality. Same determinism rules as the other evals: both
# rankings are (cos desc, neighbor_id) row_numbers over identical double
# arithmetic, and both sides of the recall join are bounded by
# K * N_QUERIES rows (constants), so the join broadcasts by construction.
# --------------------------------------------------------------------------

_TRUNC_DIM = 16

_TRUNC_RECALL_ORACLE = f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding[1:{_TRUNC_DIM}], x -> cast(x AS DOUBLE)) AS e
  FROM embeddings
),
tr AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY list_dot_product(q.e, c.e)
                      / (sqrt(list_dot_product(q.e, q.e))
                         * sqrt(list_dot_product(c.e, c.e))) DESC,
                      c.vec_id) AS rn
    FROM v q JOIN v c ON q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id
  ) t WHERE rn <= {K}
),
br AS ({_TOPK_ORACLE})
SELECT br.query_id,
       cast(count(tr.neighbor_id) AS BIGINT) AS n_hit,
       round(count(tr.neighbor_id) / cast({K} AS DOUBLE), 6) AS recall
FROM br LEFT JOIN tr
  ON br.query_id = tr.query_id AND br.neighbor_id = tr.neighbor_id
GROUP BY br.query_id
"""


@register(
    "ml_embedding_truncate_recall",
    oracle=_TRUNC_RECALL_ORACLE,
    tags=("similarity", "ml", "eval"),
)
def ml_embedding_truncate_recall(spark, sf_dir):
    # truncated corpus scan: slice FIRST, so norms and dot products read
    # 16 components — the whole point is that the scan/score cost drops
    # with the dimension cut
    approx = _exact_topn(_emb_with_norm(spark, sf_dir, dims=_TRUNC_DIM), K)
    return _recall_at_k(sim_topk_bruteforce(spark, sf_dir), approx, K)


# --------------------------------------------------------------------------
# Incremental IVF index maintenance (r12) — the nightly-embedding-ingest
# shape, mirroring ``dedup_incremental_batch`` on the ANN side: the
# persisted inverted lists (``sim_ivf_persisted``) gain a NEW BATCH of
# vectors (vec_id % 10 == 7 plays the delta) WITHOUT a rebuild. The
# coarse quantizer is trained on — and frozen to — the BASE corpus; the
# delta is assigned with those same broadcast centroids and APPENDED into
# the same cent_id partition layout (two writer jobs, one layout), so a
# probe reads base+delta lists through the identical partition-pruned
# path and the index serves the new batch immediately. ``from_delta``
# marks served neighbors that arrived in the append — standing proof the
# delta is queryable. The oracle computes the same frozen-quantizer IVF
# over the union corpus analytically. Scale: the append touches only the
# delta's rows and partitions; nothing about the base index is rewritten.
# --------------------------------------------------------------------------

_INC_ORACLE = f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> cast(x AS DOUBLE)) AS e
  FROM embeddings
),
norm AS (SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nn FROM v),
cent AS (
  SELECT vec_id AS cent_id, e AS ce, nn AS cn FROM norm
  WHERE vec_id % 10 <> 7
  ORDER BY md5(cast(vec_id AS VARCHAR)), vec_id LIMIT {K_CENT}
),
cd AS (
  SELECT n.vec_id, c.cent_id,
         row_number() OVER (
           PARTITION BY n.vec_id
           ORDER BY round(list_dot_product(n.e, c.ce) / (n.nn * c.cn), 6)
                    DESC, c.cent_id) AS crn
  FROM norm n CROSS JOIN cent c
),
assign AS (SELECT vec_id, cent_id FROM cd WHERE crn = 1),
probe AS (
  SELECT vec_id AS query_id, cent_id FROM cd
  WHERE crn <= {NPROBE} AND vec_id < {N_QUERIES}
),
scored AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         round(list_dot_product(qv.e, cv.e) / (qv.nn * cv.nn), 6) AS cos,
         cast(CASE WHEN a.vec_id % 10 = 7 THEN 1 ELSE 0 END AS INTEGER)
           AS from_delta
  FROM probe p
  JOIN assign a ON a.cent_id = p.cent_id
  JOIN norm qv ON qv.vec_id = p.query_id
  JOIN norm cv ON cv.vec_id = a.vec_id AND cv.vec_id <> p.query_id
)
SELECT query_id, neighbor_id, cos, from_delta FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos DESC, neighbor_id) AS rn
  FROM scored
) t WHERE rn <= 3
"""


@register(
    "sim_ivf_incremental_append",
    oracle=_INC_ORACLE,
    tags=("similarity", "ivf", "formats"),
)
def sim_ivf_incremental_append(spark, sf_dir):
    from .file_formats import _scratch

    e = _emb_with_norm(spark, sf_dir)
    base = e.filter(F.col("vec_id") % 10 != 7)
    delta = e.filter(F.col("vec_id") % 10 == 7)
    # frozen quantizer: trained on the BASE corpus only
    cent = _sampled_centroids(
        base, F.col("embedding").alias("cent_e"), F.col("vv").alias("kk")
    )
    out = _scratch("ivf_inc", sf_dir)
    # the base build, then the incremental step: only the delta's rows
    # move, into the same layout
    for part, mode in ((base, "overwrite"), (delta, "append")):
        assign, _ = _assign_probe(_score_cells(part, cent))
        assign.write.mode(mode).partitionBy("cent_id").parquet(str(out))
    lists = spark.read.parquet(str(out)).select(
        "neighbor_id", "ce", "cn", F.col("cent_id").cast("long")
    )
    # probe with the same frozen centroids
    _, probe = _assign_probe(_score_cells(e, cent))
    return _probe_topn(lists, probe, 3, cos_digits=6).select(
        "query_id",
        "neighbor_id",
        "cos",
        (F.col("neighbor_id") % 10 == 7).cast("int").alias("from_delta"),
    )
