"""IVFADC (r10): IVF coarse quantizer + product quantization on residuals.

``similarity.py`` built the IVF half (prune WHICH vectors to score) and
``pq.py`` the PQ half (compress the vectors themselves); this module
composes them into the actual FAISS-style IVFADC index (Jégou et al.,
"Product Quantization for Nearest Neighbor Search", TPAMI 2011):

1. coarse-assign every vector to its nearest of K_CENT sampled centroids
   (L2; the O(n·K) fixed-K sampled quantizer — the O(n^1.5) variant was
   measured and demoted in r5/r8, see similarity.py);
2. PQ-encode the RESIDUAL e − centroid (4 subspaces × 16 dims, 8
   codewords per subspace, codebook = first-8 residuals, the pq.py
   deterministic stand-in for trained centroids) — residual encoding is
   the whole point of IVFADC: residuals are centered near 0, so the same
   codebook budget buys far less distortion than coding raw vectors;
3. query: probe the NPROBE nearest centroids, build the per-(query,
   probed-centroid) LUT of subspace distances to the 8 codewords, and
   score candidates by summing 4 LUT lookups (asymmetric distance, ADC).

Scale shape: the corpus side touches only (cent_id, 4 codes) per vector
— the memory/IO footprint that lets a 100 TB embedding column fit an
index in RAM; centroids, codebook, probe set, and LUT are all
constant-bounded and BROADCAST; the only corpus-wide shuffles are the
argmin aggregations. Determinism: sub-vector L2 folds are fixed-order
per-row doubles (bit-identical across engines), LUT entries are
quantized to int64 micro-units BEFORE the 4-term ADC sum, ranks
tie-break on ids (the pq.py rules). The centroid pick and the recall
join come from ``similarity.py``; the sub-space split, codebook, encoder,
LUT and ADC rank from ``pq.py``.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..catalog import table
from ..registry import register
from ._util import _D2, spread, top_n
from .pq import (
    N_CODES,
    N_QUERIES,  # the LAST 10 vec_ids (max-derived): bounded batch
    SUB_DIM,
    _adc_topn,
    _codebook,
    _d6,
    _encode,
    _lut,
    _sub_vectors,
)
from .similarity import K_CENT, NPROBE, _recall_at_k, _sampled_centroids

_SQL_D2 = (
    "list_aggregate(list_transform(list_zip({a}, {b}),"
    " p -> (p[1] - p[2]) * (p[1] - p[2])), 'sum')"
)

def _ivfpq_adc_sql(topn: int) -> str:
    """The full IVFADC ranking as SQL, parameterized on the rank cutoff
    (3 = the registered top-k; 10 = the re-rank stage's candidate pool)."""
    return f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> cast(x AS DOUBLE)) AS e
  FROM embeddings
), cent AS (
  SELECT vec_id AS cent_id, e AS ce FROM v
  ORDER BY md5(cast(vec_id AS VARCHAR)), vec_id
  LIMIT {K_CENT}
), cd AS (
  SELECT v.vec_id, cent.cent_id,
         round({_SQL_D2.format(a="v.e", b="cent.ce")}, 6) AS d2c
  FROM v CROSS JOIN cent
), assign AS (
  SELECT vec_id, cent_id FROM (
    SELECT vec_id, cent_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY d2c, cent_id) AS rn
    FROM cd
  ) t WHERE rn = 1
), resid AS (
  SELECT a.vec_id, a.cent_id,
         list_transform(list_zip(v.e, c.ce), p -> p[1] - p[2]) AS r
  FROM assign a
  JOIN v ON v.vec_id = a.vec_id
  JOIN cent c ON c.cent_id = a.cent_id
), subs AS (
  SELECT vec_id, cent_id, s.sub_id,
         r[{SUB_DIM} * s.sub_id + 1 : {SUB_DIM} * s.sub_id + {SUB_DIM}] AS sv
  FROM resid, (SELECT unnest([0, 1, 2, 3]) AS sub_id) s
), cb AS (
  SELECT vec_id AS code, sub_id, sv AS cv FROM subs WHERE vec_id < {N_CODES}
), enc AS (
  SELECT vec_id, cent_id, sub_id, code FROM (
    SELECT a.vec_id, a.cent_id, a.sub_id, c.code,
           row_number() OVER (
             PARTITION BY a.vec_id, a.sub_id
             ORDER BY {_SQL_D2.format(a="a.sv", b="c.cv")}, c.code) AS rn
    FROM subs a JOIN cb c ON a.sub_id = c.sub_id
  ) t WHERE rn = 1
), qs AS (
  SELECT vec_id AS query_id, e AS qe FROM v
  WHERE vec_id >= (SELECT max(vec_id) - {N_QUERIES - 1} FROM embeddings)
), probe AS (
  SELECT query_id, cent_id, ce FROM (
    SELECT q.query_id, c.cent_id, c.ce,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY round({_SQL_D2.format(a="q.qe", b="c.ce")}, 6),
                      c.cent_id) AS rn
    FROM qs q CROSS JOIN cent c
  ) t WHERE rn <= {NPROBE}
), qr AS (
  SELECT p.query_id, p.cent_id,
         list_transform(list_zip(q.qe, p.ce), z -> z[1] - z[2]) AS r
  FROM probe p JOIN qs q ON q.query_id = p.query_id
), qsub AS (
  SELECT query_id, cent_id, s.sub_id,
         r[{SUB_DIM} * s.sub_id + 1 : {SUB_DIM} * s.sub_id + {SUB_DIM}] AS sv
  FROM qr, (SELECT unnest([0, 1, 2, 3]) AS sub_id) s
), lut AS (
  SELECT q.query_id, q.cent_id, q.sub_id, c.code,
         cast(round({_SQL_D2.format(a="q.sv", b="c.cv")} * 1000000) AS BIGINT)
           AS d6
  FROM qsub q JOIN cb c ON q.sub_id = c.sub_id
), adc AS (
  SELECT l.query_id, e.vec_id, cast(sum(l.d6) AS BIGINT) AS dist6
  FROM enc e
  JOIN lut l ON l.cent_id = e.cent_id AND l.sub_id = e.sub_id
            AND l.code = e.code
  WHERE e.vec_id <> l.query_id
  GROUP BY l.query_id, e.vec_id
)
SELECT query_id, rank, vec_id AS neighbor_id,
       round(dist6 / cast(1000000 AS DOUBLE), 6) AS adc_dist
FROM (
  SELECT query_id, vec_id, dist6,
         cast(row_number() OVER (PARTITION BY query_id
                                 ORDER BY dist6, vec_id) AS INTEGER) AS rank
  FROM adc
) t WHERE rank <= {topn}
"""


_IVFPQ_ORACLE = _ivfpq_adc_sql(3)


def _vectors(spark, sf_dir):
    return spread(
        table(spark, sf_dir, "embeddings").select(
            "vec_id",
            F.expr("transform(embedding, x -> cast(x as double))").alias("e"),
        ),
        "vec_id",
    )


def _centroids(v):
    return _sampled_centroids(v, F.col("e").alias("ce"))


def _query_batch(v):
    """(query_id, qe): the LAST N_QUERIES vec_ids of ``v`` — max-derived at
    runtime, so the batch stays bounded however large the corpus grows."""
    mx = v.groupBy().agg(F.max("vec_id").alias("mx"))
    return (
        v.crossJoin(F.broadcast(mx))
        .filter(F.col("vec_id") >= F.col("mx") - (N_QUERIES - 1))
        .select(F.col("vec_id").alias("query_id"), F.col("e").alias("qe"))
    )


def _exact_top3(v):
    """(query_id, neighbor_id): the exact full-vector L2 top-3 of the
    query batch over the corpus ``v``, ranked on micro-quantized int64
    distances (then vec_id) — the ground truth of both recall evals."""
    scored = (
        v.crossJoin(F.broadcast(_query_batch(v)))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", _d6("qe", "e").alias("d6"))
    )
    return top_n(scored, "query_id", 3, "d6", "vec_id").select(
        "query_id", F.col("vec_id").alias("neighbor_id")
    )


def _adc_ranked(spark, sf_dir, topn: int):
    """(query_id, vec_id, dist6, rank) — the IVFADC pipeline ranked to
    ``topn`` per query. Extracted in r11 so the re-rank stage can draw a
    deeper candidate pool (R=10) from the IDENTICAL plan the registered
    top-3 query runs."""
    v = _vectors(spark, sf_dir)
    cent = _centroids(v)

    # coarse assignment: corpus x broadcast centroids, argmin by
    # (rounded d2, cent_id) — a map-side-combinable min_by, no window.
    d2c = F.round(F.expr(_D2.format(a="e", b="ce")), 6)
    cd = v.crossJoin(F.broadcast(cent)).select("vec_id", "e", "cent_id", d2c.alias("d2c"))
    assign = cd.groupBy("vec_id").agg(
        F.min(F.struct("d2c", "cent_id")).alias("w")
    ).select("vec_id", F.col("w.cent_id").alias("cent_id"))

    # residuals: re-join the (broadcast) centroid table for the vector
    resid = (
        assign.join(v, "vec_id")
        .join(F.broadcast(cent), "cent_id")
        .select(
            "vec_id",
            "cent_id",
            F.expr("zip_with(e, ce, (x, y) -> x - y)").alias("r"),
        )
    )
    subs = _sub_vectors(resid, "r")
    cb = _codebook(subs)
    enc = _encode(subs, cb, "vec_id", "cent_id")

    # the query batch probes its NPROBE nearest cells; the LUT holds its
    # residual to each probed centroid
    probe = top_n(
        _query_batch(v)
        .crossJoin(F.broadcast(cent))
        .select(
            "query_id",
            "cent_id",
            "ce",
            "qe",
            F.round(F.expr(_D2.format(a="qe", b="ce")), 6).alias("d2q"),
        ),
        "query_id",
        NPROBE,
        "d2q",
        "cent_id",
        rank="crn",
    ).select(
        "query_id",
        "cent_id",
        F.expr("zip_with(qe, ce, (x, y) -> x - y)").alias("r"),
    )
    lut = _lut(_sub_vectors(probe, "r"), cb, "query_id", "cent_id")
    return _adc_topn(enc, lut, topn, "cent_id")


@register(
    "sim_ivfpq_adc_topk",
    oracle=_IVFPQ_ORACLE,
    tags=("similarity", "ivf", "pq"),
    # promoted to the headline bench on creation (r10): the composed
    # IVFADC index is the flagship ANN plan — the driver should measure
    # the full build+probe pipeline alongside the IVF and PQ halves
    bench=True,
)
def sim_ivfpq_adc_topk(spark, sf_dir):
    return _adc_ranked(spark, sf_dir, 3).select(
        "query_id",
        "rank",
        F.col("vec_id").alias("neighbor_id"),
        F.round(F.col("dist6") / F.lit(1000000).cast("double"), 6).alias(
            "adc_dist"
        ),
    )


# --------------------------------------------------------------------------
# IVFADC recall@3 eval (r10): every ANN variant in this repo ships with a
# measured-quality eval against exact ground truth (sim_ivf_recall,
# sim_ivf_sampled_quantizer, mllib_*_recall, ml_embedding_truncate_recall)
# — this is the IVFADC one. Ground truth = exact full-vector L2 top-3
# over the same LAST-10 query batch (same metric space as the ADC
# ranking, distances as micro-quantized int64 so the exact ranking is
# integer-deterministic). The reported recall prices BOTH losses at
# once: IVF pruning (candidates outside the probed cells) and PQ
# quantization (codes ranking differently than raw vectors). Both sides
# of the recall join are 3·N_QUERIES rows — constants — so it
# broadcasts by construction.
# --------------------------------------------------------------------------

_IVFPQ_RECALL_ORACLE = f"""
WITH ivf AS ({_IVFPQ_ORACLE}),
v AS (
  SELECT vec_id, list_transform(embedding, x -> cast(x AS DOUBLE)) AS e
  FROM embeddings
), qs AS (
  SELECT vec_id AS query_id, e AS qe FROM v
  WHERE vec_id >= (SELECT max(vec_id) - {N_QUERIES - 1} FROM embeddings)
), exact AS (
  SELECT query_id, vec_id AS neighbor_id FROM (
    SELECT q.query_id, c.vec_id,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY cast(round({_SQL_D2.format(a="q.qe", b="c.e")}
                                 * 1000000) AS BIGINT), c.vec_id) AS rn
    FROM qs q JOIN v c ON c.vec_id <> q.query_id
  ) t WHERE rn <= 3
)
SELECT exact.query_id,
       cast(count(ivf.neighbor_id) AS BIGINT) AS n_hit,
       round(count(ivf.neighbor_id) / cast(3 AS DOUBLE), 6) AS recall
FROM exact LEFT JOIN ivf
  ON exact.query_id = ivf.query_id AND exact.neighbor_id = ivf.neighbor_id
GROUP BY exact.query_id
"""


@register(
    "sim_ivfpq_recall",
    oracle=_IVFPQ_RECALL_ORACLE,
    tags=("similarity", "ivf", "pq", "eval"),
)
def sim_ivfpq_recall(spark, sf_dir):
    truth = _exact_top3(_vectors(spark, sf_dir))
    return _recall_at_k(truth, sim_ivfpq_adc_topk(spark, sf_dir), 3)


# --------------------------------------------------------------------------
# IVFADC + exact re-rank (r11, VERDICT r10 #4): the standard two-stage
# FAISS serving pipeline. Stage 1 = the ADC ranking above, widened to a
# top-R candidate pool (R = 10); stage 2 = re-score ONLY those
# candidates with full vectors (exact L2, micro-quantized int64) and
# emit the final top-3. The candidate pool is R * N_QUERIES rows — a
# constant — so it broadcasts into the corpus scan that retrieves the
# full candidate vectors, and the re-score itself touches R rows per
# query however large the corpus: re-ranking buys back PQ quantization
# loss at a cost independent of corpus size. The companion recall eval
# scores the re-ranked top-3 against the SAME exact ground truth as
# ``sim_ivfpq_recall``, so the pair of driver rows prices what the
# second stage recovers.
# --------------------------------------------------------------------------

RERANK_R = 10

_RERANK_ORACLE = f"""
WITH cand AS ({_ivfpq_adc_sql(RERANK_R)}),
fv AS (
  SELECT vec_id, list_transform(embedding, x -> cast(x AS DOUBLE)) AS e
  FROM embeddings
), fq AS (
  SELECT vec_id AS query_id, e AS qe FROM fv
  WHERE vec_id >= (SELECT max(vec_id) - {N_QUERIES - 1} FROM embeddings)
), ex AS (
  SELECT c.query_id, c.neighbor_id,
         cast(round({_SQL_D2.format(a="q.qe", b="cv.e")} * 1000000)
              AS BIGINT) AS d6
  FROM cand c
  JOIN fq q ON q.query_id = c.query_id
  JOIN fv cv ON cv.vec_id = c.neighbor_id
)
SELECT query_id, rank, neighbor_id,
       round(d6 / cast(1000000 AS DOUBLE), 6) AS exact_dist
FROM (
  SELECT query_id, neighbor_id, d6,
         cast(row_number() OVER (PARTITION BY query_id
                                 ORDER BY d6, neighbor_id) AS INTEGER)
           AS rank
  FROM ex
) t WHERE rank <= 3
"""


def _rerank_topk(spark, sf_dir):
    cand = F.broadcast(
        _adc_ranked(spark, sf_dir, RERANK_R).select(
            "query_id", F.col("vec_id").alias("neighbor_id")
        )
    )
    v = _vectors(spark, sf_dir)
    # corpus scan x broadcast candidate list: only the R*|Q| candidate
    # vectors survive the join, then the exact distance runs on those
    ex = (
        v.join(cand, F.col("vec_id") == F.col("neighbor_id"))
        .join(F.broadcast(_query_batch(v)), "query_id")
        .select("query_id", "neighbor_id", _d6("qe", "e").alias("d6"))
    )
    return top_n(ex, "query_id", 3, "d6", "neighbor_id", rank="rank").select(
        "query_id",
        "rank",
        "neighbor_id",
        F.round(F.col("d6") / F.lit(1000000).cast("double"), 6).alias("exact_dist"),
    )


@register(
    "sim_ivfpq_rerank_topk",
    oracle=_RERANK_ORACLE,
    tags=("similarity", "ivf", "pq"),
)
def sim_ivfpq_rerank_topk(spark, sf_dir):
    return _rerank_topk(spark, sf_dir)


_RERANK_RECALL_ORACLE = f"""
WITH rr AS ({_RERANK_ORACLE}),
v AS (
  SELECT vec_id, list_transform(embedding, x -> cast(x AS DOUBLE)) AS e
  FROM embeddings
), qs AS (
  SELECT vec_id AS query_id, e AS qe FROM v
  WHERE vec_id >= (SELECT max(vec_id) - {N_QUERIES - 1} FROM embeddings)
), exact AS (
  SELECT query_id, vec_id AS neighbor_id FROM (
    SELECT q.query_id, c.vec_id,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY cast(round({_SQL_D2.format(a="q.qe", b="c.e")}
                                 * 1000000) AS BIGINT), c.vec_id) AS rn
    FROM qs q JOIN v c ON c.vec_id <> q.query_id
  ) t WHERE rn <= 3
)
SELECT exact.query_id,
       cast(count(rr.neighbor_id) AS BIGINT) AS n_hit,
       round(count(rr.neighbor_id) / cast(3 AS DOUBLE), 6) AS recall
FROM exact LEFT JOIN rr
  ON exact.query_id = rr.query_id AND exact.neighbor_id = rr.neighbor_id
GROUP BY exact.query_id
"""


@register(
    "sim_ivfpq_rerank_recall",
    oracle=_RERANK_RECALL_ORACLE,
    tags=("similarity", "ivf", "pq", "eval"),
)
def sim_ivfpq_rerank_recall(spark, sf_dir):
    truth = _exact_top3(_vectors(spark, sf_dir))
    return _recall_at_k(truth, _rerank_topk(spark, sf_dir), 3)
