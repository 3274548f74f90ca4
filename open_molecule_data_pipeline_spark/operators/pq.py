"""Product quantization (PQ) — the memory-side half of large-scale ANN.

IVF (``similarity.py``) prunes which vectors to score; PQ compresses the
vectors themselves: split each 64-dim embedding into 4 subspaces of 16
dims, quantize every sub-vector to its nearest of 8 codewords, and a
vector becomes 4 small codes (here 4 bytes vs 256 bytes of float32 — the
reason a trillion-vector index fits in RAM). Queries never decompress:
asymmetric distance (ADC) sums, per subspace, the *precomputed* distance
from the query's sub-vector to the stored code's codeword — a tiny
query×8-codeword lookup table (LUT), broadcast to every executor, turns
scoring into 4 integer lookups per candidate.

Determinism/parity notes (see memory playbook):
- sub-vector L2 distances are fixed-order per-row folds over doubles —
  bit-identical across engines, so argmin on the RAW distance with a code
  tie-break is safe;
- every cross-row sum (ADC accumulation, distortion averages) is done on
  round(d2*1e6) scaled int64, never raw doubles;
- the codebook is the first 8 vectors per subspace (deterministic seed
  choice, standing in for trained centroids — training is one k-means
  Lloyd round away, cf. ``ml_kmeans_assign``).

The sub-space split, codebook, encoder, LUT and ADC rank below serve
both this module (raw vectors) and ``ivfpq.py`` (coarse residuals).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..catalog import table
from ..registry import register
from ._util import _D2, spread, top_n

N_SUB = 4
SUB_DIM = 16
N_CODES = 8
# The query batch is the LAST N_QUERIES vec_ids, derived from max(vec_id)
# at runtime: an ANN query batch is bounded regardless of corpus size. (An
# absolute threshold here once made the batch scale WITH the corpus —
# 4,510 "queries" at sf0.1 — turning the bounded LUT into a quadratic
# join; caught by the r5 bench promotion of this query.)
N_QUERIES = 10


def _sub_vectors(df, vec_col: str):
    """Split the array column ``vec_col`` into its N_SUB SUB_DIM-dim
    sub-vectors (sub_id, v) via one narrow explode; the other columns of
    ``df`` ride along."""
    subs = F.array(
        *[
            F.struct(
                F.lit(s).alias("sub_id"),
                F.slice(vec_col, SUB_DIM * s + 1, SUB_DIM).alias("v"),
            )
            for s in range(N_SUB)
        ]
    )
    keep = [c for c in df.columns if c != vec_col]
    return df.select(*keep, F.explode(subs).alias("s")).select(
        *keep, "s.sub_id", "s.v"
    )


def _subspaces(spark, sf_dir):
    """(vec_id, label, sub_id, v): each embedding split into N_SUB
    double-upcast sub-vectors. spread() adds one up-front repartition when
    the input arrives as a single file/partition (else the downstream
    codebook scoring serializes on one core)."""
    emb = spread(
        table(spark, sf_dir, "embeddings").select(
            "vec_id",
            "label",
            F.expr("transform(embedding, x -> cast(x as double))").alias("e"),
        ),
        "vec_id",
    )
    return _sub_vectors(emb, "e")


def _d6(a: str, b: str):
    """Squared L2 distance of array columns ``a`` and ``b`` as int64
    micro-units — the form every cross-row sum and rank here uses."""
    return F.round(F.expr(_D2.format(a=a, b=b)) * 1000000).cast("long")


def _codebook(subs):
    """(code, sub_id, cv): the first N_CODES sub-vectors per subspace."""
    return subs.filter(F.col("vec_id") < N_CODES).select(
        F.col("vec_id").alias("code"), "sub_id", F.col("v").alias("cv")
    )


def _encode(subs, cb, *keys):
    """(*keys, sub_id, code, d2): nearest codeword per (keys, subspace).

    The codebook (N_CODES rows per subspace) is broadcast; candidates are
    a broadcast nested-loop over 8 codes — per-row work, no shuffle until
    the per-(keys, sub) argmin aggregation.
    """
    return (
        subs.join(F.broadcast(cb), "sub_id")
        .select(
            *keys, "sub_id", "code", F.expr(_D2.format(a="v", b="cv")).alias("d2")
        )
        .groupBy(*keys, "sub_id")
        .agg(F.min(F.struct("d2", "code")).alias("w"))
        .select(*keys, "sub_id", "w.code", "w.d2")
    )


def _lut(qsub, cb, *keys):
    """(*keys, sub_id, code, d6): the ADC lookup table — every query
    sub-vector's squared distance to each codeword of its subspace, as
    int64 micro-units."""
    return qsub.join(F.broadcast(cb), "sub_id").select(
        *keys, "sub_id", "code", _d6("v", "cv").alias("d6")
    )


def _adc_topn(enc, lut, n, *cells):
    """(query_id, vec_id, dist6, rank): asymmetric distance — per (query,
    vector) the sum of the broadcast LUT entries its codes select (joined
    on ``cells``, sub_id and code), self-match dropped, top ``n`` per query
    by (dist6, vec_id). The sum and the rank are pure int64."""
    adc = (
        enc.join(F.broadcast(lut), [*cells, "sub_id", "code"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.sum("d6").alias("dist6"))
    )
    return top_n(adc, "query_id", n, "dist6", "vec_id", rank="rank")


_SUBS_CTE = f"""
emb AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> cast(x AS DOUBLE)) AS e
  FROM embeddings
),
subs AS (
  SELECT vec_id, label, s.sub_id,
         e[{SUB_DIM} * s.sub_id + 1 : {SUB_DIM} * s.sub_id + {SUB_DIM}] AS v
  FROM emb, (SELECT unnest([0, 1, 2, 3]) AS sub_id) s
),
cb AS (
  SELECT vec_id AS code, sub_id, v AS cv FROM subs WHERE vec_id < {N_CODES}
),
scored AS (
  SELECT a.vec_id, a.sub_id, c.code,
         list_aggregate(
           list_transform(list_zip(a.v, c.cv), p -> (p[1] - p[2]) * (p[1] - p[2])),
           'sum') AS d2
  FROM subs a JOIN cb c ON a.sub_id = c.sub_id
),
best AS (
  SELECT vec_id, sub_id, code, d2 FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id, sub_id
                                 ORDER BY d2, code) AS rn
    FROM scored
  ) r WHERE rn = 1
)
"""

_ENCODE_ORACLE = f"""
WITH {_SUBS_CTE}
SELECT sub_id,
       cast(code AS BIGINT) AS code,
       cast(count(*) AS BIGINT) AS n,
       round(cast(sum(cast(round(d2 * 1000000) AS BIGINT)) AS BIGINT)
             / cast(count(*) * 1000000 AS DOUBLE), 6) AS avg_d2
FROM best
GROUP BY sub_id, cast(code AS BIGINT)
"""


@register("sim_pq_encode", oracle=_ENCODE_ORACLE, tags=("similarity", "pq"))
def sim_pq_encode(spark, sf_dir):
    """Codebook usage + quantization distortion per (subspace, codeword) —
    the health report of a PQ index build."""
    subs = _subspaces(spark, sf_dir)
    enc = _encode(subs, _codebook(subs), "vec_id")
    return enc.groupBy("sub_id", F.col("code").cast("long").alias("code")).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(
            # micro-unit distortions are ~1e7/row; the per-codeword SUM
            # accumulates in decimal(38,0) so it stays exact past the
            # ~1e12-rows-per-codeword point where int64 would wrap
            F.sum(F.round(F.col("d2") * 1000000).cast("decimal(38,0)"))
            / (F.count(F.lit(1)) * 1000000).cast("double"),
            6,
        ).alias("avg_d2"),
    )


_ADC_ORACLE = f"""
WITH {_SUBS_CTE},
lut AS (
  SELECT q.vec_id AS query_id, q.sub_id, c.code,
         cast(round(list_aggregate(
           list_transform(list_zip(q.v, c.cv), p -> (p[1] - p[2]) * (p[1] - p[2])),
           'sum') * 1000000) AS BIGINT) AS d6
  FROM subs q JOIN cb c ON q.sub_id = c.sub_id
  WHERE q.vec_id >= (SELECT max(vec_id) - {N_QUERIES - 1} FROM embeddings)
),
adc AS (
  SELECT l.query_id, b.vec_id, cast(sum(l.d6) AS BIGINT) AS dist6
  FROM best b
  JOIN lut l ON l.sub_id = b.sub_id AND l.code = b.code
  WHERE b.vec_id <> l.query_id
  GROUP BY l.query_id, b.vec_id
)
SELECT query_id, rank, vec_id, round(dist6 / cast(1000000 AS DOUBLE), 6) AS adc_dist
FROM (
  SELECT query_id, vec_id, dist6,
         cast(row_number() OVER (PARTITION BY query_id
                                 ORDER BY dist6, vec_id) AS INTEGER) AS rank
  FROM adc
) r
WHERE rank <= 3
"""


@register(
    "sim_pq_adc_topk", oracle=_ADC_ORACLE, tags=("similarity", "pq"), bench=True
)
def sim_pq_adc_topk(spark, sf_dir):
    """Top-3 approximate neighbors per query by PQ asymmetric distance.

    The LUT (queries x subspaces x 8 codewords) is tiny and broadcast; the
    corpus side touches only the 4-code representation — the at-scale
    memory/IO win. Distances accumulate as scaled int64 so ranking is pure
    integer comparison (no float sum-order hazard)."""
    subs = _subspaces(spark, sf_dir)
    cb = _codebook(subs)
    qmin = table(spark, sf_dir, "embeddings").agg(
        (F.max("vec_id") - F.lit(N_QUERIES - 1)).alias("qmin")
    )
    qsub = (
        subs.crossJoin(F.broadcast(qmin))
        .filter(F.col("vec_id") >= F.col("qmin"))
        .drop("qmin")
        .withColumnRenamed("vec_id", "query_id")
    )
    adc = _adc_topn(_encode(subs, cb, "vec_id"), _lut(qsub, cb, "query_id"), 3)
    return adc.select(
        "query_id",
        "rank",
        "vec_id",
        F.round(F.col("dist6") / F.lit(1000000).cast("double"), 6).alias("adc_dist"),
    )


# --------------------------------------------------------------------------
# Scalar int8 quantization — PQ's simpler sibling, and the format most
# embedding stores actually ship (faiss SQ8, pgvector halfvec/int8): one
# max-abs scale per dimension, q = round(127 * x / scale). The per-dim
# scales come from one groupBy over the exploded corpus (max is
# order-independent — no float-sum hazard) and broadcast back onto the
# vectors; everything else is per-row arithmetic. The report aggregates
# per label: total quantized checksum (exact int64) and the worst
# dequantization error (max — again order-independent), so the oracle
# match is exact without scaled-int sums.
# --------------------------------------------------------------------------

_QUANT_ORACLE = """
WITH flat AS (
  SELECT vec_id, label, i.i AS dim, cast(embedding[i.i] AS DOUBLE) AS x
  FROM embeddings,
       LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) i
),
scales AS (
  SELECT dim, max(abs(x)) AS s FROM flat GROUP BY dim
),
q AS (
  SELECT f.vec_id, f.label,
         cast(round(127 * f.x / s.s) AS BIGINT) AS qv,
         abs(f.x - cast(round(127 * f.x / s.s) AS BIGINT) * s.s / 127) AS err
  FROM flat f JOIN scales s USING (dim)
),
per_vec AS (
  SELECT vec_id, label, sum(qv) AS sum_q, max(err) AS max_err
  FROM q GROUP BY vec_id, label
)
SELECT label,
       cast(count(*) AS BIGINT) AS n_vecs,
       cast(sum(sum_q) AS BIGINT) AS checksum_q,
       round(max(max_err), 9) AS worst_err
FROM per_vec
GROUP BY label
"""


@register(
    "ml_embedding_quantize_int8",
    oracle=_QUANT_ORACLE,
    tags=("ml", "similarity"),
)
def ml_embedding_quantize_int8(spark, sf_dir):
    emb = spread(table(spark, sf_dir, "embeddings"), "vec_id")
    flat = emb.select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("pos", "xf"),
    ).select(
        "vec_id",
        "label",
        (F.col("pos") + 1).alias("dim"),
        F.col("xf").cast("double").alias("x"),
    )
    scales = flat.groupBy("dim").agg(F.max(F.abs("x")).alias("s"))
    qv = F.round(127 * F.col("x") / F.col("s")).cast("long")
    q = flat.join(F.broadcast(scales), "dim").select(
        "vec_id",
        "label",
        qv.alias("qv"),
        F.abs(F.col("x") - qv * F.col("s") / 127).alias("err"),
    )
    per_vec = q.groupBy("vec_id", "label").agg(
        F.sum("qv").alias("sum_q"), F.max("err").alias("max_err")
    )
    return per_vec.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum("sum_q").alias("checksum_q"),
        F.round(F.max("max_err"), 9).alias("worst_err"),
    )
