"""Binary quantization (BQ) + Hamming shortlist + exact rerank (r13):
the memory-cheapest ANN rung, missing between LSH bands and IVF/PQ in
the similarity ladder. Every 64-dim embedding compresses to 64 BITS
(sign quantization — the corpus is zero-centered, measured mean ~2e-5),
candidates come from Hamming distance over the packed bits (two
xor+bit_count int ops per pair instead of a 64-element float fold),
and the final top-k is an EXACT cosine rerank over the tiny shortlist —
the modern BQ-rerank serving shape (64x memory compression on the scan
side, exactness restored by the rerank).

Packing: bits 0-31 and 32-63 live in TWO int64 halves — a single int64
would need 1<<63, which overflows DuckDB's signed shift (measured);
Hamming = bit_count(xor(lo)) + bit_count(xor(hi)), pure JVM integer
ops inside whole-stage codegen.

Determinism: candidate rank on (hamming asc, neighbor_id); rerank on
micro-quantized cosine (round(cos*1e6) int64, the ivfpq d6 precedent);
recall companion measures BQ-rerank top-5 against the exact cosine
top-5 — every ANN variant here ships with its measured quality.

Scale shape: quantization is one map pass; the q x N Hamming scoring
broadcasts only the N_QUERIES signatures (16 bytes each) and keeps the
corpus scan 3 int64 columns wide; the rerank touches R rows per query.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..catalog import table
from ..registry import register
from ._util import _DOT, spread, top_n
from .similarity import K, N_QUERIES, _recall_at_k

R_CAND = 20  # Hamming shortlist size per query

_PACK_SPARK = (
    "aggregate(sequence(0, 31), 0L, (acc, k) -> acc +"
    " IF(element_at(embedding, k + {off} + 1) > 0, shiftleft(1L, k), 0L))"
)

_PACK_DUCK = (
    "list_sum(list_transform(range(0, 32), k -> CASE"
    " WHEN embedding[k + {off} + 1] > 0 THEN (1::BIGINT << k)"
    " ELSE 0 END))"
)

_BQ_CTES = f"""
v AS (
  SELECT vec_id,
         list_transform(embedding, x -> cast(x AS DOUBLE)) AS e,
         cast(coalesce({_PACK_DUCK.format(off=0)}, 0) AS BIGINT) AS lo,
         cast(coalesce({_PACK_DUCK.format(off=32)}, 0) AS BIGINT) AS hi
  FROM embeddings
),
q AS (SELECT vec_id AS query_id, e AS qe, lo AS qlo, hi AS qhi
      FROM v WHERE vec_id < {N_QUERIES}),
ham AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         cast(bit_count(xor(q.qlo, c.lo)) + bit_count(xor(q.qhi, c.hi))
              AS BIGINT) AS hamming
  FROM v c JOIN q ON c.vec_id <> q.query_id
),
cand AS (
  SELECT query_id, neighbor_id, hamming FROM (
    SELECT query_id, neighbor_id, hamming,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY hamming, neighbor_id) AS rn
    FROM ham
  ) t WHERE rn <= {R_CAND}
),
rer AS (
  SELECT cand.query_id, cand.neighbor_id, cand.hamming,
         cast(round(list_dot_product(q.qe, c.e)
              / (sqrt(list_dot_product(q.qe, q.qe))
                 * sqrt(list_dot_product(c.e, c.e))) * 1000000) AS BIGINT)
             AS cos6
  FROM cand
  JOIN q ON q.query_id = cand.query_id
  JOIN v c ON c.vec_id = cand.neighbor_id
),
bq_top AS (
  SELECT query_id, neighbor_id, hamming, cos6 FROM (
    SELECT query_id, neighbor_id, hamming, cos6,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos6 DESC, neighbor_id) AS rn
    FROM rer
  ) t WHERE rn <= {K}
)
"""

_BQ_ORACLE = f"""
WITH {_BQ_CTES}
SELECT query_id, neighbor_id, hamming, cos6 FROM bq_top
"""

_BQ_RECALL_ORACLE = f"""
WITH {_BQ_CTES},
exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.query_id, c.vec_id AS neighbor_id,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY cast(round(list_dot_product(q.qe, c.e)
                     / (sqrt(list_dot_product(q.qe, q.qe))
                        * sqrt(list_dot_product(c.e, c.e))) * 1000000)
                     AS BIGINT) DESC, c.vec_id) AS rn
    FROM v c JOIN q ON c.vec_id <> q.query_id
  ) t WHERE rn <= {K}
)
SELECT e.query_id,
       cast(count(b.neighbor_id) AS BIGINT) AS n_hit,
       round(count(b.neighbor_id) / {K}.0, 6) AS recall
FROM exact e
LEFT JOIN bq_top b
  ON b.query_id = e.query_id AND b.neighbor_id = e.neighbor_id
GROUP BY e.query_id
"""


def _sig_table(spark, sf_dir):
    e = spread(
        table(spark, sf_dir, "embeddings").select("vec_id", "embedding"),
        "vec_id",
    )
    return e.select(
        "vec_id",
        "embedding",
        F.coalesce(F.expr(_PACK_SPARK.format(off=0)), F.lit(0))
        .cast("long")
        .alias("lo"),
        F.coalesce(F.expr(_PACK_SPARK.format(off=32)), F.lit(0))
        .cast("long")
        .alias("hi"),
        F.sqrt(F.expr(_DOT.format(a="embedding", b="embedding"))).alias("nn"),
    )


def _queries(v):
    return v.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("lo").alias("qlo"),
        F.col("hi").alias("qhi"),
        F.col("nn").alias("qq"),
    )


def _cos6():
    """Micro-quantized exact cosine of the query (qe, qq) and the
    candidate (embedding, nn)."""
    return (
        F.round(
            F.expr(_DOT.format(a="qe", b="embedding"))
            / (F.col("qq") * F.col("nn"))
            * 1_000_000
        )
        .cast("long")
        .alias("cos6")
    )


def _bq_top(spark, sf_dir):
    v = _sig_table(spark, sf_dir)
    ham = (
        v.join(F.broadcast(_queries(v)), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (
                F.bit_count(F.col("qlo").bitwiseXOR(F.col("lo")))
                + F.bit_count(F.col("qhi").bitwiseXOR(F.col("hi")))
            )
            .cast("long")
            .alias("hamming"),
            "embedding",
            "nn",
            "qe",
            "qq",
        )
    )
    cand = top_n(ham, "query_id", R_CAND, "hamming", "neighbor_id")
    reranked = cand.select("query_id", "neighbor_id", "hamming", _cos6())
    return top_n(reranked, "query_id", K, F.desc("cos6"), "neighbor_id").select(
        "query_id", "neighbor_id", "hamming", "cos6"
    )


@register(
    "sim_binary_quant_hamming",
    oracle=_BQ_ORACLE,
    tags=("similarity",),
)
def sim_binary_quant_hamming(spark, sf_dir):
    """BQ-rerank top-5: 64-bit sign signatures, Hamming shortlist of
    R_CAND, exact micro-quantized cosine rerank."""
    return _bq_top(spark, sf_dir)


@register(
    "sim_binary_quant_recall",
    oracle=_BQ_RECALL_ORACLE,
    tags=("similarity",),
)
def sim_binary_quant_recall(spark, sf_dir):
    """Measured quality of the BQ shortlist: recall@5 of the BQ-rerank
    results against the exact cosine top-5, per query."""
    v = _sig_table(spark, sf_dir)
    scored = v.join(F.broadcast(_queries(v)), F.col("vec_id") != F.col("query_id")).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        _cos6(),
    )
    exact = top_n(scored, "query_id", K, F.desc("cos6"), "neighbor_id")
    return _recall_at_k(exact, _bq_top(spark, sf_dir), K)
