"""Johnson-Lindenstrauss sign-projection + recall eval (r14 stretch).

The dimension-reduction scale path for embedding search: project the
64-dim corpus onto 16 dims with a FIXED Rademacher (+-1) matrix and
measure how much brute-force top-k survives — a JL sketch preserves
inner products within (1 +- eps), so ranking by projected cosine is the
4x-cheaper candidate arm (16 doubles scanned per vector instead of 64,
both compute and column IO) and recall@k against the exact arm is the
honest price tag. This is the third leg of the repo's ANN ladder next
to binary quantization (binquant.py — 1-bit, Hamming) and IVF/PQ
(ivfpq.py — cell-pruned): dense-but-narrower, no training step at all.

The projection matrix is hash-seeded and rendered as a LITERAL into
both engines' expressions at import: sign(j, d) = +1 iff
md5("jl-j-d")[0] < '8' — no RNG, no per-row hashing, and runs/engines/
partitionings all see the identical matrix. Per row the projection is
16 fixed-order zip_with folds (the bit-identical fold discipline every
similarity operator here rides on).

Plan shape (100 TB): projection is map-side; the 8-query batch is a
literal-bounded broadcast (vec_id < 8); both arms are one corpus scan x
8 with a per-query bounded top-5 window; the overlap join is on the
5 x 8-row result tables. Nothing scales beyond the corpus scan.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from ..catalog import table
from ..registry import register
from ._util import _DOT, spread, top_n

_JL_DIMS = 16
_EMB_DIMS = 64
_N_QUERIES = 8
_TOP_K = 5

_SIGNS = [
    [
        1
        if hashlib.md5(f"jl-{j}-{d}".encode()).hexdigest()[0] in "01234567"
        else -1
        for d in range(_EMB_DIMS)
    ]
    for j in range(_JL_DIMS)
]

_SIGNS_SPARK = (
    "array("
    + ", ".join(
        "array(" + ", ".join(f"{v}D" for v in row) + ")" for row in _SIGNS
    )
    + ")"
)

_SIGNS_DUCK = (
    "["
    + ", ".join(
        "[" + ", ".join(f"{v}.0" for v in row) + "]" for row in _SIGNS
    )
    + "]"
)

_PROJ = (
    "transform(" + _SIGNS_SPARK + ", row -> aggregate(zip_with({v}, row,"
    " (x, s) -> cast(x as double) * s), cast(0 as double),"
    " (acc, t) -> acc + t))"
)

_PROJ_DUCK = (
    "list_transform(" + _SIGNS_DUCK + ", row ->"
    " list_aggregate(list_transform(list_zip({v}, row),"
    " p -> cast(p[1] AS DOUBLE) * p[2]), 'sum'))"
)

_DOTD = (
    "list_aggregate(list_transform(list_zip({a}, {b}),"
    " p -> cast(p[1] AS DOUBLE) * cast(p[2] AS DOUBLE)), 'sum')"
)

_JL_ORACLE = """
WITH v AS (
  SELECT vec_id, embedding AS e,
         {proj_duck} AS p
  FROM embeddings
),
vv AS (
  SELECT vec_id, e, p,
         {dot_e} AS ne2,
         {dot_p} AS np2
  FROM v
),
q AS (SELECT * FROM vv WHERE vec_id < {nq}),
exact AS (
  SELECT qid, vec_id FROM (
    SELECT q.vec_id AS qid, c.vec_id,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY {dot_qc_e} / sqrt(q.ne2 * c.ne2) DESC, c.vec_id
           ) AS rn
    FROM q, vv c WHERE c.vec_id <> q.vec_id
  ) z WHERE rn <= {k}
),
approx AS (
  SELECT qid, vec_id FROM (
    SELECT q.vec_id AS qid, c.vec_id,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY {dot_qc_p} / sqrt(q.np2 * c.np2) DESC, c.vec_id
           ) AS rn
    FROM q, vv c WHERE c.vec_id <> q.vec_id
  ) z WHERE rn <= {k}
),
hit AS (
  SELECT e.qid, cast(count(*) AS BIGINT) AS n_hit
  FROM exact e JOIN approx a ON a.qid = e.qid AND a.vec_id = e.vec_id
  GROUP BY e.qid
)
SELECT q.vec_id AS qid,
       coalesce(h.n_hit, 0) AS n_hit,
       coalesce(h.n_hit, 0) * 1000000 // {k} AS recall_ppm
FROM q LEFT JOIN hit h ON h.qid = q.vec_id
ORDER BY qid
""".format(
    proj_duck=_PROJ_DUCK.format(v="embedding"),
    dot_e=_DOTD.format(a="e", b="e"),
    dot_p=_DOTD.format(a="p", b="p"),
    dot_qc_e=_DOTD.format(a="q.e", b="c.e"),
    dot_qc_p=_DOTD.format(a="q.p", b="c.p"),
    nq=_N_QUERIES,
    k=_TOP_K,
)


@register(
    "sim_jl_projection_recall",
    oracle=_JL_ORACLE,
    tags=("similarity", "ml"),
)
def sim_jl_projection_recall(spark, sf_dir):
    """Per-query recall@5 of projected-cosine top-k (16-dim JL sketch)
    against exact 64-dim cosine top-k."""
    v = spread(table(spark, sf_dir, "embeddings"), "vec_id").select(
        "vec_id",
        F.col("embedding").alias("e"),
        F.expr(_PROJ.format(v="embedding")).alias("p"),
    )
    vv = v.select(
        "vec_id",
        "e",
        "p",
        F.expr(_DOT.format(a="e", b="e")).alias("ne2"),
        F.expr(_DOT.format(a="p", b="p")).alias("np2"),
    )
    q = vv.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("e").alias("qe"),
        F.col("p").alias("qp"),
        F.col("ne2").alias("qne2"),
        F.col("np2").alias("qnp2"),
    )

    def topk(score_col):
        scored = (
            vv.crossJoin(F.broadcast(q))
            .where(F.col("vec_id") != F.col("qid"))
            .withColumn("score", score_col)
        )
        return top_n(scored, "qid", _TOP_K, F.desc("score"), F.col("vec_id")).select(
            "qid", "vec_id"
        )

    exact = topk(
        F.expr(_DOT.format(a="qe", b="e"))
        / F.sqrt(F.col("qne2") * F.col("ne2"))
    )
    approx = topk(
        F.expr(_DOT.format(a="qp", b="p"))
        / F.sqrt(F.col("qnp2") * F.col("np2"))
    )
    hit = exact.join(approx, ["qid", "vec_id"]).groupBy("qid").agg(
        F.count(F.lit(1)).cast("long").alias("n_hit")
    )
    return (
        q.select("qid")
        .join(hit, "qid", "left")
        .select(
            "qid",
            F.coalesce("n_hit", F.lit(0).cast("long")).alias("n_hit"),
            F.expr(f"coalesce(n_hit, 0) * 1000000 div {_TOP_K}")
            .cast("long")
            .alias("recall_ppm"),
        )
        .orderBy("qid")
    )
