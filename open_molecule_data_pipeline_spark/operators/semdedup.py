"""SemDeDup-style semantic deduplication (r14, VERDICT r13 #6).

The embedding-level dedup the exact/MinHash ladder does not cover
(Abbas et al. 2023, "SemDeDup: Data-efficient learning at web-scale
through semantic deduplication"): cluster the embedding space, then
prune ε-balls WITHIN each cluster — a point is a semantic duplicate
when another point of the same cluster is closer than the cosine
threshold, and each duplicate group keeps exactly one representative
(the keep-min-id rule: remove x iff some same-cluster y with
y.vec_id < x.vec_id has cos(x, y) >= tau — the standard batched
SemDeDup implementation; deterministic, no RNG).

Clustering is TWO-LEVEL so the whole plan stays linear in n (the r14
100x proof forced this design twice: a fixed cluster count made the
intra-cluster pair stream quadratic — x14.9 at 10x — and a centroid
count scaling with n made the nearest-centroid assignment itself
quadratic — x139.7 at 100x):

1. **Coarse**: argmin of the bit-identical squared-L2 fold against the
   16 FIXED seed centroids (``ml_kmeans_assign``'s deterministic
   assignment, ml_extra.py:64) — a constant-size broadcast, n x 16
   work at any scale.
2. **Fine**: each coarse cell splits by the RESIDUAL SIGN BITS of the
   first B dimensions against the assigned centroid (axis-aligned
   sign-projection LSH — the same family as ``sim_lsh_buckets``),
   where B is chosen from the corpus count so the expected cluster
   size stays in [125, 250): B = floor(log2(n div 2000)), computed by
   an integer CASE ladder (NEVER float log — Spark's log2 is
   log(x)/log(2) and lands off exact powers). Map-side, zero extra
   passes.

So candidate pairs are CLUSTER-BOUNDED with bounded expected cluster
size, the assignment is linear, and nothing grows faster than n. The
semantic cost (ε-balls straddling a sign boundary are missed) is the
same recall trade SemDeDup itself makes across k-means cells.

The kept-set threshold COMPARISON is sqrt-free — ``dot > 0 AND
dot*dot >= tau^2 * (|x|^2 * |y|^2)`` with identical parenthesization on
both engines (tau = 0.3, ``dedup_embedding_cosine``'s fixture value,
dedup.py:432) — so the decision rides on multiplication/addition
determinism only; sqrt/division appear solely in the reported
(rounded) max-cosine diagnostic.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..catalog import table
from ..registry import register
from ._util import _DOT, spread

_N_COARSE = 16  # fixed coarse centroids: embeddings with vec_id < 16
_SEM_TARGET = 125  # target mean cluster size
_MAX_B = 20  # sign-bit budget cap (16 * 2^20 clusters ~ 2e9 vectors)
_TAU = 0.3  # cosine threshold (dedup_embedding_cosine's fixture value)
_TAU2 = 0.09  # tau^2, exact decimal literal mirrored in the oracle

_DOT_DUCK = (
    "list_aggregate(list_transform(list_zip({a}, {b}),"
    " p -> cast(p[1] AS DOUBLE) * cast(p[2] AS DOUBLE)), 'sum')"
)

_SQD_DUCK = (
    "list_aggregate(list_transform(list_zip({a}, {b}),"
    " p -> (cast(p[1] AS DOUBLE) - cast(p[2] AS DOUBLE))"
    " * (cast(p[1] AS DOUBLE) - cast(p[2] AS DOUBLE))), 'sum')"
)

# B = floor(log2(m)) for m >= 1 else 0, as a pure integer CASE ladder
_B_LADDER = (
    "CASE "
    + " ".join(
        f"WHEN {{m}} >= {1 << b} THEN {b}"
        for b in range(_MAX_B - 1, 0, -1)
    )
    + " ELSE 0 END"
)


def _bucket_terms(elem_a: str, elem_b: str) -> str:
    """Sum of residual-sign bit terms: bit d set when dim d of the
    vector exceeds dim d of its coarse centroid (d < B only)."""
    return " + ".join(
        f"(CASE WHEN {d} < {{B}} AND {elem_a.format(d=d + 1)}"
        f" > {elem_b.format(d=d + 1)} THEN {1 << d} ELSE 0 END)"
        for d in range(_MAX_B)
    )


_SEMDEDUP_ORACLE = f"""
WITH v AS (
  SELECT vec_id, embedding AS e,
         {_DOT_DUCK.format(a="embedding", b="embedding")} AS n2
  FROM embeddings
),
nb AS (
  SELECT {_B_LADDER.format(m=f"(count(*) // {_N_COARSE * _SEM_TARGET})")}
    AS b FROM v
),
cent AS (SELECT vec_id AS ca, e AS ce FROM v WHERE vec_id < {_N_COARSE}),
scored AS (
  SELECT v.vec_id, v.e, v.n2, cent.ca, cent.ce,
         {_SQD_DUCK.format(a="v.e", b="cent.ce")} AS d2
  FROM v, cent
),
coarse AS (
  SELECT vec_id, e, n2, ca, ce FROM (
    SELECT vec_id, e, n2, ca, ce,
           row_number() OVER (PARTITION BY vec_id ORDER BY d2, ca) AS rn
    FROM scored
  ) z WHERE rn = 1
),
assigned AS (
  SELECT vec_id, e, n2,
         ca * {1 << _MAX_B}
           + ({_bucket_terms("e[{d}]", "ce[{d}]").format(B="nb.b")}) AS cid
  FROM coarse, nb
),
pairs AS (
  SELECT a.cid, a.vec_id AS va, b.vec_id AS vb,
         {_DOT_DUCK.format(a="a.e", b="b.e")} AS dot,
         a.n2 AS na2, b.n2 AS nb2
  FROM assigned a JOIN assigned b
    ON a.cid = b.cid AND a.vec_id < b.vec_id
),
flagged AS (
  SELECT cid, va, vb, dot, na2, nb2,
         CASE WHEN dot > 0 AND dot * dot >= {_TAU2} * (na2 * nb2)
              THEN 1 ELSE 0 END AS is_dup
  FROM pairs
),
dup AS (
  SELECT cid,
         cast(count(DISTINCT CASE WHEN is_dup = 1 THEN vb END) AS BIGINT)
           AS n_removed,
         cast(round(max(dot / sqrt(na2 * nb2)) * 1000000) AS BIGINT)
           AS max_cos_micro
  FROM flagged GROUP BY cid
),
mem AS (
  SELECT cid, cast(count(*) AS BIGINT) AS n_members FROM assigned GROUP BY cid
)
SELECT m.cid, m.n_members,
       coalesce(d.n_removed, 0) AS n_removed,
       m.n_members - coalesce(d.n_removed, 0) AS n_kept,
       d.max_cos_micro
FROM mem m LEFT JOIN dup d ON d.cid = m.cid
ORDER BY m.cid
"""


@register(
    "dedup_semantic_semdedup",
    oracle=_SEMDEDUP_ORACLE,
    tags=("dedup", "embedding", "ml"),
)
def dedup_semantic_semdedup(spark, sf_dir):
    """Per-cluster SemDeDup report: members, ε-ball duplicates removed
    under keep-min-id, survivors, and the max intra-cluster cosine."""
    v = spread(table(spark, sf_dir, "embeddings"), "vec_id").select(
        "vec_id",
        F.col("embedding").alias("e"),
        F.expr(_DOT.format(a="embedding", b="embedding")).alias("n2"),
    )
    nb = v.agg(
        F.expr(
            _B_LADDER.format(m=f"(count(1) div {_N_COARSE * _SEM_TARGET})")
        ).alias("b")
    )
    cent = v.filter(F.col("vec_id") < _N_COARSE).select(
        F.col("vec_id").alias("ca"), F.col("e").alias("ce")
    )
    sqd = (
        "aggregate(zip_with(e, ce,"
        " (x, y) -> (cast(x as double) - cast(y as double))"
        " * (cast(x as double) - cast(y as double))),"
        " cast(0 as double), (acc, v) -> acc + v)"
    )
    scored = v.crossJoin(F.broadcast(cent)).withColumn("d2", F.expr(sqd))
    w = W.partitionBy("vec_id").orderBy("d2", "ca")
    coarse = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "e", "n2", "ca", "ce")
    )
    bucket = _bucket_terms(
        "element_at(e, {d})", "element_at(ce, {d})"
    ).format(B="b")
    assigned = coarse.crossJoin(F.broadcast(nb)).select(
        "vec_id",
        "e",
        "n2",
        (F.col("ca") * (1 << _MAX_B) + F.expr(bucket)).alias("cid"),
    )
    a = assigned.select(
        "cid",
        F.col("vec_id").alias("va"),
        F.col("e").alias("ea"),
        F.col("n2").alias("na2"),
    )
    b = assigned.select(
        "cid",
        F.col("vec_id").alias("vb"),
        F.col("e").alias("eb"),
        F.col("n2").alias("nb2"),
    )
    # cluster-bounded pair stream; un-hinted join on cid
    pairs = (
        a.join(b, "cid")
        .where(F.col("va") < F.col("vb"))
        .select(
            "cid",
            "va",
            "vb",
            F.expr(_DOT.format(a="ea", b="eb")).alias("dot"),
            "na2",
            "nb2",
        )
    )
    flagged = pairs.withColumn(
        "is_dup",
        (
            (F.col("dot") > 0)
            & (
                F.col("dot") * F.col("dot")
                >= F.lit(_TAU2) * (F.col("na2") * F.col("nb2"))
            )
        ).cast("int"),
    )
    dup = flagged.groupBy("cid").agg(
        F.countDistinct(
            F.when(F.col("is_dup") == 1, F.col("vb"))
        )
        .cast("long")
        .alias("n_removed"),
        F.round(
            F.max(F.col("dot") / F.sqrt(F.col("na2") * F.col("nb2")))
            * 1_000_000
        )
        .cast("long")
        .alias("max_cos_micro"),
    )
    mem = assigned.groupBy("cid").agg(
        F.count(F.lit(1)).cast("long").alias("n_members")
    )
    return (
        mem.join(dup, "cid", "left")
        .select(
            "cid",
            "n_members",
            F.coalesce("n_removed", F.lit(0).cast("long")).alias("n_removed"),
            (
                F.col("n_members")
                - F.coalesce("n_removed", F.lit(0).cast("long"))
            ).alias("n_kept"),
            "max_cos_micro",
        )
        .orderBy("cid")
    )


# --------------------------------------------------------------------------
# Incremental (batch-vs-corpus) SemDeDup — VERDICT r14 #3: the production
# shape of embedding dedup. The "new batch" is the deterministic 1/16 md5
# slice of embeddings (dedup_incremental_batch's convention, so the two
# incremental ladders cannot drift apart); everything else is the KEPT
# corpus. New vectors are assigned through the SAME frozen two-level cells
# (coarse argmin against the 16 fixed centroids + residual-sign split, with
# the bit budget B derived from the CORPUS count — the parameter a nightly
# job freezes when the corpus is first clustered) and compared against
# same-cell corpus vectors ONLY. The corpus never joins itself, so cost
# tracks batch size x cell occupancy — linear in the nightly ingest, not
# the accumulated corpus.
# --------------------------------------------------------------------------

_IS_NEW_DUCK = "substr(md5(cast(vec_id AS VARCHAR)), 1, 1) = '0'"
_IS_NEW_SPARK = "substring(md5(cast(vec_id as string)), 1, 1) = '0'"

_SEMDEDUP_INC_ORACLE = f"""
WITH v AS (
  SELECT vec_id, embedding AS e,
         {_DOT_DUCK.format(a="embedding", b="embedding")} AS n2,
         {_IS_NEW_DUCK} AS is_new
  FROM embeddings
),
nb AS (
  SELECT {_B_LADDER.format(
      m=f"(count(*) FILTER (WHERE NOT is_new) // {_N_COARSE * _SEM_TARGET})"
  )}
    AS b FROM v
),
cent AS (SELECT vec_id AS ca, e AS ce FROM v WHERE vec_id < {_N_COARSE}),
scored AS (
  SELECT v.vec_id, v.e, v.n2, v.is_new, cent.ca, cent.ce,
         {_SQD_DUCK.format(a="v.e", b="cent.ce")} AS d2
  FROM v, cent
),
coarse AS (
  SELECT vec_id, e, n2, is_new, ca, ce FROM (
    SELECT vec_id, e, n2, is_new, ca, ce,
           row_number() OVER (PARTITION BY vec_id ORDER BY d2, ca) AS rn
    FROM scored
  ) z WHERE rn = 1
),
assigned AS (
  SELECT vec_id, e, n2, is_new,
         ca * {1 << _MAX_B}
           + ({_bucket_terms("e[{d}]", "ce[{d}]").format(B="nb.b")}) AS cid
  FROM coarse, nb
),
cand AS (
  SELECT n.vec_id, n.cid, c.vec_id AS cv,
         {_DOT_DUCK.format(a="n.e", b="c.e")} AS dot,
         n.n2 AS na2, c.n2 AS nb2
  FROM assigned n JOIN assigned c
    ON n.cid = c.cid AND n.is_new AND NOT c.is_new
),
hit AS (
  SELECT vec_id,
         cast(count(*) AS BIGINT) AS n_candidates,
         cast(min(CASE WHEN dot > 0 AND dot * dot >= {_TAU2} * (na2 * nb2)
                       THEN cv END) AS BIGINT) AS dup_of,
         cast(round(max(dot / sqrt(na2 * nb2)) * 1000000) AS BIGINT)
           AS max_cos_micro
  FROM cand GROUP BY vec_id
)
SELECT b.vec_id, b.cid,
       coalesce(h.n_candidates, 0) AS n_candidates,
       h.dup_of, h.max_cos_micro,
       CASE WHEN h.dup_of IS NULL THEN 1 ELSE 0 END AS is_kept
FROM (SELECT vec_id, cid FROM assigned WHERE is_new) b
LEFT JOIN hit h ON h.vec_id = b.vec_id
ORDER BY b.vec_id
"""


@register(
    "dedup_semdedup_incremental",
    oracle=_SEMDEDUP_INC_ORACLE,
    tags=("dedup", "embedding", "ml", "incremental"),
)
def dedup_semdedup_incremental(spark, sf_dir):
    """Batch-vs-corpus SemDeDup: every NEW vector with its frozen-cell
    assignment, same-cell corpus candidate count, smallest ε-ball corpus
    neighbor (NULL => kept), and the max candidate cosine."""
    v = spread(table(spark, sf_dir, "embeddings"), "vec_id").select(
        "vec_id",
        F.col("embedding").alias("e"),
        F.expr(_DOT.format(a="embedding", b="embedding")).alias("n2"),
        F.expr(_IS_NEW_SPARK).alias("is_new"),
    )
    nb = v.agg(
        F.expr(
            _B_LADDER.format(
                m=(
                    "(count(CASE WHEN is_new THEN NULL ELSE 1 END)"
                    f" div {_N_COARSE * _SEM_TARGET})"
                )
            )
        ).alias("b")
    )
    cent = v.filter(F.col("vec_id") < _N_COARSE).select(
        F.col("vec_id").alias("ca"), F.col("e").alias("ce")
    )
    sqd = (
        "aggregate(zip_with(e, ce,"
        " (x, y) -> (cast(x as double) - cast(y as double))"
        " * (cast(x as double) - cast(y as double))),"
        " cast(0 as double), (acc, v) -> acc + v)"
    )
    scored = v.crossJoin(F.broadcast(cent)).withColumn("d2", F.expr(sqd))
    w = W.partitionBy("vec_id").orderBy("d2", "ca")
    coarse = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "e", "n2", "is_new", "ca", "ce")
    )
    bucket = _bucket_terms(
        "element_at(e, {d})", "element_at(ce, {d})"
    ).format(B="b")
    assigned = coarse.crossJoin(F.broadcast(nb)).select(
        "vec_id",
        "e",
        "n2",
        "is_new",
        (F.col("ca") * (1 << _MAX_B) + F.expr(bucket)).alias("cid"),
    )
    newb = assigned.filter("is_new").select(
        "cid", "vec_id", F.col("e").alias("ea"), F.col("n2").alias("na2")
    )
    corp = assigned.filter(~F.col("is_new")).select(
        "cid",
        F.col("vec_id").alias("cv"),
        F.col("e").alias("eb"),
        F.col("n2").alias("nb2"),
    )
    # batch-sized candidate stream; un-hinted equi-join on the cell id
    cand = newb.join(corp, "cid").select(
        "vec_id",
        "cv",
        F.expr(_DOT.format(a="ea", b="eb")).alias("dot"),
        "na2",
        "nb2",
    )
    hit = cand.groupBy("vec_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_candidates"),
        F.min(
            F.when(
                (F.col("dot") > 0)
                & (
                    F.col("dot") * F.col("dot")
                    >= F.lit(_TAU2) * (F.col("na2") * F.col("nb2"))
                ),
                F.col("cv"),
            )
        )
        .cast("long")
        .alias("dup_of"),
        F.round(
            F.max(F.col("dot") / F.sqrt(F.col("na2") * F.col("nb2")))
            * 1_000_000
        )
        .cast("long")
        .alias("max_cos_micro"),
    )
    return (
        assigned.filter("is_new")
        .select("vec_id", "cid")
        .join(hit, "vec_id", "left")
        .select(
            "vec_id",
            "cid",
            F.coalesce("n_candidates", F.lit(0).cast("long")).alias(
                "n_candidates"
            ),
            "dup_of",
            "max_cos_micro",
            F.when(F.col("dup_of").isNull(), F.lit(1))
            .otherwise(F.lit(0))
            .alias("is_kept"),
        )
        .orderBy("vec_id")
    )
