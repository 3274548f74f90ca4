"""Cross-modal alignment gate (VERDICT r14 #5) — the LAION shape.

A paired image/text corpus is kept or dropped by the cosine between the
two modalities' embeddings (CLIP-score filtering, Schuhmann et al. 2021):
score every PAIR (never all-pairs — a pair-keyed 1:1 equi-join), gate on
a threshold, and report per-slice calibration stats so a curator can see
whether one shard/source systematically under-aligns.

Fixture pairing: embedding 2p is the text vector and 2p+1 its paired
image vector (the consecutive-pair convention of the renc-dedup twins);
slice = pair_id % 8 stands in for the source shard. The GATE decision is
sqrt-free (``dot > 0 AND dot^2 >= tau^2 * (|x|^2 * |y|^2)`` — identical
parenthesization to semdedup.py, so it rides on mul/add determinism
only); sqrt/division appear solely in per-pair micro-quantized
diagnostics, which are then summed as exact int64 (the lsum playbook)
and averaged with the truncated-division mirror.

Reference parity: the reference repo has no similarity/multimodal layer
(analysis/__init__.py:1 is a docstring-only scaffold).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..catalog import table
from ..registry import register
from ._util import _DOT, spread
from .semdedup import _DOT_DUCK, _TAU2

_N_SLICES = 8


_XMODAL_ORACLE = f"""
WITH v AS (
  SELECT vec_id, embedding AS e,
         {_DOT_DUCK.format(a="embedding", b="embedding")} AS n2
  FROM embeddings
),
pairs AS (
  SELECT a.vec_id // 2 AS pid,
         {_DOT_DUCK.format(a="a.e", b="b.e")} AS dot,
         a.n2 AS na2, b.n2 AS nb2
  FROM v a JOIN v b ON b.vec_id = a.vec_id + 1
  WHERE a.vec_id % 2 = 0
),
scored AS (
  SELECT pid % {_N_SLICES} AS slice,
         CASE WHEN dot > 0 AND dot * dot >= {_TAU2} * (na2 * nb2)
              THEN 1 ELSE 0 END AS aligned,
         cast(round(dot / sqrt(na2 * nb2) * 1000000) AS BIGINT) AS cos_micro
  FROM pairs
),
agg AS (
  SELECT slice,
         cast(count(*) AS BIGINT) AS n_pairs,
         cast(sum(aligned) AS BIGINT) AS n_aligned,
         cast(sum(cos_micro) AS BIGINT) AS s,
         cast(min(cos_micro) AS BIGINT) AS min_cos_micro,
         cast(max(cos_micro) AS BIGINT) AS max_cos_micro
  FROM scored GROUP BY slice
)
SELECT slice, n_pairs, n_aligned,
       n_aligned * 1000000 // n_pairs AS align_rate_ppm,
       CASE WHEN s < 0 THEN -((-s) // n_pairs) ELSE s // n_pairs END
         AS mean_cos_micro,
       min_cos_micro, max_cos_micro
FROM agg
ORDER BY slice
"""


@register(
    "sim_crossmodal_alignment",
    oracle=_XMODAL_ORACLE,
    tags=("similarity", "multimodal", "embedding", "filter"),
)
def sim_crossmodal_alignment(spark, sf_dir):
    """Per-slice CLIP-score calibration report: pair count, pairs
    passing the sqrt-free cosine gate, alignment rate (ppm), and exact
    int64-quantized mean/min/max pair cosine."""
    v = spread(table(spark, sf_dir, "embeddings"), "vec_id").select(
        "vec_id",
        F.col("embedding").alias("e"),
        F.expr(_DOT.format(a="embedding", b="embedding")).alias("n2"),
    )
    a = v.filter(F.col("vec_id") % 2 == 0).select(
        (F.col("vec_id") + 1).alias("vb"),
        F.expr("vec_id div 2").alias("pid"),
        F.col("e").alias("ea"),
        F.col("n2").alias("na2"),
    )
    b = v.select(
        F.col("vec_id").alias("vb"),
        F.col("e").alias("eb"),
        F.col("n2").alias("nb2"),
    )
    pairs = a.join(b, "vb").select(
        "pid",
        F.expr(_DOT.format(a="ea", b="eb")).alias("dot"),
        "na2",
        "nb2",
    )
    scored = pairs.select(
        (F.col("pid") % _N_SLICES).alias("slice"),
        F.when(
            (F.col("dot") > 0)
            & (
                F.col("dot") * F.col("dot")
                >= F.lit(_TAU2) * (F.col("na2") * F.col("nb2"))
            ),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("aligned"),
        F.round(
            F.col("dot") / F.sqrt(F.col("na2") * F.col("nb2")) * 1_000_000
        )
        .cast("long")
        .alias("cos_micro"),
    )
    agg = scored.groupBy("slice").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum("aligned").cast("long").alias("n_aligned"),
        F.sum("cos_micro").cast("long").alias("s"),
        F.min("cos_micro").cast("long").alias("min_cos_micro"),
        F.max("cos_micro").cast("long").alias("max_cos_micro"),
    )
    # truncated-division mirror of DuckDB's floor division on the
    # (possibly negative) exact micro sum: -s is positive there, where
    # floor and truncation agree
    mean_cos = F.expr(
        "CASE WHEN s < 0 THEN -((-s) div n_pairs) ELSE s div n_pairs END"
    ).alias("mean_cos_micro")
    return agg.select(
        "slice",
        "n_pairs",
        "n_aligned",
        F.expr("(n_aligned * 1000000) div n_pairs").alias("align_rate_ppm"),
        mean_cos,
        "min_cos_micro",
        "max_cos_micro",
    ).orderBy("slice")
