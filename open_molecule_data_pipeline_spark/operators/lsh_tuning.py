"""LSH band-scheme tuning report (r13): the design study behind every
banded-MinHash deployment — for each way of splitting the K = 8 minhash
signatures into b bands of r rows (r*b = 8), measure what the scheme
actually RETRIEVES on this corpus (candidate count, mean true Jaccard
of candidates) next to its theoretical S-curve threshold
s* = (1/b)^(1/r), the similarity where collision probability crosses
1/2-ish. Sweeping r trades recall for precision: r = 1 unions the
hashes (high recall, junk candidates), r = 8 requires identical full
signatures (near-exact). This is the table a dedup pipeline owner reads
before picking a band scheme; the production r = 2, b = 4 choice of
dedup_minhash_lsh_pairs sits in the middle of it.

Exactness: thresholds are injected as PYTHON-computed integer literals
(identical constants on both engines, no cross-libm pow); candidate
Jaccards are micro-quantized per pair before the integer mean (the
lsum playbook). Shape: signatures are computed ONCE (one corpus pass);
each scheme's candidate build is a band-key self-join on the signature
table; the true-Jaccard verification joins shingle sets only for
retrieved candidates (never all pairs) — all bounded by the candidate
counts this report exists to measure.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..catalog import table
from ..registry import register
from ._util import local_df, spread
from .dedup import _SHINGLES_DUCK, _SHINGLES_SPARK, _SIG_DUCK_CTE, _minhash_sig_df

_SCHEMES = ((1, 8), (2, 4), (4, 2), (8, 1))  # (r rows, b bands), r*b = 8

# S-curve thresholds (1/b)^(1/r), micro-quantized in PYTHON so both
# engines share the exact same literal
_THRESH = {(r, b): round((1.0 / b) ** (1.0 / r) * 1_000_000) for r, b in _SCHEMES}


def _lsh_tuning_oracle() -> str:
    cands = []
    for r, b in _SCHEMES:
        keys = ", ".join(
            "md5(" + " || ".join(f"sig_{i * r + k}" for k in range(r)) + f") AS bk_{i}"
            for i in range(b)
        )
        unions = " UNION ALL ".join(
            f"SELECT doc_id, {i} AS band_id, bk_{i} AS band_key FROM keyed_{r}_{b}"
            for i in range(b)
        )
        cands.append(f"""
keyed_{r}_{b} AS (SELECT doc_id, {keys} FROM sigs),
bands_{r}_{b} AS ({unions}),
cand_{r}_{b} AS (
  SELECT DISTINCT {r} AS r, {b} AS b, a.doc_id AS doc_a, x.doc_id AS doc_b
  FROM bands_{r}_{b} a JOIN bands_{r}_{b} x
    ON a.band_id = x.band_id AND a.band_key = x.band_key
   AND a.doc_id < x.doc_id
)""")
    all_cand = " UNION ALL ".join(
        f"SELECT * FROM cand_{r}_{b}" for r, b in _SCHEMES
    )
    scheme_rows = ", ".join(
        f"({r}, {b}, {_THRESH[(r, b)]})" for r, b in _SCHEMES
    )
    return f"""
WITH sigs AS ({_SIG_DUCK_CTE}),
{','.join(c.strip() for c in cands)},
allc AS ({all_cand}),
sh AS (
  SELECT doc_id, list_distinct({_SHINGLES_DUCK}) AS shingle_set
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
  WHERE len(toks) >= 3
),
jp AS (
  SELECT c.r, c.b,
         cast(round(cast(len(list_intersect(x.shingle_set, y.shingle_set))
                         AS DOUBLE)
              / len(list_distinct(list_concat(x.shingle_set, y.shingle_set)))
              * 1000000) AS BIGINT) AS j6
  FROM allc c
  JOIN sh x ON x.doc_id = c.doc_a
  JOIN sh y ON y.doc_id = c.doc_b
),
agg AS (
  SELECT r, b, cast(count(*) AS BIGINT) AS n_candidates,
         cast(sum(j6) // count(*) AS BIGINT) AS mean_jaccard_ppm
  FROM jp GROUP BY r, b
)
SELECT s.r, s.b, s.threshold_ppm,
       coalesce(a.n_candidates, 0) AS n_candidates,
       a.mean_jaccard_ppm
FROM (VALUES {scheme_rows}) s(r, b, threshold_ppm)
LEFT JOIN agg a ON a.r = s.r AND a.b = s.b
"""


@register(
    "text_lsh_band_tuning",
    oracle=_lsh_tuning_oracle(),
    tags=("text", "dedup", "training"),
)
def text_lsh_band_tuning(spark, sf_dir):
    """Candidate count + mean true Jaccard per (r, b) band scheme over
    the shared K=8 minhash signatures, beside the S-curve threshold."""
    sigs = _minhash_sig_df(spark, sf_dir).localCheckpoint(eager=True)
    cands = []
    for r, b in _SCHEMES:
        band_entries = F.array(
            *[
                F.struct(
                    F.lit(i).alias("band_id"),
                    F.xxhash64(
                        F.concat(*[F.col(f"sig_{i * r + k}") for k in range(r)])
                    ).alias("band_key"),
                )
                for i in range(b)
            ]
        )
        bands = sigs.select("doc_id", F.explode(band_entries).alias("e")).select(
            "doc_id", "e.band_id", "e.band_key"
        )
        a_, b_ = bands.alias("a"), bands.alias("b")
        cands.append(
            a_.join(
                b_,
                (F.col("a.band_id") == F.col("b.band_id"))
                & (F.col("a.band_key") == F.col("b.band_key"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(
                F.lit(r).alias("r"),
                F.lit(b).alias("b"),
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
            )
            .distinct()
        )
    allc = cands[0]
    for c in cands[1:]:
        allc = allc.unionByName(c)
    # r17: persisted + counted — the true-Jaccard join reads this table
    # from TWO subtrees (x and y) under one action, and uncached each
    # re-ran the whole scan→split→shingle→hash pipeline (the
    # dedup_prefix_filter_join / _edges_cached precedent; at cluster
    # scale each re-run is a corpus scan).
    sh = (
        spread(table(spark, sf_dir, "documents"), "doc_id")
        .withColumn("toks", F.split("text", " "))
        .filter(F.size("toks") >= 3)
        .select(
            "doc_id",
            F.array_distinct(
                F.transform(F.expr(_SHINGLES_SPARK), lambda s: F.xxhash64(s))
            ).alias("shingle_set"),
        )
        .persist()
    )
    sh.count()
    x, y = sh.alias("x"), sh.alias("y")
    inter = F.size(F.array_intersect(F.col("x.shingle_set"), F.col("y.shingle_set")))
    union = F.size(
        F.array_distinct(F.concat(F.col("x.shingle_set"), F.col("y.shingle_set")))
    )
    jp = (
        allc.join(x, F.col("doc_a") == F.col("x.doc_id"))
        .join(y, F.col("doc_b") == F.col("y.doc_id"))
        .select(
            "r",
            "b",
            F.round(inter.cast("double") / union * 1_000_000)
            .cast("long")
            .alias("j6"),
        )
    )
    agg = jp.groupBy("r", "b").agg(
        F.count(F.lit(1)).cast("long").alias("n_candidates"),
        F.expr("sum(j6) div count(1)").cast("long").alias("mean_jaccard_ppm"),
    )
    schemes = local_df(
        spark,
        [(r, b, _THRESH[(r, b)]) for r, b in _SCHEMES],
        "r int, b int, threshold_ppm long",
    )
    return (
        schemes.join(F.broadcast(agg), ["r", "b"], "left")
        .select(
            "r",
            "b",
            "threshold_ppm",
            F.coalesce(F.col("n_candidates"), F.lit(0))
            .cast("long")
            .alias("n_candidates"),
            "mean_jaccard_ppm",
        )
    )
