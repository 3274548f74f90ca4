"""MLlib-backed LSH variants (MinHashLSH / BucketedRandomProjectionLSH).

The hand-rolled LSH in ``dedup.py``/``similarity.py`` is oracle-checkable;
these MLlib estimators are the library-grade alternative with
``approxSimilarityJoin``/``approxNearestNeighbors``. MLlib's internal hash
functions aren't reproducible in SQL, so raw pair listings can't be
hash-compared row-by-row; instead EVERY query here is a bounded-property
verdict, with the technique used for
``agg_approx_distinct``/``func_sample_seeded``: MLlib's output is judged
against an exact twin computed over the SAME feature space, and the query
emits (a) the exact pair count — a seed-free quantity the DuckDB oracle
recomputes independently — plus (b) containment violations (must be 0:
``approxSimilarityJoin`` filters candidates on the true key distance, so
every returned pair must lie in the exact set) and (c) a recall floor
chosen well under the measured value for the pinned seed (MinHash 0.9998+
observed, floor 0.95; BRP 0.93+ observed, floor 0.80).

The ``*_pairs`` / ``*_neighbors`` queries additionally verify the REPORTED
distances: ``distCol`` must agree with the exact per-pair distance at 6 dp
for every returned pair (``dist_viol = 0``) — both engines fold the
distance in the same dimension order, so the comparison is bit-stable.
They run at the same discriminative thresholds as the recall evals (the
original 0.5 jaccard listing matched ~74% of ALL doc pairs on this
token-dense corpus — a quadratic blow-up, not a dedup query).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..catalog import table
from ..registry import register
from ._util import spread


def _doc_vectors(spark, sf_dir):
    """Documents -> sparse vocabulary-index vectors for MinHashLSH."""
    from pyspark.ml.feature import CountVectorizer, Tokenizer

    d = spread(table(spark, sf_dir, "documents"), "doc_id").select("doc_id", "text")
    tokens = Tokenizer(inputCol="text", outputCol="words").transform(d)
    cv = CountVectorizer(
        inputCol="words", outputCol="features", binary=True, minDF=1.0
    ).fit(tokens)
    return cv.transform(tokens).select("doc_id", "features")


def _mllib_minhash_found(spark, sf_dir):
    """approxSimilarityJoin pair listing (doc_a < doc_b, 6-dp distance)."""
    from pyspark.ml.feature import MinHashLSH

    vecs = _doc_vectors(spark, sf_dir)
    model = MinHashLSH(
        inputCol="features", outputCol="hashes", numHashTables=4, seed=42
    ).fit(vecs)
    pairs = model.approxSimilarityJoin(
        vecs, vecs, _MINHASH_DIST, distCol="jaccard_dist"
    )
    return pairs.filter(
        F.col("datasetA.doc_id") < F.col("datasetB.doc_id")
    ).select(
        F.col("datasetA.doc_id").alias("doc_a"),
        F.col("datasetB.doc_id").alias("doc_b"),
        F.round("jaccard_dist", 6).alias("jaccard_dist"),
    )


# distance thresholds: MinHash jaccard-distance <= 0.1 (similarity >= 0.9)
# keeps the exact set discriminative on the token-dense corpus; BRP L2
# <= 1.2 sits at the ~0.1% quantile of the random-embedding pair distances.
_MINHASH_DIST = 0.1
_BRP_DIST = 1.2

# r16 measured and REJECTED two rewrites of this fold (the BNLJ eval
# twin's only per-pair cost, ~13.5 us/pair interpreted at d=64): (a) an
# unrolled 64-term flat expression — 2.2x SLOWER in every placement
# (interleaved min-of-3: fold 27.2 s vs flat 58.5 s per 2M pairs at
# sf0.1; 128 GetArrayItem nodes with the diff evaluated twice beat the
# HOF's tight internal loop nowhere, in or out of codegen); (b) a
# non-deterministic filter barrier to lift the distance out of the
# interpreted join condition — neutral (25.1 s), the post-join Project
# pays the same interpreted HOF. Norm/prefix pruning is unavailable:
# the embeddings are unit-norm, so every reverse-triangle/Cauchy-Schwarz
# bound passes every pair. The quadratic shape itself is the documented
# eval-harness trade (sampled slice at 100 TB — see mllib_brp_recall).
_SQDIST = (
    "aggregate(zip_with({a}, {b}, (p, q) -> (p - q) * (p - q)),"
    " cast(0 as double), (acc, v) -> acc + v)"
)


def _token_sets(spark, sf_dir):
    """Tokenizer-identical token sets (lowercase, split on single \\s)."""
    from pyspark.ml.feature import Tokenizer

    d = spread(table(spark, sf_dir, "documents"), "doc_id").select("doc_id", "text")
    return (
        Tokenizer(inputCol="text", outputCol="words")
        .transform(d)
        .select("doc_id", F.array_distinct("words").alias("toks"))
    )


def _exact_minhash_pairs(spark, sf_dir):
    """Exact token-Jaccard pairs with distance <= threshold, via token
    equi-join (shared-count / sizes) — scale-safe candidate generation, and
    the same ``1 - c/u <= d`` expression order as MLlib's keyDistance so the
    float boundary cannot disagree."""
    words = _token_sets(spark, sf_dir)
    sizes = words.select("doc_id", F.size("toks").alias("n"))
    t = words.select("doc_id", F.explode("toks").alias("tok"))
    shared = (
        t.alias("x")
        .join(
            t.alias("y"),
            (F.col("x.tok") == F.col("y.tok"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .groupBy(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    dist = F.lit(1.0) - F.col("c") / (
        F.col("na") + F.col("nb") - F.col("c")
    ).cast("double")
    return (
        shared.join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb")),
            "doc_b",
        )
        .filter(dist <= _MINHASH_DIST)
        .select("doc_a", "doc_b", dist.alias("ex_dist"))
    )


_MINHASH_EXACT_CTE = rf"""
WITH toks AS (
  SELECT doc_id, unnest(list_distinct(string_split_regex(lower(text), '\s'))) AS tok
  FROM documents
),
sizes AS (SELECT doc_id, count(*) AS n FROM toks GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
  FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
exact AS (
  SELECT doc_a, doc_b FROM shared
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE 1.0 - c / cast(sa.n + sb.n - c AS DOUBLE) <= {_MINHASH_DIST}
)"""

_MINHASH_RECALL_ORACLE = f"""{_MINHASH_EXACT_CTE}
SELECT cast(count(*) AS BIGINT) AS n_exact,
       cast(0 AS BIGINT) AS containment_viol,
       true AS recall_ok
FROM exact
"""


@register(
    "mllib_minhash_recall",
    oracle=_MINHASH_RECALL_ORACLE,
    tags=("dedup", "mllib", "eval"),
)
def mllib_minhash_recall(spark, sf_dir):
    from pyspark.ml.feature import MinHashLSH

    vecs = _doc_vectors(spark, sf_dir)
    model = MinHashLSH(
        inputCol="features", outputCol="hashes", numHashTables=4, seed=42
    ).fit(vecs)
    found = (
        model.approxSimilarityJoin(vecs, vecs, _MINHASH_DIST, distCol="d")
        .filter(F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
        .select(
            F.col("datasetA.doc_id").alias("doc_a"),
            F.col("datasetB.doc_id").alias("doc_b"),
        )
        .persist()
    )
    exact = _exact_minhash_pairs(spark, sf_dir).persist()
    # r16: the verdict references found/exact twice each (own count + the
    # hit join); unpersisted, the LSH self-join and the exact token twin
    # each ran TWICE (profile: three concurrent 12-25 s jobs contending
    # for the same cores). Same persist+count parity as the _pairs
    # sibling below. These caches are deliberately not unpersisted in
    # the operator (the returned DataFrame reads them). Only the harness
    # sweep (``profile.sweep``) frees them between queries; outside that
    # harness they stay in the session.
    found.count(), exact.count()
    hit = found.join(exact, ["doc_a", "doc_b"]).select(F.lit(1).alias("one"))
    stats = (
        exact.agg(F.count(F.lit(1)).alias("n_exact"))
        .crossJoin(found.agg(F.count(F.lit(1)).alias("n_found")))
        .crossJoin(hit.agg(F.count(F.lit(1)).alias("n_hit")))
    )
    return stats.select(
        F.col("n_exact").cast("long").alias("n_exact"),
        (F.col("n_found") - F.col("n_hit")).cast("long").alias("containment_viol"),
        (F.col("n_hit") >= F.lit(0.95) * F.col("n_exact")).alias("recall_ok"),
    )


_MINHASH_PAIRS_VERDICT_ORACLE = f"""{_MINHASH_EXACT_CTE}
SELECT cast(count(*) AS BIGINT) AS n_exact,
       cast(0 AS BIGINT) AS containment_viol,
       cast(0 AS BIGINT) AS dist_viol,
       true AS recall_ok
FROM exact
"""


@register(
    "mllib_minhash_pairs",
    oracle=_MINHASH_PAIRS_VERDICT_ORACLE,
    tags=("dedup", "mllib", "similarity", "ml"),
)
def mllib_minhash_pairs(spark, sf_dir):
    """MinHashLSH pair listing, judged (VERDICT r4 #6 — previously a
    rows-only listing): every returned pair must be in the exact
    token-Jaccard set (containment), every REPORTED ``jaccard_dist`` must
    equal the exact ``1 - c/u`` at 6 dp for that pair (distance
    agreement), and recall must clear the floor. MLlib's keyDistance
    computes the same ``1.0 - intersect/union`` double expression as the
    twin, so agreement is bit-stable and the verdict row deterministic."""
    # the verdict references each subtree twice (its own count + the hit
    # join); persist + count materializes the expensive LSH / token joins
    # once instead of per reference, and — unlike localCheckpoint — keeps
    # the lineage so a lost executor recomputes instead of failing the
    # query (cache freed by clearCache()/ContextCleaner)
    found = _mllib_minhash_found(spark, sf_dir).persist()
    exact = _exact_minhash_pairs(spark, sf_dir).persist()
    found.count(), exact.count()
    hit = found.join(exact, ["doc_a", "doc_b"]).select(
        (F.col("jaccard_dist") != F.round("ex_dist", 6)).alias("bad_dist")
    )
    stats = (
        exact.agg(F.count(F.lit(1)).alias("n_exact"))
        .crossJoin(found.agg(F.count(F.lit(1)).alias("n_found")))
        .crossJoin(
            hit.agg(
                F.count(F.lit(1)).alias("n_hit"),
                F.sum(F.col("bad_dist").cast("long")).alias("n_bad_dist"),
            )
        )
    )
    return stats.select(
        F.col("n_exact").cast("long").alias("n_exact"),
        (F.col("n_found") - F.col("n_hit")).cast("long").alias("containment_viol"),
        F.coalesce(F.col("n_bad_dist"), F.lit(0)).cast("long").alias("dist_viol"),
        (F.col("n_hit") >= F.lit(0.95) * F.col("n_exact")).alias("recall_ok"),
    )


_BRP_EXACT_CTE = f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> cast(x AS DOUBLE)) AS e
  FROM embeddings
),
exact AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM v a JOIN v b ON a.vec_id < b.vec_id
  WHERE sqrt(list_aggregate(
          list_transform(list_zip(a.e, b.e), p -> (p[1] - p[2]) * (p[1] - p[2])),
          'sum')) <= {_BRP_DIST}
)"""

_BRP_RECALL_ORACLE = f"""{_BRP_EXACT_CTE}
SELECT cast(count(*) AS BIGINT) AS n_exact,
       cast(0 AS BIGINT) AS containment_viol,
       true AS recall_ok
FROM exact
"""


@register(
    "mllib_brp_recall",
    oracle=_BRP_RECALL_ORACLE,
    tags=("similarity", "mllib", "eval"),
)
def mllib_brp_recall(spark, sf_dir):
    """BRP-LSH vs brute-force L2 ground truth.

    The exact twin is a broadcast nested-loop over the (small) embedding
    set — the eval harness, not the scale path; at 100 TB the ground truth
    comes from the IVF/native-LSH ladder and this query's shape is run on a
    sampled slice. The squared-distance fold is a fixed-order per-row
    reduction, bit-identical across Spark, MLlib's sqdist loop and DuckDB's
    list_aggregate — so the `<= 1.2` boundary cannot flip cross-engine.
    """
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("arr")
    )
    ev = e.select("vec_id", array_to_vector("arr").alias("features"))
    model = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=0.5,
        numHashTables=3,
        seed=42,
    ).fit(ev)
    found = (
        model.approxSimilarityJoin(ev, ev, _BRP_DIST, distCol="d")
        .filter(F.col("datasetA.vec_id") < F.col("datasetB.vec_id"))
        .select(
            F.col("datasetA.vec_id").alias("vec_a"),
            F.col("datasetB.vec_id").alias("vec_b"),
        )
        .persist()
    )
    right = e.select(F.col("vec_id").alias("vec_b"), F.col("arr").alias("y"))
    exact = (
        e.select(F.col("vec_id").alias("vec_a"), F.col("arr").alias("x"))
        .join(F.broadcast(right), F.col("vec_a") < F.col("vec_b"))
        .filter(F.sqrt(F.expr(_SQDIST.format(a="x", b="y"))) <= _BRP_DIST)
        .select("vec_a", "vec_b")
        .persist()
    )
    # r16: persist+count parity with mllib_brp_neighbors below — the
    # verdict reads found/exact twice each; unpersisted, the n²-pair
    # exact twin and the LSH join each ran TWICE.
    found.count(), exact.count()
    hit = found.join(exact, ["vec_a", "vec_b"]).select(F.lit(1).alias("one"))
    stats = (
        exact.agg(F.count(F.lit(1)).alias("n_exact"))
        .crossJoin(found.agg(F.count(F.lit(1)).alias("n_found")))
        .crossJoin(hit.agg(F.count(F.lit(1)).alias("n_hit")))
    )
    return stats.select(
        F.col("n_exact").cast("long").alias("n_exact"),
        (F.col("n_found") - F.col("n_hit")).cast("long").alias("containment_viol"),
        (F.col("n_hit") >= F.lit(0.80) * F.col("n_exact")).alias("recall_ok"),
    )


_BRP_NEIGHBORS_VERDICT_ORACLE = f"""{_BRP_EXACT_CTE}
SELECT cast(count(*) AS BIGINT) AS n_exact,
       cast(0 AS BIGINT) AS containment_viol,
       cast(0 AS BIGINT) AS dist_viol,
       true AS recall_ok
FROM exact
"""


@register(
    "mllib_brp_neighbors",
    oracle=_BRP_NEIGHBORS_VERDICT_ORACLE,
    tags=("similarity", "mllib", "ml"),
)
def mllib_brp_neighbors(spark, sf_dir):
    """BucketedRandomProjectionLSH pair listing, judged (VERDICT r4 #6 —
    previously a rows-only listing): containment in the exact L2 set,
    agreement of the REPORTED ``euclid_dist`` with the exact fixed-order
    sqrt-of-squared-sum at 6 dp per pair, and the recall floor."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("arr")
    )
    ev = e.select("vec_id", array_to_vector("arr").alias("features"))
    model = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=0.5,
        numHashTables=3,
        seed=42,
    ).fit(ev)
    found = (
        model.approxSimilarityJoin(ev, ev, _BRP_DIST, distCol="euclid_dist")
        .filter(F.col("datasetA.vec_id") < F.col("datasetB.vec_id"))
        .select(
            F.col("datasetA.vec_id").alias("vec_a"),
            F.col("datasetB.vec_id").alias("vec_b"),
            F.round("euclid_dist", 6).alias("euclid_dist"),
        )
        .persist()  # referenced twice below: count + hit join
    )
    right = e.select(F.col("vec_id").alias("vec_b"), F.col("arr").alias("y"))
    exact = (
        e.select(F.col("vec_id").alias("vec_a"), F.col("arr").alias("x"))
        .join(F.broadcast(right), F.col("vec_a") < F.col("vec_b"))
        .filter(F.sqrt(F.expr(_SQDIST.format(a="x", b="y"))) <= _BRP_DIST)
        .select(
            "vec_a",
            "vec_b",
            F.sqrt(F.expr(_SQDIST.format(a="x", b="y"))).alias("ex_dist"),
        )
        .persist()  # referenced twice below: count + hit join
    )
    found.count(), exact.count()  # materialize once, lineage retained
    hit = found.join(exact, ["vec_a", "vec_b"]).select(
        (F.col("euclid_dist") != F.round("ex_dist", 6)).alias("bad_dist")
    )
    stats = (
        exact.agg(F.count(F.lit(1)).alias("n_exact"))
        .crossJoin(found.agg(F.count(F.lit(1)).alias("n_found")))
        .crossJoin(
            hit.agg(
                F.count(F.lit(1)).alias("n_hit"),
                F.sum(F.col("bad_dist").cast("long")).alias("n_bad_dist"),
            )
        )
    )
    return stats.select(
        F.col("n_exact").cast("long").alias("n_exact"),
        (F.col("n_found") - F.col("n_hit")).cast("long").alias("containment_viol"),
        F.coalesce(F.col("n_bad_dist"), F.lit(0)).cast("long").alias("dist_viol"),
        (F.col("n_hit") >= F.lit(0.80) * F.col("n_exact")).alias("recall_ok"),
    )
