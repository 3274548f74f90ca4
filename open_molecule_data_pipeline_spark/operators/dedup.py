"""Deduplication ladder for a training-data pipeline, cheapest to richest:

1. exact        — hash-groupBy on md5(text): shuffles 16-byte keys, not
                  document bodies (at 100 TB the difference is the job).
2. MinHash+LSH  — shingle -> K minhashes -> banded buckets -> candidate
                  pairs -> exact-Jaccard verify. Candidate generation is an
                  equi-join on (band_id, band_key), so cost tracks the
                  number of *colliding* docs, never all-pairs.
3. SimHash      — 16-bit majority signature per doc (Hamming-bucketable).
4. n-gram Jaccard — exact pairwise verification within small blocks.
5. embedding cosine — near-dup by semantic similarity (see similarity.py
                  for the search-flavored variants).

Signature VALUES that appear in query output are md5 over shingles —
deterministic, engine-portable (hex-string min == lexicographic min in
both Spark and DuckDB), and entirely inside whole-stage codegen: the
per-doc signature pipeline is map-only (array lambdas, no explode, no
Python). Purely INTERNAL join/group identities (LSH band keys, the
verify stage's shingle sets) are 8-byte xxhash64 longs since r8 — ~5x
less shuffle bytes than 32-char md5 hex at identical results, because
the oracle only ever sees the doc-id pairs those keys produce.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..catalog import table
from ..registry import register
from ._util import _DOT, spread

# --------------------------------------------------------------------------
# exact dedup on content hash
# --------------------------------------------------------------------------

_EXACT_ORACLE = """
SELECT min(doc_id) AS doc_id, count(*) AS n_copies
FROM documents
GROUP BY md5(text)
"""


@register("dedup_exact", oracle=_EXACT_ORACLE, tags=("dedup",), bench=True)
def dedup_exact(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    return (
        d.groupBy(F.md5("text").alias("__h"))
        .agg(F.min("doc_id").alias("doc_id"), F.count(F.lit(1)).alias("n_copies"))
        .select("doc_id", "n_copies")
    )


# --------------------------------------------------------------------------
# MinHash signatures. Shingles = word 3-grams. The K=8 hash functions are
# the 8 disjoint 16-bit chunks of ONE md5 per shingle ("one-permutation"
# style): 8x fewer digest computations than salted per-function hashing,
# identical LSH semantics. Signature k = lexicographic min of chunk k
# (hex-string min == numeric min of the uniform hash).
# --------------------------------------------------------------------------

N_HASHES = 8
N_BANDS = 4  # 2 hashes per band

_SHINGLES_SPARK = (
    "filter(transform(sequence(0, size(toks) - 3),"
    " i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2])), s -> s is not null)"
)

_SHINGLES_DUCK = (
    "list_filter(list_transform(range(len(toks) - 2),"
    " i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]), s -> s is not null)"
)


def _sig_spark(k: int) -> str:
    return f"array_min(transform(hs, h -> substr(h, {4 * k + 1}, 4)))"


def _sig_duck(k: int) -> str:
    return f"list_min(list_transform(hs, h -> substr(h, {4 * k + 1}, 4)))"


def _minhash_sig_df(spark, sf_dir):
    d = spread(table(spark, sf_dir, "documents"), "doc_id")
    sigs = (
        d.withColumn("toks", F.split("text", " "))
        .filter(F.size("toks") >= 3)
        .withColumn("shingles", F.expr(_SHINGLES_SPARK))
        .withColumn("hs", F.expr("transform(shingles, s -> md5(s))"))
        .select(
            "doc_id",
            *[F.expr(_sig_spark(k)).alias(f"sig_{k}") for k in range(N_HASHES)],
        )
    )
    return sigs


_SIG_DUCK_CTE = f"""
  SELECT doc_id,
         {', '.join(f'{_sig_duck(k)} AS sig_{k}' for k in range(N_HASHES))}
  FROM (
    SELECT doc_id, list_transform(shingles, s -> md5(s)) AS hs
    FROM (
      SELECT doc_id, {_SHINGLES_DUCK} AS shingles
      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
      WHERE len(toks) >= 3
    ) s0
  ) s
"""

_MINHASH_SIG_ORACLE = f"""
WITH sigs AS ({_SIG_DUCK_CTE})
SELECT doc_id,
       {', '.join(f'md5(sig_{2 * b} || sig_{2 * b + 1}) AS band_{b}' for b in range(N_BANDS))}
FROM sigs
"""


@register("dedup_minhash_signature", oracle=_MINHASH_SIG_ORACLE, tags=("dedup", "minhash"))
def dedup_minhash_signature(spark, sf_dir):
    sigs = _minhash_sig_df(spark, sf_dir)
    return sigs.select(
        "doc_id",
        *[
            F.md5(F.concat(F.col(f"sig_{2 * b}"), F.col(f"sig_{2 * b + 1}"))).alias(
                f"band_{b}"
            )
            for b in range(N_BANDS)
        ],
    )


# --------------------------------------------------------------------------
# LSH candidate pairs + exact-Jaccard verification. Unpivot bands, equi-join
# on (band_id, band_key), dedupe pairs, then re-join the distinct-shingle
# sets to score Jaccard exactly.
# --------------------------------------------------------------------------

_MINHASH_PAIRS_ORACLE = f"""
WITH sigs AS ({_SIG_DUCK_CTE}),
bands AS (
  SELECT doc_id, band_id, band_key FROM (
    SELECT doc_id,
           unnest([{', '.join(str(b) for b in range(N_BANDS))}]) AS band_id,
           unnest([{', '.join(f'md5(sig_{2 * b} || sig_{2 * b + 1})' for b in range(N_BANDS))}]) AS band_key
    FROM sigs
  ) u
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
sh AS (
  SELECT doc_id, list_distinct({_SHINGLES_DUCK}) AS shingle_set
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
  WHERE len(toks) >= 3
)
SELECT c.doc_a, c.doc_b,
       round(cast(len(list_intersect(x.shingle_set, y.shingle_set)) AS DOUBLE)
             / len(list_distinct(list_concat(x.shingle_set, y.shingle_set))), 6)
         AS jaccard
FROM cand c
JOIN sh x ON x.doc_id = c.doc_a
JOIN sh y ON y.doc_id = c.doc_b
"""


@register(
    "dedup_minhash_lsh_pairs",
    oracle=_MINHASH_PAIRS_ORACLE,
    tags=("dedup", "minhash", "lsh"),
    bench=True,
)
def dedup_minhash_lsh_pairs(spark, sf_dir):
    sigs = _minhash_sig_df(spark, sf_dir)
    band_entries = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                # r8: xxhash64 band key — internal join identity, 8 bytes
                # through the band exchange instead of a 32-char hex string
                # (the SIGNATURE query keeps md5: its band keys ARE output)
                F.xxhash64(
                    F.concat(F.col(f"sig_{2 * b}"), F.col(f"sig_{2 * b + 1}"))
                ).alias("band_key"),
            )
            for b in range(N_BANDS)
        ]
    )
    bands = sigs.select("doc_id", F.explode(band_entries).alias("b")).select(
        "doc_id", "b.band_id", "b.band_key"
    )
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sh = (
        spread(table(spark, sf_dir, "documents"), "doc_id")
        .withColumn("toks", F.split("text", " "))
        .filter(F.size("toks") >= 3)
        # r8: hash shingles to xxhash64 longs before the exact-Jaccard
        # verification — intersection/union SIZES are representation-free,
        # and the per-pair array algebra compares 8-byte longs instead of
        # shingle strings (with the band-key swap: 5.2 -> 2.2s cold at
        # sf1 for the pairs query, which also feeds both CC cluster forms)
        .select(
            "doc_id",
            F.array_distinct(
                F.transform(F.expr(_SHINGLES_SPARK), lambda s: F.xxhash64(s))
            ).alias("shingle_set"),
        )
    )
    x = sh.alias("x")
    y = sh.alias("y")
    inter = F.size(F.array_intersect(F.col("x.shingle_set"), F.col("y.shingle_set")))
    union = F.size(
        F.array_distinct(F.concat(F.col("x.shingle_set"), F.col("y.shingle_set")))
    )
    return (
        cand.join(x, F.col("doc_a") == F.col("x.doc_id"))
        .join(y, F.col("doc_b") == F.col("y.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            F.round(inter.cast("double") / union, 6).alias("jaccard"),
        )
    )


# --------------------------------------------------------------------------
# SimHash: 16-bit majority signature over word hashes. The word hash is the
# first 4 hex nibbles of md5, decoded portably (strpos into a hex alphabet —
# no engine-specific hex casts). One explode + one groupBy per doc.
# --------------------------------------------------------------------------

_SIMHASH_BITS = 16

_HEXVAL_DUCK = "(strpos('0123456789abcdef', {d}) - 1)"
_HEXVAL_SPARK = "(instr('0123456789abcdef', {d}) - 1)"


def _word_hash(expr_tpl: str, hash_expr: str) -> str:
    """16-bit int from the first 4 hex chars of an md5 hex digest."""
    nibbles = [
        expr_tpl.format(d=f"substr({hash_expr}, {i + 1}, 1)") for i in range(4)
    ]
    return " + ".join(
        f"{nib} * {16 ** (3 - i)}" for i, nib in enumerate(nibbles)
    )


_SIMHASH_ORACLE = f"""
SELECT doc_id,
       cast({' + '.join(
           f"(CASE WHEN 2 * sum((wh // {1 << j}) % 2) > count(*) THEN {1 << j} ELSE 0 END)"
           for j in range(_SIMHASH_BITS)
       )} AS BIGINT) AS simhash
FROM (
  SELECT doc_id, {_word_hash(_HEXVAL_DUCK, 'h')} AS wh
  FROM (
    SELECT doc_id, md5(unnest(string_split(text, ' '))) AS h
    FROM documents
  ) t
) w
GROUP BY doc_id
"""


@register("dedup_simhash", oracle=_SIMHASH_ORACLE, tags=("dedup", "simhash"))
def dedup_simhash(spark, sf_dir):
    d = spread(table(spark, sf_dir, "documents"), "doc_id")
    words = d.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
    hashed = words.select(
        "doc_id",
        F.expr(_word_hash(_HEXVAL_SPARK, "md5(word)")).alias("wh"),
    )
    bit_cols = [
        F.when(
            2 * F.sum(F.expr(f"(wh div {1 << j}) % 2")) > F.count(F.lit(1)),
            1 << j,
        )
        .otherwise(0)
        .alias(f"b{j}")
        for j in range(_SIMHASH_BITS)
    ]
    agged = hashed.groupBy("doc_id").agg(*bit_cols)
    total = sum((F.col(f"b{j}") for j in range(1, _SIMHASH_BITS)), F.col("b0"))
    return agged.select("doc_id", total.cast("long").alias("simhash"))


# --------------------------------------------------------------------------
# exact n-gram Jaccard verification over LSH candidate pairs. Blocking on
# raw (lang, source) alone is quadratic in the block size — unbounded at
# 100 TB (VERDICT r1). The candidate generator is therefore the banded
# MinHash bucket join (same signatures as dedup_minhash_lsh_pairs)
# *restricted* to same-(lang, source) collisions: block key =
# (lang, source, band_id, band_key), whose cardinality tracks collisions,
# never raw partition sizes.
# --------------------------------------------------------------------------

_JACCARD_SIG_CTE = f"""
  SELECT doc_id, lang, source,
         {', '.join(f'{_sig_duck(k)} AS sig_{k}' for k in range(N_HASHES))}
  FROM (
    SELECT doc_id, lang, source, list_transform(shingles, s -> md5(s)) AS hs
    FROM (
      SELECT doc_id, lang, source, {_SHINGLES_DUCK} AS shingles
      FROM (SELECT doc_id, lang, source, string_split(text, ' ') AS toks FROM documents)
      WHERE len(toks) >= 3
    ) s0
  ) s
"""

_JACCARD_ORACLE = f"""
WITH sigs AS ({_JACCARD_SIG_CTE}),
bands AS (
  SELECT doc_id, lang, source, band_id, band_key FROM (
    SELECT doc_id, lang, source,
           unnest([{', '.join(str(b) for b in range(N_BANDS))}]) AS band_id,
           unnest([{', '.join(f'md5(sig_{2 * b} || sig_{2 * b + 1})' for b in range(N_BANDS))}]) AS band_key
    FROM sigs
  ) u
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.lang = b.lang AND a.source = b.source
   AND a.band_id = b.band_id AND a.band_key = b.band_key
   AND a.doc_id < b.doc_id
),
sh AS (
  SELECT doc_id, list_distinct({_SHINGLES_DUCK}) AS shingle_set
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
  WHERE len(toks) >= 3
)
SELECT doc_a, doc_b, round(jac, 6) AS jaccard
FROM (
  SELECT c.doc_a, c.doc_b,
         cast(len(list_intersect(x.shingle_set, y.shingle_set)) AS DOUBLE)
           / len(list_distinct(list_concat(x.shingle_set, y.shingle_set))) AS jac
  FROM cand c
  JOIN sh x ON x.doc_id = c.doc_a
  JOIN sh y ON y.doc_id = c.doc_b
) scored
WHERE jac >= 0.05
"""


@register("dedup_ngram_jaccard", oracle=_JACCARD_ORACLE, tags=("dedup", "jaccard"))
def dedup_ngram_jaccard(spark, sf_dir):
    d = spread(table(spark, sf_dir, "documents"), "doc_id")
    base = d.withColumn("toks", F.split("text", " ")).filter(F.size("toks") >= 3)
    sigs = (
        base.withColumn("shingles", F.expr(_SHINGLES_SPARK))
        .withColumn("hs", F.expr("transform(shingles, s -> md5(s))"))
        .select(
            "doc_id",
            "lang",
            "source",
            *[F.expr(_sig_spark(k)).alias(f"sig_{k}") for k in range(N_HASHES)],
        )
    )
    band_entries = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                # r8: xxhash64 band key — internal join identity, 8 bytes
                # through the band exchange instead of a 32-char hex string
                # (the SIGNATURE query keeps md5: its band keys ARE output)
                F.xxhash64(
                    F.concat(F.col(f"sig_{2 * b}"), F.col(f"sig_{2 * b + 1}"))
                ).alias("band_key"),
            )
            for b in range(N_BANDS)
        ]
    )
    bands = sigs.select(
        "doc_id", "lang", "source", F.explode(band_entries).alias("b")
    ).select("doc_id", "lang", "source", "b.band_id", "b.band_key")
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.source") == F.col("b.source"))
            & (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sh = base.select(
        "doc_id", F.array_distinct(F.expr(_SHINGLES_SPARK)).alias("shingle_set")
    )
    x = sh.alias("x")
    y = sh.alias("y")
    inter = F.size(F.array_intersect(F.col("x.shingle_set"), F.col("y.shingle_set")))
    union = F.size(
        F.array_distinct(F.concat(F.col("x.shingle_set"), F.col("y.shingle_set")))
    )
    jac = inter.cast("double") / union
    return (
        cand.join(x, F.col("doc_a") == F.col("x.doc_id"))
        .join(y, F.col("doc_b") == F.col("y.doc_id"))
        .filter(jac >= 0.05)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


# --------------------------------------------------------------------------
# embedding-cosine near-dup pairs over hyperplane-LSH candidates. Blocking
# by label alone is quadratic in the label's population (VERDICT r1); the
# candidate generator is a banded random-hyperplane join instead — the 8
# deterministic planes shared with similarity.py, split into 2 bands of 4
# sign bits. A pair is a candidate iff it agrees on all 4 signs of either
# band within the same label; the exact cosine (double upcast, bit-identical
# in both engines) then verifies candidates against the threshold.
# Block key (label, band_id, band_key) cardinality tracks collisions.
# --------------------------------------------------------------------------

_COS_THRESHOLD = 0.3
_EMB_BANDS = 2
_PLANES_PER_BAND = 4


def _emb_band_duck(band: int) -> str:
    from .similarity import _plane_sql_array

    return " + ".join(
        f"(CASE WHEN list_dot_product(e, {_plane_sql_array(band * _PLANES_PER_BAND + j)}) >= 0"
        f" THEN {1 << j} ELSE 0 END)"
        for j in range(_PLANES_PER_BAND)
    )


def _emb_band_col(band: int) -> F.Column:
    from .similarity import _plane_spark_array

    terms = None
    for j in range(_PLANES_PER_BAND):
        p = band * _PLANES_PER_BAND + j
        dot = F.expr(_DOT.format(a="embedding", b=_plane_spark_array(p)))
        term = F.when(dot >= 0, 1 << j).otherwise(0)
        terms = term if terms is None else terms + term
    return terms.cast("int")


def _emb_pairs_oracle() -> str:
    return f"""
WITH v AS (
  SELECT vec_id, label, list_transform(embedding, x -> cast(x AS DOUBLE)) AS e
  FROM embeddings
),
bands AS (
  SELECT vec_id, label, band_id, band_key FROM (
    SELECT vec_id, label,
           unnest([{', '.join(str(b) for b in range(_EMB_BANDS))}]) AS band_id,
           unnest([{', '.join(f'cast({_emb_band_duck(b)} AS INTEGER)' for b in range(_EMB_BANDS))}]) AS band_key
    FROM v
  ) u
),
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM bands a JOIN bands b
    ON a.label = b.label AND a.band_id = b.band_id
   AND a.band_key = b.band_key AND a.vec_id < b.vec_id
),
p AS (
  SELECT c.vec_a, c.vec_b,
         list_dot_product(x.e, y.e)
           / (sqrt(list_dot_product(x.e, x.e)) * sqrt(list_dot_product(y.e, y.e)))
           AS cos
  FROM cand c
  JOIN v x ON x.vec_id = c.vec_a
  JOIN v y ON y.vec_id = c.vec_b
)
SELECT vec_a, vec_b, round(cos, 6) AS cos
FROM p WHERE cos >= {_COS_THRESHOLD}
"""


@register(
    "dedup_embedding_cosine", oracle=_emb_pairs_oracle(), tags=("dedup", "embedding")
)
def dedup_embedding_cosine(spark, sf_dir):
    e = spread(table(spark, sf_dir, "embeddings"), "vec_id")
    band_entries = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"), _emb_band_col(b).alias("band_key")
            )
            for b in range(_EMB_BANDS)
        ]
    )
    bands = e.select("vec_id", "label", F.explode(band_entries).alias("b")).select(
        "vec_id", "label", "b.band_id", "b.band_key"
    )
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
        .distinct()
    )
    # norms precomputed per vector (not per candidate pair): the HOF folds
    # skip whole-stage codegen, and a vector can appear in many candidates.
    x = e.select(
        F.col("vec_id").alias("x_id"),
        F.col("embedding").alias("xe"),
        F.sqrt(F.expr(_DOT.format(a="embedding", b="embedding"))).alias("xn"),
    )
    y = e.select(
        F.col("vec_id").alias("y_id"),
        F.col("embedding").alias("ye"),
        F.sqrt(F.expr(_DOT.format(a="embedding", b="embedding"))).alias("yn"),
    )
    dot_xy = F.expr(_DOT.format(a="xe", b="ye"))
    cos = dot_xy / (F.col("xn") * F.col("yn"))
    return (
        cand.join(x, F.col("vec_a") == F.col("x_id"))
        .join(y, F.col("vec_b") == F.col("y_id"))
        .filter(cos >= _COS_THRESHOLD)
        .select("vec_a", "vec_b", F.round(cos, 6).alias("cos"))
    )


# --------------------------------------------------------------------------
# Asymmetric n-gram CONTAINMENT over the same MinHash-band candidates: the
# doc-in-doc detector (quotes, boilerplate wrappers, subset articles) that
# symmetric Jaccard misses — a short doc fully quoted inside a long one has
# tiny Jaccard but containment ~1 in one direction. Candidates come from
# the shared band join (cost tracks collisions, never all-pairs); the
# verify stage computes both directions with the set sizes it already
# holds. cf. the suffix-array substring dedup of Lee et al. 2022 — this is
# the gram-set relaxation of it that stays one equi-join + one set
# intersection at any scale.
# --------------------------------------------------------------------------

_CONTAIN_THRESHOLD = 0.3

_CONTAINMENT_ORACLE = f"""
WITH sigs AS ({_JACCARD_SIG_CTE}),
bands AS (
  SELECT doc_id, lang, source, band_id, band_key FROM (
    SELECT doc_id, lang, source,
           unnest([{', '.join(str(b) for b in range(N_BANDS))}]) AS band_id,
           unnest([{', '.join(f'md5(sig_{2 * b} || sig_{2 * b + 1})' for b in range(N_BANDS))}]) AS band_key
    FROM sigs
  ) u
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.lang = b.lang AND a.source = b.source
   AND a.band_id = b.band_id AND a.band_key = b.band_key
   AND a.doc_id < b.doc_id
),
sh AS (
  SELECT doc_id, list_distinct({_SHINGLES_DUCK}) AS shingle_set
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
  WHERE len(toks) >= 3
)
SELECT doc_a, doc_b,
       round(cont_a, 6) AS cont_a_in_b,
       round(cont_b, 6) AS cont_b_in_a
FROM (
  SELECT c.doc_a, c.doc_b,
         cast(len(list_intersect(x.shingle_set, y.shingle_set)) AS DOUBLE)
           / len(x.shingle_set) AS cont_a,
         cast(len(list_intersect(x.shingle_set, y.shingle_set)) AS DOUBLE)
           / len(y.shingle_set) AS cont_b
  FROM cand c
  JOIN sh x ON x.doc_id = c.doc_a
  JOIN sh y ON y.doc_id = c.doc_b
) scored
WHERE cont_a >= {_CONTAIN_THRESHOLD} OR cont_b >= {_CONTAIN_THRESHOLD}
"""


@register(
    "dedup_containment", oracle=_CONTAINMENT_ORACLE, tags=("dedup", "jaccard")
)
def dedup_containment(spark, sf_dir):
    d = spread(table(spark, sf_dir, "documents"), "doc_id")
    base = d.withColumn("toks", F.split("text", " ")).filter(F.size("toks") >= 3)
    sigs = (
        base.withColumn("shingles", F.expr(_SHINGLES_SPARK))
        .withColumn("hs", F.expr("transform(shingles, s -> md5(s))"))
        .select(
            "doc_id",
            "lang",
            "source",
            *[F.expr(_sig_spark(k)).alias(f"sig_{k}") for k in range(N_HASHES)],
        )
    )
    band_entries = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                # r8: xxhash64 band key — internal join identity, 8 bytes
                # through the band exchange instead of a 32-char hex string
                # (the SIGNATURE query keeps md5: its band keys ARE output)
                F.xxhash64(
                    F.concat(F.col(f"sig_{2 * b}"), F.col(f"sig_{2 * b + 1}"))
                ).alias("band_key"),
            )
            for b in range(N_BANDS)
        ]
    )
    bands = sigs.select(
        "doc_id", "lang", "source", F.explode(band_entries).alias("b")
    ).select("doc_id", "lang", "source", "b.band_id", "b.band_key")
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.source") == F.col("b.source"))
            & (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sh = base.select(
        "doc_id", F.array_distinct(F.expr(_SHINGLES_SPARK)).alias("shingle_set")
    )
    x = sh.alias("x")
    y = sh.alias("y")
    inter = F.size(
        F.array_intersect(F.col("x.shingle_set"), F.col("y.shingle_set"))
    ).cast("double")
    cont_a = inter / F.size(F.col("x.shingle_set"))
    cont_b = inter / F.size(F.col("y.shingle_set"))
    return (
        cand.join(x, F.col("doc_a") == F.col("x.doc_id"))
        .join(y, F.col("doc_b") == F.col("y.doc_id"))
        .filter(
            (cont_a >= _CONTAIN_THRESHOLD) | (cont_b >= _CONTAIN_THRESHOLD)
        )
        .select(
            "doc_a",
            "doc_b",
            F.round(cont_a, 6).alias("cont_a_in_b"),
            F.round(cont_b, 6).alias("cont_b_in_a"),
        )
    )


# --------------------------------------------------------------------------
# Dedup-quality self-eval: recall of the r=2/b=4 MinHash band scheme
# against EXACT ground truth at Jaccard >= 0.9, over the SAME 3-token
# shingles. Ground truth comes from the frequency-ordered prefix filter
# (segments.py's guarantee) at t=0.9 — prefixes are ~m/10 shingles, so
# the truth join is far cheaper than the t=0.5 variant; the LSH side
# reuses the band-candidate pipeline verbatim. The analytic expectation
# for this scheme is recall = 1-(1-J^2)^4 (= 0.9987 at J=0.9); the query
# REPORTS the measured value rather than asserting it, because which
# true pairs the bands miss is a deterministic function of the corpus —
# both engines derive the identical number. This is the "who watches the
# dedup" query: the ladder carries its own quality evaluation.
# --------------------------------------------------------------------------

_LSH_RECALL_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
  WHERE len(string_split(text, ' ')) >= 3
),
sh AS (
  SELECT doc_id, list_distinct({_SHINGLES_DUCK}) AS s FROM toks
),
sz AS (SELECT doc_id, cast(len(s) AS BIGINT) AS m FROM sh),
grams AS (SELECT doc_id, unnest(s) AS g FROM sh),
ov AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, cast(count(*) AS BIGINT) AS i
  FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
truth AS (
  SELECT ov.doc_a, ov.doc_b
  FROM ov JOIN sz x ON ov.doc_a = x.doc_id JOIN sz y ON ov.doc_b = y.doc_id
  WHERE 10 * ov.i >= 9 * (x.m + y.m - ov.i)
),
lsh AS ({_MINHASH_PAIRS_ORACLE}),
hits AS (
  SELECT t.doc_a FROM truth t
  JOIN lsh l ON l.doc_a = t.doc_a AND l.doc_b = t.doc_b
)
SELECT (SELECT cast(count(*) AS BIGINT) FROM truth) AS n_true,
       (SELECT cast(count(*) AS BIGINT) FROM lsh) AS n_candidates,
       (SELECT cast(count(*) AS BIGINT) FROM hits) AS n_hits,
       round((SELECT count(*) FROM hits)
             / cast(nullif((SELECT count(*) FROM truth), 0) AS DOUBLE), 6)
           AS recall
"""


@register(
    "dedup_lsh_recall_vs_exact",
    oracle=_LSH_RECALL_ORACLE,
    tags=("dedup", "minhash", "similarity"),
)
def dedup_lsh_recall_vs_exact(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    tk = F.split(F.col("text"), " ")
    gram_arr = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.size(tk) - 3),
            lambda i: F.array_join(F.slice(tk, i + 1, 3), " "),
        )
    )
    docs = (
        d.filter(F.size(tk) >= 3)
        .select("doc_id", gram_arr.alias("grams"), F.size(gram_arr).alias("m"))
        .persist()
    )
    # r16 (guide §5, the prefix-filter/_edges_cached precedent): the
    # verdict's three aggregate subtrees raced this lazy cache — the r16
    # profile showed TWELVE concurrent ~1.7 s single-task jobs all
    # re-running the same gram construction. One count barrier makes
    # every consumer a block read.
    docs.count()
    grams = docs.select("doc_id", "m", F.explode("grams").alias("g"))
    freq = grams.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    # prefix at t = 0.9: keep the first  m - ceil(9m/10) + 1  rare shingles
    prefix = (
        grams.join(freq, "g")
        .groupBy("doc_id", "m")
        .agg(
            F.array_sort(F.collect_list(F.struct("df", "g"))).alias("ordered")
        )
        .select(
            "doc_id",
            "m",
            F.explode(
                F.slice(
                    F.col("ordered"),
                    1,
                    (F.col("m") - F.ceil(F.col("m") * 9 / 10) + 1).cast("int"),
                )
            ).alias("p"),
        )
        .select("doc_id", F.col("p.g").alias("g"))
    )
    cand = (
        prefix.alias("a")
        .join(prefix.alias("b"), "g")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    sa = docs.select(F.col("doc_id").alias("doc_a"), F.col("grams").alias("ga"))
    sb = docs.select(
        F.col("doc_id").alias("doc_b"),
        F.col("grams").alias("gb"),
        F.col("m").alias("mb"),
    )
    truth = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("ga", "gb")).cast("long").alias("i"),
            (F.size("ga") + F.col("mb")).alias("msum"),
        )
        .filter(10 * F.col("i") >= 9 * (F.col("msum") - F.col("i")))
        .select("doc_a", "doc_b")
    )
    # truth and lsh are each read twice (own count + the hits join);
    # persist+count so the prefix-join and band pipelines run once
    # (the mllib *_recall parity fix, same rationale). Not unpersisted
    # here — the returned DataFrame reads these caches. Only the
    # harness sweep (``profile.sweep``) frees them between queries;
    # outside that harness they stay in the session.
    truth = truth.persist()
    lsh = dedup_minhash_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b").persist()
    truth.count(), lsh.count()
    hits = truth.join(lsh, ["doc_a", "doc_b"])
    n_true = truth.agg(F.count(F.lit(1)).alias("n_true"))
    n_cand = lsh.agg(F.count(F.lit(1)).alias("n_candidates"))
    n_hits = hits.agg(F.count(F.lit(1)).alias("n_hits"))
    return (
        n_true.crossJoin(F.broadcast(n_cand))
        .crossJoin(F.broadcast(n_hits))
        .select(
            "n_true",
            "n_candidates",
            "n_hits",
            F.round(
                F.col("n_hits")
                / F.nullif(F.col("n_true"), F.lit(0)).cast("double"),
                6,
            ).alias("recall"),
        )
    )


# --------------------------------------------------------------------------
# Per-document n-gram novelty (r10): the inverse view of the dedup
# ladder — what fraction of a document's 3-gram shingles appears in NO
# other document? High-novelty docs carry unique content; low-novelty
# docs are boilerplate/near-dup suspects even when no pair crosses the
# LSH similarity threshold (the corpus-level "how much of this doc is
# new" signal training-data curators rank on). Same shingle construction
# as the Jaccard/MinHash family (_SHINGLES_SPARK/_SHINGLES_DUCK), doc-
# DISTINCT shingles so within-doc repetition doesn't inflate either
# count. One groupBy over the shingle table (high-cardinality key) and
# one join back — no pairwise stage at all, so this is the cheapest
# member of the dedup family at scale.
# --------------------------------------------------------------------------

_NOVELTY_ORACLE = f"""
WITH base AS (
  SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, lang, unnest({_SHINGLES_DUCK}) AS s
  FROM base WHERE len(toks) >= 3
),
gc AS (
  SELECT s, cast(count(*) AS BIGINT) AS n_docs FROM sh GROUP BY s
)
SELECT sh.doc_id, sh.lang,
       cast(count(*) AS BIGINT) AS n_grams,
       cast(sum(CASE WHEN gc.n_docs = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_novel,
       round(cast(sum(CASE WHEN gc.n_docs = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / cast(count(*) AS DOUBLE), 6) AS novelty
FROM sh JOIN gc ON gc.s = sh.s
GROUP BY sh.doc_id, sh.lang
"""


@register("text_ngram_novelty", oracle=_NOVELTY_ORACLE, tags=("text", "dedup"))
def text_ngram_novelty(spark, sf_dir):
    d = spread(table(spark, sf_dir, "documents"), "doc_id")
    base = d.withColumn("toks", F.split("text", " ")).filter(F.size("toks") >= 3)
    sh = (
        base.select(
            "doc_id", "lang", F.explode(F.expr(_SHINGLES_SPARK)).alias("s")
        )
        .distinct()
    )
    gc = sh.groupBy("s").agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    return (
        sh.join(gc, "s")
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum(F.when(F.col("n_docs") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_novel"),
        )
        .select(
            "doc_id",
            "lang",
            "n_grams",
            "n_novel",
            F.round(
                F.col("n_novel").cast("double") / F.col("n_grams").cast("double"),
                6,
            ).alias("novelty"),
        )
    )
