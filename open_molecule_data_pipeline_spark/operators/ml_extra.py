"""ML-adjacent DataFrame operators over the embeddings/documents tables:
a deterministic k-means assignment step, per-label embedding centroids, a
BPE-ish regex tokenizer, and grouping()-labelled rollups.

All JVM-side (higher-order array lambdas, posexplode, regexp_extract_all).
Cross-engine determinism: float→double upcast BEFORE arithmetic, per-row
array folds run in element order in both engines (bit-identical squared
distances), cross-row double averages rounded to 6 digits.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..catalog import table
from ..registry import register
from ._util import spread

N_CLUSTERS = 8  # centroids = embeddings with vec_id < N_CLUSTERS

# --------------------------------------------------------------------------
# One Lloyd (k-means) assignment step with deterministic seed centroids.
# Squared-L2 per pair is a fixed-order fold over 64 elements — bit-identical
# in both engines, so the argmin needs no rounding; only the cross-row avg
# is rounded. The centroid side is N_CLUSTERS rows → broadcast; the full
# iteration loop (assign → recompute → repeat) reuses this exact plan per
# round with updated centroid literals, shuffle-free on the corpus side.
# --------------------------------------------------------------------------

_SQDIST = (
    "aggregate(zip_with({a}, {b},"
    " (x, y) -> (cast(x as double) - cast(y as double))"
    " * (cast(x as double) - cast(y as double))),"
    " cast(0 as double), (acc, v) -> acc + v)"
)

_KMEANS_ORACLE = f"""
WITH v AS (
  SELECT vec_id, embedding AS e FROM embeddings
), cent AS (
  SELECT vec_id AS cid, e AS ce FROM v WHERE vec_id < {N_CLUSTERS}
), scored AS (
  SELECT v.vec_id, cent.cid,
         list_aggregate(
           list_transform(list_zip(v.e, cent.ce),
             p -> (cast(p[1] AS DOUBLE) - cast(p[2] AS DOUBLE))
                  * (cast(p[1] AS DOUBLE) - cast(p[2] AS DOUBLE))),
           'sum') AS d2
  FROM v, cent
), assigned AS (
  SELECT vec_id, cid, d2,
         row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
  FROM scored
)
SELECT cid, cast(count(*) AS BIGINT) AS n_members,
       round(avg(d2), 6) AS avg_sqdist
FROM assigned WHERE rn = 1
GROUP BY cid
"""


@register("ml_kmeans_assign", oracle=_KMEANS_ORACLE, tags=("ml", "similarity"), bench=True)
def ml_kmeans_assign(spark, sf_dir):
    v = spread(table(spark, sf_dir, "embeddings"), "vec_id").select(
        "vec_id", F.col("embedding").alias("e")
    )
    cent = v.filter(F.col("vec_id") < N_CLUSTERS).select(
        F.col("vec_id").alias("cid"), F.col("e").alias("ce")
    )
    scored = v.crossJoin(F.broadcast(cent)).withColumn(
        "d2", F.expr(_SQDIST.format(a="e", b="ce"))
    )
    w = W.partitionBy("vec_id").orderBy("d2", "cid")
    assigned = scored.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") == 1
    )
    return assigned.groupBy("cid").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.round(F.avg("d2"), 6).alias("avg_sqdist"),
    )


# --------------------------------------------------------------------------
# Per-label embedding centroid (first 8 dims): posexplode + per-(label,pos)
# average — the embedding-aggregation building block for class prototypes /
# IVF coarse-quantizer retraining. Map-side partial avg keeps the shuffle
# at |labels| x dims rows regardless of corpus size.
# --------------------------------------------------------------------------

_CENTROID_DIMS = 8

_CENTROID_ORACLE = f"""
SELECT label, cast(i AS INTEGER) AS pos,
       cast(count(*) AS BIGINT) AS n,
       round(avg(cast(embedding[i + 1] AS DOUBLE)), 6) AS avg_val
FROM '__embeddings__' AS e, unnest(range({_CENTROID_DIMS})) AS t(i)
GROUP BY label, i
""".replace("'__embeddings__'", "embeddings")


@register("ml_embedding_centroid_per_label", oracle=_CENTROID_ORACLE, tags=("ml", "agg"))
def ml_embedding_centroid_per_label(spark, sf_dir):
    e = table(spark, sf_dir, "embeddings")
    return (
        e.select(
            "label",
            F.posexplode(F.slice("embedding", 1, _CENTROID_DIMS)).alias(
                "pos", "val"
            ),
        )
        .groupBy("label", "pos")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg(F.col("val").cast("double")), 6).alias("avg_val"),
        )
    )


# --------------------------------------------------------------------------
# BPE-ish regex tokenizer: split documents into word / number / other-symbol
# token classes (character-class-only patterns — identical under Java regex
# and RE2) plus the chars/4 LLM token estimate. Pure codegen string ops.
# --------------------------------------------------------------------------

_TOKENIZE_ORACLE = """
SELECT doc_id,
       cast(len(regexp_extract_all(text, '[A-Za-z]+')) AS INTEGER) AS n_word,
       cast(len(regexp_extract_all(text, '[0-9]+')) AS INTEGER) AS n_num,
       cast(len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) AS INTEGER) AS n_sym,
       cast(ceil(n_chars / 4.0) AS BIGINT) AS est_bpe_tokens
FROM documents
"""


@register("text_regex_tokenize", oracle=_TOKENIZE_ORACLE, tags=("text", "training"))
def text_regex_tokenize(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    # idx=0 = whole match; Spark's default idx=1 would need a capture group
    n = lambda pat: F.size(F.regexp_extract_all("text", F.lit(pat), 0))
    return d.select(
        "doc_id",
        n("[A-Za-z]+").alias("n_word"),
        n("[0-9]+").alias("n_num"),
        n("[^A-Za-z0-9 ]").alias("n_sym"),
        F.ceil(F.col("n_chars") / 4.0).cast("long").alias("est_bpe_tokens"),
    )


# --------------------------------------------------------------------------
# ROLLUP with grouping() labels: subtotal rows are tagged explicitly rather
# than by nullness, disambiguating genuine NULL keys from rollup NULLs.
# --------------------------------------------------------------------------

_GROUPING_ID_ORACLE = """
SELECT coalesce(o_orderstatus, 'ALL') AS status,
       coalesce(o_orderpriority, 'ALL') AS priority,
       cast(grouping(o_orderstatus) AS INTEGER) AS g_status,
       cast(grouping(o_orderpriority) AS INTEGER) AS g_priority,
       cast(count(*) AS BIGINT) AS n
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
"""


@register("agg_grouping_id_rollup", oracle=_GROUPING_ID_ORACLE, tags=("agg", "grouping-sets"))
def agg_grouping_id_rollup(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.grouping("o_orderstatus").cast("int").alias("g_status"),
        F.grouping("o_orderpriority").cast("int").alias("g_priority"),
        F.count(F.lit(1)).alias("n"),
    ).select(
        F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
        F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
        "g_status",
        "g_priority",
        "n",
    )


# --------------------------------------------------------------------------
# Multivariate OLS via normal equations — the distributed closed-form
# training step (price ~ b0 + b1*quantity + b2*discount, per returnflag).
# The entire fit is ONE aggregation pass: the nine X'X / X'y moment sums
# are map-side-combinable, so at 100 TB the shuffle carries 9 numbers per
# group, never rows. Every cross-row sum is an EXACT scaled int64
# (quantity integral; discount/price 2 dp -> x100), so both engines see
# bit-identical moments; the 3x3 Cramer solve then runs textually
# identical double arithmetic on both sides -> round(6) is stable.
# (int64 headroom: |sum(d100*p100)| < 1e9/row -> safe beyond sf100.)
# --------------------------------------------------------------------------

_OLS_SOLVE = """
round((Sy * (Sqq * Sdd - Sqd * Sqd) - Sq * (Sqy * Sdd - Sqd * Sdy)
       + Sd * (Sqy * Sqd - Sqq * Sdy)) / detA, 6) AS b0,
round((n * (Sqy * Sdd - Sdy * Sqd) - Sy * (Sq * Sdd - Sqd * Sd)
       + Sd * (Sq * Sdy - Sqy * Sd)) / detA, 6) AS b1,
round((n * (Sqq * Sdy - Sqd * Sqy) - Sq * (Sq * Sdy - Sqy * Sd)
       + Sy * (Sq * Sqd - Sqq * Sd)) / detA, 6) AS b2
"""

_OLS_ORACLE = f"""
WITH m AS (
  SELECT l_returnflag,
         cast(count(*) AS BIGINT) AS n,
         sum(cast(l_quantity AS DECIMAL(38,0))) AS q1,
         sum(cast(round(l_discount * 100) AS DECIMAL(38,0))) AS d100,
         sum(cast(round(l_extendedprice * 100) AS DECIMAL(38,0))) AS p100,
         sum(cast(cast(l_quantity AS BIGINT) * cast(l_quantity AS BIGINT)
             AS DECIMAL(38,0))) AS qq,
         sum(cast(cast(round(l_discount * 100) AS BIGINT)
             * cast(round(l_discount * 100) AS BIGINT)
             AS DECIMAL(38,0))) AS dd,
         sum(cast(cast(l_quantity AS BIGINT)
             * cast(round(l_discount * 100) AS BIGINT)
             AS DECIMAL(38,0))) AS qd,
         sum(cast(cast(l_quantity AS BIGINT)
             * cast(round(l_extendedprice * 100) AS BIGINT)
             AS DECIMAL(38,0))) AS qp,
         sum(cast(cast(round(l_discount * 100) AS BIGINT)
             * cast(round(l_extendedprice * 100) AS BIGINT)
             AS DECIMAL(38,0))) AS dp
  FROM lineitem
  GROUP BY l_returnflag
),
d AS (
  SELECT l_returnflag,
         cast(n AS DOUBLE) AS n,
         cast(q1 AS DOUBLE) AS Sq,
         d100 / cast(100 AS DOUBLE) AS Sd,
         p100 / cast(100 AS DOUBLE) AS Sy,
         cast(qq AS DOUBLE) AS Sqq,
         dd / cast(10000 AS DOUBLE) AS Sdd,
         qd / cast(100 AS DOUBLE) AS Sqd,
         qp / cast(100 AS DOUBLE) AS Sqy,
         dp / cast(10000 AS DOUBLE) AS Sdy
  FROM m
),
solved AS (
  SELECT l_returnflag, n,
         n * (Sqq * Sdd - Sqd * Sqd) - Sq * (Sq * Sdd - Sqd * Sd)
           + Sd * (Sq * Sqd - Sqq * Sd) AS detA,
         Sq, Sd, Sy, Sqq, Sdd, Sqd, Sqy, Sdy
  FROM d
)
SELECT l_returnflag, cast(n AS BIGINT) AS n, {_OLS_SOLVE}
FROM solved
"""


@register(
    "ml_ols_normal_equations",
    oracle=_OLS_ORACLE,
    tags=("ml", "agg", "stats"),
)
def ml_ols_normal_equations(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("long")
    d100 = F.round(F.col("l_discount") * 100).cast("long")
    p100 = F.round(F.col("l_extendedprice") * 100).cast("long")
    # moment sums accumulate in decimal(38,0): the per-row products reach
    # ~1e9 (d100*p100), so int64 sums wrap (ANSI: abort) around 1e10 rows
    # — far below the fact-table scale this one-pass trainer targets; the
    # solve step consumes doubles either way
    dec = "decimal(38,0)"
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(q.cast(dec)).alias("q1"),
        F.sum(d100.cast(dec)).alias("d100"),
        F.sum(p100.cast(dec)).alias("p100"),
        F.sum((q * q).cast(dec)).alias("qq"),
        F.sum((d100 * d100).cast(dec)).alias("dd"),
        F.sum((q * d100).cast(dec)).alias("qd"),
        F.sum((q * p100).cast(dec)).alias("qp"),
        F.sum((d100 * p100).cast(dec)).alias("dp"),
    )
    d = m.select(
        "l_returnflag",
        F.col("n").alias("n_long"),
        F.col("n").cast("double").alias("n"),
        F.col("q1").cast("double").alias("Sq"),
        (F.col("d100") / F.lit(100).cast("double")).alias("Sd"),
        (F.col("p100") / F.lit(100).cast("double")).alias("Sy"),
        F.col("qq").cast("double").alias("Sqq"),
        (F.col("dd") / F.lit(10000).cast("double")).alias("Sdd"),
        (F.col("qd") / F.lit(100).cast("double")).alias("Sqd"),
        (F.col("qp") / F.lit(100).cast("double")).alias("Sqy"),
        (F.col("dp") / F.lit(10000).cast("double")).alias("Sdy"),
    )
    solved = d.withColumn(
        "detA",
        F.expr(
            "n * (Sqq * Sdd - Sqd * Sqd) - Sq * (Sq * Sdd - Sqd * Sd)"
            " + Sd * (Sq * Sqd - Sqq * Sd)"
        ),
    )
    # the three quotient expressions are textually identical to the
    # oracle's _OLS_SOLVE block — same IEEE operation order on both sides
    return solved.selectExpr(
        "l_returnflag",
        "n_long AS n",
        "round((Sy * (Sqq * Sdd - Sqd * Sqd) - Sq * (Sqy * Sdd - Sqd * Sdy)"
        " + Sd * (Sqy * Sqd - Sqq * Sdy)) / detA, 6) AS b0",
        "round((n * (Sqy * Sdd - Sdy * Sqd) - Sy * (Sq * Sdd - Sqd * Sd)"
        " + Sd * (Sq * Sdy - Sqy * Sd)) / detA, 6) AS b1",
        "round((n * (Sqq * Sdy - Sqd * Sqy) - Sq * (Sq * Sdy - Sqy * Sd)"
        " + Sy * (Sq * Sqd - Sqq * Sd)) / detA, 6) AS b2",
    )


# --------------------------------------------------------------------------
# Multinomial Naive Bayes, trained AND applied distributed: per-language
# Laplace-smoothed unigram log-likelihoods + log-priors (the model — small,
# int64-quantized at the vocabulary level, broadcast), then every document
# scored against every class and argmax'd into a confusion matrix. This is
# the one-pass generative text classifier a corpus pipeline uses for cheap
# language/domain routing when the n-gram heuristic isn't enough. All
# cross-row arithmetic is exact int64 (log-probs quantized to 1e-6 at the
# model table); argmax ties break to the lexicographically smallest class
# via max-score filter + min(lang) — deterministic on both engines.
# Scale: the model is vocab x n_classes (Heaps-law sublinear — broadcast);
# scoring is one broadcast join on the token stream + one groupBy
# (doc, class); no shuffle carries document text.
# --------------------------------------------------------------------------

_NB_ORACLE = """
WITH toks AS (
  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok FROM documents
),
vocab AS (SELECT DISTINCT tok FROM toks),
v AS (SELECT cast(count(*) AS BIGINT) AS nv FROM vocab),
classes AS (
  SELECT lang AS cls, cast(count(*) AS BIGINT) AS n_docs,
         cast(sum(n_tok) AS BIGINT) AS t
  FROM (SELECT doc_id, max(lang) AS lang, count(*) AS n_tok
        FROM toks GROUP BY doc_id)
  GROUP BY lang
),
nd AS (SELECT cast(sum(n_docs) AS BIGINT) AS total FROM classes),
prior AS (
  SELECT cls, cast(round(ln(n_docs / cast(nd.total AS DOUBLE)) * 1000000)
               AS BIGINT) AS lp6
  FROM classes, nd
),
cnt AS (
  SELECT lang AS cls, tok, cast(count(*) AS BIGINT) AS c
  FROM toks GROUP BY lang, tok
),
model AS (
  SELECT cl.cls, vb.tok,
         cast(round(ln((coalesce(ct.c, 0) + 1)
                       / cast(cl.t + v.nv AS DOUBLE)) * 1000000) AS BIGINT)
             AS lq6
  FROM vocab vb CROSS JOIN classes cl
  LEFT JOIN cnt ct ON ct.cls = cl.cls AND ct.tok = vb.tok, v
),
scored AS (
  SELECT t.doc_id, max(t.lang) AS true_lang, m.cls,
         cast(sum(m.lq6) AS BIGINT) + max(p.lp6) AS s
  FROM toks t
  JOIN model m ON t.tok = m.tok
  JOIN prior p ON p.cls = m.cls
  GROUP BY t.doc_id, m.cls
),
best AS (SELECT doc_id, max(s) AS mx FROM scored GROUP BY doc_id),
pred AS (
  SELECT s.doc_id, max(s.true_lang) AS true_lang, min(s.cls) AS pred_lang
  FROM scored s JOIN best b ON s.doc_id = b.doc_id AND s.s = b.mx
  GROUP BY s.doc_id
)
SELECT true_lang, pred_lang, cast(count(*) AS BIGINT) AS n_docs
FROM pred GROUP BY true_lang, pred_lang
"""


@register("ml_naive_bayes_confusion", oracle=_NB_ORACLE, tags=("ml", "text"))
def ml_naive_bayes_confusion(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("tok")
    )
    vocab = toks.select("tok").distinct()
    v = vocab.agg(F.count(F.lit(1)).cast("long").alias("nv"))
    per_doc = toks.groupBy("doc_id").agg(
        F.max("lang").alias("lang"), F.count(F.lit(1)).alias("n_tok")
    )
    classes = per_doc.groupBy(F.col("lang").alias("cls")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("t"),
    )
    nd = classes.agg(F.sum("n_docs").cast("long").alias("total"))
    prior = classes.crossJoin(F.broadcast(nd)).select(
        "cls",
        F.round(F.log(F.col("n_docs") / F.col("total").cast("double")) * 1000000)
        .cast("long")
        .alias("lp6"),
    )
    cnt = toks.groupBy(F.col("lang").alias("cls"), "tok").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    model = (
        vocab.crossJoin(F.broadcast(classes))
        .join(cnt, ["cls", "tok"], "left")
        .crossJoin(F.broadcast(v))
        .select(
            "cls",
            "tok",
            F.round(
                F.log(
                    (F.coalesce("c", F.lit(0)) + 1)
                    / (F.col("t") + F.col("nv")).cast("double")
                )
                * 1000000
            )
            .cast("long")
            .alias("lq6"),
        )
    )
    scored = (
        toks.join(F.broadcast(model), "tok")
        .join(F.broadcast(prior), "cls")
        .groupBy("doc_id", "cls")
        .agg(
            F.max("lang").alias("true_lang"),
            (F.sum("lq6").cast("long") + F.max("lp6")).alias("s"),
        )
    )
    best = scored.groupBy("doc_id").agg(F.max("s").alias("mx"))
    sc = scored.alias("sc")
    bs = best.alias("bs")
    pred = (
        sc.join(
            bs,
            (F.col("sc.doc_id") == F.col("bs.doc_id"))
            & (F.col("sc.s") == F.col("bs.mx")),
        )
        .groupBy(F.col("sc.doc_id"))
        .agg(
            F.max("sc.true_lang").alias("true_lang"),
            F.min("sc.cls").alias("pred_lang"),
        )
    )
    return pred.groupBy("true_lang", "pred_lang").agg(
        F.count(F.lit(1)).alias("n_docs")
    )


# --------------------------------------------------------------------------
# PCA top principal component via one-pass covariance moments + unrolled
# power iteration — the embedding-analytics sibling of
# ml_ols_normal_equations (same template: exact int64 moments in ONE
# map-side-combinable aggregation, then a closed-form scalar solve that is
# textually identical on both engines).
#
# Restricted to the first 4 embedding dimensions so the d*(d+1)/2 moment
# set and the unrolled matvec chain stay readable; the pattern is O(d^2)
# moments + O(d^2) scalar expressions per iteration, so full-width d=64
# is the same code with bigger generated text, not a different algorithm.
#
# Determinism protocol: float32 components are upcast to double (exact)
# then quantized to int64 at 1e6; all sums are exact integers (|xq| <=
# ~1e6, products <= ~1e12 per row, accumulated in DECIMAL(38,0) so the
# moments stay exact to ~1e26 rows — int64 would wrap near 9e6).
# Covariance entries, the 6 power-iteration matvec/normalize
# rounds (fixed v0 = (0.5,0.5,0.5,0.5)), the Rayleigh quotient, and the
# explained-variance share are all derived from those integers by ONE
# shared SQL text (engine-specific only in array indexing: Spark arrays
# are 0-based, DuckDB 1-based), evaluated left-associatively by both
# engines — bit-identical doubles, rounded once at the end.
#
# Scale: the corpus pass is a single partial-aggregating scan (no shuffle
# beyond the 1-row final combine); the iteration chain is driver-free
# scalar algebra on a 1-row relation.
# --------------------------------------------------------------------------

_PCA_DIMS = 4
_PCA_ITERS = 6
_PCA_Q = 1000000  # int64 quantization scale for float32 components


def _pca_sql() -> str:
    """Shared engine-agnostic text: moments + unrolled power iteration over
    a relation ``pca_q`` holding the quantized int64 components x0..x3."""
    d, q = _PCA_DIMS, _PCA_Q
    pairs = [(i, j) for i in range(d) for j in range(i, d)]
    # products are ~1e12 per row, so int64 sums wrap (ANSI: abort) near
    # 9e6 rows — the moment accumulators run in DECIMAL(38,0) on both
    # engines (exact to ~1e38, i.e. ~1e26 rows); the covariance algebra
    # below consumes them as doubles exactly as before.
    sums = ", ".join(
        f"sum(cast(x{i} * x{j} AS DECIMAL(38,0))) AS s{i}{j}"
        for i, j in pairs
    )
    firsts = ", ".join(
        f"sum(cast(x{i} AS DECIMAL(38,0))) AS s{i}" for i in range(d)
    )
    cov = ", ".join(
        f"(s{i}{j} - cast(s{i} AS DOUBLE) * s{j} / n) / n / {q}.0 / {q}.0"
        f" AS c{i}{j}"
        for i, j in pairs
    )
    # symmetric access helper: c_ij with i<=j stored once
    c = lambda i, j: f"c{min(i, j)}{max(i, j)}"
    ctes = [
        f"m AS (SELECT cast(count(*) AS BIGINT) AS n, {firsts}, {sums} FROM pca_q)",
        f"cv AS (SELECT n, {cov} FROM m)",
        "i0 AS (SELECT *, "
        + ", ".join(f"0.5 AS v0_{i}" for i in range(_PCA_DIMS))
        + " FROM cv)",
    ]
    for t in range(1, _PCA_ITERS + 1):
        mat = ", ".join(
            "("
            + " + ".join(f"{c(i, j)} * v{t - 1}_{j}" for j in range(d))
            + f") AS y{t}_{i}"
            for i in range(d)
        )
        nrm = " + ".join(f"y{t}_{i} * y{t}_{i}" for i in range(d))
        vn = ", ".join(f"y{t}_{i} / nrm{t} AS v{t}_{i}" for i in range(d))
        ctes.append(f"a{t} AS (SELECT *, {mat} FROM i{t - 1})")
        ctes.append(f"b{t} AS (SELECT *, sqrt({nrm}) AS nrm{t} FROM a{t})")
        ctes.append(f"i{t} AS (SELECT *, {vn} FROM b{t})")
    T = _PCA_ITERS
    rayleigh = " + ".join(
        f"v{T}_{i} * ({' + '.join(f'{c(i, j)} * v{T}_{j}' for j in range(d))})"
        for i in range(d)
    )
    trace = " + ".join(c(i, i) for i in range(d))
    final_v = ", ".join(f"round(v{T}_{i}, 6) AS pc1_{i}" for i in range(d))
    return (
        "WITH "
        + ",\n".join(ctes)
        + f",\nr AS (SELECT *, ({rayleigh}) AS lam, ({trace}) AS tr FROM i{T})\n"
        + f"SELECT n, round(lam, 6) AS eigenvalue, {final_v}, "
        + "round(lam / tr, 6) AS explained_frac FROM r"
    )


_PCA_ORACLE = (
    "WITH pca_q AS (SELECT "  # DuckDB arrays are 1-based
    + ", ".join(
        f"cast(round(cast(embedding[{i + 1}] AS DOUBLE) * {_PCA_Q}) AS BIGINT)"
        f" AS x{i}"
        for i in range(_PCA_DIMS)
    )
    + " FROM embeddings), "
    + _pca_sql().split("WITH ", 1)[1]
)


@register("ml_pca_power_iteration", oracle=_PCA_ORACLE, tags=("ml", "agg"))
def ml_pca_power_iteration(spark, sf_dir):
    emb = table(spark, sf_dir, "embeddings")
    q = emb.select(
        *[
            F.round(F.element_at("embedding", i + 1).cast("double") * _PCA_Q)
            .cast("long")
            .alias(f"x{i}")
            for i in range(_PCA_DIMS)
        ]
    )
    spread(q).createOrReplaceTempView("pca_q")
    return spark.sql(_pca_sql())


# --------------------------------------------------------------------------
# Distributed logistic regression via 3 unrolled IRLS (Newton) rounds —
# the iterative-training sibling of ml_ols_normal_equations: each round is
# ONE map-side-combinable aggregation pass (9 weighted moment sums), so at
# 100 TB the shuffle per round carries 9 numbers, never rows. Model:
# P(returnflag = 'R') ~ sigmoid(b0 + b1*quantity + b2*discount_pct).
#
# Determinism protocol: features are exact ints (quantity; discount*100);
# each row's weighted contributions w*x_j*x_k and (y-p)*x_j are quantized
# to int64 at 1e6 BEFORE summation (w = p(1-p) from the previous round's
# betas — deterministic per row), so cross-row sums are exact integers;
# the 3x3 Cramer solve per round and the final loss/accuracy pass run as
# ONE shared SQL text on both engines. Residual cross-engine risk is a
# libm-vs-JVM 1-ulp exp() difference landing exactly on a .5 quantization
# boundary (~1e-10/row — the same accepted exposure as
# udf_pandas_logistic_score, see ADVICE r4).
# Headroom: |w*x_j*x_k|*1e6 <= ~6.3e8/row; the cross-row sums accumulate
# in DECIMAL(38,0) (exact to ~1e38, i.e. ~1e29 rows) — int64 would wrap
# near 1e10 rows, well inside warehouse scale.
# --------------------------------------------------------------------------

_IRLS_ROUNDS = 3


def _irls_sql() -> str:
    """Shared text over a view ``lineitem``; 3 Newton rounds + eval pass."""
    q6 = "1000000"
    xs = ["1", "q", "d"]  # design row [1, quantity, discount_pct]
    pairs = [(j, k) for j in range(3) for k in range(j, 3)]

    def moments(tag: int, prev: str) -> str:
        eta = f"(b0 + b1 * q + b2 * d)"
        cols = [
            f"cast(count(*) AS BIGINT) AS n",
        ]
        # per-row quantized terms reach ~1e9, so the cross-row sums run in
        # DECIMAL(38,0) — int64 wraps (ANSI: abort) near 1e10 rows; the
        # solve step consumes them as doubles exactly as before
        for j, k in pairs:
            cols.append(
                f"sum(cast(round(w * {xs[j]} * {xs[k]} * {q6})"
                f" AS DECIMAL(38,0))) AS s{j}{k}"
            )
        for j in range(3):
            cols.append(
                f"sum(cast(round((y - p) * {xs[j]} * {q6})"
                f" AS DECIMAL(38,0))) AS g{j}"
            )
        return (
            f"e{tag} AS (SELECT y, q, d, 1 / (1 + exp(-{eta})) AS p"
            f" FROM f CROSS JOIN {prev}),\n"
            f"w{tag} AS (SELECT y, q, d, p, p * (1 - p) AS w FROM e{tag}),\n"
            f"m{tag} AS (SELECT {', '.join(cols)} FROM w{tag})"
        )

    def solve(tag: int, prev: str) -> str:
        # un-quantize the int64 moments once, then symmetric 3x3 Cramer
        unq = ", ".join(
            f"s{j}{k} / cast({q6} AS DOUBLE) AS a{j}{k}" for j, k in pairs
        ) + ", " + ", ".join(
            f"g{j} / cast({q6} AS DOUBLE) AS v{j}" for j in range(3)
        )
        det = (
            "a00 * (a11 * a22 - a12 * a12) - a01 * (a01 * a22 - a12 * a02)"
            " + a02 * (a01 * a12 - a11 * a02)"
        )
        d0 = (
            "v0 * (a11 * a22 - a12 * a12) - a01 * (v1 * a22 - a12 * v2)"
            " + a02 * (v1 * a12 - a11 * v2)"
        )
        d1 = (
            "a00 * (v1 * a22 - v2 * a12) - v0 * (a01 * a22 - a12 * a02)"
            " + a02 * (a01 * v2 - v1 * a02)"
        )
        d2 = (
            "a00 * (a11 * v2 - a12 * v1) - a01 * (a01 * v2 - v1 * a02)"
            " + v0 * (a01 * a12 - a11 * a02)"
        )
        return (
            f"u{tag} AS (SELECT n, {unq} FROM m{tag}),\n"
            f"det{tag} AS (SELECT *, {det} AS det FROM u{tag}),\n"
            f"s{tag} AS (SELECT det{tag}.n,"
            f" {prev}.b0 + ({d0}) / det AS b0,"
            f" {prev}.b1 + ({d1}) / det AS b1,"
            f" {prev}.b2 + ({d2}) / det AS b2"
            f" FROM det{tag} CROSS JOIN {prev})"
        )

    ctes = [
        "f AS (SELECT CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y,"
        " cast(l_quantity AS BIGINT) AS q,"
        " cast(round(l_discount * 100) AS BIGINT) AS d FROM lineitem)",
        "s0 AS (SELECT cast(0 AS DOUBLE) AS b0, cast(0 AS DOUBLE) AS b1,"
        " cast(0 AS DOUBLE) AS b2)",
    ]
    for t in range(1, _IRLS_ROUNDS + 1):
        ctes.append(moments(t, f"s{t - 1}"))
        ctes.append(solve(t, f"s{t - 1}"))
    T = _IRLS_ROUNDS
    # evaluation pass with the final betas: mean log-loss + accuracy,
    # both int64-quantized per row before the cross-row sum
    ctes.append(
        f"ev AS (SELECT y, 1 / (1 + exp(-(b0 + b1 * q + b2 * d))) AS p"
        f" FROM f CROSS JOIN s{T})"
    )
    ctes.append(
        f"agg AS (SELECT cast(count(*) AS BIGINT) AS n_rows,"
        f" sum(cast(round((CASE WHEN y = 1 THEN -ln(p)"
        f" ELSE -ln(1 - p) END) * {q6}) AS DECIMAL(38,0))) AS loss6,"
        f" cast(sum(CASE WHEN (p > 0.5) = (y = 1) THEN 1 ELSE 0 END)"
        f" AS BIGINT) AS n_correct FROM ev)"
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT agg.n_rows, round(s{T}.b0, 6) AS b0,"
        f" round(s{T}.b1, 6) AS b1, round(s{T}.b2, 6) AS b2,"
        f" round(agg.loss6 / cast({q6} AS DOUBLE) / agg.n_rows, 6)"
        f" AS mean_log_loss,"
        f" round(agg.n_correct / cast(agg.n_rows AS DOUBLE), 6) AS accuracy"
        f" FROM agg CROSS JOIN s{T}"
    )


@register("ml_logreg_irls", oracle=_irls_sql(), tags=("ml", "agg", "iterative"))
def ml_logreg_irls(spark, sf_dir):
    # spread() the scan: the text makes FOUR passes over lineitem, and a
    # coarse single-file input would serialize every one of them (measured
    # x12.8 at the 10x scale check before this guard)
    spread(table(spark, sf_dir, "lineitem")).createOrReplaceTempView("lineitem")
    return spark.sql(_irls_sql())


# --------------------------------------------------------------------------
# Full Lloyd k-means, 3 unrolled iterations (assign -> recompute -> repeat
# with per-iteration inertia) — the third distributed-training flagship
# next to ml_logreg_irls (Newton) and ml_pca_power_iteration (power
# method). ml_kmeans_assign runs ONE assignment against fixed seeds; this
# runs the actual training loop. Restricted to the first 4 embedding dims
# and k = 4 seed centroids so the generated all-engine SQL stays readable
# (same scaling argument as PCA: full width is bigger text, same
# algorithm).
#
# Exactness protocol: components quantize to int64 at 1e6 once; each
# round's centroid updates are exact integer (sum, count) pairs per
# cluster; distances evaluate over sum/count RATIOS in a fixed textual
# order, and argmin ties break toward the lower centroid id via strict
# '<' comparison chains. Inertia is quantized per row at 1e6 before the
# cross-row sum. Per round at 100 TB: one broadcast of k centroids + one
# map-side-combinable (k x d sums + counts) aggregation — rows never
# shuffle.
# --------------------------------------------------------------------------

_KM_D = 4
_KM_K = 4
_KM_ITERS = 3
_KM_Q = 1000000


def _kmeans_sql() -> str:
    d, k, q = _KM_D, _KM_K, _KM_Q

    def dist(cent_prefix: str, j: int) -> str:
        # squared L2 between row (x0..x3, scaled ints) and centroid j,
        # centroid coords expressed as exact-ratio doubles s/c (times q).
        # The explicit double cast keeps the division float even now that
        # the coordinate sums accumulate in DECIMAL(38,0) (decimal/int
        # division would change type on both engines).
        return " + ".join(
            f"(x{i} - cast({cent_prefix}s{j}_{i} AS DOUBLE)"
            f" / {cent_prefix}c{j}) *"
            f" (x{i} - cast({cent_prefix}s{j}_{i} AS DOUBLE)"
            f" / {cent_prefix}c{j})"
            for i in range(d)
        )

    # seed centroids: the first k vectors (vec_id 0..k-1), exact ints
    seeds = ", ".join(
        f"(SELECT x{i} FROM km_q WHERE vec_id = {j}) AS s{j}_{i}"
        for j in range(k)
        for i in range(d)
    ) + ", " + ", ".join(f"cast(1 AS BIGINT) AS c{j}" for j in range(k))
    ctes = [f"cen0 AS (SELECT {seeds})"]
    for t in range(1, _KM_ITERS + 1):
        dists = ", ".join(f"({dist('', j)}) AS d{j}" for j in range(k))
        # deterministic argmin: cluster j wins when strictly closer than
        # every earlier centroid and at-least-as-close as every later one
        conds = []
        for j in range(k):
            parts = [f"d{j} < d{p}" for p in range(j)] + [
                f"d{j} <= d{p}" for p in range(j + 1, k)
            ]
            conds.append(f"WHEN {' AND '.join(parts)} THEN {j}")
        argmin = "CASE " + " ".join(conds) + " END"
        ctes.append(
            f"a{t} AS (SELECT x0, x1, x2, x3, {dists} FROM km_q CROSS JOIN cen{t - 1})"
        )
        ctes.append(f"g{t} AS (SELECT *, {argmin} AS cl FROM a{t})")
        # per-cluster coordinate sums are ~n*1e6 and the inertia sum is
        # ~n*1e7: both wrap int64 (ANSI: abort) in the trillions of rows,
        # so they accumulate in DECIMAL(38,0); cluster counts stay int64.
        upd = ", ".join(
            f"sum(cast(CASE WHEN cl = {j} THEN x{i} ELSE 0 END"
            f" AS DECIMAL(38,0))) AS s{j}_{i}"
            for j in range(k)
            for i in range(d)
        ) + ", " + ", ".join(
            f"cast(sum(CASE WHEN cl = {j} THEN 1 ELSE 0 END) AS BIGINT) AS c{j}"
            for j in range(k)
        )
        inert = " + ".join(
            f"CASE WHEN cl = {j} THEN cast(round(d{j} / {q} / {q} * {q})"
            f" AS BIGINT) ELSE 0 END"
            for j in range(k)
        )
        ctes.append(
            f"m{t} AS (SELECT {upd},"
            f" sum(cast({inert} AS DECIMAL(38,0))) AS in6 FROM g{t})"
        )
        ctes.append(f"cen{t} AS (SELECT * FROM m{t})")
    T = _KM_ITERS
    finals = " UNION ALL ".join(
        f"SELECT {t} AS iter,"
        f" round((SELECT in6 FROM m{t}) / cast({q} AS DOUBLE), 6) AS inertia,"
        + ", ".join(
            f"(SELECT c{j} FROM m{t}) AS n{j}" for j in range(k)
        )
        for t in range(1, T + 1)
    )
    return "WITH " + ",\n".join(ctes) + "\n" + finals


_KMEANS_FULL_ORACLE = (
    "WITH km_q AS (SELECT vec_id, "
    + ", ".join(
        f"cast(round(cast(embedding[{i + 1}] AS DOUBLE) * {_KM_Q}) AS BIGINT)"
        f" AS x{i}"
        for i in range(_KM_D)
    )
    + " FROM embeddings), "
    + _kmeans_sql().split("WITH ", 1)[1]
)


@register(
    "ml_kmeans_lloyd_3iter", oracle=_KMEANS_FULL_ORACLE, tags=("ml", "iterative")
)
def ml_kmeans_lloyd_3iter(spark, sf_dir):
    """r17 (guide §1.2, the louvain/mmr driver-replay precedent): the
    single-statement form ran the whole unrolled pipeline through 15
    scalar-subquery references whose CTE lineage re-inlined every prior
    iteration — a 603 KB analyzed plan (registry survey: 2nd-worst) that
    re-ran the corpus aggregation per reference. The centroid state is
    ONE ROW by construction (k x d exact sums + k counts + in6), so each
    Lloyd iteration now runs as one map-side-combinable aggregation over
    km_q and its row re-enters the next iteration as exact literals
    (DECIMAL(38,0) sums / BIGINT counts — the same types the CTE carried,
    so every distance/argmin/inertia expression evaluates bit-identically
    against the unchanged all-engine oracle). Per iteration at 100 TB:
    one broadcast of k literal centroids + one aggregation — same as the
    CTE design, minus the scalar-subquery replays."""
    from ._util import spread

    d, k, q, T = _KM_D, _KM_K, _KM_Q, _KM_ITERS
    emb = table(spark, sf_dir, "embeddings")
    qdf = emb.select(
        "vec_id",
        *[
            F.round(F.element_at("embedding", i + 1).cast("double") * _KM_Q)
            .cast("long")
            .alias(f"x{i}")
            for i in range(_KM_D)
        ],
    )
    spread(qdf).createOrReplaceTempView("km_q")
    # seed centroids: the first k vectors, one pushed-down point lookup
    # (the CTE's k*d scalar subqueries, same NULL-when-absent semantics;
    # a duplicated seed id has no single row to pick, so it is an error)
    seeds: dict = {}
    for r in spark.sql(f"SELECT * FROM km_q WHERE vec_id < {k}").collect():  # bounded-collect: k seed rows unless vec_id repeats, which raises below
        if r["vec_id"] in seeds:
            raise ValueError(
                f"ml_kmeans_lloyd_3iter: seed vec_id {r['vec_id']} is not unique"
            )
        seeds[r["vec_id"]] = r
    sv: dict[tuple[int, int], str] = {}
    cv: dict[int, str] = {}
    for j in range(k):
        r = seeds.get(j)
        for i in range(d):
            x = None if r is None else r[f"x{i}"]
            sv[(j, i)] = "cast(NULL AS BIGINT)" if x is None else str(int(x))
        cv[j] = "cast(1 AS BIGINT)"

    def dist_lit(j: int) -> str:
        return " + ".join(
            f"(x{i} - cast({sv[(j, i)]} AS DOUBLE) / {cv[j]}) *"
            f" (x{i} - cast({sv[(j, i)]} AS DOUBLE) / {cv[j]})"
            for i in range(d)
        )

    upd = ", ".join(
        f"sum(cast(CASE WHEN cl = {j} THEN x{i} ELSE 0 END"
        f" AS DECIMAL(38,0))) AS s{j}_{i}"
        for j in range(k)
        for i in range(d)
    ) + ", " + ", ".join(
        f"cast(sum(CASE WHEN cl = {j} THEN 1 ELSE 0 END) AS BIGINT) AS c{j}"
        for j in range(k)
    )
    inert = " + ".join(
        f"CASE WHEN cl = {j} THEN cast(round(d{j} / {q} / {q} * {q})"
        f" AS BIGINT) ELSE 0 END"
        for j in range(k)
    )
    conds = []
    for j in range(k):
        parts = [f"d{j} < d{p}" for p in range(j)] + [
            f"d{j} <= d{p}" for p in range(j + 1, k)
        ]
        conds.append(f"WHEN {' AND '.join(parts)} THEN {j}")
    argmin = "CASE " + " ".join(conds) + " END"

    in6_lit: list[str] = []
    c_lit: list[list[str]] = []
    for _t in range(1, T + 1):
        dists = ", ".join(f"({dist_lit(j)}) AS d{j}" for j in range(k))
        m = spark.sql(
            f"SELECT {upd}, sum(cast({inert} AS DECIMAL(38,0))) AS in6"
            f" FROM (SELECT *, {argmin} AS cl FROM"
            f" (SELECT x0, x1, x2, x3, {dists} FROM km_q) a) g"
        ).collect()[0]  # bounded-collect: one global-aggregate row (k*d sums + k counts + inertia)
        for j in range(k):
            # an empty cluster's centroid is s/0, which the oracle engine
            # evaluates to NULL and ANSI Spark rejects: pass NULL sums so
            # the division yields NULL here too
            n_j = int(m[f"c{j}"])
            for i in range(d):
                s = m[f"s{j}_{i}"]
                sv[(j, i)] = (
                    f"cast('{s}' AS DECIMAL(38,0))"
                    if s is not None and n_j
                    else "cast(NULL AS DECIMAL(38,0))"
                )
            cv[j] = f"cast({n_j} AS BIGINT)"
        in6_lit.append(
            f"cast('{m['in6']}' AS DECIMAL(38,0))"
            if m["in6"] is not None
            else "cast(NULL AS DECIMAL(38,0))"
        )
        c_lit.append([f"cast({int(m[f'c{j}'])} AS BIGINT)" for j in range(k)])

    finals = " UNION ALL ".join(
        f"SELECT {t} AS iter,"
        f" round({in6_lit[t - 1]} / cast({q} AS DOUBLE), 6) AS inertia, "
        + ", ".join(f"{c_lit[t - 1][j]} AS n{j}" for j in range(k))
        for t in range(1, T + 1)
    )
    return spark.sql(finals)


# --------------------------------------------------------------------------
# Linear SVM via 3 unrolled full-batch subgradient steps — the third
# iterative trainer, and the only one with ZERO libm exposure: the hinge
# indicator (margin < 1) is an exact comparison of deterministic doubles,
# so every per-round statistic is an exact integer sum (sum of I*y*x_j
# with integer features and y in {-1,+1}); the weight update multiplies
# by dyadic constants (eta = 1/8, shrink = 1 - eta*lambda with
# lambda = 1/4 -> 31/32 exact) plus one division by n. Same
# shuffle-9-numbers-per-round profile as IRLS. Final pass: mean hinge
# loss (per-row 1e6 quantization) + accuracy at the learned weights.
# --------------------------------------------------------------------------

_SVM_ROUNDS = 3
_SVM_ETA = 0.125
_SVM_SHRINK = 0.96875  # 1 - eta * lambda with lambda = 1/4; exactly 31/32


def _svm_sql() -> str:
    q6 = "1000000"
    ctes = [
        "f AS (SELECT CASE WHEN l_returnflag = 'R' THEN 1 ELSE -1 END AS y,"
        " cast(l_quantity AS BIGINT) AS q,"
        " cast(round(l_discount * 100) AS BIGINT) AS d FROM lineitem)",
        "s0 AS (SELECT cast(0 AS DOUBLE) AS b0, cast(0 AS DOUBLE) AS b1,"
        " cast(0 AS DOUBLE) AS b2)",
    ]
    for t in range(1, _SVM_ROUNDS + 1):
        ctes.append(
            f"m{t} AS (SELECT cast(count(*) AS BIGINT) AS n,"
            f" cast(sum(CASE WHEN y * (b0 + b1 * q + b2 * d) < 1"
            f" THEN y ELSE 0 END) AS BIGINT) AS g0,"
            f" cast(sum(CASE WHEN y * (b0 + b1 * q + b2 * d) < 1"
            f" THEN y * q ELSE 0 END) AS BIGINT) AS g1,"
            f" cast(sum(CASE WHEN y * (b0 + b1 * q + b2 * d) < 1"
            f" THEN y * d ELSE 0 END) AS BIGINT) AS g2"
            f" FROM f CROSS JOIN s{t - 1})"
        )
        ctes.append(
            f"s{t} AS (SELECT"
            f" s{t - 1}.b0 * {_SVM_SHRINK} + {_SVM_ETA} * m{t}.g0 / m{t}.n AS b0,"
            f" s{t - 1}.b1 * {_SVM_SHRINK} + {_SVM_ETA} * m{t}.g1 / m{t}.n AS b1,"
            f" s{t - 1}.b2 * {_SVM_SHRINK} + {_SVM_ETA} * m{t}.g2 / m{t}.n AS b2"
            f" FROM m{t} CROSS JOIN s{t - 1})"
        )
    T = _SVM_ROUNDS
    ctes.append(
        f"ev AS (SELECT y, y * (b0 + b1 * q + b2 * d) AS margin,"
        f" (b0 + b1 * q + b2 * d) AS score FROM f CROSS JOIN s{T})"
    )
    ctes.append(
        f"agg AS (SELECT cast(count(*) AS BIGINT) AS n_rows,"
        # per-row quantized hinge terms are ~1e6-1e9, so the loss sum runs
        # in DECIMAL(38,0) (int64 wraps near 1e10 rows); the subgradient
        # sums g0..g2 are bounded by n*100 and stay int64
        f" sum(cast(round((CASE WHEN margin < 1 THEN 1 - margin"
        f" ELSE 0 END) * {q6}) AS DECIMAL(38,0))) AS h6,"
        f" cast(sum(CASE WHEN (score > 0) = (y = 1) THEN 1 ELSE 0 END)"
        f" AS BIGINT) AS n_correct FROM ev)"
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT agg.n_rows, round(s{T}.b0, 6) AS b0,"
        f" round(s{T}.b1, 6) AS b1, round(s{T}.b2, 6) AS b2,"
        f" round(agg.h6 / cast({q6} AS DOUBLE) / agg.n_rows, 6)"
        f" AS mean_hinge_loss,"
        f" round(agg.n_correct / cast(agg.n_rows AS DOUBLE), 6) AS accuracy"
        f" FROM agg CROSS JOIN s{T}"
    )


@register("ml_svm_subgradient", oracle=_svm_sql(), tags=("ml", "agg", "iterative"))
def ml_svm_subgradient(spark, sf_dir):
    # same multi-pass scan-width guard as the IRLS text
    spread(table(spark, sf_dir, "lineitem")).createOrReplaceTempView("lineitem")
    return spark.sql(_svm_sql())


# --------------------------------------------------------------------------
# Ridge regression (r10) — the L2-regularized twin of
# ml_ols_normal_equations: same ONE-pass exact-int64 moment aggregation
# (shuffle carries 9 numbers per group at any scale), but the normal
# matrix gets +lambda on the SLOPE diagonal entries only (the intercept
# is unpenalized, the standard convention), shrinking b1/b2 toward zero
# on ill-conditioned groups. The solve is the same 3x3 Cramer text with
# Sqq -> (Sqq + lam), Sdd -> (Sdd + lam), run textually identical on
# both engines. Output includes the OLS slopes beside the ridge slopes
# so the shrinkage is part of the verified contract (|b_ridge| <=
# |b_ols| whenever the moments are well-conditioned — pinned in pytest).
# --------------------------------------------------------------------------

_RIDGE_LAMBDA = 1000.0

_RIDGE_SOLVE_EXPRS = (
    """round((n * (Sqy * Sddl - Sdy * Sqd) - Sy * (Sq * Sddl - Sqd * Sd)
       + Sd * (Sq * Sdy - Sqy * Sd)) / detR, 6) AS b1_ridge""",
    """round((n * (Sqql * Sdy - Sqd * Sqy) - Sq * (Sq * Sdy - Sqy * Sd)
       + Sy * (Sq * Sqd - Sqql * Sd)) / detR, 6) AS b2_ridge""",
    """round((n * (Sqy * Sdd - Sdy * Sqd) - Sy * (Sq * Sdd - Sqd * Sd)
       + Sd * (Sq * Sdy - Sqy * Sd)) / detA, 6) AS b1_ols""",
    """round((n * (Sqq * Sdy - Sqd * Sqy) - Sq * (Sq * Sdy - Sqy * Sd)
       + Sy * (Sq * Sqd - Sqq * Sd)) / detA, 6) AS b2_ols""",
)

_RIDGE_DET_EXPRS = (
    """n * (Sqql * Sddl - Sqd * Sqd) - Sq * (Sq * Sddl - Sqd * Sd)
  + Sd * (Sq * Sqd - Sqql * Sd) AS detR""",
    """n * (Sqq * Sdd - Sqd * Sqd) - Sq * (Sq * Sdd - Sqd * Sd)
  + Sd * (Sq * Sqd - Sqq * Sd) AS detA""",
)

_RIDGE_ORACLE = f"""
WITH m AS (
  SELECT l_returnflag,
         cast(count(*) AS BIGINT) AS n,
         sum(cast(l_quantity AS DECIMAL(38,0))) AS q1,
         sum(cast(round(l_discount * 100) AS DECIMAL(38,0))) AS d100,
         sum(cast(round(l_extendedprice * 100) AS DECIMAL(38,0))) AS p100,
         sum(cast(cast(l_quantity AS BIGINT) * cast(l_quantity AS BIGINT)
             AS DECIMAL(38,0))) AS qq,
         sum(cast(cast(round(l_discount * 100) AS BIGINT)
             * cast(round(l_discount * 100) AS BIGINT)
             AS DECIMAL(38,0))) AS dd,
         sum(cast(cast(l_quantity AS BIGINT)
             * cast(round(l_discount * 100) AS BIGINT)
             AS DECIMAL(38,0))) AS qd,
         sum(cast(cast(l_quantity AS BIGINT)
             * cast(round(l_extendedprice * 100) AS BIGINT)
             AS DECIMAL(38,0))) AS qp,
         sum(cast(cast(round(l_discount * 100) AS BIGINT)
             * cast(round(l_extendedprice * 100) AS BIGINT)
             AS DECIMAL(38,0))) AS dp
  FROM lineitem
  GROUP BY l_returnflag
),
d AS (
  SELECT l_returnflag,
         cast(n AS DOUBLE) AS n,
         cast(q1 AS DOUBLE) AS Sq,
         d100 / cast(100 AS DOUBLE) AS Sd,
         p100 / cast(100 AS DOUBLE) AS Sy,
         cast(qq AS DOUBLE) AS Sqq,
         dd / cast(10000 AS DOUBLE) AS Sdd,
         qd / cast(100 AS DOUBLE) AS Sqd,
         qp / cast(100 AS DOUBLE) AS Sqy,
         dp / cast(10000 AS DOUBLE) AS Sdy,
         cast(qq AS DOUBLE) + {_RIDGE_LAMBDA} AS Sqql,
         dd / cast(10000 AS DOUBLE) + {_RIDGE_LAMBDA} AS Sddl
  FROM m
),
solved AS (
  SELECT l_returnflag, n, Sq, Sd, Sy, Sqq, Sdd, Sqd, Sqy, Sdy, Sqql, Sddl,
         {",".join(_RIDGE_DET_EXPRS)}
  FROM d
)
SELECT l_returnflag, cast(n AS BIGINT) AS n, {",".join(_RIDGE_SOLVE_EXPRS)}
FROM solved
"""


@register(
    "ml_ridge_regression",
    oracle=_RIDGE_ORACLE,
    tags=("ml", "agg", "stats"),
)
def ml_ridge_regression(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("long")
    d100 = F.round(F.col("l_discount") * 100).cast("long")
    p100 = F.round(F.col("l_extendedprice") * 100).cast("long")
    dec = "decimal(38,0)"
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(q.cast(dec)).alias("q1"),
        F.sum(d100.cast(dec)).alias("d100"),
        F.sum(p100.cast(dec)).alias("p100"),
        F.sum((q * q).cast(dec)).alias("qq"),
        F.sum((d100 * d100).cast(dec)).alias("dd"),
        F.sum((q * d100).cast(dec)).alias("qd"),
        F.sum((q * p100).cast(dec)).alias("qp"),
        F.sum((d100 * p100).cast(dec)).alias("dp"),
    )
    d = m.select(
        "l_returnflag",
        F.col("n").alias("n_long"),
        F.col("n").cast("double").alias("n"),
        F.col("q1").cast("double").alias("Sq"),
        (F.col("d100") / F.lit(100).cast("double")).alias("Sd"),
        (F.col("p100") / F.lit(100).cast("double")).alias("Sy"),
        F.col("qq").cast("double").alias("Sqq"),
        (F.col("dd") / F.lit(10000).cast("double")).alias("Sdd"),
        (F.col("qd") / F.lit(100).cast("double")).alias("Sqd"),
        (F.col("qp") / F.lit(100).cast("double")).alias("Sqy"),
        (F.col("dp") / F.lit(10000).cast("double")).alias("Sdy"),
    ).withColumn(
        "Sqql", F.expr(f"Sqq + {_RIDGE_LAMBDA}")
    ).withColumn(
        "Sddl", F.expr(f"Sdd + {_RIDGE_LAMBDA}")
    )
    solved = d.selectExpr(
        "l_returnflag", "n_long", "n", "Sq", "Sd", "Sy", "Sqq", "Sdd",
        "Sqd", "Sqy", "Sdy", "Sqql", "Sddl", *_RIDGE_DET_EXPRS,
    )
    return solved.selectExpr(
        "l_returnflag", "n_long AS n", *_RIDGE_SOLVE_EXPRS
    )


# --------------------------------------------------------------------------
# Leave-one-out target encoding (r10): the feature-engineering op that
# turns a categorical column into the (smoothed) mean of the target
# EXCLUDING the row itself — the standard leakage guard. Category stats
# are one map-side-combinable aggregation broadcast back onto the fact;
# the per-row LOO value ((n_pos - y_i + prior * m) / (n - 1 + m)) is
# pure codegen. To keep the contract output bounded and the double sum
# deterministic, each row's encoding is quantized to ppm FIRST (identical
# IEEE ops both engines) and the int64 ppm sum per (category, target) is
# the verified artifact — per-row doubles never cross an engine-ordered
# sum. Category = l_shipmode, target = returned (l_returnflag = 'R'),
# smoothing m = 50 toward the global return rate.
# --------------------------------------------------------------------------

_TENC_M = 50

_TENC_ORACLE = f"""
WITH f AS (
  SELECT o_orderpriority AS cat,
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
  FROM orders
),
g AS (SELECT cast(sum(y) AS BIGINT) AS gpos, cast(count(*) AS BIGINT) AS gn FROM f),
c AS (
  SELECT cat, cast(sum(y) AS BIGINT) AS npos, cast(count(*) AS BIGINT) AS n
  FROM f GROUP BY cat
),
enc AS (
  SELECT f.cat, f.y,
         cast(round(
           (cast(c.npos - f.y AS DOUBLE)
            + {_TENC_M} * (cast(g.gpos AS DOUBLE) / cast(g.gn AS DOUBLE)))
           / cast(c.n - 1 + {_TENC_M} AS DOUBLE) * 1000000
         ) AS BIGINT) AS enc_ppm
  FROM f, c, g WHERE f.cat = c.cat
)
SELECT cat, cast(y AS BIGINT) AS y,
       cast(count(*) AS BIGINT) AS n_rows,
       cast(sum(enc_ppm) AS BIGINT) AS enc_ppm_sum,
       cast(min(enc_ppm) AS BIGINT) AS enc_ppm_min,
       cast(max(enc_ppm) AS BIGINT) AS enc_ppm_max
FROM enc GROUP BY cat, y
"""


@register(
    "ml_target_encode_loo",
    oracle=_TENC_ORACLE,
    tags=("ml", "training", "agg"),
)
def ml_target_encode_loo(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    f = o.select(
        F.col("o_orderpriority").alias("cat"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
    )
    g = f.groupBy().agg(
        F.sum("y").alias("gpos"), F.count(F.lit(1)).alias("gn")
    )
    c = f.groupBy("cat").agg(
        F.sum("y").alias("npos"), F.count(F.lit(1)).alias("n")
    )
    enc_ppm = F.round(
        (
            (F.col("npos") - F.col("y")).cast("double")
            + F.lit(_TENC_M)
            * (F.col("gpos").cast("double") / F.col("gn").cast("double"))
        )
        / (F.col("n") - 1 + F.lit(_TENC_M)).cast("double")
        * 1000000
    ).cast("long")
    enc = (
        f.join(F.broadcast(c), "cat")
        .crossJoin(F.broadcast(g))
        .withColumn("enc_ppm", enc_ppm)
    )
    return enc.groupBy("cat", "y").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("enc_ppm").alias("enc_ppm_sum"),
        F.min("enc_ppm").alias("enc_ppm_min"),
        F.max("enc_ppm").alias("enc_ppm_max"),
    ).select(
        "cat", F.col("y").cast("long").alias("y"),
        "n_rows", "enc_ppm_sum", "enc_ppm_min", "enc_ppm_max",
    )
