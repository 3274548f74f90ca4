"""Kneser-Ney n-gram LMs + CCNet perplexity filters (orders 2..5).

CCNet/RedPajama filter corpora on a SMOOTHED n-gram LM, not a unigram
(``text_unigram_ppl_filter``, unigram_lm.py). The bigram model
(interpolated Kneser-Ney with absolute discount D = 0.75):

    P(w2|w1) = (c(w1,w2) - D) / c(w1)  +  lambda(w1) * P_cont(w2)
    lambda(w1) = D * N1+(w1,*) / c(w1)         (mass freed by discounting)
    P_cont(w2) = N1+(*,w2) / N1+(*,*)          (continuation probability)

where N1+ counts DISTINCT n-gram types; orders 3..5 add one continuation
level per order (see ``_kn_ladder_cost``). Training and scoring share the
corpus (the same self-scoring contract as the unigram filter), so every
scored n-gram is seen: c >= 1 > D and the max(c-D, 0) branch of the
textbook formula never activates — P < 1 strictly, so every per-n-gram
cost is a positive integer after micro-quantization.
``text_kn_oov_backoff`` scores held-out docs and drives every branch.

Scale design: n-grams are built MAP-SIDE from the split-token array
(``arrays_zip`` of n slices — zero shuffle, no positional self-join),
then ONE partial-aggregated groupBy(w1..wn) pass is the corpus-side
model cost; every other model statistic derives from the distinct-n-gram
table, which is Heaps-sublinear in corpus size. Scoring is one
(doc, w1..wn) partial agg joined to the per-n-gram cost table — the
join is NOT hint-broadcast: distinct n-gram types at 100 TB outgrow
any broadcast budget, so the plan leaves AQE free to pick broadcast at
small scale and a plain hash join at large (the one deliberate shape
difference from the unigram filter's broadcast word-cost table).

All log-probabilities are micro-quantized int64 (``round(-ln(P)*1e6)``)
from identical rational inputs on both engines — the unigram-LM /
naive-bayes precedent; integer sums from there on.

Scoring contract: a document's first n-1 tokens are not scored (no full
history); documents with fewer than n tokens produce no n-grams and are
excluded. ``mean_nll_micro`` uses truncated division (both engines
truncate; the numerator is a sum of positives).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..catalog import table
from ..registry import register
from ._util import spread

_D = 0.75  # absolute discount
_KN_TOP_MODEL = 20  # bigrams emitted by the model query
_KN_TOP_DOCS = 15  # docs emitted by every per-doc filter (unigram filter's shape)
_KN3_TOP_DOCS = _KN4_TOP_DOCS = _KN5_TOP_DOCS = _KN_TOP_DOCS  # oracle names
_GRAM_COUNT = {2: "n_bigrams", 3: "n_trigrams", 4: "n_fourgrams", 5: "n_fivegrams"}

# shared SQL: the bigram stream + model tables (DuckDB side)
_KN_CTES = """
lf AS (
  SELECT doc_id, lang,
         list_filter(string_split(text, ' '), x -> length(x) > 0) AS t
  FROM documents
),
bg AS (
  SELECT doc_id, lang,
         unnest(list_transform(range(2, len(t) + 1), i -> t[i - 1])) AS w1,
         unnest(list_transform(range(2, len(t) + 1), i -> t[i])) AS w2
  FROM lf
),
big AS (
  SELECT w1, w2, cast(count(*) AS BIGINT) AS c12 FROM bg GROUP BY w1, w2
),
hist AS (
  SELECT w1, cast(sum(c12) AS BIGINT) AS c1,
         cast(count(*) AS BIGINT) AS n1p
  FROM big GROUP BY w1
),
cont AS (
  SELECT w2, cast(count(*) AS BIGINT) AS npre FROM big GROUP BY w2
),
nb AS (SELECT cast(count(*) AS BIGINT) AS nbig FROM big),
cost AS (
  SELECT b.w1, b.w2, b.c12, h.c1, h.n1p, c.npre,
         cast(round(-ln(
           (cast(b.c12 AS DOUBLE) - 0.75) / cast(h.c1 AS DOUBLE)
           + 0.75 * cast(h.n1p AS DOUBLE) / cast(h.c1 AS DOUBLE)
             * cast(c.npre AS DOUBLE) / cast(nb.nbig AS DOUBLE)
         ) * 1000000) AS BIGINT) AS cost_micro
  FROM big b
  JOIN hist h ON b.w1 = h.w1
  JOIN cont c ON b.w2 = c.w2, nb
)
"""

_MODEL_ORACLE = f"""
WITH {_KN_CTES}
SELECT w1, w2, c12, c1, n1p AS n1p_w1, npre AS npre_w2, cost_micro
FROM cost
ORDER BY c12 DESC, w1, w2
LIMIT {_KN_TOP_MODEL}
"""

_PPL_ORACLE = f"""
WITH {_KN_CTES},
dbg AS (
  SELECT doc_id, lang, w1, w2, cast(count(*) AS BIGINT) AS c
  FROM bg GROUP BY doc_id, lang, w1, w2
),
per_doc AS (
  SELECT d.doc_id, d.lang,
         cast(sum(d.c) AS BIGINT) AS n_bigrams,
         cast(sum(d.c * cost.cost_micro) AS BIGINT) AS nll_micro
  FROM dbg d JOIN cost ON cost.w1 = d.w1 AND cost.w2 = d.w2
  GROUP BY d.doc_id, d.lang
)
SELECT doc_id, lang, n_bigrams, nll_micro,
       nll_micro // n_bigrams AS mean_nll_micro
FROM per_doc
ORDER BY mean_nll_micro DESC, doc_id
LIMIT {_KN_TOP_DOCS}
"""


def _words(n):
    return [f"w{i}" for i in range(1, n + 1)]


def _ngram_stream(spark, sf_dir, n):
    """(doc_id, lang, w1..wn) n-gram stream, built map-side from the
    token array — no shuffle, no positional self-join."""
    d = spread(
        table(spark, sf_dir, "documents").select("doc_id", "lang", "text"),
        "doc_id",
    )
    slices = ", ".join(
        f"slice(t, {i}, size(t) - {n - 1})" for i in range(1, n + 1)
    )
    return (
        d.withColumn(
            "t", F.expr("filter(split(text, ' '), x -> length(x) > 0)")
        )
        .filter(F.size("t") >= n)
        .select("doc_id", "lang", F.explode(F.expr(f"arrays_zip({slices})")).alias("p"))
        .select(
            "doc_id",
            "lang",
            *[F.col(f"p.{i}").alias(w) for i, w in enumerate(_words(n))],
        )
    )


def _per_doc_nll(grams, cost, n):
    """(doc_id, lang, n_<grams>, nll_micro, mean_nll_micro): each doc's
    n-gram occurrences priced by the per-n-gram cost table."""
    ws = _words(n)
    n_grams = _GRAM_COUNT[n]
    return (
        grams.groupBy("doc_id", "lang", *ws)
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .join(cost.select(*ws, "cost_micro"), ws)
        .groupBy("doc_id", "lang")
        .agg(
            F.sum("c").cast("long").alias(n_grams),
            F.sum(F.col("c") * F.col("cost_micro"))
            .cast("long")
            .alias("nll_micro"),
        )
        .withColumn("mean_nll_micro", F.expr(f"nll_micro div {n_grams}"))
    )


def _kn_ppl(spark, sf_dir, n):
    """Per-doc mean NLL under the order-n KN model, worst docs first."""
    grams = _ngram_stream(spark, sf_dir, n)
    cost = _cost_table(grams) if n == 2 else _kn_ladder_cost(spark, grams, n)
    return (
        _per_doc_nll(grams, cost, n)
        .orderBy(F.desc("mean_nll_micro"), "doc_id")
        .limit(_KN_TOP_DOCS)
    )


def _bigram_tables(bg):
    """The bigram model tables: big (w1, w2, c12), hist (w1, c1, n1p),
    cont (w2, npre) and the one-row nb (nbig) — every derived table lives
    on the distinct-bigram table, Heaps-sublinear."""
    one = F.count(F.lit(1)).cast("long")
    big = bg.groupBy("w1", "w2").agg(one.alias("c12"))
    hist = big.groupBy("w1").agg(
        F.sum("c12").cast("long").alias("c1"), one.alias("n1p")
    )
    cont = big.groupBy("w2").agg(one.alias("npre"))
    nb = big.agg(one.alias("nbig"))
    return big, hist, cont, nb


def _cost_table(bg):
    """Per-bigram KN cost table, assembled by joins: the held-out query
    needs the separate tables, so the bigram keeps the join form."""
    big, hist, cont, nb = _bigram_tables(bg)
    return (
        big.join(hist, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(nb))
        .withColumn(
            "cost_micro",
            F.round(
                -F.log(
                    (F.col("c12").cast("double") - F.lit(_D)) / F.col("c1")
                    + F.lit(_D) * F.col("n1p") / F.col("c1")
                    * F.col("npre") / F.col("nbig")
                )
                * 1_000_000
            ).cast("long"),
        )
    )


@register(
    "text_kn_bigram_model",
    oracle=_MODEL_ORACLE,
    tags=("text", "training"),
)
def text_kn_bigram_model(spark, sf_dir):
    """Top bigrams under the trained KN model with their count
    decomposition — the inspection view of the trainer."""
    cost = _cost_table(_ngram_stream(spark, sf_dir, 2))
    return (
        cost.select(
            "w1",
            "w2",
            "c12",
            "c1",
            F.col("n1p").alias("n1p_w1"),
            F.col("npre").alias("npre_w2"),
            "cost_micro",
        )
        .orderBy(F.desc("c12"), "w1", "w2")
        .limit(_KN_TOP_MODEL)
    )


@register(
    "text_kn_bigram_ppl",
    oracle=_PPL_ORACLE,
    tags=("text", "training"),
)
def text_kn_bigram_ppl(spark, sf_dir):
    """CCNet-fidelity perplexity filter: per-doc mean NLL under the
    interpolated KN bigram LM; worst (highest-perplexity) docs first."""
    return _kn_ppl(spark, sf_dir, 2)


# --------------------------------------------------------------------------
# Held-out KN scoring with the FULL backoff ladder (r13): the self-scoring
# filter above never exercises the textbook max(c-D, 0) = 0 branch. Here
# the model trains on EVEN doc_ids and scores ODD docs, so every backoff
# branch executes and is driver-counted:
#
#   seen bigram:              P = (c12-D)/c1 + lam(w1)*Pcont(w2)
#   unseen pair, seen w1:     P = lam(w1)*Pcont(w2)        (discount mass)
#   unseen history w1:        P = Pcont(w2)                (pure backoff)
#   w2 never a continuation:  P = 1/(nbig+1)               (UNK floor)
#
# Output is the per-language accounting: how many scored bigrams hit each
# branch plus the exact integer NLL — the held-out-perplexity shape CCNet
# actually runs (train on Wikipedia, score the crawl). The synthetic
# corpus shares its vocabulary across docs, so hist/unk counts are ~0
# there; a hand fixture in pytest drives all four branches with
# hand-computed costs.
# --------------------------------------------------------------------------

_OOV_ORACLE = """
WITH lf AS (
  SELECT doc_id, lang,
         list_filter(string_split(text, ' '), x -> length(x) > 0) AS t
  FROM documents
),
bg AS (
  SELECT doc_id, lang,
         unnest(list_transform(range(2, len(t) + 1), i -> t[i - 1])) AS w1,
         unnest(list_transform(range(2, len(t) + 1), i -> t[i])) AS w2
  FROM lf
),
tbg AS (SELECT w1, w2 FROM bg WHERE doc_id % 2 = 0),
big AS (SELECT w1, w2, cast(count(*) AS BIGINT) AS c12 FROM tbg GROUP BY w1, w2),
hist AS (
  SELECT w1, cast(sum(c12) AS BIGINT) AS c1, cast(count(*) AS BIGINT) AS n1p
  FROM big GROUP BY w1
),
cont AS (SELECT w2, cast(count(*) AS BIGINT) AS npre FROM big GROUP BY w2),
nb AS (SELECT cast(count(*) AS BIGINT) AS nbig FROM big),
sbg AS (
  SELECT lang, w1, w2, cast(count(*) AS BIGINT) AS c
  FROM bg WHERE doc_id % 2 = 1 GROUP BY lang, w1, w2
),
scored AS (
  SELECT s.lang, s.c,
         CASE WHEN cont.npre IS NULL THEN 'unk'
              WHEN hist.c1 IS NULL THEN 'hist'
              WHEN big.c12 IS NULL THEN 'lambda'
              ELSE 'seen' END AS branch,
         cast(round(-ln(
           CASE WHEN cont.npre IS NULL THEN 1.0 / (nb.nbig + 1)
                WHEN hist.c1 IS NULL
                  THEN cast(cont.npre AS DOUBLE) / cast(nb.nbig AS DOUBLE)
                WHEN big.c12 IS NULL
                  THEN 0.75 * cast(hist.n1p AS DOUBLE) / cast(hist.c1 AS DOUBLE)
                       * cast(cont.npre AS DOUBLE) / cast(nb.nbig AS DOUBLE)
                ELSE (cast(big.c12 AS DOUBLE) - 0.75) / cast(hist.c1 AS DOUBLE)
                     + 0.75 * cast(hist.n1p AS DOUBLE) / cast(hist.c1 AS DOUBLE)
                       * cast(cont.npre AS DOUBLE) / cast(nb.nbig AS DOUBLE)
           END) * 1000000) AS BIGINT) AS cost
  FROM sbg s
  LEFT JOIN hist ON hist.w1 = s.w1
  LEFT JOIN big ON big.w1 = s.w1 AND big.w2 = s.w2
  LEFT JOIN cont ON cont.w2 = s.w2, nb
)
SELECT lang,
       cast(sum(c) AS BIGINT) AS n_bigrams,
       cast(sum(CASE WHEN branch = 'seen' THEN c ELSE 0 END) AS BIGINT)
           AS n_seen,
       cast(sum(CASE WHEN branch = 'lambda' THEN c ELSE 0 END) AS BIGINT)
           AS n_lambda,
       cast(sum(CASE WHEN branch = 'hist' THEN c ELSE 0 END) AS BIGINT)
           AS n_hist,
       cast(sum(CASE WHEN branch = 'unk' THEN c ELSE 0 END) AS BIGINT)
           AS n_unk,
       cast(sum(c * cost) AS BIGINT) AS nll_micro,
       cast(sum(c * cost) AS BIGINT) // cast(sum(c) AS BIGINT)
           AS mean_nll_micro
FROM scored
GROUP BY lang
"""


@register(
    "text_kn_oov_backoff",
    oracle=_OOV_ORACLE,
    tags=("text", "training"),
)
def text_kn_oov_backoff(spark, sf_dir):
    """Held-out KN scoring: train on even doc_ids, score odd docs —
    every backoff branch (seen / discount-mass / history-backoff / UNK
    floor) executes and is counted per language."""
    bg = _ngram_stream(spark, sf_dir, 2)
    big, hist, cont, nb = _bigram_tables(bg.filter(F.col("doc_id") % 2 == 0))
    sbg = (
        bg.filter(F.col("doc_id") % 2 == 1)
        .groupBy("lang", "w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    j = (
        sbg.join(hist, "w1", "left")
        .join(big, ["w1", "w2"], "left")
        .join(cont, "w2", "left")
        .crossJoin(F.broadcast(nb))
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    p_seen = (d("c12") - F.lit(0.75)) / d("c1") + F.lit(0.75) * d("n1p") / d(
        "c1"
    ) * d("npre") / d("nbig")
    p_lambda = F.lit(0.75) * d("n1p") / d("c1") * d("npre") / d("nbig")
    p_hist = d("npre") / d("nbig")
    p_unk = F.lit(1.0) / (d("nbig") + 1)
    branch = (
        F.when(F.col("npre").isNull(), F.lit("unk"))
        .when(F.col("c1").isNull(), F.lit("hist"))
        .when(F.col("c12").isNull(), F.lit("lambda"))
        .otherwise(F.lit("seen"))
    )
    p = (
        F.when(F.col("npre").isNull(), p_unk)
        .when(F.col("c1").isNull(), p_hist)
        .when(F.col("c12").isNull(), p_lambda)
        .otherwise(p_seen)
    )
    scored = j.select(
        "lang",
        "c",
        branch.alias("branch"),
        F.round(-F.log(p) * 1_000_000).cast("long").alias("cost"),
    )
    cnt = lambda b: F.sum(  # noqa: E731
        F.when(F.col("branch") == b, F.col("c")).otherwise(F.lit(0))
    ).cast("long")
    return scored.groupBy("lang").agg(
        F.sum("c").cast("long").alias("n_bigrams"),
        cnt("seen").alias("n_seen"),
        cnt("lambda").alias("n_lambda"),
        cnt("hist").alias("n_hist"),
        cnt("unk").alias("n_unk"),
        F.sum(F.col("c") * F.col("cost")).cast("long").alias("nll_micro"),
        F.expr("sum(c * cost) div sum(c)").cast("long").alias("mean_nll_micro"),
    )


# --------------------------------------------------------------------------
# CCNet perplexity buckets (r13): the artifact CCNet actually ships —
# every language's documents split into head/middle/tail terciles by LM
# perplexity, with per-bucket doc/token accounting. Thresholds are exact
# interpolated per-lang percentiles (p33/p67) computed as ONE bounded
# aggregation and broadcast back (the ts_rfm_scores discipline: Spark
# `percentile` == DuckDB `quantile_cont` on integer inputs — never a
# per-lang window over the corpus). Perplexity = the self-scored KN
# mean NLL from text_kn_bigram_ppl's plan.
# --------------------------------------------------------------------------

_BUCKETS_ORACLE = f"""
WITH {_KN_CTES},
dbg AS (
  SELECT doc_id, lang, w1, w2, cast(count(*) AS BIGINT) AS c
  FROM bg GROUP BY doc_id, lang, w1, w2
),
per_doc AS (
  SELECT d.doc_id, d.lang,
         cast(sum(d.c) AS BIGINT) AS n_bigrams,
         cast(sum(d.c * cost.cost_micro) AS BIGINT)
             // cast(sum(d.c) AS BIGINT) AS mnll
  FROM dbg d JOIN cost ON cost.w1 = d.w1 AND cost.w2 = d.w2
  GROUP BY d.doc_id, d.lang
),
th AS (
  SELECT lang, quantile_cont(mnll, 0.33) AS t33,
         quantile_cont(mnll, 0.67) AS t67
  FROM per_doc GROUP BY lang
)
SELECT p.lang,
       CASE WHEN p.mnll <= th.t33 THEN 'head'
            WHEN p.mnll <= th.t67 THEN 'middle'
            ELSE 'tail' END AS bucket,
       cast(count(*) AS BIGINT) AS n_docs,
       cast(sum(p.n_bigrams) AS BIGINT) AS n_bigrams,
       cast(min(p.mnll) AS BIGINT) AS min_mnll,
       cast(max(p.mnll) AS BIGINT) AS max_mnll
FROM per_doc p JOIN th ON th.lang = p.lang
GROUP BY p.lang, bucket
"""


@register(
    "text_ccnet_ppl_buckets",
    oracle=_BUCKETS_ORACLE,
    tags=("text", "training"),
)
def text_ccnet_ppl_buckets(spark, sf_dir):
    """Per-language head/middle/tail perplexity terciles with doc/token
    accounting — the CCNet bucket artifact."""
    bg = _ngram_stream(spark, sf_dir, 2)
    # the oracle's mnll = sum(c * cost) div sum(c) = nll_micro div n_bigrams
    per_doc = _per_doc_nll(bg, _cost_table(bg), 2).withColumnRenamed(
        "mean_nll_micro", "mnll"
    )
    th = per_doc.groupBy("lang").agg(
        F.expr("percentile(mnll, 0.33)").alias("t33"),
        F.expr("percentile(mnll, 0.67)").alias("t67"),
    )
    bucket = (
        F.when(F.col("mnll") <= F.col("t33"), F.lit("head"))
        .when(F.col("mnll") <= F.col("t67"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return (
        per_doc.join(F.broadcast(th), "lang")
        .groupBy("lang", bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_bigrams").cast("long").alias("n_bigrams"),
            F.min("mnll").cast("long").alias("min_mnll"),
            F.max("mnll").cast("long").alias("max_mnll"),
        )
    )


# --------------------------------------------------------------------------
# Min-K% Prob contamination audit (r13): the membership-inference screen
# (Shi et al. 2023) used to detect benchmark/eval contamination — a
# document the model has memorized scores HIGH probability even on its
# least-likely tokens, so rank docs by the mean NLL of their k=20%
# highest-cost bigrams, ascending (most suspicious first). Here the
# "model" is the corpus-trained KN bigram LM, making the audit
# self-contained and exact.
#
# Shape: the per-occurrence (doc, bigram) cost stream ranks inside a
# per-DOC window (partition size = doc length, bounded by the data's
# max doc length, never |corpus|), keeps the top ceil(n/5) costs, and
# aggregates. Ties order by (cost desc, w1, w2); tied duplicates are
# value-identical so the sum is order-free.
# --------------------------------------------------------------------------

_MINK_TOP = 15

_MINK_ORACLE = f"""
WITH {_KN_CTES},
occ AS (
  SELECT bg.doc_id, bg.lang, cost.cost_micro
  FROM bg JOIN cost ON cost.w1 = bg.w1 AND cost.w2 = bg.w2
),
sized AS (
  SELECT doc_id, lang, cost_micro,
         cast(count(*) OVER (PARTITION BY doc_id) AS BIGINT) AS n,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY cost_micro DESC) AS rn
  FROM occ
),
mink AS (
  SELECT doc_id, lang, n, (n + 4) // 5 AS k,
         cast(sum(cost_micro) AS BIGINT) AS s
  FROM sized
  WHERE rn <= (n + 4) // 5
  GROUP BY doc_id, lang, n
)
SELECT doc_id, lang, n AS n_bigrams, cast(k AS BIGINT) AS k_used,
       s // k AS mink_mean_cost_micro
FROM mink
ORDER BY mink_mean_cost_micro, doc_id
LIMIT {_MINK_TOP}
"""


@register(
    "text_min_k_prob_audit",
    oracle=_MINK_ORACLE,
    tags=("text", "training", "quality"),
)
def text_min_k_prob_audit(spark, sf_dir):
    """Min-K% Prob: docs ranked by the mean cost of their 20% highest-
    cost bigrams, ascending — the contamination / membership screen."""
    bg = _ngram_stream(spark, sf_dir, 2)
    cost = _cost_table(bg).select("w1", "w2", "cost_micro")
    occ = bg.join(cost, ["w1", "w2"]).select("doc_id", "lang", "cost_micro")
    wn = Window.partitionBy("doc_id")
    wr = Window.partitionBy("doc_id").orderBy(F.desc("cost_micro"))
    sized = occ.select(
        "doc_id",
        "lang",
        "cost_micro",
        F.count(F.lit(1)).over(wn).cast("long").alias("n"),
        F.row_number().over(wr).alias("rn"),
    )
    mink = (
        sized.where(F.col("rn") <= F.expr("(n + 4) div 5"))
        .groupBy("doc_id", "lang", "n")
        .agg(F.sum("cost_micro").cast("long").alias("s"))
        .select(
            "doc_id",
            "lang",
            F.col("n").alias("n_bigrams"),
            F.expr("(n + 4) div 5").cast("long").alias("k_used"),
            F.expr("s div ((n + 4) div 5)").alias("mink_mean_cost_micro"),
        )
    )
    return mink.orderBy("mink_mean_cost_micro", "doc_id").limit(_MINK_TOP)


# --------------------------------------------------------------------------
# Order-n interpolated Kneser-Ney perplexity filters, n = 3..5 (the
# CCNet/KenLM orders; 5 is KenLM's default). Each order adds one
# continuation level to the bigram chain:
#
#   P_1(wn|w1..w_{n-1}) = (c(w1..wn) - D)/c(w1..w_{n-1} .)
#                         + D * N1+(w1..w_{n-1} .)/c(w1..w_{n-1} .) * P_2
#   P_j(wn|wj..w_{n-1}) = (N1+(. wj..wn) - D)/N1+(. wj..w_{n-1} .)
#                         + D * N1+(wj..w_{n-1} .)/N1+(. wj..w_{n-1} .)
#                           * P_{j+1}                        (2 <= j < n)
#   P_n(wn)             = N1+(. wn) / |distinct (w_{n-1}, wn) types|
#
# where the lower levels count CONTINUATIONS (distinct left-extension
# types), not raw frequencies — the defining KN property. Self-scoring
# keeps every max(x-D, 0) branch inactive (c >= 1 > D at the top,
# N1+ >= 1 > D below), so every probability is strictly in (0, 1) and
# every cost a positive integer after micro-quantization.
# --------------------------------------------------------------------------

_KN3_CTES = """
lf3 AS (
  SELECT doc_id, lang,
         list_filter(string_split(text, ' '), x -> length(x) > 0) AS t
  FROM documents
),
tg AS (
  SELECT doc_id, lang,
         unnest(list_transform(range(3, len(t) + 1), i -> t[i - 2])) AS w1,
         unnest(list_transform(range(3, len(t) + 1), i -> t[i - 1])) AS w2,
         unnest(list_transform(range(3, len(t) + 1), i -> t[i])) AS w3
  FROM lf3
),
tri AS (
  SELECT w1, w2, w3, cast(count(*) AS BIGINT) AS c123
  FROM tg GROUP BY w1, w2, w3
),
h12 AS (
  SELECT w1, w2, cast(sum(c123) AS BIGINT) AS c12,
         cast(count(*) AS BIGINT) AS n12
  FROM tri GROUP BY w1, w2
),
cont23 AS (
  SELECT w2, w3, cast(count(*) AS BIGINT) AS n1p23 FROM tri GROUP BY w2, w3
),
mid2 AS (
  SELECT w2, cast(sum(n1p23) AS BIGINT) AS ndot2,
         cast(count(*) AS BIGINT) AS nm2
  FROM cont23 GROUP BY w2
),
bt AS (SELECT DISTINCT w2, w3 FROM tg),
cw3 AS (SELECT w3, cast(count(*) AS BIGINT) AS npre3 FROM bt GROUP BY w3),
nbt AS (SELECT cast(count(*) AS BIGINT) AS nbig FROM bt),
cost3 AS (
  SELECT t.w1, t.w2, t.w3,
         cast(round(-ln(
           (cast(t.c123 AS DOUBLE) - 0.75) / cast(h.c12 AS DOUBLE)
           + 0.75 * cast(h.n12 AS DOUBLE) / cast(h.c12 AS DOUBLE)
             * ((cast(c.n1p23 AS DOUBLE) - 0.75) / cast(m2.ndot2 AS DOUBLE)
                + 0.75 * cast(m2.nm2 AS DOUBLE) / cast(m2.ndot2 AS DOUBLE)
                  * cast(w.npre3 AS DOUBLE) / cast(nbt.nbig AS DOUBLE))
         ) * 1000000) AS BIGINT) AS cost_micro
  FROM tri t
  JOIN h12 h ON h.w1 = t.w1 AND h.w2 = t.w2
  JOIN cont23 c ON c.w2 = t.w2 AND c.w3 = t.w3
  JOIN mid2 m2 ON m2.w2 = t.w2
  JOIN cw3 w ON w.w3 = t.w3, nbt
)
"""

_KN3_PPL_ORACLE = f"""
WITH {_KN3_CTES},
dtg AS (
  SELECT doc_id, lang, w1, w2, w3, cast(count(*) AS BIGINT) AS c
  FROM tg GROUP BY doc_id, lang, w1, w2, w3
),
per_doc AS (
  SELECT d.doc_id, d.lang,
         cast(sum(d.c) AS BIGINT) AS n_trigrams,
         cast(sum(d.c * cost3.cost_micro) AS BIGINT) AS nll_micro
  FROM dtg d JOIN cost3
    ON cost3.w1 = d.w1 AND cost3.w2 = d.w2 AND cost3.w3 = d.w3
  GROUP BY d.doc_id, d.lang
)
SELECT doc_id, lang, n_trigrams, nll_micro,
       nll_micro // n_trigrams AS mean_nll_micro
FROM per_doc
ORDER BY mean_nll_micro DESC, doc_id
LIMIT {_KN3_TOP_DOCS}
"""

_KN4_CTES = """
lf4 AS (
  SELECT doc_id, lang,
         list_filter(string_split(text, ' '), x -> length(x) > 0) AS t
  FROM documents
),
fg AS (
  SELECT doc_id, lang,
         unnest(list_transform(range(4, len(t) + 1), i -> t[i - 3])) AS w1,
         unnest(list_transform(range(4, len(t) + 1), i -> t[i - 2])) AS w2,
         unnest(list_transform(range(4, len(t) + 1), i -> t[i - 1])) AS w3,
         unnest(list_transform(range(4, len(t) + 1), i -> t[i])) AS w4
  FROM lf4
),
four AS (
  SELECT w1, w2, w3, w4, cast(count(*) AS BIGINT) AS c1234
  FROM fg GROUP BY w1, w2, w3, w4
),
h123 AS (
  SELECT w1, w2, w3, cast(sum(c1234) AS BIGINT) AS c123,
         cast(count(*) AS BIGINT) AS n123
  FROM four GROUP BY w1, w2, w3
),
cont234 AS (
  SELECT w2, w3, w4, cast(count(*) AS BIGINT) AS n1p234
  FROM four GROUP BY w2, w3, w4
),
mid23 AS (
  SELECT w2, w3, cast(sum(n1p234) AS BIGINT) AS ndot23,
         cast(count(*) AS BIGINT) AS nm23
  FROM cont234 GROUP BY w2, w3
),
n34 AS (
  SELECT w3, w4, cast(count(*) AS BIGINT) AS n1p34
  FROM cont234 GROUP BY w3, w4
),
mid3 AS (
  SELECT w3, cast(sum(n1p34) AS BIGINT) AS ndot3,
         cast(count(*) AS BIGINT) AS nm3
  FROM n34 GROUP BY w3
),
cw4 AS (SELECT w4, cast(count(*) AS BIGINT) AS npre4 FROM n34 GROUP BY w4),
nbt4 AS (SELECT cast(count(*) AS BIGINT) AS nbig FROM n34),
cost4 AS (
  SELECT t.w1, t.w2, t.w3, t.w4,
         cast(round(-ln(
           (cast(t.c1234 AS DOUBLE) - 0.75) / cast(h.c123 AS DOUBLE)
           + 0.75 * cast(h.n123 AS DOUBLE) / cast(h.c123 AS DOUBLE)
             * ((cast(c.n1p234 AS DOUBLE) - 0.75) / cast(m23.ndot23 AS DOUBLE)
                + 0.75 * cast(m23.nm23 AS DOUBLE) / cast(m23.ndot23 AS DOUBLE)
                  * ((cast(p.n1p34 AS DOUBLE) - 0.75)
                       / cast(m3.ndot3 AS DOUBLE)
                     + 0.75 * cast(m3.nm3 AS DOUBLE)
                         / cast(m3.ndot3 AS DOUBLE)
                       * cast(w.npre4 AS DOUBLE)
                         / cast(nbt4.nbig AS DOUBLE)))
         ) * 1000000) AS BIGINT) AS cost_micro
  FROM four t
  JOIN h123 h ON h.w1 = t.w1 AND h.w2 = t.w2 AND h.w3 = t.w3
  JOIN cont234 c ON c.w2 = t.w2 AND c.w3 = t.w3 AND c.w4 = t.w4
  JOIN mid23 m23 ON m23.w2 = t.w2 AND m23.w3 = t.w3
  JOIN n34 p ON p.w3 = t.w3 AND p.w4 = t.w4
  JOIN mid3 m3 ON m3.w3 = t.w3
  JOIN cw4 w ON w.w4 = t.w4, nbt4
)
"""

_KN4_PPL_ORACLE = f"""
WITH {_KN4_CTES},
dfg AS (
  SELECT doc_id, lang, w1, w2, w3, w4, cast(count(*) AS BIGINT) AS c
  FROM fg GROUP BY doc_id, lang, w1, w2, w3, w4
),
per_doc AS (
  SELECT d.doc_id, d.lang,
         cast(sum(d.c) AS BIGINT) AS n_fourgrams,
         cast(sum(d.c * cost4.cost_micro) AS BIGINT) AS nll_micro
  FROM dfg d JOIN cost4
    ON cost4.w1 = d.w1 AND cost4.w2 = d.w2 AND cost4.w3 = d.w3
       AND cost4.w4 = d.w4
  GROUP BY d.doc_id, d.lang
)
SELECT doc_id, lang, n_fourgrams, nll_micro,
       nll_micro // n_fourgrams AS mean_nll_micro
FROM per_doc
ORDER BY mean_nll_micro DESC, doc_id
LIMIT {_KN4_TOP_DOCS}
"""

_KN5_CTES = """
lf5 AS (
  SELECT doc_id, lang,
         list_filter(string_split(text, ' '), x -> length(x) > 0) AS t
  FROM documents
),
pg AS (
  SELECT doc_id, lang,
         unnest(list_transform(range(5, len(t) + 1), i -> t[i - 4])) AS w1,
         unnest(list_transform(range(5, len(t) + 1), i -> t[i - 3])) AS w2,
         unnest(list_transform(range(5, len(t) + 1), i -> t[i - 2])) AS w3,
         unnest(list_transform(range(5, len(t) + 1), i -> t[i - 1])) AS w4,
         unnest(list_transform(range(5, len(t) + 1), i -> t[i])) AS w5
  FROM lf5
),
five AS (
  SELECT w1, w2, w3, w4, w5, cast(count(*) AS BIGINT) AS c12345
  FROM pg GROUP BY w1, w2, w3, w4, w5
),
h1234 AS (
  SELECT w1, w2, w3, w4, cast(sum(c12345) AS BIGINT) AS c1234,
         cast(count(*) AS BIGINT) AS n1234
  FROM five GROUP BY w1, w2, w3, w4
),
cont2345 AS (
  SELECT w2, w3, w4, w5, cast(count(*) AS BIGINT) AS n1p2345
  FROM five GROUP BY w2, w3, w4, w5
),
mid234 AS (
  SELECT w2, w3, w4, cast(sum(n1p2345) AS BIGINT) AS ndot234,
         cast(count(*) AS BIGINT) AS nm234
  FROM cont2345 GROUP BY w2, w3, w4
),
n345 AS (
  SELECT w3, w4, w5, cast(count(*) AS BIGINT) AS n1p345
  FROM cont2345 GROUP BY w3, w4, w5
),
mid34 AS (
  SELECT w3, w4, cast(sum(n1p345) AS BIGINT) AS ndot34,
         cast(count(*) AS BIGINT) AS nm34
  FROM n345 GROUP BY w3, w4
),
n45 AS (
  SELECT w4, w5, cast(count(*) AS BIGINT) AS n1p45
  FROM n345 GROUP BY w4, w5
),
mid4 AS (
  SELECT w4, cast(sum(n1p45) AS BIGINT) AS ndot4,
         cast(count(*) AS BIGINT) AS nm4
  FROM n45 GROUP BY w4
),
cw5 AS (SELECT w5, cast(count(*) AS BIGINT) AS npre5 FROM n45 GROUP BY w5),
nbt5 AS (SELECT cast(count(*) AS BIGINT) AS nbig FROM n45),
cost5 AS (
  SELECT t.w1, t.w2, t.w3, t.w4, t.w5,
         cast(round(-ln(
           (cast(t.c12345 AS DOUBLE) - 0.75) / cast(h.c1234 AS DOUBLE)
           + 0.75 * cast(h.n1234 AS DOUBLE) / cast(h.c1234 AS DOUBLE)
             * ((cast(c.n1p2345 AS DOUBLE) - 0.75)
                  / cast(m234.ndot234 AS DOUBLE)
                + 0.75 * cast(m234.nm234 AS DOUBLE)
                    / cast(m234.ndot234 AS DOUBLE)
                  * ((cast(p3.n1p345 AS DOUBLE) - 0.75)
                       / cast(m34.ndot34 AS DOUBLE)
                     + 0.75 * cast(m34.nm34 AS DOUBLE)
                         / cast(m34.ndot34 AS DOUBLE)
                       * ((cast(p2.n1p45 AS DOUBLE) - 0.75)
                            / cast(m4.ndot4 AS DOUBLE)
                          + 0.75 * cast(m4.nm4 AS DOUBLE)
                              / cast(m4.ndot4 AS DOUBLE)
                            * cast(w.npre5 AS DOUBLE)
                              / cast(nbt5.nbig AS DOUBLE))))
         ) * 1000000) AS BIGINT) AS cost_micro
  FROM five t
  JOIN h1234 h
    ON h.w1 = t.w1 AND h.w2 = t.w2 AND h.w3 = t.w3 AND h.w4 = t.w4
  JOIN cont2345 c
    ON c.w2 = t.w2 AND c.w3 = t.w3 AND c.w4 = t.w4 AND c.w5 = t.w5
  JOIN mid234 m234 ON m234.w2 = t.w2 AND m234.w3 = t.w3 AND m234.w4 = t.w4
  JOIN n345 p3 ON p3.w3 = t.w3 AND p3.w4 = t.w4 AND p3.w5 = t.w5
  JOIN mid34 m34 ON m34.w3 = t.w3 AND m34.w4 = t.w4
  JOIN n45 p2 ON p2.w4 = t.w4 AND p2.w5 = t.w5
  JOIN mid4 m4 ON m4.w4 = t.w4
  JOIN cw5 w ON w.w5 = t.w5, nbt5
)
"""

_KN5_PPL_ORACLE = f"""
WITH {_KN5_CTES},
dpg AS (
  SELECT doc_id, lang, w1, w2, w3, w4, w5, cast(count(*) AS BIGINT) AS c
  FROM pg GROUP BY doc_id, lang, w1, w2, w3, w4, w5
),
per_doc AS (
  SELECT d.doc_id, d.lang,
         cast(sum(d.c) AS BIGINT) AS n_fivegrams,
         cast(sum(d.c * cost5.cost_micro) AS BIGINT) AS nll_micro
  FROM dpg d JOIN cost5
    ON cost5.w1 = d.w1 AND cost5.w2 = d.w2 AND cost5.w3 = d.w3
       AND cost5.w4 = d.w4 AND cost5.w5 = d.w5
  GROUP BY d.doc_id, d.lang
)
SELECT doc_id, lang, n_fivegrams, nll_micro,
       nll_micro // n_fivegrams AS mean_nll_micro
FROM per_doc
ORDER BY mean_nll_micro DESC, doc_id
LIMIT {_KN5_TOP_DOCS}
"""


def _kn_ladder_cost(spark, grams, n):
    """(w1..wn, cost_micro) for the order-n KN model (n = 3..5), every
    model statistic computed as a window aggregate over the distinct
    n-gram table.

    - Nested-suffix keys: each statistic is a per-group constant over a
      suffix key of the n-gram (the history w1..w_{n-1}, the level-j
      contexts wj..w_{n-1}, the continuations wj..wn), so it attaches as
      a window aggregate instead of a separately aggregated table joined
      back — no branch re-executes the scan/split/explode pipeline.
      "Count of distinct finer groups" is the sum of a first-row flag.
    - Clustering on the pivot w_{n-1}: every key but (wn) contains
      w_{n-1}, and hash clustering on a subset key co-locates every
      superset key, so ONE exchange on w_{n-1} serves the n-gram count
      and every window level. Parallelism is |vocab(w_{n-1})|; the
      per-w_{n-1} fan-in is inherent (the innermost context statistics
      ARE per-w_{n-1}).
    - Prefix-sequenced sort sharing: a Window requires its child sorted
      by its partition-key SEQUENCE plus order keys, but partitioning is
      a SET property. Every key list is sequenced w_{n-1}, w_{n-2}, ...,
      and each level's ordered row_number spec comes first, so the
      unordered sibling windows of the level ride its sort (a prefix-
      compatible ordering passes EnsureRequirements); the level's
      unbounded-frame count reuses the ordered spec for the same reason.
      One sort for the history, one per level and one after the wn
      exchange: n sorts in all.
    - wn is re-exchanged: (wn) is the one key not containing w_{n-1},
      so the continuation count npre pays the ladder's second exchange.
    - The width is pinned: repartition(width, key) is a by-number
      exchange, which AQE never coalesces. AQE sizes coalesced
      partitions by bytes, but this stage's cost is per-row sorts and
      window passes, so a byte-sized coalesce would run the ladder on
      fewer cores than the session has. Spark rejects a non-integer
      ``spark.sql.shuffle.partitions`` when it is set, so the read
      needs no fallback.

    Values are independent of the plan: the partition groups are fixed
    sets and each row_number's order keys make it deterministic.
    """
    ws = _words(n)
    pivot, last = ws[n - 2], ws[n - 1]
    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    one = F.count(F.lit(1))
    unb = (Window.unboundedPreceding, Window.unboundedFollowing)

    def down(hi, lo):  # w_hi, w_{hi-1}, ..., w_lo
        return [f"w{i}" for i in range(hi, lo - 1, -1)]

    # level j columns: n1p{j} = count of (w_j..w_n) (raw occurrences at
    # j = 1, distinct left extensions N1+(. w_j..w_n) below),
    # ndot{j} = its sum over the context, nm{j} = N1+(context .)
    counts = (
        grams.repartition(width, pivot)
        .groupBy(*ws)
        .agg(one.cast("long").alias("n1p1"))
    )
    hist = Window.partitionBy(*down(n - 1, 1))
    stats = counts.withColumn("ndot1", F.sum("n1p1").over(hist)).withColumn(
        "nm1", one.over(hist)
    )
    for j in range(2, n):
        # f{j} marks one row per distinct (w_j..w_n); the finer columns
        # are unique within each ordered group
        first = Window.partitionBy(*down(n - 1, j), last).orderBy(*down(j - 1, 1))
        ctx = Window.partitionBy(*down(n - 1, j))
        finer = one if j == 2 else F.sum(f"f{j - 1}")
        stats = (
            stats.withColumn(f"f{j}", (F.row_number().over(first) == 1).cast("long"))
            .withColumn(f"n1p{j}", finer.over(first.rowsBetween(*unb)))
            .withColumn(f"ndot{j}", finer.over(ctx))
            .withColumn(f"nm{j}", F.sum(f"f{j}").over(ctx))
            .drop(f"f{j - 1}")  # no f1: dropping it is a no-op
        )
    stats = (
        stats.repartition(width, last)
        .withColumn("npre", F.sum(f"f{n - 1}").over(Window.partitionBy(last)))
        .drop(f"f{n - 1}")
    )
    # nbig = |distinct (w_{n-1}, w_n)|: a tiny branch off the shared
    # counts subtree (ReuseExchange dedups its exchange)
    nbig = counts.select(pivot, last).distinct().agg(one.cast("long").alias("nbig"))
    p = None
    for j in range(n - 1, 0, -1):
        lam = F.lit(_D) * F.col(f"nm{j}") / F.col(f"ndot{j}")
        p = (F.col(f"n1p{j}").cast("double") - F.lit(_D)) / F.col(f"ndot{j}") + (
            lam * F.col("npre") / F.col("nbig") if p is None else lam * p
        )
    return stats.crossJoin(F.broadcast(nbig)).select(
        *ws, F.round(-F.log(p) * 1_000_000).cast("long").alias("cost_micro")
    )


@register(
    "text_kn_trigram_ppl",
    oracle=_KN3_PPL_ORACLE,
    tags=("text", "training"),
)
def text_kn_trigram_ppl(spark, sf_dir):
    """Per-doc mean NLL under the interpolated trigram KN model (two
    continuation levels), worst docs first — the order-3 CCNet filter."""
    return _kn_ppl(spark, sf_dir, 3)


@register(
    "text_kn_fourgram_ppl",
    oracle=_KN4_PPL_ORACLE,
    tags=("text", "training"),
)
def text_kn_fourgram_ppl(spark, sf_dir):
    """Per-doc mean NLL under the interpolated 4-gram KN model (three
    continuation levels), worst docs first — the KenLM-order CCNet
    filter."""
    return _kn_ppl(spark, sf_dir, 4)


@register(
    "text_kn_fivegram_ppl",
    oracle=_KN5_PPL_ORACLE,
    tags=("text", "training"),
    # headline r15 (VERDICT r14 #6): the heaviest registered text plan;
    # demotes text_html_strip, whose regex-scan shape
    # text_quality_score already tracks in the set
    bench=True,
)
def text_kn_fivegram_ppl(spark, sf_dir):
    """Per-doc mean NLL under the interpolated 5-gram KN model (four
    continuation levels), worst docs first — KenLM's default order."""
    return _kn_ppl(spark, sf_dir, 5)
