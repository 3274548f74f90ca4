"""Corpus-hygiene operators a 100 TB training-data pipeline runs before
anything touches a tokenizer: PII redaction, language-model quality scoring,
and stratified sampling with exact per-stratum quotas.

Scale notes:
- PII redaction is a pure per-row regex map — no shuffle, stays inside
  whole-stage codegen, trivially parallel at any width.
- The unigram LM score needs one corpus-wide aggregation (the vocabulary —
  small, broadcast back) and one per-doc aggregation; log-probabilities are
  quantized to 1e-6 *as scaled integers* so every cross-row sum is exact
  int64 arithmetic (see `_util` module docstring for why raw double sums
  are a parity and determinism hazard).
- Stratified quotas use a per-stratum window (partitioned — never a global
  window) ordered by md5(doc_id): a deterministic uniform permutation, so
  "first K of the hash order" is an unbiased sample that every engine and
  every rerun agrees on. At 100 TB the window shuffles each stratum once;
  skewed strata amortize across tasks because rows within a stratum hash
  uniformly over partitions first (rank is computed post-shuffle per
  stratum — Spark handles this with a single RangePartitioner-free hash
  exchange on the stratum key).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..catalog import table
from ..registry import register
from ._util import local_df

# --------------------------------------------------------------------------
# PII redaction. The synthetic documents contain no PII, so the query
# deterministically injects two emails and a phone per doc (a closed form
# of doc_id) and then redacts — proving the regexes and the *global*
# replace semantics (DuckDB needs the 'g' flag; Spark's regexp_replace is
# always global).
# --------------------------------------------------------------------------

_EMAIL_PAT = "[a-z0-9]+@[a-z0-9]+\\.[a-z]+"
_PHONE_PAT = "\\d{3}-\\d{4}"

_PII_ORACLE = f"""
WITH synth AS (
  SELECT lang,
         text || ' contact user' || cast(doc_id AS VARCHAR)
              || '@mail' || cast(doc_id % 7 AS VARCHAR)
              || '.com or admin@backup.net call 555-'
              || cast(1000 + doc_id % 9000 AS VARCHAR) AS body
  FROM documents
), red AS (
  SELECT lang,
         cast(len(regexp_extract_all(body, '{_EMAIL_PAT}')) AS INTEGER) AS n_email,
         cast(len(regexp_extract_all(body, '{_PHONE_PAT}')) AS INTEGER) AS n_phone,
         regexp_replace(regexp_replace(body, '{_EMAIL_PAT}', '<EMAIL>', 'g'),
                        '{_PHONE_PAT}', '<PHONE>', 'g') AS redacted
  FROM synth
)
SELECT lang,
       cast(count(*) AS BIGINT) AS n_docs,
       cast(sum(n_email) AS BIGINT) AS emails_redacted,
       cast(sum(n_phone) AS BIGINT) AS phones_redacted,
       cast(sum(length(redacted)) AS BIGINT) AS redacted_chars
FROM red
GROUP BY lang
"""


@register("text_pii_redact", oracle=_PII_ORACLE, tags=("text", "pii"))
def text_pii_redact(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    body = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail"),
        (F.col("doc_id") % 7).cast("string"),
        F.lit(".com or admin@backup.net call 555-"),
        (F.lit(1000) + F.col("doc_id") % 9000).cast("string"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(body, _EMAIL_PAT, "<EMAIL>"), _PHONE_PAT, "<PHONE>"
    )
    return (
        d.select(
            "lang",
            F.regexp_count(body, F.lit(_EMAIL_PAT)).alias("n_email"),
            F.regexp_count(body, F.lit(_PHONE_PAT)).alias("n_phone"),
            F.length(redacted).alias("len_red"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_email").alias("emails_redacted"),
            F.sum("n_phone").alias("phones_redacted"),
            F.sum("len_red").cast("long").alias("redacted_chars"),
        )
    )


# --------------------------------------------------------------------------
# Unigram language-model quality score: ln p(doc) / n_tokens under the
# corpus's own unigram distribution — the classic cheap perplexity proxy
# for filtering gibberish / boilerplate. Log-probs are quantized to
# round(ln(p)*1e6) AS BIGINT at the vocabulary level, so the per-doc sum is
# exact integer arithmetic; the only cross-engine float ops are one
# division and one final round (both correctly-rounded IEEE, identical on
# both sides). The vocabulary is tiny relative to the corpus (Heaps' law)
# → broadcast join back onto the token stream.
# --------------------------------------------------------------------------

_LM_ORACLE = """
WITH toks AS (
  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok FROM documents
),
uni AS (SELECT tok, count(*) AS n FROM toks GROUP BY tok),
tot AS (SELECT cast(sum(n) AS BIGINT) AS t FROM uni),
lp AS (
  SELECT tok,
         cast(round(ln(n / cast(t.t AS DOUBLE)) * 1000000) AS BIGINT) AS lp6
  FROM uni, tot t
),
ds AS (
  SELECT t.doc_id, max(t.lang) AS lang,
         cast(sum(l.lp6) AS BIGINT) AS s, count(*) AS n_tok
  FROM toks t JOIN lp l ON t.tok = l.tok
  GROUP BY t.doc_id
),
sc AS (
  SELECT lang, round(s / cast(n_tok * 1000000 AS DOUBLE), 6) AS score FROM ds
)
SELECT lang,
       cast(floor(score) AS INTEGER) AS bin,
       cast(count(*) AS BIGINT) AS n_docs,
       round(min(score), 6) AS min_score,
       round(max(score), 6) AS max_score
FROM sc
GROUP BY lang, cast(floor(score) AS INTEGER)
"""


@register("text_lm_unigram_score", oracle=_LM_ORACLE, tags=("text", "quality"))
def text_lm_unigram_score(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("tok")
    )
    uni = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    tot = uni.agg(F.sum("n").cast("long").alias("t"))
    lp = uni.crossJoin(F.broadcast(tot)).select(
        "tok",
        F.round(F.log(F.col("n") / F.col("t").cast("double")) * 1000000)
        .cast("long")
        .alias("lp6"),
    )
    # lp is one row per vocabulary TERM — corpus-scaling, so not
    # force-broadcast (AQE decides; token-key shuffle join at 100 TB)
    ds = (
        toks.join(lp, "tok")
        .groupBy("doc_id")
        .agg(
            F.max("lang").alias("lang"),
            F.sum("lp6").alias("s"),
            F.count(F.lit(1)).alias("n_tok"),
        )
    )
    score = F.round(F.col("s") / (F.col("n_tok") * 1000000).cast("double"), 6)
    return (
        ds.select("lang", score.alias("score"))
        .groupBy("lang", F.floor("score").cast("int").alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.min("score"), 6).alias("min_score"),
            F.round(F.max("score"), 6).alias("max_score"),
        )
    )


# --------------------------------------------------------------------------
# Stratified sampling with exact per-stratum quotas: keep the first
# QUOTA docs of each language in md5(doc_id) order. Unlike Bernoulli
# sampling (sample_bernoulli_hash) the quota is *exact*, which is what a
# curriculum/eval-set builder actually needs.
# --------------------------------------------------------------------------

_QUOTA = 40

_STRAT_ORACLE = f"""
WITH ranked AS (
  SELECT lang, doc_id, n_chars,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY md5(cast(doc_id AS VARCHAR)), doc_id
         ) AS rk
  FROM documents
)
SELECT lang,
       cast(count(*) AS BIGINT) AS n_kept,
       cast(sum(doc_id) AS BIGINT) AS sum_kept_ids,
       cast(sum(n_chars) AS BIGINT) AS kept_chars
FROM ranked
WHERE rk <= {_QUOTA}
GROUP BY lang
"""


@register(
    "sample_stratified_quota", oracle=_STRAT_ORACLE, tags=("sample", "training")
)
def sample_stratified_quota(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        d.select("lang", "doc_id", "n_chars", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= _QUOTA)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("doc_id").alias("sum_kept_ids"),
            F.sum("n_chars").alias("kept_chars"),
        )
    )


# --------------------------------------------------------------------------
# RAG / context-window chunking: split each document into overlapping
# token windows (32 tokens, stride 24). Chunk boundaries are closed-form
# integer arithmetic on the token count, the expansion is one posexplode
# of a sequence (no shuffle at all — chunking is embarrassingly parallel),
# and both engines truncate the final ragged window identically.
# --------------------------------------------------------------------------

_CHUNK, _STRIDE = 32, 24

_CHUNK_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS tk,
         cast(len(string_split(text, ' ')) AS INTEGER) AS n
  FROM documents
),
sized AS (
  SELECT doc_id, tk, n,
         CASE WHEN n <= {_CHUNK} THEN 1
              ELSE cast(floor((n - {_CHUNK} + {_STRIDE} - 1) / {_STRIDE}) AS INTEGER) + 1
         END AS n_chunks
  FROM toks
)
SELECT doc_id,
       cast(i.i AS INTEGER) AS chunk_id,
       cast(len(tk[{_STRIDE} * i.i + 1 : {_STRIDE} * i.i + {_CHUNK}]) AS INTEGER)
         AS n_tok_chunk,
       tk[{_STRIDE} * i.i + 1] AS first_tok
FROM sized, LATERAL (SELECT unnest(generate_series(0, n_chunks - 1)) AS i) i
"""


@register("text_chunk_windows", oracle=_CHUNK_ORACLE, tags=("text", "chunking"))
def text_chunk_windows(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    tk = F.split("text", " ")
    n = F.size(tk)
    n_chunks = F.when(n <= _CHUNK, 1).otherwise(
        F.floor((n - _CHUNK + _STRIDE - 1) / _STRIDE).cast("int") + 1
    )
    sized = d.select(
        "doc_id", tk.alias("tk"), n_chunks.alias("n_chunks")
    )
    i = F.col("chunk_id")
    chunk = F.slice("tk", _STRIDE * i + 1, _CHUNK)
    return (
        sized.select(
            "doc_id",
            F.explode(F.sequence(F.lit(0), F.col("n_chunks") - 1)).alias("cid"),
            "tk",
        )
        .withColumn("chunk_id", F.col("cid").cast("int"))
        .select(
            "doc_id",
            "chunk_id",
            F.size(chunk).alias("n_tok_chunk"),
            F.element_at(chunk, 1).alias("first_tok"),
        )
    )


# --------------------------------------------------------------------------
# Curriculum binning: quartile each language's documents by length (the
# easy->hard ordering a curriculum schedule feeds from). ntile is only
# deterministic with a total order, so the window orders by (n_chars,
# doc_id) — the playbook's full-tie-breaker rule.
# --------------------------------------------------------------------------

_CURRICULUM_ORACLE = """
WITH binned AS (
  SELECT lang, doc_id, n_chars,
         cast(ntile(4) OVER (PARTITION BY lang ORDER BY n_chars, doc_id)
              AS INTEGER) AS bin
  FROM documents
)
SELECT lang, bin,
       cast(count(*) AS BIGINT) AS n_docs,
       cast(min(n_chars) AS BIGINT) AS min_chars,
       cast(max(n_chars) AS BIGINT) AS max_chars,
       cast(sum(doc_id) AS BIGINT) AS sum_ids
FROM binned
GROUP BY lang, bin
"""


@register(
    "text_curriculum_bins", oracle=_CURRICULUM_ORACLE, tags=("text", "training")
)
def text_curriculum_bins(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    return (
        d.select(
            "lang", "doc_id", "n_chars", F.ntile(4).over(w).cast("int").alias("bin")
        )
        .groupBy("lang", "bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
            F.sum("doc_id").alias("sum_ids"),
        )
    )


# --------------------------------------------------------------------------
# Bigram LM with stupid backoff, train->eval: the held-out-perplexity shape
# (score EVAL docs under an LM fitted on the TRAIN split, same md5 split as
# text_train_eval_split). Matched bigrams score ln(B(w1,w2)/U(w1)); unseen
# ones back off to ln(0.4 * (U(w2)+1) / (T+V)) — add-one smoothed so OOV
# eval tokens stay finite. All probabilities quantize to round(ln(p)*1e6)
# scaled int64 before any cross-row sum. The LM tables are
# vocabulary-bounded (broadcast here; at 100 TB the bigram join becomes an
# ordinary shuffle join on (w1, w2) — high-cardinality keys, no skew).
# --------------------------------------------------------------------------

_BIGRAM_ORACLE = """
WITH toks AS (
  SELECT doc_id, lang,
         substr(md5(cast(doc_id AS VARCHAR)), 32, 1) < 'd' AS is_train,
         string_split(text, ' ') AS tk,
         cast(len(string_split(text, ' ')) AS INTEGER) AS n
  FROM documents
),
grams AS (
  SELECT doc_id, lang, is_train, tk[i.i] AS w1, tk[i.i + 1] AS w2
  FROM toks, LATERAL (SELECT unnest(generate_series(1, n - 1)) AS i) i
),
uni AS (
  SELECT tk_u.t AS w, count(*) AS u
  FROM toks, LATERAL (SELECT unnest(tk) AS t) tk_u
  WHERE is_train
  GROUP BY tk_u.t
),
consts AS (
  SELECT cast(sum(u) AS BIGINT) AS t, count(*) AS v FROM uni
),
bi AS (
  SELECT g.w1, g.w2,
         cast(round(ln(count(*) / cast(max(uni.u) AS DOUBLE)) * 1000000)
              AS BIGINT) AS lp6
  FROM grams g JOIN uni ON g.w1 = uni.w
  WHERE g.is_train
  GROUP BY g.w1, g.w2
),
scored AS (
  SELECT g.doc_id, max(g.lang) AS lang,
         cast(sum(coalesce(
           bi.lp6,
           cast(round(ln(0.4 * (coalesce(u2.u, 0) + 1)
                         / cast(c.t + c.v AS DOUBLE)) * 1000000) AS BIGINT)
         )) AS BIGINT) AS s,
         count(*) AS n_bi
  FROM grams g
  LEFT JOIN bi ON g.w1 = bi.w1 AND g.w2 = bi.w2
  LEFT JOIN uni u2 ON g.w2 = u2.w
  CROSS JOIN consts c
  WHERE NOT g.is_train
  GROUP BY g.doc_id
),
sc AS (
  SELECT lang, round(s / cast(n_bi * 1000000 AS DOUBLE), 6) AS score
  FROM scored
)
SELECT lang,
       cast(floor(score) AS INTEGER) AS bin,
       cast(count(*) AS BIGINT) AS n_docs,
       round(min(score), 6) AS min_score,
       round(max(score), 6) AS max_score
FROM sc
GROUP BY lang, cast(floor(score) AS INTEGER)
"""


@register("text_lm_bigram_backoff", oracle=_BIGRAM_ORACLE, tags=("text", "quality"))
def text_lm_bigram_backoff(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    tk = F.split("text", " ")
    n = F.size(tk)
    base = d.select(
        "doc_id",
        "lang",
        (F.substring(F.md5(F.col("doc_id").cast("string")), 32, 1) < "d").alias(
            "is_train"
        ),
        tk.alias("tk"),
        n.alias("n"),
    )
    pair = F.expr(
        "zip_with(slice(tk, 1, n - 1), slice(tk, 2, n - 1),"
        " (a, b) -> struct(a as w1, b as w2))"
    )
    grams = base.select(
        "doc_id", "lang", "is_train", F.explode(pair).alias("g")
    ).select("doc_id", "lang", "is_train", "g.w1", "g.w2")

    train_toks = base.filter("is_train").select(F.explode("tk").alias("w"))
    uni = train_toks.groupBy("w").agg(F.count(F.lit(1)).alias("u"))
    consts = uni.agg(
        F.sum("u").cast("long").alias("t"), F.count(F.lit(1)).alias("v")
    )
    bi = (
        grams.filter("is_train")
        .join(uni, F.col("w1") == F.col("w"))
        .groupBy("w1", "w2")
        .agg(
            F.round(
                F.log(F.count(F.lit(1)) / F.max("u").cast("double")) * 1000000
            )
            .cast("long")
            .alias("lp6")
        )
    )
    u2 = uni.select(F.col("w").alias("w2_key"), F.col("u").alias("u2"))
    backoff = (
        F.round(
            F.log(
                0.4
                * (F.coalesce(F.col("u2"), F.lit(0)) + 1)
                / (F.col("t") + F.col("v")).cast("double")
            )
            * 1000000
        )
    ).cast("long")
    scored = (
        grams.filter(~F.col("is_train"))
        .join(bi, ["w1", "w2"], "left")
        .join(u2, F.col("w2") == F.col("w2_key"), "left")
        .crossJoin(F.broadcast(consts))
        .groupBy("doc_id")
        .agg(
            F.max("lang").alias("lang"),
            F.sum(F.coalesce(F.col("lp6"), backoff)).alias("s"),
            F.count(F.lit(1)).alias("n_bi"),
        )
    )
    score = F.round(F.col("s") / (F.col("n_bi") * 1000000).cast("double"), 6)
    return (
        scored.select("lang", score.alias("score"))
        .groupBy("lang", F.floor("score").cast("int").alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.min("score"), 6).alias("min_score"),
            F.round(F.max("score"), 6).alias("max_score"),
        )
    )


# --------------------------------------------------------------------------
# BPE merge-candidate statistics: global frequencies of adjacent token
# pairs — the argmax of this table IS the first merge of byte-pair-encoding
# tokenizer training (Sennrich 2016); production trainers re-run exactly
# this aggregation after each merge. Pair extraction is a JVM transform()
# over the token array (no self-join: each doc emits its n-1 pairs in one
# Generate), counts partial-aggregate map-side, and the top-k rides a
# TakeOrderedAndProject. At 100 TB the shuffle carries (pair, partial
# count) rows — vocabulary-bounded, not corpus-bounded.
# --------------------------------------------------------------------------

_BPE_TOP = 20

_BPE_ORACLE = f"""
WITH toks AS (
  SELECT string_split(text, ' ') AS tk,
         cast(len(string_split(text, ' ')) AS INTEGER) AS n
  FROM documents
),
pairs AS (
  SELECT tk[i.i] || ' ' || tk[i.i + 1] AS pair
  FROM toks, LATERAL (SELECT unnest(generate_series(1, n - 1)) AS i) i
  WHERE n >= 2
)
SELECT pair, cast(count(*) AS BIGINT) AS n
FROM pairs
GROUP BY pair
ORDER BY n DESC, pair
LIMIT {_BPE_TOP}
"""


@register("text_bpe_pair_merges", oracle=_BPE_ORACLE, tags=("text", "training"))
def text_bpe_pair_merges(spark, sf_dir):
    from ._util import spread

    d = spread(table(spark, sf_dir, "documents"), "doc_id")
    tk = F.split("text", " ")
    pairs = (
        d.select(tk.alias("tk"))
        .filter(F.size("tk") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(tk) - 1),"
                    " i -> concat(element_at(tk, i), ' ', element_at(tk, i + 1)))"
                )
            ).alias("pair")
        )
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "pair")
        .limit(_BPE_TOP)
    )


# --------------------------------------------------------------------------
# URL canonicalization + dedup — the first dedup a web-scale crawl runs,
# BEFORE any content hashing: lowercase scheme/host, strip default ports,
# drop fragments, remove utm_* tracking params, and SORT the remaining
# query params so param order can't split identical resources. URLs are
# synthesized deterministically from doc_id with deliberate variation
# (scheme/host case, a default :80 port, shuffled param order, per-doc
# utm junk) so the normalizer has real work to undo; the oracle replays
# the same normalization with DuckDB's list functions. Pure per-row
# expression work — no shuffle until the final count-distinct, which
# shuffles the (bounded) normalized strings' hash space.
# --------------------------------------------------------------------------

_URL_ORACLE = """
WITH u AS (
  SELECT doc_id, source,
         (CASE doc_id % 2 WHEN 0 THEN 'HTTP' ELSE 'http' END)
         || '://'
         || (CASE doc_id % 3 WHEN 0 THEN 'WWW.Site' ELSE 'www.site' END)
         || cast(doc_id % 7 AS VARCHAR)
         || '.COM'
         || (CASE doc_id % 4 WHEN 0 THEN ':80' ELSE '' END)
         || '/item/' || cast(doc_id % 40 AS VARCHAR)
         || (CASE doc_id % 2
             WHEN 0 THEN '?a=1&b=' || cast(doc_id % 3 AS VARCHAR)
                         || '&utm_source=s' || cast(doc_id AS VARCHAR)
             ELSE '?utm_campaign=c' || cast(doc_id AS VARCHAR)
                  || '&b=' || cast(doc_id % 3 AS VARCHAR) || '&a=1' END)
         || '#frag' || cast(doc_id AS VARCHAR) AS url
  FROM documents
),
norm AS (
  SELECT doc_id, source, url,
         lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) || '://'
         || lower(regexp_extract(url, '^[A-Za-z]+://([^/:?#]+)', 1))
         || (CASE WHEN regexp_extract(url, '^[A-Za-z]+://[^/:?#]+:([0-9]+)', 1)
                       IN ('', '80', '443') THEN ''
             ELSE ':' || regexp_extract(url, '^[A-Za-z]+://[^/:?#]+:([0-9]+)', 1)
             END)
         || regexp_extract(url, '^[A-Za-z]+://[^/?#]+(/[^?#]*)', 1)
         || (CASE WHEN q2 = '' THEN '' ELSE '?' || q2 END) AS norm_url
  FROM (
    SELECT doc_id, source, url,
           array_to_string(list_sort(list_filter(
               string_split(regexp_extract(url, '\\?([^#]*)', 1), '&'),
               x -> NOT starts_with(x, 'utm_'))), '&') AS q2
    FROM u
  )
)
SELECT source,
       cast(count(*) AS BIGINT) AS n_urls,
       cast(count(DISTINCT norm_url) AS BIGINT) AS n_canonical,
       cast(count(*) - count(DISTINCT norm_url) AS BIGINT) AS n_dup,
       min(norm_url) AS sample_url
FROM norm
GROUP BY source
"""


@register("dedup_url_normalize", oracle=_URL_ORACLE, tags=("dedup", "web"))
def dedup_url_normalize(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    url = F.concat(
        F.when(did % 2 == 0, "HTTP").otherwise("http"),
        F.lit("://"),
        F.when(did % 3 == 0, "WWW.Site").otherwise("www.site"),
        (did % 7).cast("string"),
        F.lit(".COM"),
        F.when(did % 4 == 0, ":80").otherwise(""),
        F.lit("/item/"),
        (did % 40).cast("string"),
        F.when(
            did % 2 == 0,
            F.concat(
                F.lit("?a=1&b="),
                (did % 3).cast("string"),
                F.lit("&utm_source=s"),
                did.cast("string"),
            ),
        ).otherwise(
            F.concat(
                F.lit("?utm_campaign=c"),
                did.cast("string"),
                F.lit("&b="),
                (did % 3).cast("string"),
                F.lit("&a=1"),
            )
        ),
        F.lit("#frag"),
        did.cast("string"),
    )
    u = d.select("doc_id", "source", url.alias("url"))
    q2 = F.array_join(
        F.array_sort(
            F.filter(
                F.split(F.regexp_extract("url", r"\?([^#]*)", 1), "&"),
                lambda x: ~x.startswith("utm_"),
            )
        ),
        "&",
    )
    port = F.regexp_extract("url", r"^[A-Za-z]+://[^/:?#]+:([0-9]+)", 1)
    norm_url = F.concat(
        F.lower(F.regexp_extract("url", r"^([A-Za-z]+)://", 1)),
        F.lit("://"),
        F.lower(F.regexp_extract("url", r"^[A-Za-z]+://([^/:?#]+)", 1)),
        F.when(port.isin("", "80", "443"), "").otherwise(
            F.concat(F.lit(":"), port)
        ),
        F.regexp_extract("url", r"^[A-Za-z]+://[^/?#]+(/[^?#]*)", 1),
        F.when(q2 == "", "").otherwise(F.concat(F.lit("?"), q2)),
    )
    norm = u.select("doc_id", "source", norm_url.alias("norm_url"))
    return norm.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_urls"),
        F.countDistinct("norm_url").alias("n_canonical"),
        (F.count(F.lit(1)) - F.countDistinct("norm_url"))
        .cast("long")
        .alias("n_dup"),
        F.min("norm_url").alias("sample_url"),
    )


# --------------------------------------------------------------------------
# Keyword/phrase blocklist tagging — the safety-filter primitive of a
# training corpus (ban-phrase screening, compliance terms, eval-canary
# strings). The phrase list is a broadcast-sized constant, so the operator
# compiles it into one boolean column per phrase over a single scan: NO
# join, NO shuffle except the final per-language rollup. Token-boundary
# semantics via space padding (phrase "merge batch" matches the token
# sequence, not substrings inside longer tokens). At 100 TB with a large
# phrase list this becomes the broadcast Aho-Corasick pattern; the
# per-phrase-column form is exact and plan-minimal for audit-sized lists.
# --------------------------------------------------------------------------

_BLOCK_PHRASES = ("slow", "error", "merge batch", "hash value")


def _tagger_oracle() -> str:
    branches = "\nUNION ALL\n".join(
        f"""SELECT lang, '{p}' AS phrase,
       cast(count(*) AS BIGINT) AS n_docs,
       cast(sum(CASE WHEN ' ' || text || ' ' LIKE '% {p} %'
                THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged
FROM documents GROUP BY lang"""
        for p in _BLOCK_PHRASES
    )
    return branches


@register("text_keyword_blocklist", oracle=_tagger_oracle(), tags=("text", "quality"))
def text_keyword_blocklist(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    padded = F.concat(F.lit(" "), F.col("text"), F.lit(" "))
    flags = d.select(
        "lang",
        *[
            padded.contains(f" {p} ").cast("int").alias(f"f{i}")
            for i, p in enumerate(_BLOCK_PHRASES)
        ],
    )
    agg = flags.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        *[
            F.sum(f"f{i}").cast("long").alias(f"s{i}")
            for i in range(len(_BLOCK_PHRASES))
        ],
    )
    pairs = F.array(
        *[
            F.struct(
                F.lit(p).alias("phrase"), F.col(f"s{i}").alias("n_flagged")
            )
            for i, p in enumerate(_BLOCK_PHRASES)
        ]
    )
    return agg.select(
        "lang", "n_docs", F.explode(pairs).alias("x")
    ).select("lang", "x.phrase", "n_docs", "x.n_flagged")


# --------------------------------------------------------------------------
# Distributed BPE tokenizer TRAINING — 3 unrolled merge rounds (the full
# loop, not just round-1 statistics like text_bpe_pair_merges): each
# round counts adjacent-pair frequencies corpus-wide, selects the top
# pair (freq desc, lexical tie-break), and rewrites the corpus by merging
# that pair before the next count. The rewrite is a broadcast-scalar
# regexp_replace: both engines implement leftmost non-overlapping global
# replacement, so occurrences sharing a delimiter space with a prior
# match defer to the next round — deterministic and identical on both
# sides (probed, not assumed). Per round at 100 TB: one pair-count
# aggregation (map-side combinable), one 1-row top-k, one broadcast map
# pass — the exact shape of production BPE trainers (they differ only in
# batching many merges per sweep). Corpus tokens are \\w+ so pair
# patterns are regex-safe by construction.
# --------------------------------------------------------------------------

_BPE_ROUNDS = 3


def _bpe_train_oracle() -> str:
    parts = ["WITH t0 AS (SELECT ' ' || text || ' ' AS s FROM documents)"]
    for r in range(1, _BPE_ROUNDS + 1):
        parts.append(f""",
tk{r} AS (
  SELECT string_split(trim(s), ' ') AS toks FROM t{r - 1}
  WHERE len(string_split(trim(s), ' ')) >= 2
),
pr{r} AS (
  SELECT toks[i + 1] AS a, toks[i + 2] AS b, cast(count(*) AS BIGINT) AS freq
  FROM (SELECT toks, unnest(range(len(toks) - 1)) AS i FROM tk{r})
  GROUP BY 1, 2
),
top{r} AS (SELECT a, b, freq FROM pr{r} ORDER BY freq DESC, a, b LIMIT 1),
t{r} AS (
  SELECT regexp_replace(
           s,
           (SELECT ' ' || a || ' ' || b || ' ' FROM top{r}),
           (SELECT ' ' || a || '_' || b || ' ' FROM top{r}),
           'g') AS s
  FROM t{r - 1}
)""")
    finals = " UNION ALL ".join(
        f"SELECT {r} AS round, a AS tok_a, b AS tok_b, freq FROM top{r}"
        for r in range(1, _BPE_ROUNDS + 1)
    )
    return "".join(parts) + "\n" + finals


@register(
    "text_bpe_train_merges", oracle=_bpe_train_oracle(), tags=("text", "training")
)
def text_bpe_train_merges(spark, sf_dir):
    """r8: same tokenize-once + array-fold rework as the batched trainer
    below (VERDICT r7 #6 applied to the classic form, was 29.8 s/merge at
    sf1) — the per-round rewrite is _bpe_merge_fold with a single-element
    merge set (the K=1 case of the nested-regex equivalence argument).
    Oracle unchanged."""
    d = table(spark, sf_dir, "documents")
    cur = d.repartition(spark.sparkContext.defaultParallelism).select(
        F.split(F.trim(F.col("text")), " ").alias("toks")
    )
    out_rows = []
    for r in range(1, _BPE_ROUNDS + 1):
        tk = F.col("toks")
        pairs = (
            cur.filter(F.size(tk) >= 2)
            .select(
                F.explode(
                    F.transform(
                        F.sequence(F.lit(0), F.size(tk) - 2),
                        lambda i: F.struct(
                            F.element_at(tk, i + 1).alias("a"),
                            F.element_at(tk, i + 2).alias("b"),
                        ),
                    )
                ).alias("p")
            )
            .groupBy("p.a", "p.b")
            .agg(F.count(F.lit(1)).alias("freq"))
        )
        # r16: the 1-row winner is collected (bounded: limit 1) instead
        # of eager-checkpointed — one corpus aggregation per round as
        # before, but no broadcast-build job and no checkpoint reads in
        # the final union (wordpiece/louvain/mmr driver-replay precedent)
        rows = (
            pairs.orderBy(F.desc("freq"), "a", "b")
            .limit(1)
            .select("a", "b", "freq")
            .collect()  # bounded-collect: <= 1 row by construction (limit 1)
        )
        if not rows:  # empty corpus: no pairs left, no further rows
            break
        top = rows[0]
        out_rows.append((r, top["a"], top["b"], int(top["freq"])))
        if r < _BPE_ROUNDS:
            kept = [
                {
                    "a": top["a"],
                    "b": top["b"],
                    "freq": int(top["freq"]),
                    "kr": 1,
                    "m": top["a"] + "_" + top["b"],
                }
            ]
            cur = (
                cur.withColumn("kept", _kept_literal(kept))
                .select(_bpe_merge_fold("toks", "kept").alias("toks"))
                .localCheckpoint(eager=False)
            )
    return local_df(
        spark,
        out_rows,
        "round int, tok_a string, tok_b string, freq long",
    )


# --------------------------------------------------------------------------
# BATCHED BPE training (VERDICT r6 #5): production trainers amortize the
# full-corpus rewrite by merging many pairs per counting sweep. Per sweep:
# count adjacent pairs once, rank the top _BPE_POOL candidates
# (freq desc, a, b), keep a candidate iff its token set {a, b, a_b} is
# disjoint from EVERY higher-ranked candidate's token set (kept or not —
# this makes any two kept pairs provably disjoint without a sequential
# scan), and apply the first _BPE_BATCH survivors in ONE corpus pass as
# nested constant-pattern regexp_replace calls (each node's pattern is
# constant across rows, so each compiled regex is cached; disjoint token
# sets make the K replacements commute, and both engines apply them in
# rank order anyway). 2 sweeps x 4 merges = 8 merges for 2 rewrites vs
# the classic trainer's 1 merge per rewrite above. Empty merge slots at
# tiny scale factors coalesce to the never-matching pattern 'a^'
# ('a' before start-of-input — impossible in both Java regex and RE2).
# --------------------------------------------------------------------------

_BPE_SWEEPS = 2
_BPE_BATCH = 4
_BPE_POOL = 12


def _bpe_batched_oracle() -> str:
    parts = ["WITH t0 AS (SELECT ' ' || text || ' ' AS s FROM documents)"]
    for r in range(1, _BPE_SWEEPS + 1):
        nested = "s"
        for k in range(1, _BPE_BATCH + 1):
            nested = (
                f"regexp_replace({nested},\n"
                f"    coalesce((SELECT ' ' || a || ' ' || b || ' ' FROM kept{r} WHERE kr = {k}), 'a^'),\n"
                f"    coalesce((SELECT ' ' || a || '_' || b || ' ' FROM kept{r} WHERE kr = {k}), ''),\n"
                f"    'g')"
            )
        parts.append(f""",
tk{r} AS (
  SELECT string_split(trim(s), ' ') AS toks FROM t{r - 1}
  WHERE len(string_split(trim(s), ' ')) >= 2
),
pr{r} AS (
  SELECT toks[i + 1] AS a, toks[i + 2] AS b, cast(count(*) AS BIGINT) AS freq
  FROM (SELECT toks, unnest(range(len(toks) - 1)) AS i FROM tk{r})
  GROUP BY 1, 2
),
cand{r} AS (
  SELECT a, b, freq, a || '_' || b AS m,
         row_number() OVER (ORDER BY freq DESC, a, b) AS r
  FROM pr{r}
  QUALIFY r <= {_BPE_POOL}
),
kept{r} AS (
  SELECT a, b, freq,
         row_number() OVER (ORDER BY r) AS kr
  FROM cand{r} c1
  WHERE NOT EXISTS (
    SELECT 1 FROM cand{r} c2
    WHERE c2.r < c1.r
      AND (c2.a IN (c1.a, c1.b, c1.m)
        OR c2.b IN (c1.a, c1.b, c1.m)
        OR c2.m IN (c1.a, c1.b, c1.m))
  )
  QUALIFY kr <= {_BPE_BATCH}
),
t{r} AS (
  SELECT {nested} AS s FROM t{r - 1}
)""")
    finals = " UNION ALL ".join(
        f"SELECT {r} AS sweep, kr AS rank, a AS tok_a, b AS tok_b, freq "
        f"FROM kept{r}"
        for r in range(1, _BPE_SWEEPS + 1)
    )
    return "".join(parts) + "\n" + finals


def _bpe_merge_fold(toks, kept):
    """One-pass token-array merge equivalent to the oracle's NESTED
    regexp_replace chain (r8, VERDICT r7 #6) — a fold automaton instead
    of _BPE_BATCH sequential regex scans per document per sweep.

    Equivalence argument (the oracle applies the K kept merges as K
    sequential global leftmost-nonoverlapping passes):
    - kept pairs have pairwise-disjoint token sets {a, b, a_b}, so a
      token participates in at most one pair's matches, merges of one
      pair never create/destroy another pair's matches (merging two
      adjacent tokens into one never makes two OTHER surviving tokens
      newly adjacent), and merged tokens can't match anything — the K
      passes commute and collapse to one left-to-right pass
      (property-tested in tests/test_round7_props.py).
    - The one regex subtlety is SELF-blocking: pass k's match at tokens
      (i, i+1) consumes the trailing delimiter space, so tokens
      (i+2, i+3) cannot match pair k in that pass ("a b a b" merges only
      once) — but CAN match a different pair j, whose pass scans a fresh
      string. The automaton therefore carries a one-position mask naming
      only the just-merged pair.
    State: (out tokens, pend = one uncommitted token that may start a
    match, mask = kr of the pair blocked at pend's position, 0 = none).

    r16 (guide §7.3 inter-job gaps): the automaton is parsed from ONE
    SQL string instead of assembled from nested functions.* lambda
    Columns — the Column form cost ~1.1 s of py4j round-trips PER
    CONSTRUCTION (built once per sweep, twice per BPE query). The parsed
    expression tree — including the repeated ``hit`` subtree inside each
    CASE arm — is the same tree the Column builder produced. ``toks``
    and ``kept`` are SQL expression strings (column names).
    """
    hit = (
        f"get(filter({kept}, p -> p.a = acc.pend AND p.b = t "
        f"AND p.kr != acc.mask), 0)"
    )
    return F.expr(
        f"""aggregate(
  {toks},
  struct(cast(array() as array<string>) as out,
         cast(null as string) as pend, 0 as mask),
  (acc, t) -> struct(
    CASE WHEN {hit} IS NOT NULL THEN concat(acc.out, array({hit}.m))
         WHEN acc.pend IS NULL THEN acc.out
         ELSE concat(acc.out, array(acc.pend)) END AS out,
    CASE WHEN {hit} IS NOT NULL THEN cast(null as string)
         ELSE t END AS pend,
    CASE WHEN {hit} IS NOT NULL THEN cast({hit}.kr as int)
         WHEN acc.pend IS NULL THEN acc.mask
         ELSE 0 END AS mask),
  acc -> CASE WHEN acc.pend IS NULL THEN acc.out
              ELSE concat(acc.out, array(acc.pend)) END)"""
    )


def _kept_literal(kept):
    """Collected kept-merge rows re-entering the plan as ONE literal
    array<struct> column for ``_bpe_merge_fold``. Values ride py4j as
    literals — corpus tokens never pass through SQL-string parsing, so
    quotes/backslashes/unicode survive verbatim (pinned in pytest)."""
    return F.array(
        *[
            F.struct(
                F.lit(k["a"]).alias("a"),
                F.lit(k["b"]).alias("b"),
                F.lit(int(k["freq"])).cast("long").alias("freq"),
                F.lit(int(k["kr"])).cast("long").alias("kr"),
                F.lit(k["m"]).alias("m"),
            )
            for k in kept
        ]
    )


@register(
    "text_bpe_train_batched",
    oracle=_bpe_batched_oracle(),
    tags=("text", "training"),
    # promoted to the headline bench in r8 (VERDICT r7 #7): the heaviest
    # registered query, now 0.5 s/merge at sf1 after the array-fold rework
    bench=True,
)
def text_bpe_train_batched(spark, sf_dir):
    """r8 rework (VERDICT r7 #6, was 8.4 s/merge at sf1): the corpus is
    tokenized ONCE and stays an array<string> column for the whole
    training loop — each sweep's pair count reads the arrays directly
    (no per-sweep re-split) and the rewrite is the single-pass
    _bpe_merge_fold automaton (no regex scans at all). The ~POOL-row
    candidate set collapses to ONE row via bounded top-k +
    collect_list/array_sort, so the disjointness filter and rank
    assignment are pure array expressions instead of triangular joins —
    per sweep: one corpus aggregation, one TakeOrdered(POOL), one 1-row
    map, one broadcast rewrite pass. Oracle unchanged."""
    d = table(spark, sf_dir, "documents")
    # one round-robin shuffle up front: the trainer makes 2 passes per
    # sweep over the same corpus, and the source parquet's split count
    # (1-2 files locally) would otherwise cap parallelism for all of
    # them — exactly the spread-then-iterate trade a cluster run makes
    cur = d.repartition(spark.sparkContext.defaultParallelism).select(
        F.split(F.trim(F.col("text")), " ").alias("toks")
    )
    out_rows = []

    for r in range(1, _BPE_SWEEPS + 1):
        tk = F.col("toks")
        pairs = (
            cur.filter(F.size(tk) >= 2)
            .select(
                F.explode(
                    F.transform(
                        F.sequence(F.lit(0), F.size(tk) - 2),
                        lambda i: F.struct(
                            F.element_at(tk, i + 1).alias("a"),
                            F.element_at(tk, i + 2).alias("b"),
                        ),
                    )
                ).alias("p")
            )
            .groupBy("p.a", "p.b")
            .agg(F.count(F.lit(1)).alias("freq"))
        )
        # bounded top-k first (TakeOrderedAndProject), then ONE row:
        # negated-freq struct field makes array_sort yield the
        # (freq desc, a, b) candidate ranking without any window
        cands = (
            pairs.orderBy(F.desc("freq"), "a", "b")
            .limit(_BPE_POOL)
            .agg(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            (-F.col("freq")).alias("nf"),
                            F.col("a").alias("a"),
                            F.col("b").alias("b"),
                            F.col("freq").alias("freq"),
                            F.concat(F.col("a"), F.lit("_"), F.col("b")).alias("m"),
                        )
                    )
                ).alias("cands")
            )
        )

        def overlaps(h, c):
            c_set = F.array(c["a"], c["b"], c["m"])
            return (
                F.array_contains(c_set, h["a"])
                | F.array_contains(c_set, h["b"])
                | F.array_contains(c_set, h["m"])
            )

        # keep candidate i iff token-disjoint from EVERY higher-ranked
        # candidate (kept or not), take the first _BPE_BATCH survivors,
        # and stamp their 1-based slot number kr
        kept_arr = F.slice(
            F.filter(
                F.col("cands"),
                lambda c, i: ~F.exists(
                    F.slice(F.col("cands"), 1, i), lambda h: overlaps(h, c)
                ),
            ),
            1,
            _BPE_BATCH,
        )
        # r16: collect the 1-row kept batch (bounded by construction:
        # <= _BPE_BATCH structs out of a limit(_BPE_POOL) top-k) instead
        # of eager-checkpointing it — the corpus count still runs exactly
        # once per sweep (inside the collect), but the per-sweep
        # broadcast-build job and the final union's checkpoint reads are
        # gone; the merge rules re-enter the plan as literals and the
        # result is a local single-slice table (wordpiece/louvain/mmr
        # driver-replay precedent).
        kept = (
            cands.select(
                F.transform(
                    kept_arr,
                    lambda c, i: F.struct(
                        c["a"].alias("a"),
                        c["b"].alias("b"),
                        c["freq"].alias("freq"),
                        (i + 1).cast("long").alias("kr"),
                        c["m"].alias("m"),
                    ),
                ).alias("kept")
            ).collect()  # bounded-collect: 1 row, <= _BPE_BATCH structs (limit + slice)
        )[0]["kept"]
        out_rows.extend(
            (r, int(k["kr"]), k["a"], k["b"], int(k["freq"])) for k in kept
        )
        if r < _BPE_SWEEPS and kept:
            cur = (
                cur.withColumn("kept", _kept_literal(kept))
                .select(_bpe_merge_fold("toks", "kept").alias("toks"))
                .localCheckpoint(eager=False)
            )
    return local_df(
        spark,
        out_rows,
        "sweep int, rank long, tok_a string, tok_b string, freq long",
    )


# --------------------------------------------------------------------------
# BPE tokenizer APPLY — the other half of the tokenizer loop: run the same
# 2 sweeps x 4 merges the batched trainer learns, then report what the
# learned vocabulary DID to the corpus, per language: doc counts, token
# counts before/after, merged-token count, and the compression ratio in
# ppm. This is the encode-side accounting a production pipeline runs after
# training a tokenizer (tokens-after is the number the training cluster
# actually pays for). Same per-sweep shape as the trainer — one corpus
# pair-count aggregation, one TakeOrdered(POOL), one broadcast rewrite
# fold — plus ONE final per-lang aggregation; token counts ride along as a
# per-row int so "before" needs no second corpus scan. compression_ppm
# numerators run in decimal(38,0) on Spark / HUGEINT in the oracle
# (tokens * 1e6 overflows int64 past ~9e12 tokens; quotient <= 1e6 so the
# long cast-back is bound-safe — decimal div wraps silently, see
# ml_eval.py).
# --------------------------------------------------------------------------


def _bpe_apply_oracle() -> str:
    parts = [
        "WITH t0 AS (SELECT lang, ' ' || text || ' ' AS s FROM documents)"
    ]
    for r in range(1, _BPE_SWEEPS + 1):
        nested = "s"
        for k in range(1, _BPE_BATCH + 1):
            nested = (
                f"regexp_replace({nested},\n"
                f"    coalesce((SELECT ' ' || a || ' ' || b || ' ' FROM kept{r} WHERE kr = {k}), 'a^'),\n"
                f"    coalesce((SELECT ' ' || a || '_' || b || ' ' FROM kept{r} WHERE kr = {k}), ''),\n"
                f"    'g')"
            )
        parts.append(f""",
tk{r} AS (
  SELECT string_split(trim(s), ' ') AS toks FROM t{r - 1}
  WHERE len(string_split(trim(s), ' ')) >= 2
),
pr{r} AS (
  SELECT toks[i + 1] AS a, toks[i + 2] AS b, cast(count(*) AS BIGINT) AS freq
  FROM (SELECT toks, unnest(range(len(toks) - 1)) AS i FROM tk{r})
  GROUP BY 1, 2
),
cand{r} AS (
  SELECT a, b, freq, a || '_' || b AS m,
         row_number() OVER (ORDER BY freq DESC, a, b) AS r
  FROM pr{r}
  QUALIFY r <= {_BPE_POOL}
),
kept{r} AS (
  SELECT a, b, freq,
         row_number() OVER (ORDER BY r) AS kr
  FROM cand{r} c1
  WHERE NOT EXISTS (
    SELECT 1 FROM cand{r} c2
    WHERE c2.r < c1.r
      AND (c2.a IN (c1.a, c1.b, c1.m)
        OR c2.b IN (c1.a, c1.b, c1.m)
        OR c2.m IN (c1.a, c1.b, c1.m))
  )
  QUALIFY kr <= {_BPE_BATCH}
),
t{r} AS (
  SELECT lang, {nested} AS s FROM t{r - 1}
)""")
    last = f"t{_BPE_SWEEPS}"
    parts.append(f""",
before AS (
  SELECT lang, cast(count(*) AS BIGINT) AS n_docs,
         cast(sum(len(string_split(trim(s), ' '))) AS BIGINT) AS tokens_before
  FROM t0 GROUP BY lang
),
after AS (
  SELECT lang,
         cast(sum(len(string_split(trim(s), ' '))) AS BIGINT) AS tokens_after
  FROM {last} GROUP BY lang
)
SELECT b.lang, b.n_docs, b.tokens_before, a.tokens_after,
       b.tokens_before - a.tokens_after AS n_merged,
       cast((cast(a.tokens_after AS HUGEINT) * 1000000) // b.tokens_before
            AS BIGINT) AS compression_ppm
FROM before b JOIN after a ON b.lang = a.lang""")
    return "".join(parts)


@register(
    "text_bpe_encode_apply",
    oracle=_bpe_apply_oracle(),
    tags=("text", "training"),
    # promoted to the headline bench on creation (r9): the heaviest query
    # added this round — the driver should be measuring the encode side
    # of the tokenizer loop alongside the trainer it mirrors
    bench=True,
)
def text_bpe_encode_apply(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    cur = d.repartition(spark.sparkContext.defaultParallelism).select(
        "lang", F.split(F.trim(F.col("text")), " ").alias("toks")
    )
    # tokens_before rides along per row: no second corpus scan at the end
    cur = cur.withColumn("nb", F.size("toks").cast("long"))

    for _ in range(_BPE_SWEEPS):
        tk = F.col("toks")
        pairs = (
            cur.filter(F.size(tk) >= 2)
            .select(
                F.explode(
                    F.transform(
                        F.sequence(F.lit(0), F.size(tk) - 2),
                        lambda i: F.struct(
                            F.element_at(tk, i + 1).alias("a"),
                            F.element_at(tk, i + 2).alias("b"),
                        ),
                    )
                ).alias("p")
            )
            .groupBy("p.a", "p.b")
            .agg(F.count(F.lit(1)).alias("freq"))
        )
        cands = (
            pairs.orderBy(F.desc("freq"), "a", "b")
            .limit(_BPE_POOL)
            .agg(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            (-F.col("freq")).alias("nf"),
                            F.col("a").alias("a"),
                            F.col("b").alias("b"),
                            F.col("freq").alias("freq"),
                            F.concat(F.col("a"), F.lit("_"), F.col("b")).alias("m"),
                        )
                    )
                ).alias("cands")
            )
        )

        def overlaps(h, c):
            c_set = F.array(c["a"], c["b"], c["m"])
            return (
                F.array_contains(c_set, h["a"])
                | F.array_contains(c_set, h["b"])
                | F.array_contains(c_set, h["m"])
            )

        kept_arr = F.slice(
            F.filter(
                F.col("cands"),
                lambda c, i: ~F.exists(
                    F.slice(F.col("cands"), 1, i), lambda h: overlaps(h, c)
                ),
            ),
            1,
            _BPE_BATCH,
        )
        # r16: collected (bounded 1-row, <= _BPE_BATCH structs) and
        # re-applied as a literal rule — no per-sweep eager checkpoint
        # or broadcast-build job (same move as text_bpe_train_batched);
        # an empty batch skips the rewrite (the fold is an identity then)
        kept = (
            cands.select(
                F.transform(
                    kept_arr,
                    lambda c, i: F.struct(
                        c["a"].alias("a"),
                        c["b"].alias("b"),
                        c["freq"].alias("freq"),
                        (i + 1).cast("long").alias("kr"),
                        c["m"].alias("m"),
                    ),
                ).alias("kept")
            ).collect()  # bounded-collect: 1 row, <= _BPE_BATCH structs (limit + slice)
        )[0]["kept"]
        if kept:
            cur = (
                cur.withColumn("kept", _kept_literal(kept))
                .select(
                    "lang",
                    _bpe_merge_fold("toks", "kept").alias("toks"),
                    "nb",
                )
                .localCheckpoint(eager=False)
            )

    return cur.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("nb").cast("long").alias("tokens_before"),
        F.sum(F.size("toks").cast("long")).cast("long").alias("tokens_after"),
        (F.sum("nb") - F.sum(F.size("toks").cast("long")))
        .cast("long")
        .alias("n_merged"),
        F.expr(
            "cast((cast(sum(cast(size(toks) AS BIGINT)) AS DECIMAL(38,0))"
            "      * 1000000) div sum(nb) AS BIGINT)"
        ).alias("compression_ppm"),
    )


# --------------------------------------------------------------------------
# PMI phrase detection (r12) — the word2phrase preprocessing step every
# large corpus pipeline runs before tokenizer training: adjacent word
# pairs whose pointwise mutual information ln(c_ab * N / (c_a * c_b))
# clears a threshold become merge candidates ("new_york"). Corpus cost is
# two partial-aggregated passes (bigram counts, unigram counts) over the
# token stream — both JVM Generate + hash agg, zero Python; the scoring
# join runs on the DISTINCT bigram/unigram tables (Heaps-sublinear), with
# unigram counts broadcast twice. PMI is rounded to 6 dp before ranking
# (the BM25/IVF rounded-score convention) and ties break on the words, so
# the top-20 verdict is deterministic in both engines. A c_ab >= 5
# support floor drops noise pairs, mirroring word2phrase's min-count.
# --------------------------------------------------------------------------

_PMI_MINC = 5
_PMI_TOP = 20

_PMI_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS ts FROM documents
),
uni AS (
  SELECT w, cast(count(*) AS BIGINT) AS c FROM (
    SELECT unnest(ts) AS w FROM toks
  ) t WHERE length(w) > 0 GROUP BY w
),
n AS (SELECT cast(sum(c) AS BIGINT) AS n FROM uni),
big AS (
  SELECT w1, w2, cast(count(*) AS BIGINT) AS c_ab FROM (
    SELECT ts[i] AS w1, ts[i + 1] AS w2
    FROM toks, unnest(range(1, len(ts))) AS r(i)
  ) t WHERE length(w1) > 0 AND length(w2) > 0 GROUP BY w1, w2
)
SELECT w1, w2, c_ab, u1.c AS c_a, u2.c AS c_b,
       round(ln(cast(c_ab AS DOUBLE) * n.n
                / (cast(u1.c AS DOUBLE) * cast(u2.c AS DOUBLE))), 6) AS pmi
FROM big
JOIN uni u1 ON u1.w = big.w1
JOIN uni u2 ON u2.w = big.w2
CROSS JOIN n
WHERE c_ab >= {_PMI_MINC}
ORDER BY pmi DESC, w1, w2
LIMIT {_PMI_TOP}
"""


@register(
    "text_bigram_pmi_phrases",
    oracle=_PMI_ORACLE,
    tags=("text", "training"),
)
def text_bigram_pmi_phrases(spark, sf_dir):
    from ._util import spread

    d = spread(table(spark, sf_dir, "documents").select("text"), "text")
    ts = d.select(F.split("text", " ").alias("ts"))
    uni = (
        ts.select(F.explode("ts").alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    n = uni.agg(F.sum("c").cast("long").alias("n"))
    big = (
        ts.filter(F.size("ts") >= 2)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("ts") - 1),
                    lambda i: F.struct(
                        F.element_at("ts", i).alias("w1"),
                        F.element_at("ts", i + 1).alias("w2"),
                    ),
                )
            ).alias("p")
        )
        .select("p.w1", "p.w2")
        .filter((F.length("w1") > 0) & (F.length("w2") > 0))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("c_ab"))
    )
    u1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("c_a"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("c_b"))
    pmi = F.round(
        F.log(
            F.col("c_ab").cast("double")
            * F.col("n")
            / (F.col("c_a").cast("double") * F.col("c_b").cast("double"))
        ),
        6,
    )
    return (
        big.filter(F.col("c_ab") >= _PMI_MINC)
        .join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .crossJoin(F.broadcast(n))
        .select("w1", "w2", "c_ab", "c_a", "c_b", pmi.alias("pmi"))
        .orderBy(F.desc("pmi"), "w1", "w2")
        .limit(_PMI_TOP)
    )
