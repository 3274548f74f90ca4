"""Corpus-refinery operators: the cleanup passes a web-scale training
pipeline runs between raw ingest and tokenization, plus the data-quality /
skew-diagnosis reports that keep such a pipeline operable.

- Boilerplate line removal (RefinedWeb/CCNet-style): drop text segments
  that recur across many documents (nav bars, cookie banners, license
  headers). Segments shuffle as 8-byte xxhash64 keys (r8, was md5 hex),
  never bodies; the boilerplate set is vocabulary-bounded and joined
  unhinted so AQE broadcasts it only while it fits.
- Bloom-filter decontamination prefilter: the eval set's n-grams are folded
  into a tiny deterministic Bloom bitset that every executor holds; only
  grams passing the bitset are candidates for the (expensive) exact check.
  At 100 TB the bitset replaces a shuffle of the full training gram stream
  with a broadcast + local membership test.
- Count-min sketch heavy hitters: fixed d x w counter grid, mergeable by
  construction (counts are plain sums => map-side partial aggregation),
  estimate = min over d rows. The sketch is O(d*w) however large the input;
  the report joins estimates against exact counts to show the one-sided
  overcount guarantee.
- Data-quality constraint report (Deequ-shape): declarative completeness /
  uniqueness / range / pattern / referential-integrity checks, each a
  single scan-and-aggregate, unioned into one verdict table.
- Shuffle-key skew profiler: per-key frequency of a join/shuffle key with
  share-of-total and ratio-to-mean — the report that decides whether a key
  needs salting (cf. ``join_salted_skew``).

All cross-row float sums follow the scaled-int64 playbook in ``_util``;
hash-derived buckets/positions are md5 hex substrings so Spark and the
DuckDB oracle compute identical values with no integer-conversion
divergence.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..catalog import table
from ..registry import register
from ._util import spread

# --------------------------------------------------------------------------
# Boilerplate segment removal. The synthetic documents are single-line, so
# "lines" are modeled as aligned 3-token segments; a segment is boilerplate
# when it appears in >= _BOILER_K distinct documents. Real pipelines use the
# same plan with newline-split lines: explode -> count distinct docs per
# segment hash -> broadcast the (small) boilerplate set -> per-doc rebuild.
# --------------------------------------------------------------------------

_SEG = 3
_BOILER_K = 3

_BOILER_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, lang, string_split(text, ' ') AS tk,
         cast(len(string_split(text, ' ')) AS INTEGER) AS n
  FROM documents
),
segs AS (
  SELECT doc_id, lang,
         md5(array_to_string(tk[{_SEG} * i.i + 1 : {_SEG} * i.i + {_SEG}], ' ')) AS h
  FROM toks,
       LATERAL (SELECT unnest(generate_series(0, cast(floor((n - 1) / {_SEG}) AS INTEGER))) AS i) i
  WHERE len(tk[{_SEG} * i.i + 1 : {_SEG} * i.i + {_SEG}]) = {_SEG}
),
boiler AS (
  SELECT h FROM segs GROUP BY h HAVING count(DISTINCT doc_id) >= {_BOILER_K}
),
marked AS (
  SELECT s.doc_id, s.lang,
         CASE WHEN b.h IS NULL THEN 0 ELSE 1 END AS is_boiler
  FROM segs s LEFT JOIN boiler b ON s.h = b.h
),
per_doc AS (
  SELECT doc_id, max(lang) AS lang,
         count(*) AS n_segs, cast(sum(is_boiler) AS BIGINT) AS n_removed
  FROM marked GROUP BY doc_id
)
SELECT lang,
       cast(count(*) AS BIGINT) AS n_docs,
       cast(sum(n_segs) AS BIGINT) AS n_segments,
       cast(sum(n_removed) AS BIGINT) AS n_removed,
       cast(sum(CASE WHEN n_removed > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_affected,
       cast(sum((n_segs - n_removed) * {_SEG}) AS BIGINT) AS kept_tokens
FROM per_doc
GROUP BY lang
"""


@register("dedup_boilerplate_lines", oracle=_BOILER_ORACLE, tags=("dedup", "text"))
def dedup_boilerplate_lines(spark, sf_dir):
    d = spread(table(spark, sf_dir, "documents"), "doc_id")
    tk = F.split("text", " ")
    base = d.select("doc_id", "lang", tk.alias("tk"), F.size(tk).alias("n"))
    seg = F.slice("tk", _SEG * F.col("i") + 1, _SEG)
    segs = (
        base.select(
            "doc_id",
            "lang",
            F.explode(
                F.sequence(F.lit(0), F.floor((F.col("n") - 1) / _SEG).cast("int"))
            ).alias("i"),
            "tk",
        )
        .filter(F.size(seg) == _SEG)
        # r8: 8-byte xxhash64 segment key (internal groupBy/join identity)
        .select("doc_id", "lang", F.xxhash64(F.concat_ws(" ", seg)).alias("h"))
    )
    boiler = (
        segs.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= _BOILER_K)
        .select("h", F.lit(1).alias("is_boiler"))
    )
    # the boilerplate dictionary grows with the corpus — unhinted so AQE
    # broadcasts it only while it actually fits
    marked = segs.join(boiler, "h", "left").select(
        "doc_id", "lang", F.coalesce("is_boiler", F.lit(0)).alias("is_boiler")
    )
    per_doc = marked.groupBy("doc_id").agg(
        F.max("lang").alias("lang"),
        F.count(F.lit(1)).alias("n_segs"),
        F.sum("is_boiler").alias("n_removed"),
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_segs").alias("n_segments"),
        F.sum("n_removed").alias("n_removed"),
        F.sum((F.col("n_removed") > 0).cast("long")).alias("docs_affected"),
        F.sum((F.col("n_segs") - F.col("n_removed")) * _SEG).alias("kept_tokens"),
    )


# --------------------------------------------------------------------------
# Bloom-filter decontamination prefilter. Eval 4-grams hash to k=2
# positions in a 16-bit space (4 md5 hex chars); the distinct-position set
# is the Bloom bitset, broadcast to every executor. A train gram "hits"
# when both its positions are set — a superset of the exact matches (the
# one-sided Bloom guarantee, visible here as bloom_hits > exact_hits). The
# report shows both counts per language, i.e. the measured false-positive
# cost of skipping the exact anti-join for non-candidate grams.
# --------------------------------------------------------------------------

_G = 4

_BLOOM_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, lang,
         substr(md5(cast(doc_id AS VARCHAR)), 32, 1) < 'd' AS is_train,
         string_split(text, ' ') AS tk,
         cast(len(string_split(text, ' ')) AS INTEGER) AS n
  FROM documents
),
grams AS (
  SELECT doc_id, lang, is_train,
         array_to_string(tk[i.i : i.i + {_G} - 1], ' ') AS g
  FROM toks,
       LATERAL (SELECT unnest(generate_series(1, n - {_G} + 1)) AS i) i
  WHERE n >= {_G}
),
ev AS (SELECT DISTINCT g FROM grams WHERE NOT is_train),
bits AS (
  SELECT DISTINCT p FROM (
    SELECT substr(md5(g || '|0'), 1, 4) AS p FROM ev
    UNION ALL
    SELECT substr(md5(g || '|1'), 1, 4) AS p FROM ev
  ) u
),
tr AS (
  SELECT lang, g,
         substr(md5(g || '|0'), 1, 4) AS p0,
         substr(md5(g || '|1'), 1, 4) AS p1
  FROM grams WHERE is_train
),
hit AS (
  SELECT lang,
         CASE WHEN p0 IN (SELECT p FROM bits)
               AND p1 IN (SELECT p FROM bits) THEN 1 ELSE 0 END AS bloom_hit,
         CASE WHEN g IN (SELECT g FROM ev) THEN 1 ELSE 0 END AS exact_hit
  FROM tr
)
SELECT lang,
       cast(count(*) AS BIGINT) AS n_train_grams,
       cast(sum(bloom_hit) AS BIGINT) AS bloom_hits,
       cast(sum(exact_hit) AS BIGINT) AS exact_hits,
       cast(sum(bloom_hit) - sum(exact_hit) AS BIGINT) AS false_positives
FROM hit
GROUP BY lang
"""


@register("text_bloom_decontaminate", oracle=_BLOOM_ORACLE, tags=("text", "dedup"))
def text_bloom_decontaminate(spark, sf_dir):
    d = spread(table(spark, sf_dir, "documents"), "doc_id")
    tk = F.split("text", " ")
    base = d.select(
        "doc_id",
        "lang",
        (F.substring(F.md5(F.col("doc_id").cast("string")), 32, 1) < "d").alias(
            "is_train"
        ),
        tk.alias("tk"),
        F.size(tk).alias("n"),
    ).filter(F.col("n") >= _G)
    gram = F.concat_ws(" ", F.slice("tk", F.col("i"), _G))
    grams = base.select(
        "doc_id",
        "lang",
        "is_train",
        F.explode(F.sequence(F.lit(1), F.col("n") - _G + 1)).alias("i"),
        "tk",
    ).select("doc_id", "lang", "is_train", gram.alias("g"))

    ev = grams.filter(~F.col("is_train")).select("g").distinct()
    # r16 (guide §3.1): the bitset used to ride as ONE broadcast sorted
    # array probed with array_contains — an O(|bits|) LINEAR SCAN per
    # train gram and hash function (profile: one 8.5 s 32-task stage, the
    # whole query wall). The positions live in a 16-bit space, so the
    # bitset is a <=65536-row table BY CONSTRUCTION at any corpus size —
    # kept as a DataFrame (persisted+counted once: two broadcast builds
    # would otherwise re-run the eval-gram distinct) and probed with two
    # broadcast HASH joins instead: O(1) per gram, same
    # p0-in-bits AND p1-in-bits semantics.
    bits = (
        ev.select(F.substring(F.md5(F.concat(F.col("g"), F.lit("|0"))), 1, 4).alias("p"))
        .union(
            ev.select(F.substring(F.md5(F.concat(F.col("g"), F.lit("|1"))), 1, 4))
        )
        .distinct()
        .persist()
    )
    bits.count()
    # not unpersisted here: the returned DataFrame still reads this
    # cache. Only the harness sweep (``profile.sweep``) frees it between
    # queries; outside that harness it stays in the session.
    b0 = bits.select(F.col("p").alias("p0"), F.lit(1).alias("h0"))
    b1 = bits.select(F.col("p").alias("p1"), F.lit(1).alias("h1"))
    ev_flag = ev.select("g", F.lit(1).alias("exact_hit"))
    tr = grams.filter("is_train").select(
        "lang",
        "g",
        F.substring(F.md5(F.concat(F.col("g"), F.lit("|0"))), 1, 4).alias("p0"),
        F.substring(F.md5(F.concat(F.col("g"), F.lit("|1"))), 1, 4).alias("p1"),
    )
    hit = (
        tr.join(F.broadcast(b0), "p0", "left")
        .join(F.broadcast(b1), "p1", "left")
        .join(F.broadcast(ev_flag), "g", "left")
        .select(
            "lang",
            (F.col("h0").isNotNull() & F.col("h1").isNotNull())
            .cast("long")
            .alias("bloom_hit"),
            F.coalesce("exact_hit", F.lit(0)).cast("long").alias("exact_hit"),
        )
    )
    return hit.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_train_grams"),
        F.sum("bloom_hit").alias("bloom_hits"),
        F.sum("exact_hit").alias("exact_hits"),
        (F.sum("bloom_hit") - F.sum("exact_hit")).alias("false_positives"),
    )


# --------------------------------------------------------------------------
# End-to-end corpus pipeline report — the stage-by-stage survivor funnel
# every training-data run is judged by: raw -> quality gate (the
# text_quality_filter rules) -> exact dedup (canonical min-doc_id per
# md5(text)) -> duplicated-span accounting on the survivors (the
# dedup_duplicate_spans islands), reported as one row per stage with doc
# and token counts (stage 3's token count is EFFECTIVE tokens: survivors'
# tokens minus removable duplicated-span tokens). Each stage is the
# composition of operators verified individually elsewhere; this query
# pins the glue — the same filters applied in sequence produce the same
# funnel on both engines. Cost = the sum of its stages: one scan + one
# digest shuffle + one k-gram exchange on the (smaller) survivor set.
# --------------------------------------------------------------------------

_PIPELINE_ORACLE = """
WITH sig AS (
  SELECT doc_id, lang, text,
         cast(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
         cast(len(list_distinct(string_split(text, ' '))) AS BIGINT)
             AS n_distinct,
         cast(length(text) AS BIGINT) AS n_chars
  FROM documents
),
kept AS (
  SELECT doc_id, lang, text, n_tok FROM sig
  WHERE lang IN ('en', 'es', 'fr')
    AND n_tok BETWEEN 20 AND 1000
    AND 1 - cast(n_distinct AS DOUBLE) / n_tok <= 0.9
    AND cast(n_chars AS DOUBLE) / n_tok BETWEEN 2.0 AND 12.0
),
exact AS (
  SELECT doc_id, lang, text, n_tok FROM (
    SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id)
        AS rn
    FROM kept
  ) WHERE rn = 1
),
grams AS (
  SELECT doc_id, i AS pos,
         md5(array_to_string(tk[(i+1):(i+8)], ' ')) AS key
  FROM (
    SELECT doc_id, string_split(text, ' ') AS tk, n_tok,
           unnest(range(n_tok - 7)) AS i
    FROM exact WHERE n_tok >= 8
  )
),
dup AS (
  SELECT doc_id, pos FROM (
    SELECT doc_id, pos,
           row_number() OVER (PARTITION BY key ORDER BY doc_id, pos) AS rn
    FROM grams
  ) WHERE rn > 1
),
isl AS (
  SELECT doc_id, pos,
         CASE WHEN lag(pos) OVER w IS NULL THEN 0
              WHEN pos - lag(pos) OVER w > 8 THEN 1 ELSE 0 END AS brk
  FROM dup WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
spans AS (
  SELECT doc_id,
         sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS island, pos
  FROM isl
),
dup_tok AS (
  SELECT cast(coalesce(sum(p1 - p0 + 8), 0) AS BIGINT) AS removable
  FROM (SELECT doc_id, island, min(pos) AS p0, max(pos) AS p1
        FROM spans GROUP BY doc_id, island)
)
SELECT * FROM (
  SELECT 0 AS stage, 'raw' AS name,
         cast(count(*) AS BIGINT) AS n_docs,
         cast(sum(n_tok) AS BIGINT) AS n_tokens
  FROM sig
  UNION ALL
  SELECT 1, 'quality_gate', cast(count(*) AS BIGINT),
         cast(sum(n_tok) AS BIGINT) FROM kept
  UNION ALL
  SELECT 2, 'exact_dedup', cast(count(*) AS BIGINT),
         cast(sum(n_tok) AS BIGINT) FROM exact
  UNION ALL
  SELECT 3, 'span_dedup_effective', 
         (SELECT cast(count(*) AS BIGINT) FROM exact),
         (SELECT cast(sum(n_tok) AS BIGINT) FROM exact)
             - (SELECT removable FROM dup_tok)
) t
"""


@register(
    "corpus_pipeline_report", oracle=_PIPELINE_ORACLE, tags=("text", "dedup", "quality")
)
def corpus_pipeline_report(spark, sf_dir):
    from pyspark.sql import Window as W

    d = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    sig = d.select(
        "doc_id",
        "lang",
        "text",
        F.size(toks).cast("long").alias("n_tok"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct"),
        F.length("text").cast("long").alias("n_chars"),
    )
    kept = sig.filter(
        F.col("lang").isin("en", "es", "fr")
        & F.col("n_tok").between(20, 1000)
        & (1 - F.col("n_distinct").cast("double") / F.col("n_tok") <= 0.9)
        & (F.col("n_chars").cast("double") / F.col("n_tok")).between(2.0, 12.0)
    ).persist()
    exact = (
        kept.withColumn(
            "rn",
            F.row_number().over(
                # r8: xxhash64 window key — 8 bytes through the exchange
                W.partitionBy(F.xxhash64("text")).orderBy("doc_id")
            ),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
        .persist()
    )
    tk = F.split("text", " ")
    grams = exact.filter(F.col("n_tok") >= 8).select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), (F.col("n_tok") - 8).cast("int")),
                lambda i: F.xxhash64(F.array_join(F.slice(tk, i + 1, 8), " ")),
            )
        ).alias("pos", "key"),
    )
    dup = (
        grams.withColumn(
            "rn",
            F.row_number().over(W.partitionBy("key").orderBy("doc_id", "pos")),
        )
        .filter(F.col("rn") > 1)
        .select("doc_id", "pos")
    )
    w_doc = W.partitionBy("doc_id").orderBy("pos")
    brk = F.when(F.lag("pos").over(w_doc).isNull(), 0).otherwise(
        F.when(F.col("pos") - F.lag("pos").over(w_doc) > 8, 1).otherwise(0)
    )
    spans = (
        dup.withColumn("brk", brk)
        .withColumn(
            "island",
            F.sum("brk").over(w_doc.rowsBetween(W.unboundedPreceding, 0)),
        )
        .groupBy("doc_id", "island")
        .agg(F.min("pos").alias("p0"), F.max("pos").alias("p1"))
    )
    removable = spans.agg(
        F.coalesce(F.sum(F.col("p1") - F.col("p0") + 8), F.lit(0))
        .cast("long")
        .alias("removable")
    )

    def stage(df, num, name):
        return df.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
        ).select(
            F.lit(num).alias("stage"), F.lit(name).alias("name"), "n_docs", "n_tokens"
        )

    s3 = (
        exact.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("long").alias("tok"),
        )
        .crossJoin(F.broadcast(removable))
        .select(
            F.lit(3).alias("stage"),
            F.lit("span_dedup_effective").alias("name"),
            "n_docs",
            (F.col("tok") - F.col("removable")).alias("n_tokens"),
        )
    )
    return (
        stage(sig, 0, "raw")
        .unionByName(stage(kept, 1, "quality_gate"))
        .unionByName(stage(exact, 2, "exact_dedup"))
        .unionByName(s3)
    )


# --------------------------------------------------------------------------
# Full-funnel pipeline report v2 (r13, VERDICT r12 #5): the production
# training-data chain as ONE accounting artifact — langid gate ->
# quality gate -> exact dedup -> near-dup (signature) -> decontamination
# -> re-tokenize -> pack — one row per stage with doc/token counts that
# telescope. Every stage reuses a separately-verified operator's shape:
# the quality rules and exact dedup from corpus_pipeline_report, the
# one-permutation MinHash signature from dedup.py (full-signature
# equality = the high-threshold near-dup rung; band-graph clustering is
# verified separately in dedup_clusters), 8-gram decontamination against
# a held-out eval set (doc_id % 97 == 0, taken from RAW docs — the eval
# set is external to the funnel), the established regex token classes
# (ml_extra.py) for the tokenizer basis change, and contiguous-stream
# packing accounting (blocks = ceil(total/512)).
#
# Stage semantics: stages 0-5 filter docs (both counts non-increasing);
# stage 6 keeps stage-5 docs but re-bases n_tokens to the BPE-ish regex
# count; stage 7 re-bases n_docs to packed 512-token blocks. The
# telescoping invariants are pinned in pytest; the driver hash checks
# every number.
#
# Scale shape: one corpus scan feeds per-doc signals; exact/near dedup
# shuffle 8-16-byte keys; decontamination is one shingle equi-join
# against the (tiny) eval-gram set — each engine uses its own gram hash
# (values never leave the join); everything else is bounded aggs.
# --------------------------------------------------------------------------

_FUNNEL_ORACLE = """
WITH sig0 AS (
  SELECT doc_id, lang, text,
         cast(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
         cast(len(list_distinct(string_split(text, ' '))) AS BIGINT)
             AS n_distinct,
         cast(length(text) AS BIGINT) AS n_chars
  FROM documents
),
l1 AS (
  SELECT * FROM sig0 WHERE lang IN ('en', 'es', 'fr', 'de')
),
kept AS (
  SELECT * FROM l1
  WHERE n_tok BETWEEN 20 AND 1000
    AND 1 - cast(n_distinct AS DOUBLE) / n_tok <= 0.9
    AND cast(n_chars AS DOUBLE) / n_tok BETWEEN 2.0 AND 12.0
),
exact AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id)
        AS rn
    FROM kept
  ) t WHERE rn = 1
),
msig AS (
  SELECT doc_id,
         list_min(list_transform(hs, h -> substr(h, 1, 4)))
      || list_min(list_transform(hs, h -> substr(h, 5, 4)))
      || list_min(list_transform(hs, h -> substr(h, 9, 4)))
      || list_min(list_transform(hs, h -> substr(h, 13, 4)))
      || list_min(list_transform(hs, h -> substr(h, 17, 4)))
      || list_min(list_transform(hs, h -> substr(h, 21, 4)))
      || list_min(list_transform(hs, h -> substr(h, 25, 4)))
      || list_min(list_transform(hs, h -> substr(h, 29, 4))) AS msig
  FROM (
    SELECT doc_id, list_transform(
             list_filter(list_transform(range(len(toks) - 2),
               i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]),
               s -> s is not null),
             s -> md5(s)) AS hs
    FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM exact)
  ) h
),
near AS (
  SELECT e.* FROM (
    SELECT doc_id, row_number() OVER (PARTITION BY msig ORDER BY doc_id)
        AS rn
    FROM msig
  ) r JOIN exact e ON e.doc_id = r.doc_id
  WHERE r.rn = 1
),
evalg AS (
  SELECT DISTINCT md5(array_to_string(tk[(i+1):(i+8)], ' ')) AS g
  FROM (
    SELECT string_split(text, ' ') AS tk, n_tok, unnest(range(n_tok - 7)) AS i
    FROM sig0 WHERE doc_id % 97 = 0 AND n_tok >= 8
  ) t
),
dirty AS (
  SELECT DISTINCT doc_id
  FROM (
    SELECT doc_id, md5(array_to_string(tk[(i+1):(i+8)], ' ')) AS g
    FROM (
      SELECT doc_id, string_split(text, ' ') AS tk, n_tok,
             unnest(range(n_tok - 7)) AS i
      FROM near WHERE n_tok >= 8
    ) t0
  ) t JOIN evalg ON evalg.g = t.g
),
clean AS (
  SELECT * FROM near
  WHERE doc_id % 97 <> 0 AND doc_id NOT IN (SELECT doc_id FROM dirty)
),
tok6 AS (
  SELECT doc_id,
         cast(len(regexp_extract_all(text, '[A-Za-z]+'))
              + len(regexp_extract_all(text, '[0-9]+'))
              + len(regexp_extract_all(text, '[^A-Za-z0-9 ]'))
              AS BIGINT) AS n_bpe
  FROM clean
),
t6 AS (
  SELECT cast(count(*) AS BIGINT) AS n_docs,
         cast(coalesce(sum(n_bpe), 0) AS BIGINT) AS n_tokens
  FROM tok6
)
SELECT * FROM (
  SELECT 0 AS stage, 'raw' AS name, cast(count(*) AS BIGINT) AS n_docs,
         cast(sum(n_tok) AS BIGINT) AS n_tokens FROM sig0
  UNION ALL
  SELECT 1, 'langid_gate', cast(count(*) AS BIGINT),
         cast(sum(n_tok) AS BIGINT) FROM l1
  UNION ALL
  SELECT 2, 'quality_gate', cast(count(*) AS BIGINT),
         cast(sum(n_tok) AS BIGINT) FROM kept
  UNION ALL
  SELECT 3, 'exact_dedup', cast(count(*) AS BIGINT),
         cast(sum(n_tok) AS BIGINT) FROM exact
  UNION ALL
  SELECT 4, 'neardup_signature', cast(count(*) AS BIGINT),
         cast(sum(n_tok) AS BIGINT) FROM near
  UNION ALL
  SELECT 5, 'decontaminated', cast(count(*) AS BIGINT),
         cast(sum(n_tok) AS BIGINT) FROM clean
  UNION ALL
  SELECT 6, 'tokenized', n_docs, n_tokens FROM t6
  UNION ALL
  SELECT 7, 'packed', (n_tokens + 511) // 512, n_tokens FROM t6
) z
"""


@register(
    "corpus_funnel_report",
    oracle=_FUNNEL_ORACLE,
    tags=("text", "dedup", "quality"),
)
def corpus_funnel_report(spark, sf_dir):
    from pyspark.sql import Window as W

    from .dedup import _SHINGLES_SPARK, _sig_spark

    d = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    sig0 = d.select(
        "doc_id",
        "lang",
        "text",
        F.size(toks).cast("long").alias("n_tok"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct"),
        F.length("text").cast("long").alias("n_chars"),
    )
    l1 = sig0.filter(F.col("lang").isin("en", "es", "fr", "de"))
    kept = l1.filter(
        F.col("n_tok").between(20, 1000)
        & (1 - F.col("n_distinct").cast("double") / F.col("n_tok") <= 0.9)
        & (F.col("n_chars").cast("double") / F.col("n_tok")).between(2.0, 12.0)
    )
    exact = (
        kept.withColumn(
            "rn",
            F.row_number().over(W.partitionBy(F.xxhash64("text")).orderBy("doc_id")),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
        .persist()
    )
    msig = (
        exact.withColumn("toks", toks)
        .withColumn("shingles", F.expr(_SHINGLES_SPARK))
        .withColumn("hs", F.expr("transform(shingles, s -> md5(s))"))
        .select(
            "doc_id",
            F.concat(*[F.expr(_sig_spark(k)) for k in range(8)]).alias("msig"),
        )
    )
    near = (
        msig.withColumn(
            "rn", F.row_number().over(W.partitionBy("msig").orderBy("doc_id"))
        )
        .filter(F.col("rn") == 1)
        .select("doc_id")
        .join(exact, "doc_id")
        .persist()
    )
    tk = F.split("text", " ")
    gram = lambda df: df.filter(F.col("n_tok") >= 8).select(  # noqa: E731
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), (F.col("n_tok") - 8).cast("int")),
                lambda i: F.xxhash64(F.array_join(F.slice(tk, i + 1, 8), " ")),
            )
        ).alias("g"),
    )
    evalg = gram(sig0.filter(F.col("doc_id") % 97 == 0)).select("g").distinct()
    dirty = (
        gram(near).join(evalg, "g").select("doc_id").distinct()
    )
    clean = (
        near.filter(F.col("doc_id") % 97 != 0)
        .join(dirty, "doc_id", "left_anti")
        .persist()
    )
    n = lambda pat: F.size(F.regexp_extract_all("text", F.lit(pat), 0))  # noqa: E731
    tok6 = clean.select(
        "doc_id",
        (n("[A-Za-z]+") + n("[0-9]+") + n("[^A-Za-z0-9 ]"))
        .cast("long")
        .alias("n_bpe"),
    )
    t6 = tok6.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.coalesce(F.sum("n_bpe"), F.lit(0)).cast("long").alias("n_tokens"),
    ).persist()

    def stage(df, num, name):
        return df.agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
        ).select(
            F.lit(num).alias("stage"),
            F.lit(name).alias("name"),
            "n_docs",
            "n_tokens",
        )

    s6 = t6.select(
        F.lit(6).alias("stage"), F.lit("tokenized").alias("name"),
        "n_docs", "n_tokens",
    )
    s7 = t6.select(
        F.lit(7).alias("stage"),
        F.lit("packed").alias("name"),
        F.expr("(n_tokens + 511) div 512").alias("n_docs"),
        "n_tokens",
    )
    return (
        stage(sig0, 0, "raw")
        .unionByName(stage(l1, 1, "langid_gate"))
        .unionByName(stage(kept, 2, "quality_gate"))
        .unionByName(stage(exact, 3, "exact_dedup"))
        .unionByName(stage(near, 4, "neardup_signature"))
        .unionByName(stage(clean, 5, "decontaminated"))
        .unionByName(s6)
        .unionByName(s7)
    )
