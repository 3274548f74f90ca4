"""Retrieval scoring over the documents corpus: BM25 top-k.

The classic inverted-index ranking function, expressed as pure DataFrame
algebra so Catalyst keeps it JVM-side end to end:

- tokenize = ``split`` + ``explode`` (a JVM ``Generate``, no Python),
- term frequencies = one partial-aggregated ``groupBy(doc, term)``,
- document frequencies = one ``groupBy(term)`` over the (tiny) query-term
  subset, broadcast back,
- corpus stats (N, avgdl) = a single aggregate row, broadcast,
- final score = ``sum`` per doc + ``TakeOrderedAndProject`` top-k — never a
  global sort.

At 100 TB the only shuffle is the (doc_id, term) partial aggregation; the
query side (terms, df, corpus stats) stays broadcast however large the
corpus grows. Scores are rounded to 6 digits before ranking so a libm ulp
difference between the JVM's ``Math.log`` and DuckDB's ``std::log`` cannot
flip the ordering (same playbook as the IVF rounded-cosine ranking in
``similarity.py``).

BM25 constants: k1=1.2, b=0.75, idf = ln(1 + (N - df + 0.5)/(df + 0.5))
(the Robertson/Sparck-Jones form with the +1 that keeps idf positive).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..catalog import table
from ..registry import register
from ._util import local_df, spread, top_n
from .similarity import K_CENT as _K_CENT
from .similarity import NPROBE as _NPROBE
from .similarity import _assign_probe, _probe_topn, _sampled_scored

_TERMS = ("dup", "vector", "key")  # one rare term (high idf), two common
_K1 = 1.2
_B = 0.75
_TOPK = 10

_TERMS_SQL = ", ".join(f"'{t}'" for t in _TERMS)

_BM25_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w,
         cast(len(string_split(text, ' ')) AS BIGINT) AS dl
  FROM documents
),
stats AS (
  SELECT cast(count(*) AS BIGINT) AS n_docs,
         cast(sum(dl) AS BIGINT) AS sum_dl
  FROM (SELECT doc_id, max(dl) AS dl FROM toks GROUP BY doc_id) d
),
tf AS (
  SELECT doc_id, w, cast(count(*) AS BIGINT) AS tf, max(dl) AS dl
  FROM toks WHERE w IN ({_TERMS_SQL}) GROUP BY doc_id, w
),
df AS (
  SELECT w, cast(count(DISTINCT doc_id) AS BIGINT) AS df
  FROM toks WHERE w IN ({_TERMS_SQL}) GROUP BY w
),
scored AS (
  SELECT t.doc_id,
         sum(
           ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
           * (t.tf * ({_K1} + 1))
           / (t.tf + {_K1} * (1 - {_B} + {_B} * t.dl
                              / (cast(s.sum_dl AS DOUBLE) / s.n_docs)))
         ) AS score
  FROM tf t JOIN df d ON t.w = d.w CROSS JOIN stats s
  GROUP BY t.doc_id
)
SELECT doc_id, round(score, 6) AS bm25
FROM scored
ORDER BY bm25 DESC, doc_id
LIMIT {_TOPK}
"""


@register(
    # demoted from the headline set r12 (cap policy, bench.py): its plan
    # is a strict subset of text_hybrid_rrf_topk's sparse arm, which took
    # its slot — the hybrid query prices the BM25 corpus pass AND more.
    "text_bm25_topk", oracle=_BM25_ORACLE, tags=("text", "similarity")
)
def text_bm25_topk(spark, sf_dir):
    d = spread(table(spark, sf_dir, "documents"), "doc_id")
    tk = F.split("text", " ")
    toks = d.select(
        "doc_id",
        F.explode(tk).alias("w"),
        F.size(tk).cast("long").alias("dl"),
    )
    # r8: corpus stats (N, sum of doc lengths) come straight from size(tk)
    # per document — the old form aggregated the EXPLODED token stream by
    # doc_id first, shuffling every corpus token to recover per-doc lengths
    # the scan already had (7.6x cold at sf1: 3.9 -> 0.5s, same output).
    stats = d.select(F.size(tk).cast("long").alias("dl")).agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sum_dl")
    )
    hits = toks.filter(F.col("w").isin(*_TERMS))
    tf = hits.groupBy("doc_id", "w").agg(
        F.count(F.lit(1)).alias("tf"), F.max("dl").alias("dl")
    )
    df = hits.groupBy("w").agg(F.countDistinct("doc_id").alias("df"))
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs")
    idf = F.log(
        1 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    term_score = (
        idf
        * (F.col("tf") * (_K1 + 1))
        / (F.col("tf") + _K1 * (1 - _B + _B * F.col("dl") / avgdl))
    )
    scored = (
        tf.join(F.broadcast(df), "w")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.sum(term_score).alias("score"))
    )
    return (
        scored.select("doc_id", F.round("score", 6).alias("bm25"))
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(_TOPK)
    )


# --------------------------------------------------------------------------
# Persisted inverted index with partition-pruned lookup — the text twin of
# ``sim_ivf_persisted``. Posting lists (term, doc_id, tf) are written out
# partitioned by a 16-way term-hash bucket; a query for a term set then
# reads ONLY the buckets its terms hash to (static partition pruning — the
# bucket literals are computed from the terms before the plan is built, so
# the FileScan's PartitionFilters prune at planning time, no scan of the
# other 15/16ths). This is how a 100 TB corpus serves term lookups without
# touching the whole index; refreshing the index is an append of new docs'
# postings into the same bucket layout.
# --------------------------------------------------------------------------

import hashlib as _hashlib


def _term_bucket_py(term: str) -> int:
    return int(_hashlib.md5(term.encode()).hexdigest()[0], 16)


_IDX_TERMS = ("dup", "vector", "key")
_IDX_TOP = 3

_IDX_ORACLE = f"""
WITH postings AS (
  SELECT w, doc_id, cast(count(*) AS BIGINT) AS tf
  FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
  ) t
  WHERE w IN ({", ".join(f"'{t}'" for t in _IDX_TERMS)})
  GROUP BY w, doc_id
),
ranked AS (
  SELECT w AS term, doc_id, tf,
         row_number() OVER (PARTITION BY w ORDER BY tf DESC, doc_id) AS rn
  FROM postings
)
SELECT term, doc_id, tf FROM ranked WHERE rn <= {_IDX_TOP}
"""


@register(
    "text_inverted_index_persisted",
    oracle=_IDX_ORACLE,
    tags=("text", "formats"),
)
def text_inverted_index_persisted(spark, sf_dir):
    from .file_formats import _scratch

    d = spread(table(spark, sf_dir, "documents"), "doc_id")
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    postings = (
        toks.groupBy("w", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
        .withColumn(
            "bucket",
            F.expr("instr('0123456789abcdef', substr(md5(w), 1, 1)) - 1"),
        )
    )
    out = _scratch("invidx", sf_dir)
    postings.write.mode("overwrite").partitionBy("bucket").parquet(str(out))

    wanted_buckets = sorted({_term_bucket_py(t) for t in _IDX_TERMS})
    lists = (
        spark.read.parquet(str(out))
        .filter(F.col("bucket").isin(wanted_buckets))
        .filter(F.col("w").isin(*_IDX_TERMS))
    )
    return top_n(lists, "w", _IDX_TOP, F.desc("tf"), "doc_id").select(
        F.col("w").alias("term"), "doc_id", "tf"
    )


# --------------------------------------------------------------------------
# Hybrid retrieval: BM25 + IVF-ANN fused with Reciprocal Rank Fusion
# (r11, VERDICT r10 #2) — the RAG-serving query shape. A bounded query
# batch carries BOTH a term set (sparse arm) and an embedding (dense
# arm; embeddings.vec_id is row-aligned with documents.doc_id in the
# synthetic corpus, so the two arms rank the same item space):
#
# - sparse arm = the proven BM25 pipeline above, generalized to a
#   per-query term table: tf is ONE (doc_id, term) partial aggregation
#   over the union-term filter (corpus-side cost is independent of the
#   number of queries), df/qt/corpus-stats all broadcast;
# - dense arm = the proven sampled-quantizer IVF index (similarity.py
#   ``_sampled_scored``/``_assign_probe``/``_probe_topn``): broadcast
#   centroids, argmax assignment, probe only NPROBE inverted lists;
# - fusion = RRF: score(q, d) = sum over arms of 1/(60 + rank). Both
#   candidate lists are bounded (R per query per arm), so the
#   full-outer fuse join and the final top-k touch O(|Q| * R) rows —
#   constants — regardless of corpus size. Rank order inside each arm
#   uses the arm's own proven tie rules (rounded score DESC, doc_id),
#   so the fused ordering is deterministic in both engines; absent-arm
#   ranks surface as 0 (never legitimately 0 for a present arm).
# --------------------------------------------------------------------------

_RRF_K = 60
_RRF_R = 10  # per-arm candidate depth
_RRF_OUT = 5  # fused top-k per query
_RRF_QUERY_TERMS: dict[int, tuple[str, ...]] = {
    0: ("dup", "vector", "key"),
    1: ("spark", "scan", "slow"),
    2: ("merge", "window", "big"),
}
_RRF_NQ = len(_RRF_QUERY_TERMS)
_RRF_UNION = sorted({w for ts in _RRF_QUERY_TERMS.values() for w in ts})
_RRF_UNION_SQL = ", ".join(f"'{t}'" for t in _RRF_UNION)
_RRF_QT_SQL = ", ".join(
    f"({q}, '{w}')" for q, ts in sorted(_RRF_QUERY_TERMS.items()) for w in ts
)

_HYBRID_RRF_ORACLE = f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> cast(x AS DOUBLE)) AS e
  FROM embeddings
),
cent AS (
  SELECT vec_id AS cent_id, e AS cent_e FROM v
  ORDER BY md5(cast(vec_id AS VARCHAR)), vec_id
  LIMIT {_K_CENT}
),
cd AS (
  SELECT v.vec_id, cent.cent_id,
         row_number() OVER (
           PARTITION BY v.vec_id
           ORDER BY round(list_dot_product(v.e, cent.cent_e)
             / (sqrt(list_dot_product(v.e, v.e))
                * sqrt(list_dot_product(cent.cent_e, cent.cent_e))), 6) DESC,
             cent.cent_id
         ) AS crn
  FROM v CROSS JOIN cent
),
assign AS (SELECT vec_id, cent_id FROM cd WHERE crn = 1),
probe AS (
  SELECT vec_id AS query_id, cent_id FROM cd
  WHERE crn <= {_NPROBE} AND vec_id < {_RRF_NQ}
),
dscored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS doc_id,
         list_dot_product(q.e, c.e)
           / (sqrt(list_dot_product(q.e, q.e))
              * sqrt(list_dot_product(c.e, c.e))) AS cos
  FROM probe p
  JOIN assign a ON a.cent_id = p.cent_id
  JOIN v q ON q.vec_id = p.query_id
  JOIN v c ON c.vec_id = a.vec_id AND c.vec_id <> q.vec_id
),
dense AS (
  SELECT query_id, doc_id, rn FROM (
    SELECT query_id, doc_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos DESC, doc_id) AS rn
    FROM dscored
  ) t WHERE rn <= {_RRF_R}
),
qt(query_id, w) AS (VALUES {_RRF_QT_SQL}),
toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w,
         cast(len(string_split(text, ' ')) AS BIGINT) AS dl
  FROM documents
),
stats AS (
  SELECT cast(count(*) AS BIGINT) AS n_docs,
         cast(sum(len(string_split(text, ' '))) AS BIGINT) AS sum_dl
  FROM documents
),
tf AS (
  SELECT doc_id, w, cast(count(*) AS BIGINT) AS tf, max(dl) AS dl
  FROM toks WHERE w IN ({_RRF_UNION_SQL}) GROUP BY doc_id, w
),
dfreq AS (
  SELECT w, cast(count(DISTINCT doc_id) AS BIGINT) AS df
  FROM toks WHERE w IN ({_RRF_UNION_SQL}) GROUP BY w
),
sscored AS (
  SELECT qt.query_id, t.doc_id,
         sum(
           ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
           * (t.tf * ({_K1} + 1))
           / (t.tf + {_K1} * (1 - {_B} + {_B} * t.dl
                              / (cast(s.sum_dl AS DOUBLE) / s.n_docs)))
         ) AS score
  FROM tf t
  JOIN dfreq d ON t.w = d.w
  JOIN qt ON qt.w = t.w
  CROSS JOIN stats s
  GROUP BY qt.query_id, t.doc_id
),
sparse AS (
  SELECT query_id, doc_id, rn FROM (
    SELECT query_id, doc_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY round(score, 6) DESC, doc_id) AS rn
    FROM sscored
  ) t WHERE rn <= {_RRF_R}
),
fused AS (
  SELECT coalesce(d.query_id, s.query_id) AS query_id,
         coalesce(d.doc_id, s.doc_id) AS doc_id,
         cast(coalesce(d.rn, 0) AS BIGINT) AS rank_dense,
         cast(coalesce(s.rn, 0) AS BIGINT) AS rank_sparse,
         coalesce(cast(1 AS DOUBLE) / ({_RRF_K} + d.rn), 0)
           + coalesce(cast(1 AS DOUBLE) / ({_RRF_K} + s.rn), 0) AS rrf
  FROM dense d
  FULL JOIN sparse s ON d.query_id = s.query_id AND d.doc_id = s.doc_id
)
SELECT query_id, doc_id, round(rrf, 6) AS rrf, rank_dense, rank_sparse
FROM (
  SELECT query_id, doc_id, rrf, rank_dense, rank_sparse,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY rrf DESC, doc_id) AS frn
  FROM fused
) t WHERE frn <= {_RRF_OUT}
"""


@register(
    # promoted to the headline set r12 (VERDICT r11 #7): the flagship
    # RAG-serving shape, replacing its own sparse arm text_bm25_topk.
    "text_hybrid_rrf_topk",
    oracle=_HYBRID_RRF_ORACLE,
    tags=("text", "similarity", "retrieval"),
    bench=True,
)
def text_hybrid_rrf_topk(spark, sf_dir):
    # ---- dense arm: sampled-quantizer IVF top-R per query -------------
    assign, probe = _assign_probe(_sampled_scored(spark, sf_dir))
    probe = probe.filter(F.col("query_id") < _RRF_NQ)
    dense = _probe_topn(assign, probe, _RRF_R).select(
        "query_id", F.col("neighbor_id").alias("doc_id"), F.col("rn").alias("drn")
    )

    # ---- sparse arm: per-query BM25 over a broadcast term table -------
    d = spread(table(spark, sf_dir, "documents"), "doc_id")
    tk = F.split("text", " ")
    toks = d.select(
        "doc_id",
        F.explode(tk).alias("w"),
        F.size(tk).cast("long").alias("dl"),
    )
    stats = d.select(F.size(tk).cast("long").alias("dl")).agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sum_dl")
    )
    hits = toks.filter(F.col("w").isin(*_RRF_UNION))
    tf = hits.groupBy("doc_id", "w").agg(
        F.count(F.lit(1)).alias("tf"), F.max("dl").alias("dl")
    )
    dfreq = hits.groupBy("w").agg(F.countDistinct("doc_id").alias("df"))
    qt = local_df(
        spark,
        [(q, w) for q, ts in sorted(_RRF_QUERY_TERMS.items()) for w in ts],
        "query_id long, w string",
    )
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs")
    idf = F.log(
        1 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    term_score = (
        idf
        * (F.col("tf") * (_K1 + 1))
        / (F.col("tf") + _K1 * (1 - _B + _B * F.col("dl") / avgdl))
    )
    sscored = (
        tf.join(F.broadcast(dfreq), "w")
        .join(F.broadcast(qt), "w")
        .crossJoin(F.broadcast(stats))
        .groupBy("query_id", "doc_id")
        .agg(F.sum(term_score).alias("score"))
    )
    sparse = top_n(
        sscored, "query_id", _RRF_R, F.round("score", 6).desc(), "doc_id"
    ).select("query_id", "doc_id", F.col("rn").alias("srn"))

    # ---- RRF fusion over the two bounded candidate lists --------------
    fused = dense.join(sparse, ["query_id", "doc_id"], "full_outer").select(
        "query_id",
        "doc_id",
        F.coalesce("drn", F.lit(0)).cast("long").alias("rank_dense"),
        F.coalesce("srn", F.lit(0)).cast("long").alias("rank_sparse"),
        (
            F.coalesce(F.lit(1.0) / (F.lit(_RRF_K) + F.col("drn")), F.lit(0.0))
            + F.coalesce(F.lit(1.0) / (F.lit(_RRF_K) + F.col("srn")), F.lit(0.0))
        ).alias("rrf"),
    )
    return (
        top_n(fused, "query_id", _RRF_OUT, F.col("rrf").desc(), "doc_id")
        .select(
            "query_id",
            "doc_id",
            F.round("rrf", 6).alias("rrf"),
            "rank_dense",
            "rank_sparse",
        )
    )


# --------------------------------------------------------------------------
# Hybrid-fusion arm-overlap eval (r12, VERDICT r11 #7): the quality
# companion to ``text_hybrid_rrf_topk``, mirroring the measured-quality
# discipline of ``sim_ivfpq_recall``. The fused top-5 rows already carry
# each arm's rank (0 = outside that arm's top-R pool), so the eval is a
# pure per-query aggregation over the O(|Q| * OUT) fused output — it adds
# ZERO corpus-side cost beyond the hybrid query itself:
#
# - n_from_dense / n_from_sparse: fused results present in that arm's
#   top-R candidate pool (their sum >= n_out; a fused row always comes
#   from at least one arm);
# - n_both: results BOTH arms surfaced — the consensus RRF rewards;
# - overlap_dense5 / overlap_sparse5 (+ fractions): |fused top-5 ∩ arm's
#   own top-5|, i.e. how far the fused list diverges from serving either
#   arm alone. overlap < 5 on both arms simultaneously is the measurable
#   value-add of fusion (neither arm alone reproduces the served list).
# --------------------------------------------------------------------------

_HYBRID_OVERLAP_ORACLE = f"""
WITH fused_out AS ({_HYBRID_RRF_ORACLE})
SELECT query_id,
       cast(count(*) AS BIGINT) AS n_out,
       cast(sum(CASE WHEN rank_dense > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_from_dense,
       cast(sum(CASE WHEN rank_sparse > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_from_sparse,
       cast(sum(CASE WHEN rank_dense > 0 AND rank_sparse > 0
                THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
       cast(sum(CASE WHEN rank_dense BETWEEN 1 AND {_RRF_OUT}
                THEN 1 ELSE 0 END) AS BIGINT) AS overlap_dense5,
       cast(sum(CASE WHEN rank_sparse BETWEEN 1 AND {_RRF_OUT}
                THEN 1 ELSE 0 END) AS BIGINT) AS overlap_sparse5,
       round(sum(CASE WHEN rank_dense BETWEEN 1 AND {_RRF_OUT}
                 THEN 1 ELSE 0 END) / cast({_RRF_OUT} AS DOUBLE), 6)
         AS frac_dense5,
       round(sum(CASE WHEN rank_sparse BETWEEN 1 AND {_RRF_OUT}
                 THEN 1 ELSE 0 END) / cast({_RRF_OUT} AS DOUBLE), 6)
         AS frac_sparse5
FROM fused_out
GROUP BY query_id
"""


@register(
    "text_hybrid_rrf_arm_overlap",
    oracle=_HYBRID_OVERLAP_ORACLE,
    tags=("text", "similarity", "retrieval", "eval"),
)
def text_hybrid_rrf_arm_overlap(spark, sf_dir):
    fused = text_hybrid_rrf_topk(spark, sf_dir)
    in5 = lambda c: (F.col(c) >= 1) & (F.col(c) <= _RRF_OUT)  # noqa: E731
    cnt = lambda cond: F.sum(cond.cast("long"))  # noqa: E731
    return fused.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_out"),
        cnt(F.col("rank_dense") > 0).alias("n_from_dense"),
        cnt(F.col("rank_sparse") > 0).alias("n_from_sparse"),
        cnt((F.col("rank_dense") > 0) & (F.col("rank_sparse") > 0)).alias(
            "n_both"
        ),
        cnt(in5("rank_dense")).alias("overlap_dense5"),
        cnt(in5("rank_sparse")).alias("overlap_sparse5"),
        F.round(
            cnt(in5("rank_dense")) / F.lit(_RRF_OUT).cast("double"), 6
        ).alias("frac_dense5"),
        F.round(
            cnt(in5("rank_sparse")) / F.lit(_RRF_OUT).cast("double"), 6
        ).alias("frac_sparse5"),
    )


# --------------------------------------------------------------------------
# Positional-index phrase search (r12): exact multi-word phrase matching
# — the inverted-index feature BM25/RRF above cannot express, since bag-
# of-words scoring is position-blind. Postings here carry token POSITIONS
# (posexplode); an n-word phrase match is the positional intersection
# p_{k+1} = p_k + 1 chained across the phrase's terms, i.e. the join a
# positional index serves. Correct for self-overlapping phrases (counts
# every start position — a replace()-based count would merge overlaps).
# Scale shape: postings are filtered to the phrase's terms BEFORE any
# join (the same corpus-side reduction as the BM25 tf pass), the chain
# joins on (doc_id, position) equality, and the per-phrase top-10 is a
# bounded rank. Three phrases of lengths 2, 2, 3 ride through one plan.
# --------------------------------------------------------------------------

_PHRASES = (("table", "hash"), ("vector", "small"), ("slow", "hash", "batch"))
_PHRASE_TOP = 10

_PHRASE_TERMS = sorted({w for p in _PHRASES for w in p})


def _phrase_oracle() -> str:
    arms = []
    for p in _PHRASES:
        label = " ".join(p)
        conds = " AND ".join(
            f"ts[i + {k}] = '{w}'" for k, w in enumerate(p)
        )
        arms.append(f"""
  SELECT '{label}' AS phrase, doc_id, cast(count(*) AS BIGINT) AS n
  FROM (
    SELECT doc_id, ts, unnest(range(1, len(ts) + 1)) AS i
    FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM documents) t
  ) g
  WHERE i + {len(p) - 1} <= len(ts) AND {conds}
  GROUP BY doc_id""")
    body = "\nUNION ALL\n".join(arms)
    return f"""
WITH hits AS ({body})
SELECT phrase, doc_id, n FROM (
  SELECT phrase, doc_id, n,
         row_number() OVER (PARTITION BY phrase
                            ORDER BY n DESC, doc_id) AS rn
  FROM hits
) t WHERE rn <= {_PHRASE_TOP}
"""


@register(
    "text_phrase_search_positional",
    oracle=_phrase_oracle(),
    tags=("text", "functions"),
)
def text_phrase_search_positional(spark, sf_dir):
    d = spread(table(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id")
    postings = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "w")
    ).filter(F.col("w").isin(*_PHRASE_TERMS))
    arms = []
    for p in _PHRASES:
        cur = postings.filter(F.col("w") == p[0]).select(
            "doc_id", F.col("pos").alias("p0")
        )
        for k, w in enumerate(p[1:], start=1):
            nxt = postings.filter(F.col("w") == w).select(
                "doc_id", F.col("pos").alias(f"p{k}")
            )
            cur = cur.join(nxt, "doc_id").filter(
                F.col(f"p{k}") == F.col(f"p{k-1}") + 1
            )
        arms.append(
            cur.groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
            .select(F.lit(" ".join(p)).alias("phrase"), "doc_id", "n")
        )
    hits = arms[0]
    for a in arms[1:]:
        hits = hits.unionByName(a)
    return top_n(hits, "phrase", _PHRASE_TOP, F.desc("n"), "doc_id").select(
        "phrase", "doc_id", "n"
    )
