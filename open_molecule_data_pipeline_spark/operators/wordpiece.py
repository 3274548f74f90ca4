"""Greedy longest-match subword tokenization (r10): the WordPiece/
SentencePiece APPLY mechanism, completing the tokenizer family next to
the BPE merge-fold (corpus_ops.py: train/batched-train/encode-apply).

BPE segments by replaying merge rules; WordPiece segments by repeatedly
taking the LONGEST vocabulary piece that prefixes the remainder — a
different machine, and the one most serving stacks run at inference.

``text_wordpiece_apply``:
- vocabulary = every distinct character in the corpus (so segmentation
  can never dead-end) ∪ the top-32 substrings of length 2–4 by corpus
  frequency (deterministic (freq desc, piece asc) TakeOrdered — the
  stand-in for a trained vocab, same convention as pq.py's codebook);
- the vocabulary rides as ONE broadcast array column; per word, an
  ``aggregate`` fold over ``sequence(1, length(word))`` consumes the
  longest matching prefix each step (progress ≥ 1 char/step since all
  single chars are in-vocab, so length(word) steps always suffice). The
  longest prefix is a nested fold over the vocab array — whole-stage
  codegen, zero Python, O(len·|vocab|) per word with |vocab| constant;
- equal-length prefix ties cannot exist (two distinct equal-length
  prefixes of one string are impossible), so the fold's first-seen-wins
  and the oracle's ORDER BY length DESC pick the same piece.

The oracle mirrors the greedy loop as a recursive CTE (per-word state
(rest, n_pieces), one step per recursion level), over the identically
trained vocabulary — an exact cross-engine check of an iterative
string algorithm. Output: per-lang word/piece counts and pieces-per-
word, the number a tokenizer swap is judged by.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..catalog import table
from ..registry import register
from ._util import local_df, spread

TOP_PIECES = 32

_WP_ORACLE = f"""
WITH RECURSIVE
words AS (
  SELECT row_number() OVER () AS wid, lang, w FROM (
    SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents
  ) t WHERE length(w) > 0
),
chars AS (
  SELECT DISTINCT p FROM (
    SELECT unnest(string_split_regex(w, '')) AS p FROM words
  ) t WHERE length(p) > 0
),
poss AS (
  SELECT unnest(range(1, (SELECT max(length(w)) + 1 FROM words))) AS i
),
lens AS (SELECT unnest(range(2, 5)) AS l),
subs AS (
  SELECT substr(w, poss.i, lens.l) AS p
  FROM words, lens, poss
  WHERE poss.i + lens.l - 1 <= length(w)
),
top AS (
  SELECT p FROM (SELECT p, count(*) AS c FROM subs GROUP BY p)
  ORDER BY c DESC, p LIMIT {TOP_PIECES}
),
vocab AS (
  SELECT DISTINCT p FROM (
    SELECT p FROM chars UNION ALL SELECT p FROM top
  )
),
seg AS (
  SELECT wid, w AS rest, 0 AS np FROM words
  UNION ALL
  SELECT wid,
         substr(rest, length((SELECT p FROM vocab
                              WHERE starts_with(rest, p)
                              ORDER BY length(p) DESC, p LIMIT 1)) + 1),
         np + 1
  FROM seg WHERE length(rest) > 0
),
final AS (
  SELECT wid, np FROM seg WHERE length(rest) = 0
)
SELECT words.lang,
       cast(count(*) AS BIGINT) AS n_words,
       cast(sum(final.np) AS BIGINT) AS n_pieces,
       round(cast(sum(final.np) AS DOUBLE) / cast(count(*) AS DOUBLE), 6)
         AS pieces_per_word
FROM final JOIN words USING (wid)
GROUP BY words.lang
"""


@register(
    "text_wordpiece_apply",
    oracle=_WP_ORACLE,
    tags=("text", "training"),
)
def text_wordpiece_apply(spark, sf_dir):
    d = spread(table(spark, sf_dir, "documents").select("lang", "text"), "lang")
    words = d.select("lang", F.explode(F.split("text", " ")).alias("w")).filter(
        F.length("w") > 0
    )
    chars = (
        words.select(F.explode(F.split("w", "")).alias("p"))
        .filter(F.length("p") > 0)
        .distinct()
    )
    subs = words.select(
        F.explode(
            F.expr(
                "flatten(transform(sequence(2, 4), l ->"
                " CASE WHEN length(w) >= l THEN"
                "   transform(sequence(1, length(w) - l + 1), s -> substring(w, s, l))"
                " ELSE array() END))"
            )
        ).alias("p")
    )
    top = (
        subs.groupBy("p")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), "p")
        .limit(TOP_PIECES)
        .select("p")
    )
    vocab = chars.unionByName(top).distinct()
    # r17 (guide §1.2 per-task work): the greedy longest-prefix match
    # used to run an inner aggregate over the WHOLE vocab array per
    # character position (|V| startswith + accumulator structs each).
    # Every piece is 1-4 chars by construction (chars + 2/3/4-grams),
    # so the longest match is decided by at most four membership probes
    # of length-partitioned arrays — first hit in descending length
    # order is exactly the old "longest p with startswith(rest, p)"
    # winner (a prefix of a given length is unique), and the no-match
    # arm advances by 1 exactly as the old empty-accumulator did.
    vlist = (
        vocab.groupBy()
        .agg(F.array_sort(F.collect_list("p")).alias("vocab"))
        .select(
            *[
                F.expr(f"filter(vocab, p -> length(p) = {l})").alias(
                    f"v{l}"
                )
                for l in (1, 2, 3, 4)
            ]
        )
    )
    seg = words.crossJoin(F.broadcast(vlist)).select(
        "lang",
        F.expr(
            """
            aggregate(
              sequence(1, length(w)),
              named_struct('rest', w, 'np', cast(0 as int)),
              (acc, i) -> if(length(acc.rest) = 0, acc,
                named_struct(
                  'rest', substring(acc.rest,
                     CASE WHEN length(acc.rest) >= 4
                               AND array_contains(v4, substring(acc.rest, 1, 4)) THEN 5
                          WHEN length(acc.rest) >= 3
                               AND array_contains(v3, substring(acc.rest, 1, 3)) THEN 4
                          WHEN length(acc.rest) >= 2
                               AND array_contains(v2, substring(acc.rest, 1, 2)) THEN 3
                          WHEN array_contains(v1, substring(acc.rest, 1, 1)) THEN 2
                          ELSE 1 END),
                  'np', acc.np + 1)),
              acc -> acc.np)
            """
        ).alias("np"),
    )
    return seg.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_words"),
        F.sum("np").cast("long").alias("n_pieces"),
        F.round(
            F.sum("np").cast("double") / F.count(F.lit(1)).cast("double"), 6
        ).alias("pieces_per_word"),
    )


# --------------------------------------------------------------------------
# WordPiece TRAINING (r13): completes the train/apply asymmetry — the
# apply above ran over a frequency stand-in vocabulary; this is the
# actual WordPiece selection rule (Schuster & Nakajima 2012; the BERT
# trainer): per round, merge the adjacent pair maximizing the LIKELIHOOD
# score freq(a,b) / (freq(a) * freq(b)) — the corpus-LM log-likelihood
# gain of fusing a and b — instead of BPE's raw freq(a,b). Same machine
# as text_bpe_train_merges (corpus_ops.py): tokenize ONCE, per round ONE
# pair-count aggregation over the corpus (map-side combinable), a 1-row
# top-k, and a broadcast merge-fold rewrite; the ranking delta vs BPE is
# the point — the two trainers diverge on real corpora from round 1
# (rare-but-exclusive pairs beat frequent-but-promiscuous ones).
#
# Cross-engine determinism: the score is one IEEE division of exactly-
# representable int64 counts (cast to double; the product freq_a*freq_b
# is formed IN DOUBLES so it cannot overflow int64 at 100 TB — two
# exactly-rounded ops, bit-identical in both engines); ties break
# (score desc, a, b). The reported score_nano = round(score * 1e9) is
# computed from the same doubles on both sides.
# --------------------------------------------------------------------------

_WPT_ROUNDS = 3


def _wpt_oracle() -> str:
    parts = ["WITH t0 AS (SELECT ' ' || text || ' ' AS s FROM documents)"]
    for r in range(1, _WPT_ROUNDS + 1):
        parts.append(f""",
tk{r} AS (SELECT string_split(trim(s), ' ') AS toks FROM t{r - 1}),
uni{r} AS (
  SELECT t AS tok, cast(count(*) AS BIGINT) AS f
  FROM (SELECT unnest(toks) AS t FROM tk{r}) GROUP BY t
),
pr{r} AS (
  SELECT toks[i + 1] AS a, toks[i + 2] AS b, cast(count(*) AS BIGINT) AS fab
  FROM (SELECT toks, unnest(range(len(toks) - 1)) AS i
        FROM tk{r} WHERE len(toks) >= 2)
  GROUP BY 1, 2
),
top{r} AS (
  SELECT p.a, p.b, p.fab, ua.f AS fa, ub.f AS fb,
         cast(p.fab AS DOUBLE) / (cast(ua.f AS DOUBLE) * cast(ub.f AS DOUBLE))
           AS score
  FROM pr{r} p
  JOIN uni{r} ua ON ua.tok = p.a
  JOIN uni{r} ub ON ub.tok = p.b
  ORDER BY score DESC, p.a, p.b LIMIT 1
),
t{r} AS (
  SELECT regexp_replace(
           s,
           (SELECT ' ' || a || ' ' || b || ' ' FROM top{r}),
           (SELECT ' ' || a || '_' || b || ' ' FROM top{r}),
           'g') AS s
  FROM t{r - 1}
)""")
    finals = " UNION ALL ".join(
        f"SELECT {r} AS round, a AS tok_a, b AS tok_b, fab AS freq_pair,"
        f" fa AS freq_a, fb AS freq_b,"
        f" cast(round(score * 1000000000) AS BIGINT) AS score_nano"
        f" FROM top{r}"
        for r in range(1, _WPT_ROUNDS + 1)
    )
    return "".join(parts) + "\n" + finals


@register(
    "text_wordpiece_train", oracle=_wpt_oracle(), tags=("text", "training")
)
def text_wordpiece_train(spark, sf_dir):
    """Three WordPiece merge rounds over the corpus: likelihood-scored
    pair selection (freq_ab / (freq_a * freq_b)) with the tokenize-once
    array-fold rewrite shared with the BPE trainer.

    r16 (guide §1.2/§2.4): ONE corpus scan per round instead of two —
    every token position emits a struct (a = toks[i], b = toks[i+1] or
    NULL at the document's last position), so the adjacent-pair counts
    (b IS NOT NULL) and the docs-ending-in-t counts (b IS NULL) ride the
    same explode + one map-side-combinable groupBy. Unigram counts then
    collapse to ONE aggregation of that table: every token occurrence
    either starts a pair (as ``a``) or is a document's last token (the
    sentinel row, also keyed ``a``), so freq(t) = sum(fab) grouped by a
    — the full_outer fp/fl join is gone. The oracle counts unigrams
    DIRECTLY from the token stream, so parity proves the identity.
    The 1-row top is collected (bounded by construction: limit 1) and
    re-enters the plan as a literal merge rule — no per-round broadcast
    job, no eager-checkpoint barrier, and the 3-row result is a local
    single-slice table, per the louvain/mmr driver-replay precedent.
    """
    from .corpus_ops import _bpe_merge_fold, _kept_literal

    d = table(spark, sf_dir, "documents")
    cur = d.repartition(spark.sparkContext.defaultParallelism).select(
        F.split(F.trim(F.col("text")), " ").alias("toks")
    )
    out_rows = []
    for r in range(1, _WPT_ROUNDS + 1):
        tk = F.col("toks")
        # pair rows + last-token sentinel rows in one pass; the guarded
        # element_at never evaluates out of bounds (CASE arms are lazy)
        both = (
            cur.select(
                F.explode(
                    F.transform(
                        F.sequence(F.lit(0), F.size(tk) - 1),
                        lambda i: F.struct(
                            F.element_at(tk, i + 1).alias("a"),
                            F.when(
                                i + 2 <= F.size(tk), F.element_at(tk, i + 2)
                            ).alias("b"),
                        ),
                    )
                ).alias("p")
            )
            .groupBy("p.a", "p.b")
            .agg(F.count(F.lit(1)).cast("long").alias("fab"))
            # persist, not localCheckpoint: both consumers (the unigram
            # aggregation and the score join) reuse ONE corpus-wide
            # aggregation per round, and InMemoryRelation keeps stats
            # visible to AQE (a checkpointed RDD scan would force SMJ
            # everywhere). The table is vocab-squared-bounded
            # (Heaps-sublinear), MEMORY_AND_DISK spills if not.
            .persist()
        )
        # Eager materialization: the score join reads this cache from
        # THREE subtrees (pairs, ua, ub) whose AQE stage jobs launch
        # concurrently under the single collect — on a cold cache each
        # would re-run the corpus-wide pair aggregation (the
        # _edges_cached / dedup docs.count() precedent).
        both.count()
        pairs = both.filter(F.col("b").isNotNull())
        uni = both.groupBy(F.col("a").alias("tok")).agg(
            F.sum("fab").alias("f")
        )
        # the unigram joins are NOT hint-broadcast: distinct tokens at
        # 100 TB outgrow any broadcast budget (the kn_lm.py precedent) —
        # AQE picks broadcast at small scale, plain hash join at large
        ua = uni.select(F.col("tok").alias("a"), F.col("f").alias("fa"))
        ub = uni.select(F.col("tok").alias("b"), F.col("f").alias("fb"))
        scored = (
            pairs.join(ua, "a")
            .join(ub, "b")
            .withColumn(
                "score",
                F.col("fab").cast("double")
                / (F.col("fa").cast("double") * F.col("fb").cast("double")),
            )
        )
        top = (
            scored.orderBy(F.desc("score"), "a", "b")
            .limit(1)
            .select(
                "a",
                "b",
                "fab",
                "fa",
                "fb",
                F.round(F.col("score") * 1_000_000_000)
                .cast("long")
                .alias("score_nano"),
            )
            .collect()  # bounded-collect: <= 1 row by construction (limit 1)
        )
        both.unpersist()
        if not top:  # empty corpus: no pairs left, no further rows
            break
        top = top[0]
        out_rows.append(
            (
                r,
                top["a"],
                top["b"],
                int(top["fab"]),
                int(top["fa"]),
                int(top["fb"]),
                int(top["score_nano"]),
            )
        )
        if r < _WPT_ROUNDS:
            # shared with the BPE trainer so the special-chars literal
            # test pins BOTH paths (quotes/backslashes/unicode ride py4j
            # as literals, never SQL-string parsing)
            kept = _kept_literal(
                [
                    {
                        "a": top["a"],
                        "b": top["b"],
                        "freq": int(top["fab"]),
                        "kr": 1,
                        "m": top["a"] + "_" + top["b"],
                    }
                ]
            )
            cur = (
                cur.withColumn("kept", kept)
                .select(_bpe_merge_fold("toks", "kept").alias("toks"))
                .localCheckpoint(eager=False)
            )
    return local_df(
        spark,
        out_rows,
        "round int, tok_a string, tok_b string, freq_pair long,"
        " freq_a long, freq_b long, score_nano long",
    )
