"""Maximal Marginal Relevance re-ranking (r13): the diversity pass a
retrieval stack runs between candidate generation and serving
(Carbonell & Goldstein 1998) — from each query's cosine top-10, pick 5
greedily by MMR(i) = 0.7 * rel(i) - 0.3 * max_{j in selected} sim(i, j),
so near-duplicate candidates cannot crowd the result list.

Arithmetic: relevance and candidate-pair similarities are
micro-quantized cosines (round(cos * 1e6) int64, the binquant.py
precedent), and the MMR score is the pure-integer 700 * rel6 -
300 * maxsim6 — argmax with a neighbor-id tie-break, no doubles in the
selection logic. Step 1's empty selected set scores 700 * rel6 (the
textbook MMR start).

Shape (r16 optimization round, guide §7.3 driver barriers / §2.4): the
corpus is touched once to build the top-10 candidate lists (one
|corpus|-scale scoring pass) and once more — pruned to the <=100
candidate ids by a pushed-down IN filter — to compute the 10x9-per-query
pair sims; BOTH tables are bounded BY CONSTRUCTION (<= N_QUERIES x _R
and <= N_QUERIES x _R x (_R-1) rows at ANY corpus size, N_QUERIES and
_R compile-time constants), so the 5 greedy rounds are replayed ON THE
DRIVER over the collected integers — the louvain-multilevel precedent.
All cosine arithmetic (rel6/sim6 micro-quantization) stays in Spark,
identical expressions to the r13 form, so the collected ints — and
hence the pure-integer greedy — are bit-identical to the old 5-round
Spark loop (which paid ~53 sequential jobs / 6 localCheckpoint barriers
for the same arithmetic; r16 profile: 3.2 s of inter-job gaps over
2.5 s of work at sf0.1). The oracle unrolls the same five steps as
chained CTEs and is unchanged.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..catalog import table
from ..registry import register
from ._util import local_df, spread
from .similarity import _DOT, N_QUERIES

_R = 10  # candidate pool per query
_K_MMR = 5  # results per query
_WREL, _WDIV = 700, 300  # lambda = 0.7 in milli weights

_MMR_BASE = f"""
v AS (
  SELECT vec_id, list_transform(embedding, x -> cast(x AS DOUBLE)) AS e
  FROM embeddings
),
cand AS (
  SELECT query_id, neighbor_id, rel6 FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           cast(round(list_dot_product(q.e, c.e)
                / (sqrt(list_dot_product(q.e, q.e))
                   * sqrt(list_dot_product(c.e, c.e))) * 1000000) AS BIGINT)
             AS rel6,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY cast(round(list_dot_product(q.e, c.e)
                / (sqrt(list_dot_product(q.e, q.e))
                   * sqrt(list_dot_product(c.e, c.e))) * 1000000) AS BIGINT)
               DESC, c.vec_id) AS rn
    FROM v q JOIN v c ON q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id
  ) t WHERE rn <= {_R}
),
sims AS (
  SELECT a.query_id, a.neighbor_id AS i, b.neighbor_id AS j,
         cast(round(list_dot_product(x.e, y.e)
              / (sqrt(list_dot_product(x.e, x.e))
                 * sqrt(list_dot_product(y.e, y.e))) * 1000000) AS BIGINT)
           AS sim6
  FROM cand a
  JOIN cand b ON b.query_id = a.query_id AND b.neighbor_id <> a.neighbor_id
  JOIN v x ON x.vec_id = a.neighbor_id
  JOIN v y ON y.vec_id = b.neighbor_id
)
"""


def _mmr_oracle() -> str:
    parts = [f"WITH {_MMR_BASE}"]
    sel_union = None
    for t in range(1, _K_MMR + 1):
        if t == 1:
            parts.append(f""",
s1 AS (
  SELECT query_id, neighbor_id, rel6, cast(0 AS BIGINT) AS maxsim6,
         {_WREL} * rel6 AS mmr_milli, 1 AS rank FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY rel6 DESC, neighbor_id) AS rn
    FROM cand
  ) t WHERE rn = 1
)""")
            sel_union = "SELECT query_id, neighbor_id FROM s1"
            continue
        parts.append(f""",
sel{t} AS ({sel_union}),
m{t} AS (
  SELECT c.query_id, c.neighbor_id, c.rel6,
         max(s.sim6) AS maxsim6
  FROM cand c
  JOIN sims s ON s.query_id = c.query_id AND s.i = c.neighbor_id
  JOIN sel{t} z ON z.query_id = s.query_id AND z.neighbor_id = s.j
  WHERE NOT EXISTS (SELECT 1 FROM sel{t} w
                    WHERE w.query_id = c.query_id
                      AND w.neighbor_id = c.neighbor_id)
  GROUP BY c.query_id, c.neighbor_id, c.rel6
),
s{t} AS (
  SELECT query_id, neighbor_id, rel6, maxsim6,
         {_WREL} * rel6 - {_WDIV} * maxsim6 AS mmr_milli, {t} AS rank FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id
      ORDER BY {_WREL} * rel6 - {_WDIV} * maxsim6 DESC, neighbor_id) AS rn
    FROM m{t}
  ) t WHERE rn = 1
)""")
        sel_union += f" UNION ALL SELECT query_id, neighbor_id FROM s{t}"
    finals = " UNION ALL ".join(f"SELECT * FROM s{t}" for t in range(1, _K_MMR + 1))
    return "".join(parts) + f"\nSELECT query_id, neighbor_id, rel6, maxsim6, mmr_milli, rank FROM ({finals}) u"


@register("sim_rerank_mmr", oracle=_mmr_oracle(), tags=("similarity",))
def sim_rerank_mmr(spark, sf_dir):
    """Greedy MMR selection of 5 from each query's cosine top-10 with
    integer 700/300 scoring; the greedy rounds replayed driver-side over
    the bounded collected candidate/pair-sim integers (see module
    docstring — r16 optimization)."""
    e = spread(
        table(spark, sf_dir, "embeddings").select(
            "vec_id",
            "embedding",
            F.sqrt(F.expr(_DOT.format(a="embedding", b="embedding"))).alias("nn"),
        ),
        "vec_id",
    )
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("nn").alias("qq"),
    )
    c = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("ce"),
        F.col("nn").alias("cc"),
    )
    rel6 = (
        F.round(
            F.expr(_DOT.format(a="qe", b="ce"))
            / (F.col("qq") * F.col("cc"))
            * 1_000_000
        )
        .cast("long")
        .alias("rel6")
    )
    wq = W.partitionBy("query_id").orderBy(F.desc("rel6"), "neighbor_id")
    cand_rows = (
        c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", rel6)
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= _R)
        .drop("rn")
        .collect()  # bounded-collect: <= N_QUERIES x _R rows by construction (row_number <= _R over N_QUERIES query partitions)
    )
    # per-query candidate pools in (rel6 DESC, neighbor_id ASC) order —
    # the window's exact ordering, so pool[0] is the round-1 winner
    pool: dict[int, list[tuple[int, int]]] = {}
    for r in cand_rows:
        pool.setdefault(int(r["query_id"]), []).append(
            (int(r["neighbor_id"]), int(r["rel6"]))
        )
    for lst in pool.values():
        lst.sort(key=lambda t: (-t[1], t[0]))

    # pair sims: the cosine arithmetic stays in Spark (identical sim6
    # expression — driver-side doubles could round differently), but the
    # embedding fetch is pruned to the <=N_QUERIES*_R candidate ids with
    # a pushed-down IN filter (guide §6: the old form re-scanned the full
    # corpus twice to fetch 100 vectors), and the bounded sides are
    # broadcast so the scans are never shuffled.
    ids = sorted({nid for lst in pool.values() for nid, _ in lst})
    pairs = local_df(
        spark,
        [
            (qid, i, j)
            for qid, lst in sorted(pool.items())
            for i, _ in lst
            for j, _ in lst
            if i != j
        ],
        "query_id long, i long, j long",
    )
    emb = table(spark, sf_dir, "embeddings").where(F.col("vec_id").isin(ids))
    x = emb.select(
        F.col("vec_id").alias("i"),
        F.col("embedding").alias("xe"),
        F.sqrt(F.expr(_DOT.format(a="embedding", b="embedding"))).alias("xn"),
    )
    y = emb.select(
        F.col("vec_id").alias("j"),
        F.col("embedding").alias("ye"),
        F.sqrt(F.expr(_DOT.format(a="embedding", b="embedding"))).alias("yn"),
    )
    sim6 = (
        F.round(
            F.expr(_DOT.format(a="xe", b="ye"))
            / (F.col("xn") * F.col("yn"))
            * 1_000_000
        )
        .cast("long")
        .alias("sim6")
    )
    simd: dict[tuple[int, int, int], int] = {}
    for r in (
        y.join(F.broadcast(x.join(F.broadcast(pairs), "i")), "j")
        .select("query_id", "i", "j", sim6)
        .collect()  # bounded-collect: <= N_QUERIES x _R x (_R - 1) pair rows by construction
    ):
        simd[(int(r["query_id"]), int(r["i"]), int(r["j"]))] = int(r["sim6"])

    # exact driver-side greedy: pure-integer scoring, identical
    # tie-breaks (argmax by mmr_milli DESC, neighbor_id ASC), inner-join
    # semantics mirrored (a candidate with no sim row vs the selected
    # set drops out of the round, as in the oracle's m{t} join)
    out_rows: list[tuple[int, int, int, int, int, int]] = []
    for qid in sorted(pool):
        lst = pool[qid]
        if not lst:
            continue
        nid0, rel0 = lst[0]
        out_rows.append((qid, nid0, rel0, 0, _WREL * rel0, 1))
        sel = [nid0]
        for t in range(2, _K_MMR + 1):
            best = None
            for nid, rel in lst:
                if nid in sel:
                    continue
                ms = None
                for j in sel:
                    s6 = simd.get((qid, nid, j))
                    if s6 is not None and (ms is None or s6 > ms):
                        ms = s6
                if ms is None:
                    continue  # no sim row vs selected: inner join drops it
                sc = _WREL * rel - _WDIV * ms
                if best is None or (-sc, nid) < (-best[0], best[1]):
                    best = (sc, nid, rel, ms)
            if best is None:
                break  # query exhausted (< _K_MMR candidates)
            sc, nid, rel, ms = best
            out_rows.append((qid, nid, rel, ms, sc, t))
            sel.append(nid)

    return local_df(
        spark,
        out_rows,
        "query_id long, neighbor_id long, rel6 long, maxsim6 long,"
        " mmr_milli long, rank int",
    )
