"""Round-13 operator pins: color JPEG (YCbCr 4:2:0 — upsampling
hand-cases, fixed-point RGB conversion, per-component DC prediction,
unsupported-sampling gate, color re-encode bytes-differ/planes-equal),
plus the other r13 additions' hand fixtures."""

from __future__ import annotations

import numpy as np
import pytest


def _flat_block(dc=0, ac44=0):
    blk = [0] * 64
    blk[0] = dc
    blk[4 * 8 + 4] = ac44
    return blk


def _one_mcu(y=None, cb=None, cr=None):
    """Encode one 4:2:0 MCU (16x16) from per-component (dc, ac44) specs."""
    from open_molecule_data_pipeline_spark.operators.jpeg import (
        encode_jpeg_color,
    )

    yb = [_flat_block(*(y or (0, 0))) for _ in range(4)]
    return encode_jpeg_color(
        yb, [_flat_block(*(cb or (0, 0)))], [_flat_block(*(cr or (0, 0)))], 1, 1
    )


def test_jpeg_color_chroma_upsampling_hand_case():
    """Chroma AC(4,4) through 2x2 replication: full-res pixels (0,0),
    (0,1), (1,0), (1,1) all read chroma-plane (0,0) (cb' = +4), while
    (0,2) reads chroma (0,1) where the basis sign flips (cb' = -4).
    Fixed-point B/G terms hand-computed: +4 -> B+7/G-1; -4 -> B-7/G+1."""
    from open_molecule_data_pipeline_spark.operators.jpeg import decode_jpeg

    dec = decode_jpeg(_one_mcu(cb=(0, 2)))  # Cb AC44=2 -> chroma amp ±4
    assert dec["channels"] == 3
    px = dec["pixels"].astype(int)
    for r, c in ((0, 0), (0, 1), (1, 0), (1, 1)):
        assert tuple(px[r, c]) == (128, 127, 135), (r, c, px[r, c])
    # chroma (0,1): s(1) = -1 -> cb' = -4; floor((-431752)/65536) = -7
    for r, c in ((0, 2), (1, 3)):
        assert tuple(px[r, c]) == (128, 129, 121), (r, c, px[r, c])
    # pre-conversion planes exposed for dedup normalization
    assert dec["planes"]["cb"][0, 0] == 132
    assert dec["planes"]["cb"][0, 1] == 124
    assert (dec["planes"]["y"] == 128).all()
    assert (dec["planes"]["cr"] == 128).all()


def test_jpeg_color_fixed_point_rgb_hand_case():
    """Flat chroma DC blocks: Cr DC=2 -> cr' = +10 (chroma qDC=40);
    R = Y + floor((91881*10 + 32768)/65536) = Y + 14;
    G = Y - floor((46802*10 + 32768)/65536) = Y - 7."""
    from open_molecule_data_pipeline_spark.operators.jpeg import decode_jpeg

    px = decode_jpeg(_one_mcu(y=(1, 0), cr=(2, 0)))["pixels"].astype(int)
    # Y = 128 + 4*1 = 132 everywhere (luma qDC=32)
    assert (px[:, :, 0] == 132 + 14).all()
    assert (px[:, :, 1] == 132 - 7).all()
    assert (px[:, :, 2] == 132).all()  # cb' = 0


def test_jpeg_color_negative_term_floors_not_truncates():
    """cr' = -10: the R term is floor(-886042/65536) = -14 (truncation
    would give -13) — pins the >>16 floor the oracle mirrors with the
    +1024*65536 offset trick."""
    from open_molecule_data_pipeline_spark.operators.jpeg import decode_jpeg

    px = decode_jpeg(_one_mcu(cr=(-2, 0)))["pixels"].astype(int)
    assert (px[:, :, 0] == 128 - 14).all()
    assert (px[:, :, 1] == 128 + 7).all()


def test_jpeg_color_dc_prediction_per_component():
    """2-MCU image with different DCs per MCU and per component: each
    component carries its own predictor across MCUs (Y also across the
    4 in-MCU blocks)."""
    from open_molecule_data_pipeline_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg_color,
    )

    yb = [_flat_block(dc) for dc in (2, -1, 0, 3, -2, 1, 2, 0)]
    cbb = [_flat_block(1), _flat_block(-2)]
    crb = [_flat_block(-1), _flat_block(2)]
    dec = decode_jpeg(encode_jpeg_color(yb, cbb, crb, 2, 1))
    pl = dec["planes"]
    # luma blocks: 4*dc on the 128 level, TL/TR/BL/BR per MCU
    assert pl["y"][0, 0] == 128 + 8  # MCU0 TL, dc=2
    assert pl["y"][0, 8] == 128 - 4  # MCU0 TR, dc=-1
    assert pl["y"][8, 0] == 128 + 0  # MCU0 BL
    assert pl["y"][8, 8] == 128 + 12  # MCU0 BR
    assert pl["y"][0, 16] == 128 - 8  # MCU1 TL, dc=-2
    assert pl["y"][8, 24] == 128 + 0  # MCU1 BR
    # chroma: 5*dc (qDC=40), one block per MCU
    assert pl["cb"][0, 0] == 128 + 5 and pl["cb"][0, 8] == 128 - 10
    assert pl["cr"][0, 0] == 128 - 5 and pl["cr"][0, 8] == 128 + 10


def test_jpeg_color_rejects_unsupported_sampling():
    """Y sampling outside {2x2, 2x1, 1x1} raises NotImplementedError —
    nothing decodes to garbage. (r14 amended: 4:2:2 and 4:4:4 moved
    from rejected to supported, so the gate pin now uses 4:1:1.)"""
    from open_molecule_data_pipeline_spark.operators.jpeg import decode_jpeg

    blob = bytearray(_one_mcu())
    i = blob.index(b"\xff\xc0")
    assert blob[i + 11] == 0x22
    blob[i + 11] = 0x41  # Y sampling 4x1 -> 4:1:1, still out of scope
    with pytest.raises(NotImplementedError):
        decode_jpeg(bytes(blob))


def test_jpeg_color_renc_pair_bytes_differ_planes_equal():
    """Color re-encode fixture point: (2p, 2p+1) blobs differ at the
    byte level (both DQTs halved, entropy stream reshaped) yet decode
    to identical Y/Cb/Cr planes — blob-hash dedup misses the pair, the
    decode-normalized digest catches it."""
    from open_molecule_data_pipeline_spark.operators.jpeg import (
        _color_renc_blocks,
        decode_jpeg,
        encode_jpeg_color,
    )

    for base in range(6):
        blobs, planes, rgbs = [], [], []
        for doc_id in (2 * base, 2 * base + 1):
            yb, cbb, crb, mw, mh, qt_y, qt_c = _color_renc_blocks(doc_id)
            blob = encode_jpeg_color(
                yb, cbb, crb, mw, mh, qtab_y=qt_y, qtab_c=qt_c
            )
            blobs.append(blob)
            dec = decode_jpeg(blob)
            planes.append(dec["planes"])
            rgbs.append(dec["pixels"])
        assert blobs[0] != blobs[1]
        for k in ("y", "cb", "cr"):
            assert (planes[0][k] == planes[1][k]).all(), (base, k)
        # RGB is a deterministic function of the planes
        assert (rgbs[0] == rgbs[1]).all()


def test_jpeg_color_fixture_clamp_free():
    """The closed-form oracle is exact only if no channel clamps: synth
    fixture channels stay within [97, 159], renc planes within
    [68, 188] / [80, 176]."""
    from open_molecule_data_pipeline_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg_color,
        synth_color_blocks,
    )

    for doc_id in range(24):
        yb, cbb, crb, mw, mh = synth_color_blocks(doc_id)
        px = decode_jpeg(encode_jpeg_color(yb, cbb, crb, mw, mh))["pixels"]
        assert px.min() >= 97 and px.max() <= 159


def test_jpeg_grayscale_path_unchanged():
    """Regression: the 1-component path still decodes the r12 fixtures
    bit-for-bit (the color refactor shares the block decoder)."""
    from open_molecule_data_pipeline_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg_baseline,
        synth_coeff_blocks,
    )

    for doc_id in range(6):
        blocks, bw, bh = synth_coeff_blocks(doc_id)
        dec = decode_jpeg(encode_jpeg_baseline(blocks, bw, bh))
        assert dec["channels"] == 1
        a = (doc_id + 0) % 5 - 2
        b = (doc_id + 0) % 3 - 1
        assert int(dec["pixels"][0, 0]) == 128 + 4 * a + 2 * b


def _write_docs(spark, td, rows):
    import os

    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    df.write.parquet(os.path.join(td, "documents.parquet"))


def test_kn_bigram_hand_worked_backoff(spark):
    """Interpolated KN on a 2-doc corpus small enough to hand-compute:
    bigrams (a,b)x2, (b,a), (a,c), (b,b) -> 4 types.
    P(b|a) = (2-.75)/3 + .75*(2/3)*(2/4) = 2/3;
    P(a|b) = .25/2 + .75*(2/2)*(1/4) = 0.3125;
    and the discount mass telescopes: sum over the full vocab of
    P(.|a) = P(b|a) + P(c|a) + lambda(a)*Pcont(a) = 1 exactly."""
    import math
    import tempfile

    from open_molecule_data_pipeline_spark.operators.kn_lm import (
        text_kn_bigram_model,
        text_kn_bigram_ppl,
    )

    with tempfile.TemporaryDirectory() as td:
        _write_docs(
            spark, td, [(0, "en", "a b a c"), (1, "en", "a b b")]
        )
        model = {(r.w1, r.w2): r for r in text_kn_bigram_model(spark, td).collect()}
        docs = {r.doc_id: r for r in text_kn_bigram_ppl(spark, td).collect()}

    ab = model[("a", "b")]
    assert (ab.c12, ab.c1, ab.n1p_w1, ab.npre_w2) == (2, 3, 2, 2)
    p_ab = (2 - 0.75) / 3 + 0.75 * (2 / 3) * (2 / 4)
    assert abs(p_ab - 2 / 3) < 1e-12
    assert ab.cost_micro == round(-math.log(p_ab) * 1e6)

    ba, ac, bb = model[("b", "a")], model[("a", "c")], model[("b", "b")]
    p_ba = (1 - 0.75) / 2 + 0.75 * (2 / 2) * (1 / 4)
    p_ac = (1 - 0.75) / 3 + 0.75 * (2 / 3) * (1 / 4)
    p_bb = (1 - 0.75) / 2 + 0.75 * (2 / 2) * (2 / 4)
    assert ba.cost_micro == round(-math.log(p_ba) * 1e6)
    assert ac.cost_micro == round(-math.log(p_ac) * 1e6)
    assert bb.cost_micro == round(-math.log(p_bb) * 1e6)

    # discount mass conservation over history 'a' (vocab = {a, b, c}):
    # unseen continuation a gets lambda(a) * Pcont(a)
    lam_a = 0.75 * 2 / 3
    p_aa_backoff = lam_a * (1 / 4)
    assert abs((p_ab + p_ac + p_aa_backoff) - 1.0) < 1e-12

    d0, d1 = docs[0], docs[1]
    assert d0.n_bigrams == 3 and d1.n_bigrams == 2
    assert d0.nll_micro == ab.cost_micro + ba.cost_micro + ac.cost_micro
    assert d1.nll_micro == ab.cost_micro + bb.cost_micro
    assert d0.mean_nll_micro == d0.nll_micro // 3


def test_louvain_gain_matches_brute_q_delta():
    """The scaled gain 2m(k_ub - k_ua) - k_u(D_b - D_a + k_u) equals
    2m^2 * (Q_after - Q_before) for ONE node's move with all other
    assignments fixed — checked by brute-force Q recomputation on a
    hand graph (two triangles joined by a bridge, adversarial seed)."""
    from itertools import combinations

    edges = [(0, 1), (0, 2), (1, 2), (3, 4), (3, 5), (4, 5), (2, 3)]
    m = len(edges)
    nodes = sorted({x for e in edges for x in e})
    k = {n: sum(1 for e in edges if n in e) for n in nodes}

    def q(cid):
        by_c = {}
        for n in nodes:
            by_c.setdefault(cid[n], []).append(n)
        total = 0.0
        for members in by_c.values():
            ms = set(members)
            lc = sum(1 for a, b in edges if a in ms and b in ms)
            dc = sum(k[n] for n in members)
            total += lc / m - (dc / (2 * m)) ** 2
        return total

    seed = {0: 0, 1: 0, 2: 1, 3: 1, 4: 2, 5: 2}  # community 1 straddles
    d_sum = {}
    for n, c in seed.items():
        d_sum[c] = d_sum.get(c, 0) + k[n]
    for u in nodes:
        a = seed[u]
        kuc = {}
        for x, y in edges:
            if x == u:
                kuc[seed[y]] = kuc.get(seed[y], 0) + 1
            elif y == u:
                kuc[seed[x]] = kuc.get(seed[x], 0) + 1
        for b in set(seed.values()) - {a}:
            gain = 2 * m * (kuc.get(b, 0) - kuc.get(a, 0)) - k[u] * (
                d_sum.get(b, 0) - d_sum[a] + k[u]
            )
            moved = dict(seed)
            moved[u] = b
            brute = (q(moved) - q(seed)) * 2 * m * m
            assert abs(gain - brute) < 1e-9, (u, a, b, gain, brute)


def test_louvain_pass_increases_q_on_fixture(spark, sf_dir):
    """Driver-visible Q-increases property: the locally-dominant-matching
    pass strictly raises modularity from the 64-community hash seed on
    the supplier-part graph (q1_nano > q0_nano on every output row) and
    applies at least one matched move. (The naive apply-all synchronous
    pass DROPS Q here — the matching is load-bearing.)"""
    from open_molecule_data_pipeline_spark.operators.louvain import (
        graph_louvain_pass,
    )

    rows = graph_louvain_pass(spark, sf_dir).collect()
    assert rows, "no communities returned"
    for r in rows:
        assert r.q1_nano > r.q0_nano, (r.q0_nano, r.q1_nano)
        assert r.n_moves >= 1
    assert rows[0].n_communities <= 64


def test_funnel_report_stage_counts_telescope(spark, sf_dir):
    """Full-funnel invariants: stages 0-5 are doc filters (both counts
    non-increasing), stage 6 keeps stage-5 docs while re-basing tokens,
    stage 7 re-bases docs to ceil(tokens/512) packed blocks."""
    from open_molecule_data_pipeline_spark.operators.corpus_refinery import (
        corpus_funnel_report,
    )

    rows = {r.stage: r for r in corpus_funnel_report(spark, sf_dir).collect()}
    assert sorted(rows) == list(range(8))
    for s in range(1, 6):
        assert rows[s].n_docs <= rows[s - 1].n_docs, s
        assert rows[s].n_tokens <= rows[s - 1].n_tokens, s
    assert rows[6].n_docs == rows[5].n_docs
    assert rows[7].n_tokens == rows[6].n_tokens
    assert rows[7].n_docs == (rows[6].n_tokens + 511) // 512
    # decontamination really removed the eval docs
    assert rows[5].n_docs < rows[4].n_docs or rows[4].n_docs == 0


def test_kn_oov_backoff_all_branches_hand_worked(spark):
    """All four scoring branches on a hand corpus. Train (doc 0):
    'a b c a' -> bigrams (a,b),(b,c),(c,a), nbig=3, every c1=n1p=npre=1.
    Score (doc 1): 'a b a c z b q' ->
      (a,b) seen:   P=.25/1 + .75*(1/3) = 1/2  -> cost ln(2)
      (b,a) lambda: P=.75*(1/3) = 1/4          -> cost ln(4)
      (a,c) lambda: P=1/4
      (c,z) unk:    P=1/(3+1) = 1/4
      (z,b) hist:   P=npre(b)/3 = 1/3          -> cost ln(3)
      (b,q) unk:    P=1/4"""
    import math
    import tempfile

    from open_molecule_data_pipeline_spark.operators.kn_lm import (
        text_kn_oov_backoff,
    )

    with tempfile.TemporaryDirectory() as td:
        _write_docs(
            spark, td, [(0, "en", "a b c a"), (1, "en", "a b a c z b q")]
        )
        rows = text_kn_oov_backoff(spark, td).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.n_bigrams, r.n_seen, r.n_lambda, r.n_hist, r.n_unk) == (
        6, 1, 2, 1, 2,
    )
    c2 = round(math.log(2) * 1e6)
    c3 = round(math.log(3) * 1e6)
    c4 = round(math.log(4) * 1e6)
    assert r.nll_micro == c2 + 3 * c4 + c3 + c4
    assert r.mean_nll_micro == r.nll_micro // 6


def test_ccnet_buckets_partition_and_order(spark, sf_dir):
    """Per language: the three buckets partition the docs, and the
    perplexity ranges are ordered head <= middle <= tail."""
    from open_molecule_data_pipeline_spark.operators.kn_lm import (
        text_ccnet_ppl_buckets,
        text_kn_bigram_ppl,  # noqa: F401 (same plan family)
    )

    rows = text_ccnet_ppl_buckets(spark, sf_dir).collect()
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r.lang, {})[r.bucket] = r
    for lang, bk in by_lang.items():
        assert set(bk) <= {"head", "middle", "tail"}
        if {"head", "middle", "tail"} <= set(bk):
            assert bk["head"].max_mnll <= bk["middle"].min_mnll, lang
            assert bk["middle"].max_mnll <= bk["tail"].min_mnll, lang


def test_binary_quant_pack_and_hamming_hand_case(spark):
    """Sign packing hand-case: a vector with dims {0, 2, 33} positive
    packs to lo = 0b101 = 5, hi = 1<<1 = 2; Hamming between it and the
    all-negative vector is exactly its popcount (3)."""
    from pyspark.sql import functions as F

    from open_molecule_data_pipeline_spark.operators.binquant import (
        _PACK_SPARK,
    )

    emb = [0.0] * 64
    emb[0] = 0.5
    emb[2] = 0.1
    emb[33] = 0.9
    df = spark.createDataFrame(
        [(0, emb), (1, [-1.0] * 64)], "vec_id long, embedding array<double>"
    ).select(
        "vec_id",
        F.expr(_PACK_SPARK.format(off=0)).alias("lo"),
        F.expr(_PACK_SPARK.format(off=32)).alias("hi"),
    )
    rows = {r.vec_id: r for r in df.collect()}
    assert (rows[0].lo, rows[0].hi) == (5, 2)
    assert (rows[1].lo, rows[1].hi) == (0, 0)


def test_binary_quant_topk_shape_and_recall_bounds(spark, sf_dir):
    """Every query returns exactly K reranked rows with Hamming in
    [0, 64], never itself; the recall companion is n_hit/K in [0, 1]."""
    from open_molecule_data_pipeline_spark.operators.binquant import (
        K,
        sim_binary_quant_hamming,
        sim_binary_quant_recall,
    )

    rows = sim_binary_quant_hamming(spark, sf_dir).collect()
    per_q = {}
    for r in rows:
        per_q.setdefault(r.query_id, []).append(r)
        assert 0 <= r.hamming <= 64
        assert r.neighbor_id != r.query_id
    assert all(len(v) == K for v in per_q.values())
    for r in sim_binary_quant_recall(spark, sf_dir).collect():
        assert 0 <= r.n_hit <= K
        assert abs(r.recall - r.n_hit / K) < 1e-9


def test_louvain_coarsen_conserves_edges(spark, sf_dir):
    """Coarsening telescopes: total super-edge weight equals the
    original undirected edge count m, and every returned row carries
    the same conserved totals."""
    import pyarrow.parquet as pq

    from open_molecule_data_pipeline_spark.operators.louvain import (
        graph_louvain_coarsen,
    )

    li = pq.read_table(
        f"{sf_dir}/lineitem.parquet", columns=["l_suppkey", "l_partkey"]
    ).to_pandas()
    m = len(set(zip(li.l_suppkey, li.l_partkey)))
    rows = graph_louvain_coarsen(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.w_total == m
        assert r.ca <= r.cb
        assert 1 <= r.n_super <= 64


def test_min_k_prob_audit_brute_force_recompute(spark):
    """Min-K%% on a hand corpus, cross-checked by a Python brute force:
    per doc take the ceil(n/5) highest per-occurrence costs (costs read
    back from the model query) and compare mean and ordering — the
    memorized-looking doc (one repeated bigram) flags first."""
    import tempfile

    from open_molecule_data_pipeline_spark.operators.kn_lm import (
        text_kn_bigram_model,
        text_min_k_prob_audit,
    )

    docs = [
        (0, "en", "a b a b a b a b a b a b"),  # 11 bigrams, 2 types
        (1, "en", "a b c d e f"),  # 5 bigrams, all distinct
        (2, "en", "c d e f a b c d"),  # mixed
    ]
    with tempfile.TemporaryDirectory() as td:
        _write_docs(spark, td, docs)
        cost = {
            (r.w1, r.w2): r.cost_micro
            for r in text_kn_bigram_model(spark, td).collect()
        }
        out = {r.doc_id: r for r in text_min_k_prob_audit(spark, td).collect()}

    expect = {}
    for doc_id, _, text in docs:
        t = text.split()
        cs = sorted(
            (cost[(t[i], t[i + 1])] for i in range(len(t) - 1)), reverse=True
        )
        k = (len(cs) + 4) // 5
        expect[doc_id] = (len(cs), k, sum(cs[:k]) // k)
    for doc_id, (n, k, mean) in expect.items():
        r = out[doc_id]
        assert (r.n_bigrams, r.k_used, r.mink_mean_cost_micro) == (n, k, mean)
    # the repeated-bigram doc scores lowest (most suspicious)
    means = {d: out[d].mink_mean_cost_micro for d in out}
    assert means[0] == min(means.values())


def test_wordpiece_train_brute_force_and_bpe_divergence(spark):
    """3 WordPiece rounds on a corpus crafted so (1) round 1 picks the
    rare-but-exclusive pair (z,w) score 1.0 over the 3x-frequent (x,y)
    score 3/12 — the defining divergence from BPE's frequency rule;
    (2) round 2 merges (x,y) under the self-blocking leftmost rule
    ("x y x y x y" -> "x_y x y x_y", middle occurrence deferred); and
    (3) the 1-token doc "y" exercises the derived-unigram last-token
    correction (it contributes freq but no pairs). Verified against a
    pure-Python recompute of the full train loop."""
    import tempfile

    from open_molecule_data_pipeline_spark.operators.wordpiece import (
        text_wordpiece_train,
    )

    corpus = ["x y x y x y z w", "y"]

    def merge_once(toks, a, b):
        out, i, blocked = [], 0, False
        while i < len(toks):
            if (
                not blocked
                and i + 1 < len(toks)
                and toks[i] == a
                and toks[i + 1] == b
            ):
                out.append(a + "_" + b)
                i += 2
                blocked = True
            else:
                out.append(toks[i])
                i += 1
                blocked = False
        return out

    docs = [c.split(" ") for c in corpus]
    expect = []
    for _ in range(3):
        pairs, uni = {}, {}
        for t in docs:
            for tok in t:
                uni[tok] = uni.get(tok, 0) + 1
            for i in range(len(t) - 1):
                pairs[(t[i], t[i + 1])] = pairs.get((t[i], t[i + 1]), 0) + 1
        best = min(
            pairs.items(),
            key=lambda kv: (-kv[1] / (uni[kv[0][0]] * uni[kv[0][1]]), kv[0]),
        )
        (a, b), fab = best
        expect.append((a, b, fab, uni[a], uni[b],
                       round(fab / (uni[a] * uni[b]) * 1e9)))
        docs = [merge_once(t, a, b) for t in docs]

    # the crafted divergence: frequency would pick (x, y) in round 1
    assert expect[0][:2] == ("z", "w")
    assert max(fab for (_, _, fab, _, _, _) in [expect[0]]) == 1

    with tempfile.TemporaryDirectory() as td:
        _write_docs(
            spark, td, [(i, "en", c) for i, c in enumerate(corpus)]
        )
        rows = sorted(
            text_wordpiece_train(spark, td).collect(), key=lambda r: r.round
        )
    got = [
        (r.tok_a, r.tok_b, r.freq_pair, r.freq_a, r.freq_b, r.score_nano)
        for r in rows
    ]
    assert got == expect
    assert expect[0][5] == 1_000_000_000  # score(z, w) = 1 exactly
    # round 2 merges (x, y); its freq_b = 4 counts the 1-token doc's 'y'
    # (the last-token correction), and 0.25 beat (y, z_w)'s 0.25 only on
    # the lexical tie-break — both load-bearing
    assert got[1] == ("x", "y", 3, 3, 4, 250_000_000)
    # self-blocking left the middle occurrence unmerged, so round 3's
    # pair stream still contains a surviving (x, y)
    assert merge_once("x y x y x y z_w".split(), "x", "y") == [
        "x_y", "x", "y", "x_y", "z_w",
    ]


def test_wordpiece_train_literal_merge_rule_special_chars(spark):
    """r16: the winning pair re-enters the plan as a LITERAL merge rule
    built from collected strings (the eager-checkpoint broadcast is
    gone), so tokens carrying quote/backslash/unicode characters must
    survive the literal path unmangled. A corpus whose round-1 winner is
    exactly such a pair pins it: the merged token must appear verbatim
    in round 2's pair stream."""
    import tempfile

    from open_molecule_data_pipeline_spark.operators.wordpiece import (
        text_wordpiece_train,
    )

    # round 1 must pick (q't, b\\k): exclusive pair, score 1/(1*1) = 1.0;
    # (u, u) is frequent but promiscuous (3/16), (é, é) scores 2/9
    corpus = ["u u u u q't b\\k", "é é é"]
    with tempfile.TemporaryDirectory() as td:
        _write_docs(
            spark, td, [(i, "en", c) for i, c in enumerate(corpus)]
        )
        rows = sorted(
            text_wordpiece_train(spark, td).collect(), key=lambda r: r.round
        )
    assert (rows[0].tok_a, rows[0].tok_b) == ("q't", "b\\k")
    assert rows[0].score_nano == 1_000_000_000
    # round 2's WINNER contains the fused special-char token verbatim:
    # doc0 is now "u u u u q't_b\k", so (u, q't_b\k) scores 1/(4*1) =
    # 0.25, beating (u,u) 3/16 and (é,é) 2/9 — if the literal path had
    # mangled the rule, the fold would not have merged and these counts
    # would differ
    by_round = {r.round: r for r in rows}
    r2 = by_round[2]
    assert (
        r2.tok_a, r2.tok_b, r2.freq_pair, r2.freq_a, r2.freq_b, r2.score_nano
    ) == ("u", "q't_b\\k", 1, 4, 1, 250_000_000)


def test_ljung_box_hand_case(spark, tmp_path):
    """Hand-worked on 12-point hourly series (values in cents after the
    x100 quantization): the alternating series [1,2]*6 has
    r = (-11/12, 10/12, -3/4) and Q = 12*14*(r1^2/11 + r2^2/10 + r3^2/9)
    = 35.0 exactly -> reject white noise; the shuffled series' Q = 6.06
    sits under the chi2(3) 5% critical value 7.814728 -> keep."""
    import os

    from open_molecule_data_pipeline_spark.operators.acf import ts_ljung_box

    base = 1704067200_000000
    rows = []
    for i in range(12):
        rows.append(("alt", base + i * 3_600_000_000, [1.0, 2.0][i % 2]))
    wn = [1.0, 2.0, 2.0, 1.0, 2.0, 1.0, 1.0, 2.0, 1.0, 1.0, 2.0, 2.0]
    for i, v in enumerate(wn):
        rows.append(("wn", base + i * 3_600_000_000, v))
    df = spark.createDataFrame(
        [(i, g, t, v) for i, (g, t, v) in enumerate(rows)],
        "event_id long, event_type string, tsm long, value double",
    ).selectExpr("event_id", "event_type", "timestamp_micros(tsm) as ts", "value")
    df.write.mode("overwrite").parquet(os.path.join(str(tmp_path), "events.parquet"))

    got = {r.event_type: r for r in ts_ljung_box(spark, str(tmp_path)).collect()}
    a, w = got["alt"], got["wn"]
    assert (a.n, w.n) == (12, 12)
    assert (a.r1, a.r2, a.r3) == (-0.916667, 0.833333, -0.75)
    assert a.lb_q == 35.0 and a.reject_white_noise == 1
    assert (w.r1, w.r2, w.r3) == (-0.25, -0.333333, 0.416667)
    assert abs(w.lb_q - 6.061954) < 1e-9 and w.reject_white_noise == 0


def test_referential_integrity_edge_hand_case(spark, tmp_path):
    """One FK edge on a crafted fixture exercising every counter: orders
    custkeys [1,1,2,NULL,99,99,98] against customers {1,2,3} ->
    7 child rows, 4 distinct non-null keys, 1 null key, 3 orphan rows
    over 2 orphan keys (99, 98), and customer 3 childless."""
    import os

    from open_molecule_data_pipeline_spark.operators.dq_extra import (
        _ri_edge_report,
    )

    spark.createDataFrame(
        [(i, k) for i, k in enumerate([1, 1, 2, None, 99, 99, 98])],
        "o_orderkey long, o_custkey long",
    ).write.parquet(os.path.join(str(tmp_path), "orders.parquet"))
    spark.createDataFrame(
        [(1,), (2,), (3,)], "c_custkey long"
    ).write.parquet(os.path.join(str(tmp_path), "customer.parquet"))

    edge = ("orders.o_custkey->customer", "orders", "o_custkey",
            "customer", "c_custkey")
    r = _ri_edge_report(spark, str(tmp_path), edge).collect()[0]
    assert (
        r.child_rows, r.child_keys, r.null_keys,
        r.orphan_rows, r.orphan_keys, r.childless_parents,
    ) == (7, 4, 1, 3, 2, 1)


def test_matrix_profile_hand_case(spark, tmp_path):
    """Planted-motif series: pattern [1,2,3,4] at hours 0-3 and 8-11 ->
    motif (0, 8) with distance 0 exactly; the discord is verified against
    a brute-force Python matrix profile. The constant series pins the
    tie-breaks: all windows identical -> motif = earliest non-overlapping
    pair (0, 4), discord = earliest window, both at distance 0."""
    import os
    from itertools import combinations

    from open_molecule_data_pipeline_spark.operators.matrix_profile import (
        ts_matrix_profile_motif,
    )

    base = 1704067200_000000
    base_h = base // 3_600_000_000
    planted = [1.0, 2.0, 3.0, 4.0, 9.0, 1.0, 9.0, 5.0, 1.0, 2.0, 3.0, 4.0]
    rows = []
    for i, v in enumerate(planted):
        rows.append(("planted", base + i * 3_600_000_000, v))
    for i in range(12):
        rows.append(("flat", base + i * 3_600_000_000, 5.0))
    df = spark.createDataFrame(
        [(i, g, t, v) for i, (g, t, v) in enumerate(rows)],
        "event_id long, event_type string, tsm long, value double",
    ).selectExpr("event_id", "event_type", "timestamp_micros(tsm) as ts", "value")
    df.write.mode("overwrite").parquet(os.path.join(str(tmp_path), "events.parquet"))

    got = {
        r.event_type: r
        for r in ts_matrix_profile_motif(spark, str(tmp_path)).collect()
    }

    # brute force on the planted series (cents)
    vs = [int(v * 100) for v in planted]
    wins = {i: vs[i : i + 4] for i in range(9)}
    dist = {
        (i, j): sum((a - b) ** 2 for a, b in zip(wins[i], wins[j]))
        for i, j in combinations(range(9), 2)
        if j >= i + 4
    }
    motif = min(dist.items(), key=lambda kv: (kv[1], kv[0]))
    nn = {
        i: min(d for (a, b), d in dist.items() if i in (a, b))
        for i in range(9)
    }
    discord = max(nn.items(), key=lambda kv: (kv[1], -kv[0]))

    p = got["planted"]
    assert (p.motif_a_hour, p.motif_b_hour, p.motif_sqdist) == (
        base_h + motif[0][0], base_h + motif[0][1], motif[1])
    assert motif == ((0, 8), 0)  # the plant worked
    assert (p.discord_hour, p.discord_nn_sqdist) == (
        base_h + discord[0], discord[1])
    assert discord[1] > 0

    f = got["flat"]
    assert (f.motif_a_hour, f.motif_b_hour, f.motif_sqdist) == (
        base_h, base_h + 4, 0)
    assert (f.discord_hour, f.discord_nn_sqdist) == (base_h, 0)


def test_bagged_stumps_hand_case(spark, tmp_path):
    """8-row fixture, feature -0.1 (class 0, rows 0-3) vs +0.1 (class 1,
    rows 4-7): every md5-bootstrap bag contains both classes (membership
    precomputed by hand), so all 5 stumps find the perfect boundary
    (bin 97 = (400000 div 4096), left 0 / right 1), every OOB error is
    0, and the majority vote is perfect on all 8 rows. OOB sizes are
    the hand-computed complements [3,4,3,3,4]."""
    import hashlib
    import os

    from open_molecule_data_pipeline_spark.operators.ensemble import (
        ml_bagged_stumps,
    )

    # hand-verified memberships (first 2 md5 hex chars of "vid-bag" < a1)
    inb = {
        v: [1 if hashlib.md5(f"{v}-{b}".encode()).hexdigest()[:2] < "a1"
            else 0 for b in range(5)]
        for v in range(8)
    }
    oob_sizes = [sum(1 - inb[v][b] for v in range(8)) for b in range(5)]
    assert oob_sizes == [3, 4, 3, 3, 4]
    assert all(
        any(inb[v][b] for v in range(4))
        and any(inb[v][b] for v in range(4, 8))
        for b in range(5)
    )

    rows = [
        (v, [-0.1 if v < 4 else 0.1, 0.0], 0 if v < 4 else 1)
        for v in range(8)
    ]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.parquet(os.path.join(str(tmp_path), "embeddings.parquet"))

    got = sorted(
        ml_bagged_stumps(spark, str(tmp_path)).collect(), key=lambda r: r.bag
    )
    assert len(got) == 6
    for b in range(5):
        r = got[b]
        assert (r.bag, r.split_bin, r.left_class, r.right_class) == (
            b, 97, 0, 1)
        assert (r.eval_rows, r.errors, r.err_ppm) == (oob_sizes[b], 0, 0)
    ens = got[5]
    assert (ens.bag, ens.split_bin, ens.eval_rows, ens.errors,
            ens.err_ppm) == (99, None, 8, 0, 0)


def test_hash_random_walks_replay(spark, tmp_path):
    """Triangle graph {100, 150, 200} (partkeys passing the %50 thin):
    every 4-step walk is replayed in Python with the same md5 rule and
    must match node-for-node; determinism means a rerun is identical."""
    import hashlib
    import os

    from open_molecule_data_pipeline_spark.operators.graph_metrics import (
        graph_hash_random_walks,
    )

    rows = [(1, 100), (1, 150), (2, 150), (2, 200), (3, 100), (3, 200)]
    spark.createDataFrame(
        rows, "l_orderkey long, l_partkey long"
    ).write.parquet(os.path.join(str(tmp_path), "lineitem.parquet"))

    adj = {100: [150, 200], 150: [100, 200], 200: [150, 100]}

    def replay(start):
        cur, path = start, [start]
        for t in range(1, 5):
            cur = min(
                adj[cur],
                key=lambda v: (
                    hashlib.md5(f"{start}-{t}-{v}".encode()).hexdigest(), v),
            )
            path.append(cur)
        return path

    got = {r.walk: [r.n0, r.n1, r.n2, r.n3, r.n4]
           for r in graph_hash_random_walks(spark, str(tmp_path)).collect()}
    assert set(got) == {100, 150, 200}
    for start in (100, 150, 200):
        assert got[start] == replay(start), start
    rerun = {r.walk: [r.n0, r.n1, r.n2, r.n3, r.n4]
             for r in graph_hash_random_walks(spark, str(tmp_path)).collect()}
    assert rerun == got


def test_lcs_fold_matches_textbook_dp(spark):
    """The nested-fold LCS (max-of-three form) against the textbook DP
    on 120 random token-array pairs, plus the hand case the operator
    exists for: a reordered near-dup ('a b c d e' vs 'd e a b c') keeps
    4/5 of its tokens in common as a bag but only LCS 3 as a sequence."""
    import random

    from pyspark.sql import functions as F

    from open_molecule_data_pipeline_spark.operators.rouge import _LCS_EXPR

    def lcs(a, b):
        n, m = len(a), len(b)
        L = [[0] * (m + 1) for _ in range(n + 1)]
        for i in range(1, n + 1):
            for j in range(1, m + 1):
                L[i][j] = (
                    L[i - 1][j - 1] + 1
                    if a[i - 1] == b[j - 1]
                    else max(L[i - 1][j], L[i][j - 1])
                )
        return L[n][m]

    rng = random.Random(13)
    cases = [
        (
            [rng.choice("abcd") for _ in range(rng.randint(1, 12))],
            [rng.choice("abcd") for _ in range(rng.randint(1, 12))],
        )
        for _ in range(120)
    ]
    cases.append((list("abcde"), list("deabc")))
    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(cases)],
        "i long, ta array<string>, tb array<string>",
    )
    got = {r.i: r.lcs for r in df.withColumn(
        "lcs", F.expr(_LCS_EXPR)).collect()}
    for i, (a, b) in enumerate(cases):
        assert got[i] == lcs(a, b), (i, a, b, got[i], lcs(a, b))
    assert got[len(cases) - 1] == 3


def test_l_diversity_hand_case(spark, tmp_path):
    """Two groups: (0, A) has balances {-10, 100, 100, 9000} -> all
    three bands, l = 3, entropy = -(1/4)ln(1/4)*2 - (1/2)ln(1/2) in
    micro-nats; (0, B) is uniform-sensitive (all 'low') -> l = 1,
    entropy 0, NOT diverse despite k = 3 rows (the leak k-anonymity
    misses)."""
    import math
    import os

    from open_molecule_data_pipeline_spark.operators.dq_extra import (
        dq_l_diversity,
    )

    rows = (
        [(i, "n", 0, b, "A") for i, b in enumerate([-10.0, 100.0, 100.0, 9000.0])]
        + [(10 + i, "n", 0, 100.0, "B") for i in range(3)]
    )
    spark.createDataFrame(
        rows,
        "c_custkey long, c_name string, c_nationkey int, c_acctbal double,"
        " c_mktsegment string",
    ).write.parquet(os.path.join(str(tmp_path), "customer.parquet"))

    got = {r.mktsegment: r for r in dq_l_diversity(spark, str(tmp_path)).collect()}
    a, b = got["A"], got["B"]
    assert (a.n_rows, a.l_distinct, a.diverse) == (4, 3, 1)
    exp = (
        round(-(0.25) * math.log(0.25) * 1e6) * 2
        + round(-(0.5) * math.log(0.5) * 1e6)
    )
    assert a.entropy_micro == exp
    assert (b.n_rows, b.l_distinct, b.entropy_micro, b.diverse) == (3, 1, 0, 0)


def test_hurst_brute_force_and_trend(spark, tmp_path):
    """Brute-force Python replay of the full R/S protocol (exact-int
    cumdev, micro quantization, integer means, 4-point closed-form
    slope) on two 96-hour series; theory pin: the pure trend v_k = k
    has R/S growing ~W so its Hurst estimate lands near 1."""
    import math
    import os

    from open_molecule_data_pipeline_spark.operators.hurst import (
        ts_hurst_rescaled_range,
    )

    base = 1704067200_000000
    trend = [float(k) for k in range(96)]
    zig = [float((k * 7) % 5 - 2) for k in range(96)]
    rows = []
    for name, vs in (("trend", trend), ("zig", zig)):
        for k, v in enumerate(vs):
            rows.append((name, base + k * 3_600_000_000, v))
    spark.createDataFrame(
        [(i, g, t, v) for i, (g, t, v) in enumerate(rows)],
        "event_id long, event_type string, tsm long, value double",
    ).selectExpr("event_id", "event_type", "timestamp_micros(tsm) as ts",
                 "value").write.mode("overwrite").parquet(
        os.path.join(str(tmp_path), "events.parquet"))

    def replay(vs):
        cents = [round(v * 100) for v in vs]
        out = {}
        for w in (8, 16, 32, 64):
            rss = []
            for c0 in range(0, len(cents) - w + 1, w):
                ch = cents[c0 : c0 + w]
                s, q = sum(ch), sum(x * x for x in ch)
                if w * q - s * s <= 0:
                    continue
                pref, devs = 0, []
                for k, x in enumerate(ch, 1):
                    pref += x
                    devs.append(w * pref - k * s)
                rss.append(round((max(devs) - min(devs))
                                 / math.sqrt(w * q - s * s) * 1e6))
            if rss:
                out[w] = (len(rss), sum(rss) // len(rss))
        xs = [math.log(w) for w in (8, 16, 32, 64)]
        ys = [math.log(out[w][1] / 1e6) for w in (8, 16, 32, 64)]
        n = 4.0
        slope = (n * sum(x * y for x, y in zip(xs, ys))
                 - sum(xs) * sum(ys)) / (
            n * sum(x * x for x in xs) - sum(xs) ** 2)
        return out, round(slope, 6)

    got = {}
    for r in ts_hurst_rescaled_range(spark, str(tmp_path)).collect():
        got.setdefault(r.event_type, {})[r.w] = (
            r.n_chunks, r.mean_rs_micro, r.hurst)
    for name, vs in (("trend", trend), ("zig", zig)):
        out, slope = replay(vs)
        for w in (8, 16, 32, 64):
            n_chunks, mean_rs = out[w]
            assert got[name][w][:2] == (n_chunks, mean_rs), (name, w)
            assert abs(got[name][w][2] - slope) < 2e-6, (name, w)
    assert got["trend"][8][2] > 0.9
    assert got["zig"][8][2] < got["trend"][8][2]


def test_hampel_hand_case(spark, tmp_path):
    """Spike detection: constant 10-cent series with one 1000 spike ->
    the spike window has MAD 0 and flags (|x-med| = 990 > 0); the spike
    does NOT drag the median, so its honest neighbors stay unflagged
    (the robustness a rolling z-score lacks). Values are judged only
    after a full 7-row frame."""
    import os

    from open_molecule_data_pipeline_spark.operators.windows_extra import (
        window_hampel_outliers,
    )

    base = 1704067200_000000
    vals = [0.10] * 8 + [10.0] + [0.10] * 6
    rows = [("s", base + i * 3_600_000_000, v) for i, v in enumerate(vals)]
    spark.createDataFrame(
        [(i, g, t, v) for i, (g, t, v) in enumerate(rows)],
        "event_id long, event_type string, tsm long, value double",
    ).selectExpr("event_id", "event_type", "timestamp_micros(tsm) as ts",
                 "value").write.mode("overwrite").parquet(
        os.path.join(str(tmp_path), "events.parquet"))

    got = sorted(window_hampel_outliers(spark, str(tmp_path)).collect(),
                 key=lambda r: r.h)
    # 15 hours, frames full from hour index 6 -> 9 judged rows
    assert len(got) == 9
    flags = [r.outlier for r in got]
    vs = [r.v for r in got]
    assert vs == [10, 10, 1000, 10, 10, 10, 10, 10, 10]
    # only the spike itself flags; windows containing the spike keep
    # med = 10 (majority), MAD = 0, and honest 10s have dev 0
    assert flags == [0, 0, 1, 0, 0, 0, 0, 0, 0]
    spike = got[2]
    assert (spike.med2, spike.mad4) == (20, 0)


def test_mmr_demotes_near_duplicate(spark, tmp_path):
    """Planted redundancy: c10 and c11 are near-identical high-relevance
    candidates, c12 is less relevant but orthogonal. Pure relevance
    would return (c10, c11, c12); MMR picks c10 then DEMOTES its twin
    in favor of the diverse c12. Full greedy replayed in Python with
    the same micro-quantized 700/300 integer scoring."""
    import math
    import os

    from open_molecule_data_pipeline_spark.operators.mmr import (
        _K_MMR, _R, _WDIV, _WREL, sim_rerank_mmr,
    )

    # one query (vec_id 0); candidates 10..17 (>= N_QUERIES so they are
    # corpus-only). 4-dim vectors. c10 and c11 point the SAME direction
    # (sim = 1.0) and c12 is equally relevant but in another plane
    # (sim(10,12) = cos^2 45deg = 0.5): relevance alone ranks
    # (10, 11, ...) by the id tie-break; MMR must put 12 second.
    vecs = {
        0: [1.0, 0.0, 0.0, 0.0],
        10: [0.7071, 0.7071, 0.0, 0.0],
        11: [0.7071, 0.7071, 0.0, 0.0],  # exact twin of c10
        12: [0.7071, 0.0, 0.7071, 0.0],  # equally relevant, diverse
        13: [0.60, 0.0, 0.0, 0.80],
        14: [0.50, 0.50, 0.0, 0.70],
        15: [0.30, 0.9, 0.3, 0.0],
        16: [0.20, 0.0, 0.9, 0.3],
        17: [0.10, 0.4, 0.4, 0.8],
    }
    # other queries 1..9 exist in the fixture (N_QUERIES = 10) but far
    # from everything; give them orthogonal-ish junk
    for i in range(1, 10):
        v = [0.0] * 4
        v[i % 4] = -1.0
        vecs[i] = v
    spark.createDataFrame(
        [(k, [float(x) for x in v], 0) for k, v in sorted(vecs.items())],
        "vec_id long, embedding array<float>, label int",
    ).write.parquet(os.path.join(str(tmp_path), "embeddings.parquet"))

    def cos6(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return round(d / (math.sqrt(sum(x * x for x in a))
                          * math.sqrt(sum(x * x for x in b))) * 1e6)

    def replay(qid):
        others = [k for k in vecs if k != qid]
        rel = {k: cos6(vecs[qid], vecs[k]) for k in others}
        pool = sorted(others, key=lambda k: (-rel[k], k))[:_R]
        sel, out = [], []
        for t in range(1, _K_MMR + 1):
            best = None
            for k in pool:
                if k in sel:
                    continue
                ms = max((cos6(vecs[k], vecs[j]) for j in sel), default=0)
                sc = _WREL * rel[k] - _WDIV * ms
                if best is None or (sc, -k) > (best[0], -best[1]):
                    best = (sc, k, ms)
            sel.append(best[1])
            out.append((t, best[1], rel[best[1]], best[2], best[0]))
        return out

    got = {}
    for r in sim_rerank_mmr(spark, str(tmp_path)).collect():
        got.setdefault(r.query_id, []).append(
            (r.rank, r.neighbor_id, r.rel6, r.maxsim6, r.mmr_milli))
    for qid in range(10):
        assert sorted(got[qid]) == replay(qid), qid
    q0 = [nid for _, nid, *_ in sorted(got[0])]
    assert q0[0] == 10          # top relevance first
    assert q0[1] == 12          # the diverse candidate beats the twin
    assert 11 not in q0[:2]


def test_isotonic_minimax_equals_sequential_pav(spark):
    """The minimax identity against a sequential pool-adjacent-violators
    implementation on 40 random bin configurations plus the textbook
    case [.1, .3, .2, .4] -> [.1, .25, .25, .4] (bins 2-3 pooled,
    weighted). Also pins monotonicity and weighted-mean preservation."""
    import random

    from open_molecule_data_pipeline_spark.operators.isotonic import (
        _isotonic_from_bins,
    )

    def pav_rates(blocks):
        st = []  # (nbins, w, s)
        for w, s in blocks:
            st.append([1, w, s])
            while len(st) > 1 and st[-1][2] * st[-2][1] < st[-2][2] * st[-1][1]:
                b2, w2, s2 = st.pop()
                st[-1][0] += b2
                st[-1][1] += w2
                st[-1][2] += s2
        rates = []
        for nb, w, s in st:
            rates.extend([s / w] * nb)
        return rates

    rng = random.Random(7)
    cases = [[(10, 1), (10, 3), (10, 2), (10, 4)]]
    for _ in range(40):
        nb = rng.randint(1, 10)
        cases.append(
            [(rng.randint(1, 20), 0) for _ in range(nb)]
        )
        cases[-1] = [(w, rng.randint(0, w)) for w, _ in cases[-1]]
    for case in cases:
        bins = spark.createDataFrame(
            [(i, w, s) for i, (w, s) in enumerate(case)],
            "bin long, w long, s long",
        )
        got = {r.bin: r for r in _isotonic_from_bins(bins).collect()}
        want = pav_rates(case)
        iso = [got[i].iso_rate_ppm for i in range(len(case))]
        for i, r in enumerate(want):
            assert iso[i] == round(r * 1e6), (case, i)
        assert iso == sorted(iso)  # monotone
        # pooling preserves the weighted total
        assert sum(got[i].positives for i in range(len(case))) == sum(
            s for _, s in case)
    # the textbook case, explicitly
    bins = spark.createDataFrame(
        [(0, 10, 1), (1, 10, 3), (2, 10, 2), (3, 10, 4)],
        "bin long, w long, s long",
    )
    iso = [r.iso_rate_ppm for r in sorted(
        _isotonic_from_bins(bins).collect(), key=lambda r: r.bin)]
    assert iso == [100000, 250000, 250000, 400000]


def test_neyman_allocation_hand_case(spark, tmp_path):
    """Three equal-size strata (50 rows each): constant A (std 0),
    B alternating 1/3 (std 1.00 -> 100000 milli-cents), C alternating
    1/9 (std 4.00). Weights 0 : 5e6 : 2e7 -> exact quotas 0/40/160 with
    no remainder seats. Proportional would say 66/67/67 - the defining
    Neyman property is that the zero-variance stratum needs NO sample."""
    import os

    from open_molecule_data_pipeline_spark.operators.sampling_mix import (
        sample_neyman_allocation,
    )

    base = 1704067200_000000
    rows = []
    for i in range(50):
        rows.append(("A", 1.0))
        rows.append(("B", [1.0, 3.0][i % 2]))
        rows.append(("C", [1.0, 9.0][i % 2]))
    spark.createDataFrame(
        [(i, g, base + i * 1_000_000, v) for i, (g, v) in enumerate(rows)],
        "event_id long, event_type string, tsm long, value double",
    ).selectExpr("event_id", "event_type", "timestamp_micros(tsm) as ts",
                 "value").write.mode("overwrite").parquet(
        os.path.join(str(tmp_path), "events.parquet"))

    got = {r.stratum: r for r in
           sample_neyman_allocation(spark, str(tmp_path)).collect()}
    assert (got["A"].std_milli, got["B"].std_milli, got["C"].std_milli) == (
        0, 100_000, 400_000)
    assert (got["A"].weight, got["B"].weight, got["C"].weight) == (
        0, 5_000_000, 20_000_000)
    assert (got["A"].n_alloc, got["B"].n_alloc, got["C"].n_alloc) == (
        0, 40, 160)
    assert sum(r.n_alloc for r in got.values()) == 200


def test_lsh_band_tuning_monotone_tradeoff(spark, sf_dir):
    """The recall/precision trade the report exists to show: as r grows
    (wider bands), the candidate set SHRINKS (every (r, b) candidate
    shares r consecutive signatures, hence at least one single
    signature, so each scheme's candidates nest inside r = 1's) and the
    candidates' mean true Jaccard RISES. Thresholds are the injected
    literals (1/b)^(1/r)."""
    from open_molecule_data_pipeline_spark.operators.lsh_tuning import (
        text_lsh_band_tuning,
    )

    rows = sorted(
        text_lsh_band_tuning(spark, sf_dir).collect(), key=lambda x: x.r
    )
    assert [(x.r, x.b) for x in rows] == [(1, 8), (2, 4), (4, 2), (8, 1)]
    assert [x.threshold_ppm for x in rows] == [
        125000, 500000, 840896, 1000000]
    counts = [x.n_candidates for x in rows]
    assert counts == sorted(counts, reverse=True)  # nesting property
    assert counts[0] > 0
    # the junk-vs-verified gap (mean jaccard between adjacent schemes is
    # NOT theoretically monotone - only the candidate SETS nest - but the
    # r=1 union scheme must sit far below the banded schemes)
    means = {x.r: x.mean_jaccard_ppm for x in rows
             if x.mean_jaccard_ppm is not None}
    if 1 in means and 2 in means:
        assert means[1] < means[2]


def test_typed_parquet_roundtrip_schema_and_values(spark, sf_dir):
    """The read-back schema must be the written one (decimal(12,2),
    date, binary, smallint asserted inside the operator) and the
    aggregates must reflect every source row."""
    import re

    import duckdb

    from open_molecule_data_pipeline_spark.operators.file_formats import (
        format_roundtrip_typed_parquet,
    )

    r = format_roundtrip_typed_parquet(spark, sf_dir).collect()[0]
    n_src = duckdb.sql(
        f"SELECT count(*) FROM '{sf_dir}/lineitem.parquet'"
    ).fetchone()[0]
    assert r.n == n_src
    assert re.fullmatch(r"\d{4}-\d{2}-\d{2}", r.min_day)
    assert r.min_day <= r.max_day
    assert 0 < r.n_bin <= r.n
    assert r.sum_price_cents > 0 and r.min_ts_us > 0


def test_stream_neyman_twin_matches_batch(spark, sf_dir):
    """The streaming twin's post-completion allocation must equal the
    batch query row-for-row: the per-stratum moments are the entire
    sufficient statistic, so a stream that merges them additively loses
    nothing."""
    from open_molecule_data_pipeline_spark.operators.sampling_mix import (
        sample_neyman_allocation,
    )
    from open_molecule_data_pipeline_spark.operators.streaming_twin import (
        stream_neyman_twin,
    )

    batch = {r.stratum: r for r in
             sample_neyman_allocation(spark, sf_dir).collect()}
    stream = {r.stratum: r for r in
              stream_neyman_twin(spark, sf_dir).collect()}
    assert set(batch) == set(stream)
    for k in batch:
        assert tuple(batch[k]) == tuple(stream[k]), k


def test_jarque_bera_hand_case(spark, tmp_path):
    """Symmetric light-tailed series [1,2,3,2] * 25: skew exactly 0,
    m4/m2^2 = 2 -> excess kurtosis -1, JB = 100/6 * (0 + 1/4) = 4.1667
    -> NOT rejected; the one-sided spike series is wildly non-normal ->
    rejected. Cross-checked against scipy-free closed forms."""
    import os

    from open_molecule_data_pipeline_spark.operators.inference_stats import (
        profile_jarque_bera,
    )

    base = 1704067200_000000
    rows = []
    sym = [1.0, 2.0, 3.0, 2.0] * 25
    for i, v in enumerate(sym):
        rows.append(("sym", base + i * 1_000_000, v))
    spike = [1.0] * 99 + [100.0]
    for i, v in enumerate(spike):
        rows.append(("spike", base + i * 1_000_000, v))
    spark.createDataFrame(
        [(i, g, t, v) for i, (g, t, v) in enumerate(rows)],
        "event_id long, event_type string, tsm long, value double",
    ).selectExpr("event_id", "event_type", "timestamp_micros(tsm) as ts",
                 "value").write.mode("overwrite").parquet(
        os.path.join(str(tmp_path), "events.parquet"))

    got = {r.event_type: r for r in
           profile_jarque_bera(spark, str(tmp_path)).collect()}
    s = got["sym"]
    # cents [100,200,300,200]: mean 200, m2 = 5000, m3 = 0, m4 = 5e7
    # -> kurt = 5e7/25e6 - 3 = -1
    assert (s.n, s.skew, s.kurt_excess) == (100, 0.0, -1.0)
    assert abs(s.jb - round(100 / 6 * 0.25, 6)) < 1e-9
    assert s.reject_normal == 0
    sp = got["spike"]
    assert sp.reject_normal == 1 and sp.jb > 1000 and sp.skew > 5


def test_hash_chain_audit_replay_and_tamper(spark, tmp_path):
    """Python hashlib replay of a 3-order chain, plus the property the
    chain exists for: editing ONE amount, dropping a row, or swapping
    two rows each change the head."""
    import hashlib
    import os

    from open_molecule_data_pipeline_spark.operators.cdc import (
        cdc_hash_chain_audit,
    )

    def head(custkey, orders):
        h = hashlib.md5(str(custkey).encode()).hexdigest()
        for k, cents in orders:
            h = hashlib.md5(f"{h}-{k}-{cents}".encode()).hexdigest()
        return h

    def run(rows):
        spark.createDataFrame(
            rows, "o_orderkey long, o_custkey long, o_totalprice double"
        ).write.mode("overwrite").parquet(
            os.path.join(str(tmp_path), "orders.parquet"))
        return {r.custkey: r for r in
                cdc_hash_chain_audit(spark, str(tmp_path)).collect()}

    base = [(1, 7, 1.00), (2, 7, 2.50), (3, 7, 0.99), (10, 8, 5.00)]
    got = run(base)
    assert got[7].n_orders == 3
    assert got[7].chain_head == head(7, [(1, 100), (2, 250), (3, 99)])
    assert got[8].chain_head == head(8, [(10, 500)])

    h0 = got[7].chain_head
    edited = run([(1, 7, 1.00), (2, 7, 2.51), (3, 7, 0.99), (10, 8, 5.00)])
    assert edited[7].chain_head != h0
    dropped = run([(1, 7, 1.00), (3, 7, 0.99), (10, 8, 5.00)])
    assert dropped[7].chain_head != h0
    # swapping orderkeys reorders the fold even with identical payload set
    swapped = run([(2, 7, 1.00), (1, 7, 2.50), (3, 7, 0.99), (10, 8, 5.00)])
    assert swapped[7].chain_head != h0


def test_kn_trigram_hand_worked_two_level_backoff(spark):
    """Trigram KN on 'a b c a b c' + 'b c d': P(c|a,b) = 0.625 +
    0.375 * Pbo(c|b) with Pbo(c|b) = 0.25 + 0.75 * (1/4) = 0.4375 ->
    P = 0.7890625; the middle level uses CONTINUATION counts (distinct
    w1), not frequencies. Probability mass telescopes to 1 across both
    backoff levels for history (a, b)."""
    import math
    import tempfile

    from open_molecule_data_pipeline_spark.operators.kn_lm import (
        text_kn_trigram_ppl,
    )

    with tempfile.TemporaryDirectory() as td:
        _write_docs(spark, td, [(0, "en", "a b c a b c"), (1, "en", "b c d")])
        got = {r.doc_id: r for r in text_kn_trigram_ppl(spark, td).collect()}

    def cost(p):
        return round(-math.log(p) * 1e6)

    pbo_c_b = (1 - 0.75) / 1 + 0.75 * (1 / 1) * (1 / 4)
    p_abc = (2 - 0.75) / 2 + 0.75 * (1 / 2) * pbo_c_b
    assert abs(p_abc - 0.7890625) < 1e-12
    pbo_a_c = (1 - 0.75) / 2 + 0.75 * (2 / 2) * (1 / 4)
    p_bca = (1 - 0.75) / 2 + 0.75 * (2 / 2) * pbo_a_c
    pbo_b_a = (1 - 0.75) / 1 + 0.75 * (1 / 1) * (1 / 4)
    p_cab = (1 - 0.75) / 1 + 0.75 * (1 / 1) * pbo_b_a
    p_bcd = p_bca  # symmetric counts

    d0, d1 = got[0], got[1]
    assert d0.n_trigrams == 4 and d1.n_trigrams == 1
    assert d0.nll_micro == 2 * cost(p_abc) + cost(p_bca) + cost(p_cab)
    assert d1.nll_micro == cost(p_bcd)
    assert d0.mean_nll_micro == d0.nll_micro // 4

    # mass telescopes across BOTH levels for history (a, b): seen mass
    # (c123-D)/c12 plus lambda * sum over the vocab of Pbo(.|b) = 1
    vocab_pbo_b = pbo_c_b + 3 * (0.75 * (1 / 1) * (1 / 4))  # a, b, d unseen
    assert abs(vocab_pbo_b - 1.0) < 1e-12
    assert abs(((2 - 0.75) / 2 + 0.75 * (1 / 2) * vocab_pbo_b) - 1.0) < 1e-12


def test_exponential_decay_hand_case(spark, tmp_path):
    """Three events at t_max, t_max - 24h, t_max - 48h: weights exactly
    1, 1/2, 1/4 (half-life boundaries are exact powers of two), so the
    decayed count is 1.75e9 nano and the value mass weights each cent
    amount by its age."""
    import os

    from open_molecule_data_pipeline_spark.operators.stats import (
        agg_exponential_decay_counts,
    )

    base = 1704067200_000000
    day = 24 * 3600 * 1_000_000
    rows = [
        ("a", base + 2 * day, 1.00),  # fresh: w = 1
        ("a", base + 1 * day, 2.00),  # 1 half-life: w = 1/2
        ("a", base + 0 * day, 4.00),  # 2 half-lives: w = 1/4
    ]
    spark.createDataFrame(
        [(i, g, t, v) for i, (g, t, v) in enumerate(rows)],
        "event_id long, event_type string, tsm long, value double",
    ).selectExpr("event_id", "event_type", "timestamp_micros(tsm) as ts",
                 "value").write.mode("overwrite").parquet(
        os.path.join(str(tmp_path), "events.parquet"))

    r = agg_exponential_decay_counts(spark, str(tmp_path)).collect()[0]
    assert r.n_raw == 3
    assert r.decayed_count_micro == 1_000_000 + 500_000 + 250_000
    # mass = (1e6*100 + 5e5*200 + 2.5e5*400) / 1e6 cents
    assert r.decayed_value_cents == (
        1_000_000 * 100 + 500_000 * 200 + 250_000 * 400
    ) // 1_000_000
    # freshness = mean weight in ppm = 1.75e6 / 3
    assert r.freshness_ppm == 1_750_000 // 3


def test_cluster_quality_hand_case(spark, tmp_path):
    """Crafted corpus: docs 0/1/2 are exact near-dups of one another
    (one 3-clique component), doc 3/4 a pair. Coverage for the triangle
    depends on which pairs LSH surfaces (<= 3 of 3); the pair cluster
    must show n_docs=2, n_edges=1, coverage exactly 1e6, and a high
    mean Jaccard."""
    import os

    from open_molecule_data_pipeline_spark.operators.graph import (
        dedup_cluster_quality,
    )

    text_a = "the quick brown fox jumps over the lazy dog again and again"
    text_b = "completely different content about spark and parquet tables here"
    rows = [
        (0, "en", text_a),
        (1, "en", text_a + " extra"),
        (2, "en", "again " + text_a),
        (3, "en", text_b),
        (4, "en", text_b + " too"),
        (5, "en", "unrelated singleton words that match absolutely nothing"),
    ]
    _write_docs(spark, str(tmp_path), rows)
    got = {r.cluster_rep: r for r in
           dedup_cluster_quality(spark, str(tmp_path)).collect()}
    assert 0 in got and got[0].n_docs == 3
    assert 1 <= got[0].n_edges <= 3
    assert got[0].edge_coverage_ppm == got[0].n_edges * 2 * 10**6 // 6
    assert got[0].mean_jaccard_ppm > 500_000
    assert 3 in got and (got[3].n_docs, got[3].n_edges) == (2, 1)
    assert got[3].edge_coverage_ppm == 1_000_000
    assert 5 not in got  # singletons have no edges, hence no row


def test_srm_check_hand_case(spark, tmp_path):
    """Assignment replayed with hashlib on a tiny user set; a crafted
    grossly-lopsided population (users whose md5 first nibble is always
    < 8 -> all control) must flag SRM, and the chi2 matches the closed
    form n * (8/16 ratios): chi2 = n*(1-.5)^2/(.5) + n*.25/.25... i.e.
    with all n users in control: (n-n/2)^2/(n/2) + 2*(n/4) = n."""
    import hashlib
    import os

    from open_molecule_data_pipeline_spark.operators.sampling_mix import (
        sample_srm_check,
    )

    # pick user ids whose md5 first nibble is < 8 (all land in control)
    uids, uid = [], 0
    while len(uids) < 40:
        if int(hashlib.md5(str(uid).encode()).hexdigest()[0], 16) < 8:
            uids.append(uid)
        uid += 1
    base = 1704067200_000000
    spark.createDataFrame(
        [(i, u, base + i * 1_000_000, "x", 1.0) for i, u in enumerate(uids)],
        "event_id long, user_id long, tsm long, event_type string,"
        " value double",
    ).selectExpr("event_id", "user_id", "timestamp_micros(tsm) as ts",
                 "event_type", "value").write.mode("overwrite").parquet(
        os.path.join(str(tmp_path), "events.parquet"))

    rows = sample_srm_check(spark, str(tmp_path)).collect()
    got = {r.arm: r for r in rows}
    # the EMPTY arms still appear and still owe their (0-e)^2/e terms
    # (the first cut dropped them — chi2 read 20 instead of 40)
    assert len(got) == 3
    assert got["control"].n == 40
    assert (got["treat_a"].n, got["treat_b"].n) == (0, 0)
    # all-in-one-arm chi2 = (40-20)^2/20 + 10 + 10 = 40 = n
    assert abs(got["control"].srm_chi2 - 40.0) < 1e-6
    assert got["control"].srm_flag == 1
