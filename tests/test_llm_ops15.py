"""llm_ops15: Kneser-Ney bigram LM, Matryoshka two-stage retrieval,
per-domain quality median cut."""

from __future__ import annotations

import math
import os
from collections import Counter

import duckdb
import pytest

from etl_from_s3_to_postgresql_template_spark.plans import ORACLE, QUERIES
from etl_from_s3_to_postgresql_template_spark.plans.llm_ops15 import (
    _MRL_CAND,
    _MRL_DIMS,
    _MRL_K,
)


def _write_table(spark, tmp_path, name, rows, schema):
    sf = str(tmp_path)
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(
        f"{sf}/{name}.parquet"
    )
    return sf


def _oracle_rows(sf, name, *tables):
    con = duckdb.connect()
    for t in tables:
        p = f"{sf}/{t}.parquet"
        pat = f"{p}/*.parquet" if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{pat}')")
    return [tuple(r) for r in con.execute(ORACLE[name]).fetchall()]


def _spark_rows(spark, sf, name):
    return [tuple(r) for r in QUERIES[name](spark, sf).collect()]


_DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"
_EMB_SCHEMA = "vec_id long, embedding array<float>, label int"


# ---------------------------------------------------------------------------
# Kneser-Ney
# ---------------------------------------------------------------------------

_KN_DOCS = [
    (0, "the cat sat on the mat the cat ran", "en", "a", 1),
    (1, "the dog sat on the rug and the dog ran far", "en", "a", 1),
    (2, "a cat and a dog met a bird", "en", "b", 1),
    (3, "", "en", "b", 1),
    (4, None, "en", "b", 1),
    (5, "single", "en", "b", 1),  # < 2 tokens: contributes no bigram
]


def _py_kn_stats():
    """Independent Python recount of the planted corpus' KN statistics."""
    pair = Counter()
    for _, text, *_ in _KN_DOCS:
        toks = (text or "").lower().split()
        for a, b in zip(toks, toks[1:]):
            pair[(a, b)] += 1
    c1 = Counter()
    n1p_w1 = Counter()
    n1p_w2 = Counter()
    for (a, b), c in pair.items():
        c1[a] += c
        n1p_w1[a] += 1
        n1p_w2[b] += 1
    return pair, c1, n1p_w1, n1p_w2, len(pair)


def test_kn_matches_oracle_planted(spark, tmp_path):
    sf = _write_table(spark, tmp_path, "documents", _KN_DOCS, _DOC_SCHEMA)
    assert _spark_rows(spark, sf, "corpus_bigram_lm_kn") == _oracle_rows(
        sf, "corpus_bigram_lm_kn", "documents"
    )


def test_kn_micro_tracks_float_formula(spark, tmp_path):
    """The staged integer program lands within 2 micro (two truncating
    divisions) of the textbook interpolated-KN float formula."""
    sf = _write_table(spark, tmp_path, "documents", _KN_DOCS, _DOC_SCHEMA)
    pair, c1, n1p_w1, n1p_w2, t = _py_kn_stats()
    d = 0.75
    for w1, w2, c12, w1c, nw1, nw2, micro in _spark_rows(
        spark, sf, "corpus_bigram_lm_kn"
    ):
        assert (c12, w1c, nw1, nw2) == (
            pair[(w1, w2)],
            c1[w1],
            n1p_w1[w1],
            n1p_w2[w2],
        )
        p = max(c12 - d, 0.0) / w1c + d * nw1 / w1c * (nw2 / t)
        assert abs(micro - p * 1e6) <= 2.0, (w1, w2, micro, p * 1e6)


def test_kn_probability_mass_normalizes():
    """sum_w2 p_KN(w2|w1) == 1 over the continuation vocabulary — the
    identity the discount/backoff split exists to preserve (validates
    the formula the integer program stages)."""
    pair, c1, n1p_w1, n1p_w2, t = _py_kn_stats()
    d = 0.75
    vocab2 = set(n1p_w2)
    for w1 in c1:
        mass = sum(
            max(pair.get((w1, w2), 0) - d, 0.0) / c1[w1]
            + d * n1p_w1[w1] / c1[w1] * (n1p_w2[w2] / t)
            for w2 in vocab2
        )
        assert math.isclose(mass, 1.0, rel_tol=1e-12), (w1, mass)


def _py_kn3_stats():
    tri = Counter()
    bgt = set()
    for _, text, *_ in _KN_DOCS:
        toks = (text or "").lower().split()
        for a, b, c in zip(toks, toks[1:], toks[2:]):
            tri[(a, b, c)] += 1
        for a, b in zip(toks, toks[1:]):
            bgt.add((a, b))
    c12 = Counter()
    n1p_ctx = Counter()
    ncw2w3 = Counter()
    nmidw2 = Counter()
    for (a, b, c), k in tri.items():
        c12[(a, b)] += k
        n1p_ctx[(a, b)] += 1
        ncw2w3[(b, c)] += 1
        nmidw2[b] += 1
    nw1dot = Counter()
    ndotw2 = Counter()
    for a, b in bgt:
        nw1dot[a] += 1
        ndotw2[b] += 1
    return tri, c12, n1p_ctx, ncw2w3, nmidw2, nw1dot, ndotw2, len(bgt)


def test_kn3_matches_oracle_and_float_formula(spark, tmp_path):
    sf = _write_table(spark, tmp_path, "documents", _KN_DOCS, _DOC_SCHEMA)
    got = _spark_rows(spark, sf, "corpus_trigram_lm_kn")
    assert got == _oracle_rows(sf, "corpus_trigram_lm_kn", "documents")
    tri, c12, n1p_ctx, ncw2w3, nmidw2, nw1dot, ndotw2, t_bi = _py_kn3_stats()
    d = 0.75
    for w1, w2, w3, tc, c, nc, nw, nm, n2d, nd3, tb, micro in got:
        assert (tc, c, nc, nw, nm, n2d, nd3, tb) == (
            tri[(w1, w2, w3)],
            c12[(w1, w2)],
            n1p_ctx[(w1, w2)],
            ncw2w3[(w2, w3)],
            nmidw2[w2],
            nw1dot[w2],
            ndotw2[w3],
            t_bi,
        )
        pc = nd3 / tb
        pmid = max(nw - d, 0.0) / nm + d * n2d / nm * pc
        ptri = max(tc - d, 0.0) / c + d * nc / c * pmid
        assert abs(micro - ptri * 1e6) <= 3.0, (w1, w2, w3, micro, ptri * 1e6)


def test_kn3_mid_level_mass_identity():
    """sum_w3 p_mid(w3|w2) == 1 + d*(N1+(w2,*) - K)/N1+(*,w2,*), where K
    is the trigram-observed continuation set of w2 — exactly 1 when every
    bigram type (w2, w3) also occurs trigram-interior (the padding-free
    boundary effect, validating the continuation-count recursion)."""
    _, _, _, ncw2w3, nmidw2, nw1dot, ndotw2, t_bi = _py_kn3_stats()
    d = 0.75
    vocab2 = set(ndotw2)
    for w2 in nmidw2:
        mass = sum(
            max(ncw2w3.get((w2, w3), 0) - d, 0.0) / nmidw2[w2]
            + d * nw1dot[w2] / nmidw2[w2] * (ndotw2[w3] / t_bi)
            for w3 in vocab2
        )
        k = sum(1 for (b, _c) in ncw2w3 if b == w2)
        want = 1.0 + d * (nw1dot[w2] - k) / nmidw2[w2]
        assert math.isclose(mass, want, rel_tol=1e-12), (w2, mass, want)


def _staged_kn_micro(c12, c1, n1p_w1, n1p_w2, t):
    """Pure-Python replica of the staged integer program (the exact
    expressions both engines run)."""
    pc = (1_000_000 * n1p_w2) // t
    t1 = (1_000_000 * max(4 * c12 - 3, 0)) // (4 * c1)
    t2 = (3 * n1p_w1 * pc) // (4 * c1)
    return t1 + t2


def test_kn_staging_truncation_bound_property():
    """Hypothesis fuzz over admissible KN statistics: the staged integer
    program stays within 2 micro BELOW the exact rational (truncating
    divisions only ever round down) for ANY admissible counts — the
    bound the module docstring claims."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @st.composite
    def stats(draw):
        t = draw(st.integers(min_value=1, max_value=10**7))
        n1p_w2 = draw(st.integers(min_value=1, max_value=t))
        n1p_w1 = draw(st.integers(min_value=1, max_value=min(t, 10**6)))
        c1 = draw(st.integers(min_value=n1p_w1, max_value=10**9))
        # admissibility: the other n1p_w1 - 1 types each hold >= 1 count
        c12 = draw(st.integers(min_value=1, max_value=c1 - n1p_w1 + 1))
        return c12, c1, n1p_w1, n1p_w2, t

    from fractions import Fraction

    @settings(max_examples=300, deadline=None)
    @given(stats())
    def check(s):
        c12, c1, n1p_w1, n1p_w2, t = s
        micro = _staged_kn_micro(c12, c1, n1p_w1, n1p_w2, t)
        exact = (
            Fraction(max(4 * c12 - 3, 0), 4 * c1)
            + Fraction(3 * n1p_w1, 4 * c1) * Fraction(n1p_w2, t)
        ) * 1_000_000
        assert micro <= exact < micro + 2 + 1  # two truncations < 2 micro
        assert 0 <= micro <= 1_000_000 + 2

    check()


def test_kn_bucketed_matches_oracle_planted(spark, tmp_path):
    sf = _write_table(spark, tmp_path, "documents", _KN_DOCS, _DOC_SCHEMA)
    assert _spark_rows(spark, sf, "corpus_bigram_lm_kn_bucketed") == _oracle_rows(
        sf, "corpus_bigram_lm_kn_bucketed", "documents"
    )


def test_kn_fast_tier_agrees_on_collision_free_corpus(spark, tmp_path):
    """On a tiny vocabulary (collision-free in 2^20 buckets under BOTH
    hashes w.h.p.) the md5 and xxhash64 tiers' statistics tuples agree
    row-for-row and the gate reports full agreement."""
    sf = _write_table(spark, tmp_path, "documents", _KN_DOCS, _DOC_SCHEMA)
    keys = lambda rows: sorted(r[2:] for r in rows)  # drop bucket ids
    a = _spark_rows(spark, sf, "corpus_bigram_lm_kn_bucketed")
    b = _spark_rows(spark, sf, "corpus_bigram_lm_kn_fast")
    assert keys(a) == keys(b)
    assert _spark_rows(spark, sf, "corpus_bigram_lm_kn_agreement_gate") == [
        (len(a), True)
    ]


def test_kn_gate_green_on_fixture(spark):
    assert _spark_rows(
        spark, "/root/testdata/sf0.001", "corpus_bigram_lm_kn_agreement_gate"
    ) == [(30, True)]


_LM_SENT = "the cat sat on the mat and the dog sat on the rug "


def _kn_score_docs():
    lm = " ".join(_LM_SENT.split() * 4)
    return [
        # LM slice (doc_id % 10 == 0): en + de models
        (0, lm, "en", "a", 1),
        (10, "der hund sitzt auf der matte " * 4, "de", "a", 1),
        # scored stream:
        (1, _LM_SENT, "en", "a", 1),  # in-model doc
        (2, "zzz qqq xxx www yyy vvv", "en", "a", 1),  # all-unseen doc
        (3, "bonjour le monde ici", "fr", "a", 1),  # no fr LM -> dropped
        (4, "", "en", "a", 1),  # no bigrams
    ]


def test_kn_score_matches_oracle_and_semantics(spark, tmp_path):
    sf = _write_table(spark, tmp_path, "documents", _kn_score_docs(), _DOC_SCHEMA)
    got = _spark_rows(spark, sf, "docs_ccnet_ppl_score_kn")
    assert got == _oracle_rows(sf, "docs_ccnet_ppl_score_kn", "documents")
    by_id = {r[0]: r for r in got}
    assert 3 not in by_id  # language without an LM is never scored
    assert 4 not in by_id  # bigram-less doc produces no score
    assert 0 not in by_id and 10 not in by_id  # LM slice is not scored
    # in-model text scores strictly higher (lp is avg log-prob * 1e4)
    assert by_id[1][3] > by_id[2][3]
    # the all-unseen doc bottoms out at the 1-micro floor: ln(1e-6)*1e4
    assert by_id[2][3] == pytest.approx(round(math.log(1e-6), 4) * 10000, abs=1)


# ---------------------------------------------------------------------------
# Matryoshka retrieval
# ---------------------------------------------------------------------------


def _unit(prefix_mag, suffix_mag, idx_p=0, idx_s=0):
    """64-dim vector with one nonzero prefix coord and one nonzero
    suffix coord — lets tests dial coarse vs full cosine independently."""
    v = [0.0] * 64
    v[idx_p] = prefix_mag
    v[_MRL_DIMS + idx_s] = suffix_mag
    return [float(x) for x in v]


def test_matryoshka_rescore_orders_by_full_cosine(spark, tmp_path):
    # query 0: all prefix. B (id 11) WINS stage 1 (coarse cosine 1.0)
    # but a big off-query suffix drops its full cosine to ~0.45; A
    # (id 10) is coarse-worse (~0.958, off-axis prefix component) but
    # full-better (~0.958). Corpus < _MRL_CAND so both reach the
    # rescore, which must invert the stage-1 order and rank A first.
    a = [0.0] * 64
    a[0], a[1] = 1.0, 0.3
    rows = [
        (0, _unit(1.0, 0.0), 0),
        (10, [float(x) for x in a], 0),  # coarse 0.958, full 0.958
        (11, _unit(1.0, 2.0, idx_s=1), 0),  # coarse 1.0, full 0.447
        (12, _unit(0.2, 1.0, idx_s=2), 0),
    ] + [(100 + i, _unit(0.5, 3.0, idx_p=3, idx_s=3), 0) for i in range(3)]
    sf = _write_table(spark, tmp_path, "embeddings", rows, _EMB_SCHEMA)
    got = _spark_rows(spark, sf, "similarity_topk_matryoshka")
    q0 = [r for r in got if r[0] == 0]
    assert q0[0][1] == 10 and q0[1][1] == 11  # full-cosine order, not coarse
    assert q0[0][2] < q0[1][2]  # stage 1 preferred 11 (coarse_cosine)
    assert got == _oracle_rows(sf, "similarity_topk_matryoshka", "embeddings")


def test_matryoshka_candidate_cut_is_coarse(spark, tmp_path):
    """A suffix-only near-perfect match must MISS when > _MRL_CAND
    coarse-better candidates exist — the documented approximation."""
    target = 500
    rows = [(0, _unit(1.0, 1.0), 0)]
    # _MRL_CAND + 10 filler vectors, all with positive coarse cosine
    rows += [
        (1 + i, _unit(1.0, 5.0, idx_s=2 + (i % 20)), 0)
        for i in range(_MRL_CAND + 10)
    ]
    # the suffix-only vector: full cosine ~ 0.71, coarse cosine 0
    rows += [(target, _unit(0.0, 1.0), 0)]
    sf = _write_table(spark, tmp_path, "embeddings", rows, _EMB_SCHEMA)
    got = _spark_rows(spark, sf, "similarity_topk_matryoshka")
    assert len([r for r in got if r[0] == 0]) == _MRL_K
    assert target not in {r[1] for r in got if r[0] == 0}
    assert got == _oracle_rows(sf, "similarity_topk_matryoshka", "embeddings")


def test_matryoshka_gate_green_on_fixture(spark):
    rows = _spark_rows(spark, "/root/testdata/sf0.001", "similarity_matryoshka_recall_gate")
    assert rows == [(5, True)]


# ---------------------------------------------------------------------------
# Unigram-LM EM step
# ---------------------------------------------------------------------------


def _brute_segmentations(word, probs, _memo=None):
    """All (probability, piece-multiset) pairs by exhaustive recursion —
    the reference the lattice must reproduce."""
    out = []

    def rec(i, acc_p, acc_pieces):
        if i == len(word):
            out.append((acc_p, tuple(acc_pieces)))
            return
        for j in range(i + 1, min(len(word), i + 4) + 1):
            p = probs.get(word[i:j])
            if p:
                rec(j, acc_p * p, acc_pieces + [word[i:j]])

    rec(0, 1.0, [])
    return out


def test_unigram_lattice_matches_brute_force():
    from collections import Counter

    from etl_from_s3_to_postgresql_template_spark.operators.unigram import _lattice

    probs = {"a": 0.3, "b": 0.2, "ab": 0.25, "ba": 0.15, "aba": 0.1}
    for word in ("abab", "aba", "bb", "abba"):
        a, b, z = _lattice(word, probs)
        segs = _brute_segmentations(word, probs)
        z_ref = sum(p for p, _ in segs)
        assert math.isclose(z, z_ref, rel_tol=1e-12), (word, z, z_ref)
        if z_ref == 0:
            continue
        # expected piece counts: lattice a*p*b/z vs brute-force average
        e_ref = Counter()
        for p, pieces in segs:
            for pc in pieces:
                e_ref[pc] += p / z_ref
        for pc in probs:
            e_lat = 0.0
            n = len(word)
            for j in range(n):
                for i in range(j + 1, min(n, j + 4) + 1):
                    if word[j:i] == pc and probs.get(pc):
                        e_lat += a[j] * probs[pc] * b[i] / z
            assert math.isclose(e_lat, e_ref.get(pc, 0.0), rel_tol=1e-12, abs_tol=1e-15), (
                word,
                pc,
            )


def test_unigram_em_gate_planted_and_fixture(spark, tmp_path):
    rows = [
        (0, "abab abba aba abab bab", "en", "a", 1),
        (1, "abab aba bb abab", "en", "a", 1),
    ]
    sf = _write_table(spark, tmp_path, "documents", rows, _DOC_SCHEMA)
    assert _spark_rows(spark, sf, "corpus_unigram_em_gate") == [(True, True)]
    top = _spark_rows(spark, sf, "corpus_unigram_lm_em")
    assert 0 < len(top) <= 30
    # frequent multi-char pieces gain probability mass across the step
    by_piece = {r[0]: r for r in top}
    assert "ab" in by_piece
    piece, cnt0, p0, e, p1 = by_piece["ab"]
    assert e > 0 and p1 > 0
    assert _spark_rows(
        spark, "/root/testdata/sf0.001", "corpus_unigram_em_gate"
    ) == [(True, True)]


def test_unigram_viterbi_matches_brute_force_and_reconstructs(spark, tmp_path):
    from etl_from_s3_to_postgresql_template_spark.operators.unigram import (
        viterbi_encode,
    )

    probs = {"a": 0.3, "b": 0.2, "ab": 0.25, "ba": 0.15, "aba": 0.1}
    wf = spark.createDataFrame(
        [("abab", 5), ("aba", 3), ("abba", 2), ("bb", 1)], "word string, freq long"
    )
    got = {r["word"]: r for r in viterbi_encode(wf, probs).collect()}
    for word in ("abab", "aba", "abba", "bb"):
        segs = _brute_segmentations(word, probs)
        best_p = max(p for p, _ in segs)
        r = got[word]
        assert "".join(r["pieces"].split(" ")) == word
        assert r["score_micro"] == round(math.log(best_p) * 1e6)
        # tie-break: among max-probability segmentations, fewest pieces
        # then lexicographically smallest
        best = min(
            ((p, s) for p, s in segs if math.isclose(p, best_p, rel_tol=1e-12)),
            key=lambda ps: (len(ps[1]), ps[1]),
        )
        assert tuple(r["pieces"].split(" ")) == best[1], (word, r["pieces"], best)
    rows = [
        (0, "abab abba aba abab bab", "en", "a", 1),
        (1, "abab aba bb abab", "en", "a", 1),
    ]
    sf = _write_table(spark, tmp_path, "documents", rows, _DOC_SCHEMA)
    assert _spark_rows(spark, sf, "corpus_unigram_encode_gate") == [(True, True)]


# ---------------------------------------------------------------------------
# Streaming incremental Bloom dedup
# ---------------------------------------------------------------------------

# width = max_id // 4 + 1 = 10: shards [0-9] [10-19] [20-29] [30-39]
_SBLOOM_DOCS = [
    (0, "alpha one\nbeta two", "en", "a", 1),
    (5, "gamma three\nalpha one", "en", "a", 1),  # same-shard dup: unflagged
    (12, "alpha one", "en", "a", 1),  # dup of shard 0 -> flagged
    (25, "beta two\nfresh line", "en", "a", 1),  # beta flagged, fresh first
    (33, "fresh line", "en", "a", 1),  # dup of shard 2 -> flagged
    (39, "unique tail", "en", "a", 1),
]


def test_streaming_bloom_flags_prior_shard_dups_only(spark, tmp_path):
    sf = _write_table(spark, tmp_path, "documents", _SBLOOM_DOCS, _DOC_SCHEMA)
    got = {(r[0], r[1]): r[2] for r in _spark_rows(spark, sf, "streaming_bloom_paragraph_dedup")}
    want = {
        (0, 0): False,
        (0, 1): False,
        (5, 0): False,
        (5, 1): False,  # within-batch dup: state updates AFTER the probe
        (12, 0): True,  # cross-batch dup
        (25, 0): True,
        (25, 1): False,
        (33, 0): True,
        (39, 0): False,
    }
    assert got == want
    assert _spark_rows(spark, sf, "streaming_bloom_dedup_gate") == [(9, 3, 0, True)]
    assert _oracle_rows(sf, "streaming_bloom_dedup_gate", "documents") == [
        (9, 3, 0, True)
    ]


# max_id = 4: width = 4 // 4 + 1 = 2, so the doc_id ranges are [0-1]
# [2-3] [4-5] [6-7] and shard 3 holds no document
_SBLOOM_EMPTY_SHARD_DOCS = [
    (0, "alpha\nbeta", "en", "a", 1),
    (1, "alpha", "en", "a", 1),  # same-shard dup: unflagged
    (2, "beta\ngamma", "en", "a", 1),  # beta dup of shard 0
    (3, "delta", "en", "a", 1),
    (4, "gamma\ndelta\nomega", "en", "a", 1),  # gamma, delta dups of shard 1
]


def test_streaming_bloom_empty_shard_matches_oracle(spark, tmp_path):
    """An empty doc_id-range shard is staged as an empty file instead of
    crashing the staging step; flags still follow the exact
    only-prior-shards semantics the gate's oracle computes."""
    sf = _write_table(spark, tmp_path, "documents", _SBLOOM_EMPTY_SHARD_DOCS, _DOC_SCHEMA)
    got = {(r[0], r[1]): r[2] for r in _spark_rows(spark, sf, "streaming_bloom_paragraph_dedup")}
    assert got == {
        (0, 0): False,
        (0, 1): False,
        (1, 0): False,
        (2, 0): True,
        (2, 1): False,
        (3, 0): False,
        (4, 0): True,
        (4, 1): True,
        (4, 2): False,
    }
    want = _oracle_rows(sf, "streaming_bloom_dedup_gate", "documents")
    assert want == [(9, 3, 0, True)]
    assert _spark_rows(spark, sf, "streaming_bloom_dedup_gate") == want


def test_streaming_bloom_gate_green_on_fixture(spark):
    rows = _spark_rows(spark, "/root/testdata/sf0.001", "streaming_bloom_dedup_gate")
    assert rows[0][2] == 0 and rows[0][3] is True


# ---------------------------------------------------------------------------
# Domain quality cut
# ---------------------------------------------------------------------------


def test_domain_cut_matches_oracle_planted(spark, tmp_path):
    rows = [
        (0, "alpha beta gamma delta", "en", "s1", 1),
        (1, "epsilon zeta eta theta iota", "en", "s1", 1),
        (2, "kappa lambda mu", "en", "s1", 1),
        (3, "nu xi omicron pi rho sigma", "en", "s2", 1),
        (4, "tau upsilon phi", "en", "s2", 1),
        (5, "", "en", "s2", 1),  # token-less: NULL score, kept false
        (6, None, "en", None, 1),  # null text + null source
    ]
    sf = _write_table(spark, tmp_path, "documents", rows, _DOC_SCHEMA)
    got = _spark_rows(spark, sf, "docs_quality_domain_cut")
    assert got == _oracle_rows(sf, "docs_quality_domain_cut", "documents")
    by_id = {r[0]: r for r in got}
    assert by_id[5][4] is False and by_id[5][2] is None
    assert by_id[6][1] == ""  # null source normalized


def test_domain_cut_median_keep_counts(spark):
    """Per source: kept docs are exactly those at/above the per-source
    median score, so kept count >= ceil(n_scored/2) and the minimum
    kept score equals the reported cut."""
    got = _spark_rows(spark, "/root/testdata/sf0.001", "docs_quality_domain_cut")
    from collections import defaultdict

    per = defaultdict(list)
    for doc_id, source, score, cut, kept in got:
        per[source].append((score, cut, kept))
    for source, rows in per.items():
        scored = [r for r in rows if r[0] is not None]
        if not scored:
            continue
        cut = scored[0][1]
        assert all(r[1] == cut for r in scored)
        kept = [r for r in scored if r[2]]
        assert all(r[0] >= cut for r in kept)
        assert all(r[0] < cut for r in scored if not r[2])
        assert len(kept) >= math.ceil(len(scored) / 2)
        assert min(r[0] for r in kept) == cut
