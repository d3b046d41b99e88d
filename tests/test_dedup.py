"""Near-dup operator quality: planted duplicates must be found."""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from etl_from_s3_to_postgresql_template_spark.operators.dedup import (
    dedup_exact_by_hash,
    minhash_candidates,
    ngram_jaccard_pairs,
    shingle_overlap,
    shingle_sets,
    simhash_candidates,
)

BASE = (
    "the quick brown fox jumps over the lazy dog and then runs far away "
    "into the deep green forest to find some food for the long cold winter"
)
NEAR = BASE.replace("cold", "harsh")  # one-token edit: high Jaccard
OTHER = (
    "completely different document about spark sql query optimization with "
    "catalyst rules partition pruning and adaptive execution at large scale"
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        Row(doc_id=1, text=BASE),
        Row(doc_id=2, text=BASE),        # exact dup of 1
        Row(doc_id=3, text=NEAR),        # near dup of 1
        Row(doc_id=4, text=OTHER),
        Row(doc_id=5, text="  " + BASE + " "),  # whitespace-only variant
    ]
    return spark.createDataFrame(rows)


def test_exact_dedup_normalized(spark, docs):
    out = dedup_exact_by_hash(docs).collect()
    groups = {r["doc_id"]: r["dup_count"] for r in out}
    # 1,2,5 collapse (normalization strips the whitespace variant)
    assert groups[1] == 3
    assert groups[3] == 1 and groups[4] == 1
    assert len(out) == 3


def test_minhash_finds_planted_pairs(spark, docs):
    pairs = {(r["id_a"], r["id_b"]): r["est_jaccard"] for r in minhash_candidates(docs).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0  # identical text
    assert (1, 3) in pairs and pairs[(1, 3)] >= 0.5  # near dup
    assert not any(4 in p for p in pairs)  # unrelated doc never pairs


def test_ngram_jaccard_exact_values(spark, docs):
    cands = spark.createDataFrame([Row(id_a=1, id_b=2), Row(id_a=1, id_b=3), Row(id_a=1, id_b=4)])
    out = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
           ngram_jaccard_pairs(docs, cands, threshold=0.0).collect()}
    assert out[(1, 2)] == 1.0

    # ground truth for (1,3) computed in python
    def sh(t):
        toks = t.split()
        return {" ".join(toks[i:i+3]) for i in range(len(toks)-2)}
    a, b = sh(BASE), sh(NEAR)
    want = round(len(a & b) / len(a | b), 4)
    assert abs(out[(1, 3)] - want) < 1e-9
    assert out[(1, 4)] == 0.0


def _ref_shingles(text):
    """Pure-Python token-3-gram set: NULL text is '', fewer than 3
    tokens shingle as the whole (token-joined) document."""
    toks = [t for t in (text or "").split() if t]
    if len(toks) < 3:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}


def test_shingle_overlap_matches_python_reference(spark):
    """The shared overlap stage against a pure-Python Jaccard /
    containment reference over every source-blocked pair: NULL and
    empty text, fewer than 3 tokens, repeated shingles, and identical
    documents in different sources (which must never pair)."""
    rows = [
        (1, BASE, "web"),
        (2, BASE, "books"),                          # = 1, other source
        (3, NEAR, "web"),
        (4, None, "web"),                            # NULL text
        (5, "", "web"),                              # empty text
        (6, "   ", "books"),                         # whitespace only
        (7, "two words", "web"),                     # < 3 tokens
        (8, "a b a b a b a b", "web"),               # repeated shingles
        (9, "a b a b", "web"),
        (10, "two  words\t", "books"),
        (11, "two words", "books"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    pairs, inter, na, nb = shingle_overlap(shingle_sets(docs, "source"))
    got = {
        (r.id_a, r.id_b): (r.inter, r.na, r.nb)
        for r in pairs.select(
            "id_a", "id_b", inter.alias("inter"), na.alias("na"), nb.alias("nb")
        ).collect()
    }
    ref = {d: (_ref_shingles(t), src) for d, t, src in rows}
    want = {}
    for a, (sa, src_a) in ref.items():
        for b, (sb, src_b) in ref.items():
            if a < b and src_a == src_b:
                want[(a, b)] = (len(sa & sb), len(sa), len(sb))
    assert got == want
    assert (1, 2) not in got  # identical text, different source
    assert got[(4, 5)] == (1, 1, 1)  # NULL and empty both shingle as ['']
    assert got[(8, 9)] == (2, 2, 2)  # {'a b a', 'b a b'} on both sides
    assert got[(10, 11)] == (1, 1, 1)  # '  ' and tabs collapse
    jaccard = {k: i / (x + y - i) for k, (i, x, y) in got.items()}
    sa, sb = _ref_shingles(BASE), _ref_shingles(NEAR)
    assert jaccard[(1, 3)] == len(sa & sb) / len(sa | sb)
    containment = {k: i / min(x, y) for k, (i, x, y) in got.items()}
    assert containment[(7, 8)] == 0.0 and containment[(8, 9)] == 1.0


def test_simhash_near_dups(spark, docs):
    # A 1-token edit in a 26-token doc flips ~8 bits (hamming scales with
    # 1/doc-length); radius 10 is the right calibration for docs this short,
    # while the default 3 targets long documents.
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in simhash_candidates(docs, max_hamming=10).collect()}
    assert pairs.get((1, 2)) == 0  # identical
    assert (1, 3) in pairs and 0 < pairs[(1, 3)] <= 10  # near dup
    assert not any(4 in p for p in pairs)


def test_connected_components_transitive_chain(spark):
    """A-B and B-C edges must place A and C in one cluster even though
    A and C share no edge; the singleton D keeps its own label."""
    from etl_from_s3_to_postgresql_template_spark.operators.dedup import (
        connected_components,
    )

    nodes = spark.createDataFrame([(i,) for i in [1, 2, 3, 4]], "doc_id long")
    pairs = spark.createDataFrame([(2, 3), (1, 2)], "id_a long, id_b long")
    got = {r["id"]: r["comp"] for r in connected_components(nodes, pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 4}


def test_connected_components_long_chain_label_raises_star_converges(spark):
    """A 60-node path graph has diameter 59: min-label propagation cannot
    finish inside max_iterations=20 and must RAISE (unconverged labels are
    wrong answers, not approximations), while Large-Star/Small-Star
    alternation converges in O(log^2 n) rounds and labels the whole chain
    with its minimum."""
    import pytest as _pytest

    from etl_from_s3_to_postgresql_template_spark.operators.dedup import (
        ComponentsNotConverged,
        connected_components,
    )

    n = 60
    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    # Path 0-1-2-...-59, shuffled edge order; plus singleton 1000.
    chain = [(i, i + 1) for i in range(n - 1)]
    chain = chain[1::2] + chain[0::2]
    nodes = nodes.unionByName(spark.createDataFrame([(1000,)], "doc_id long"))
    pairs = spark.createDataFrame(chain, "id_a long, id_b long")

    with _pytest.raises(ComponentsNotConverged):
        connected_components(nodes, pairs, max_iterations=20)

    got = {
        r["id"]: r["comp"]
        for r in connected_components(nodes, pairs, max_iterations=20, algorithm="star").collect()
    }
    assert got == {**{i: 0 for i in range(n)}, 1000: 1000}


def test_connected_components_star_matches_label_on_cliques(spark):
    """Both algorithms must agree on the near-dup-shaped graph (two small
    cliques + a bridge + singletons)."""
    from etl_from_s3_to_postgresql_template_spark.operators.dedup import (
        connected_components,
    )

    nodes = spark.createDataFrame([(i,) for i in range(10)], "doc_id long")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (5, 6), (6, 7), (3, 5), (8, 9)],
        "id_a long, id_b long",
    )
    lab = {r["id"]: r["comp"] for r in connected_components(nodes, pairs).collect()}
    star = {
        r["id"]: r["comp"]
        for r in connected_components(nodes, pairs, algorithm="star").collect()
    }
    assert lab == star
    assert lab[7] == 1 and lab[9] == 8 and lab[0] == 0


def test_connected_components_no_edges(spark):
    from etl_from_s3_to_postgresql_template_spark.operators.dedup import (
        connected_components,
    )

    nodes = spark.createDataFrame([(i,) for i in [7, 9]], "doc_id long")
    pairs = spark.createDataFrame([], "id_a long, id_b long")
    got = {r["id"]: r["comp"] for r in connected_components(nodes, pairs).collect()}
    assert got == {7: 7, 9: 9}
