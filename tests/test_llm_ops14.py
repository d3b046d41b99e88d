"""llm_ops14: composed prep funnel (exact + Bloom tiers) and the
cross-shard Bloom merge."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from etl_from_s3_to_postgresql_template_spark.operators import bloom
from etl_from_s3_to_postgresql_template_spark.plans import ORACLE, QUERIES


def _write_docs(spark, tmp_path, rows):
    sf = str(tmp_path)
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{sf}/documents.parquet")
    return sf


def _oracle_docs(sf, name):
    import os

    p = f"{sf}/documents.parquet"
    pat = f"{p}/*.parquet" if os.path.isdir(p) else p  # dir (test) vs file (fixture)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{pat}')")
    return [tuple(r) for r in con.execute(ORACLE[name]).fetchall()]


def _spark_rows(spark, sf, name):
    return [tuple(r) for r in QUERIES[name](spark, sf).collect()]


# Planted corpus: even doc_ids = reference shard (dedup set + LM corpus),
# odd = processing shard. Dups, multiple langs, an unscoreable lang, an
# empty doc, an all-dup doc, and a too-short doc exercise every gate.
_REF_EN_A = "the quick brown fox jumps over the lazy dog again and again "
_REF_EN_B = "a stitch in time saves nine they say and nine saves time "
_REF_DE = "der schnelle braune fuchs springt gern ueber den faulen hund "


def _funnel_rows():
    ref_en = " ".join(_REF_EN_A.split() * 3)
    ref_en2 = " ".join(_REF_EN_B.split() * 3)
    ref_de = " ".join(_REF_DE.split() * 3)
    return [
        # reference shard (even): two en docs, one de doc
        (0, f"{ref_en}\nshared paragraph one\nshared paragraph two", "en", "web", 1),
        (2, f"{ref_en2}\nshared paragraph three", "en", "web", 1),
        (4, ref_de, "de", "web", 1),
        # processing shard (odd):
        # 1: survives dedup, en, long enough -> scored
        (1, f"fresh {_REF_EN_A}\nshared paragraph one", "en", "web", 1),
        # 3: all paragraphs are dups -> cleaned empty -> quality fails
        (3, "shared paragraph one\nshared paragraph two", "en", "web", 1),
        # 5: de doc, survives -> scored against the de LM
        (5, f"neue woerter {_REF_DE}", "de", "web", 1),
        # 7: language with no LM (fr) -> never scored, kept false
        (7, "ceci est un document francais assez long pour le gate", "fr", "web", 1),
        # 9: too short after dedup -> quality fails
        (9, "tiny\nshared paragraph three", "en", "web", 1),
        # 11: empty text
        (11, "", "en", "web", 1),
        # 13: blank lines preserved verbatim around a dup removal
        (13, f"shared paragraph two\n\nkeep this line {_REF_EN_B}", "en", "web", 1),
    ]


def test_funnel4_matches_oracle_planted(spark, tmp_path):
    sf = _write_docs(spark, tmp_path, _funnel_rows())
    got = _spark_rows(spark, sf, "corpus_prep_funnel4")
    want = _oracle_docs(sf, "corpus_prep_funnel4")
    assert got == want


def test_funnel4_stage_semantics(spark, tmp_path):
    sf = _write_docs(spark, tmp_path, _funnel_rows())
    out = {r.doc_id: r for r in QUERIES["corpus_prep_funnel4"](spark, sf).collect()}
    # every processing-shard doc gets exactly one decision row
    assert sorted(out) == [1, 3, 5, 7, 9, 11, 13]
    # doc 3: all paragraphs removed -> zero tokens -> quality fails
    assert out[3].n_removed == out[3].n_paragraphs == 2
    assert out[3].n_tok == 0 and not out[3].quality_ok and not out[3].kept
    # doc 7: unscoreable lang -> no bucket, never kept
    assert out[7].bucket is None and out[7].lp is None and not out[7].kept
    # doc 11: empty text -> no paragraphs, quality fails
    assert out[11].n_paragraphs == 0 and not out[11].kept
    # doc 1: dedup removed exactly the shared paragraph
    assert out[1].n_removed == 1 and out[1].quality_ok
    # kept implies quality and a head/middle bucket
    for r in out.values():
        if r.kept:
            assert r.quality_ok and r.bucket in ("head", "middle")


def test_funnel4_bloom_agrees_with_exact_planted(spark, tmp_path):
    """At planted load the Bloom fpp is ~1e-10: the production tier must
    reproduce the exact tier's rows verbatim."""
    sf = _write_docs(spark, tmp_path, _funnel_rows())
    exact = _spark_rows(spark, sf, "corpus_prep_funnel4")
    bloom = _spark_rows(spark, sf, "corpus_prep_funnel4_bloom")
    assert exact == bloom


def test_funnel4_agreement_gate_matches_oracle(spark, tmp_path):
    sf = _write_docs(spark, tmp_path, _funnel_rows())
    got = _spark_rows(spark, sf, "corpus_prep_funnel4_agreement_gate")
    want = _oracle_docs(sf, "corpus_prep_funnel4_agreement_gate")
    assert got == want
    assert got[0] == (7, True)


def test_funnel4_agreement_gate_empty_shard(spark, tmp_path):
    """No processing-shard docs: gate returns the oracle's vacuous
    constants on both engines."""
    rows = [(0, "only reference content here", "en", "web", 1)]
    sf = _write_docs(spark, tmp_path, rows)
    got = _spark_rows(spark, sf, "corpus_prep_funnel4_agreement_gate")
    want = _oracle_docs(sf, "corpus_prep_funnel4_agreement_gate")
    assert got == want == [(0, True)]


def test_funnel4_on_fixture_matches_oracle(spark):
    sf = "/root/testdata/sf0.001"
    got = _spark_rows(spark, sf, "corpus_prep_funnel4")
    want = _oracle_docs(sf, "corpus_prep_funnel4")
    assert got == want


# ---------------------------------------------------------------------------
# cross-shard Bloom merge
# ---------------------------------------------------------------------------


def _merge_rows():
    # shard A = doc_id % 3 == 0, shard B = % 3 == 1, probe = % 3 == 2
    return [
        (0, "alpha from shard a\nbeta from shard a", "en", "web", 1),
        (3, "gamma from shard a", "en", "web", 1),
        (1, "delta from shard b\nepsilon from shard b", "en", "web", 1),
        (4, "zeta from shard b", "en", "web", 1),
        # probe: dups from A, dups from B, and fresh paragraphs
        (2, "alpha from shard a\ndelta from shard b\nfresh one", "en", "web", 1),
        (5, "zeta from shard b\ngamma from shard a\nfresh two\nfresh three", "en", "web", 1),
        (8, "entirely new paragraph here", "en", "web", 1),
    ]


def test_merge_shards_no_false_negatives_from_either_shard(spark, tmp_path):
    """The merged filter must flag duplicates of BOTH source shards —
    the cross-shard deployment guarantee."""
    sf = _write_docs(spark, tmp_path, _merge_rows())
    out = {r.doc_id: r for r in QUERIES["docs_bloom_merge_shards"](spark, sf).collect()}
    assert out[2].n_paragraphs == 3 and out[2].n_flagged_dup == 2  # A-dup + B-dup
    assert out[5].n_paragraphs == 4 and out[5].n_flagged_dup == 2  # B-dup + A-dup
    assert out[8].n_flagged_dup == 0  # fpp ~1e-10 at this load


def test_merge_shards_gate_matches_oracle(spark, tmp_path):
    sf = _write_docs(spark, tmp_path, _merge_rows())
    got = _spark_rows(spark, sf, "docs_bloom_merge_shards_gate")
    want = _oracle_docs(sf, "docs_bloom_merge_shards_gate")
    assert got == want
    n_probe, n_true, n_missed, fp_ok = got[0]
    assert (n_probe, n_true, n_missed, fp_ok) == (8, 4, 0, True)


def test_merge_equals_jointly_built_filter(spark, tmp_path):
    """OR-merging per-shard words tables is BITWISE identical to
    building one filter over the union — the associativity the
    deployment shape rests on, pinned at the DataFrame level."""
    sf = _write_docs(spark, tmp_path, _merge_rows())
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    pars = bloom.paragraphs(docs)
    a = pars.where(F.col("doc_id") % 3 == 0)
    b = pars.where(F.col("doc_id") % 3 == 1)
    both = pars.where(F.col("doc_id") % 3 != 2)
    bits = bloom.bits_for(both.count())
    merged = {
        (r.wi, r.w)
        for r in bloom.merge_words(bloom.words(a, bits), bloom.words(b, bits)).collect()
    }
    joint = {(r.wi, r.w) for r in bloom.words(both, bits).collect()}
    assert merged == joint


def test_merge_gate_on_fixture_matches_oracle(spark):
    sf = "/root/testdata/sf0.001"
    got = _spark_rows(spark, sf, "docs_bloom_merge_shards_gate")
    want = _oracle_docs(sf, "docs_bloom_merge_shards_gate")
    assert got == want
    assert got[0][2] == 0  # n_missed: structural


def test_merged_probe_plan_is_broadcast_only(spark, tmp_path):
    """Probing the MERGED filter keeps the single-shard guarantee: no
    shuffle of the probe stream before its per-doc aggregate — every
    probe join is a BroadcastHashJoin, and the merge itself never
    touches corpus-scale data (words tables only)."""
    rows = [(i, f"line {i}\nline {i+1}", "en", "web", 1) for i in range(21)]
    sf = _write_docs(spark, tmp_path, rows)
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    pars = bloom.paragraphs(docs)
    bits = bloom.bits_for(pars.where(F.col("doc_id") % 3 != 2).count())
    merged = bloom.merge_words(
        bloom.words(pars.where(F.col("doc_id") % 3 == 0), bits),
        bloom.words(pars.where(F.col("doc_id") % 3 == 1), bits),
    )
    probe = bloom.flag_probe(pars.where(F.col("doc_id") % 3 == 2), merged, bits)
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") == bloom.K
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
