"""llm_ops13: CCNet external-LM tier, Bloom paragraph dedup, X1k range."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from etl_from_s3_to_postgresql_template_spark.operators import bloom, ccnet
from etl_from_s3_to_postgresql_template_spark.plans import ORACLE, QUERIES


def _write_docs(spark, tmp_path, rows):
    sf = str(tmp_path)
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{sf}/documents.parquet")
    return sf


def _oracle_docs(sf, name):
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf}/documents.parquet/*.parquet')"
    )
    return [tuple(r) for r in con.execute(ORACLE[name]).fetchall()]


# ---------------------------------------------------------------------------
# Bloom paragraph dedup
# ---------------------------------------------------------------------------


def test_bloom_no_false_negatives_planted(spark, tmp_path):
    """Every probe paragraph textually present in the reference half MUST
    be flagged — a Bloom filter cannot miss."""
    ref_lines = [f"common paragraph {i}" for i in range(50)]
    rows = [(0, "\n".join(ref_lines[:25]), "en", "web", 1),
            (2, "\n".join(ref_lines[25:]), "en", "web", 1),
            # probe doc 1: all duplicates of reference paragraphs
            (1, "\n".join(ref_lines[::5]), "en", "web", 1),
            # probe doc 3: all fresh paragraphs
            (3, "\n".join(f"unique paragraph {i}" for i in range(10)), "en", "web", 1)]
    sf = _write_docs(spark, tmp_path, rows)
    out = {r.doc_id: r for r in QUERIES["docs_bloom_paragraph_dedup"](spark, sf).collect()}
    assert out[1].n_paragraphs == 10
    assert out[1].n_flagged_dup == 10  # no false negatives, structural
    assert out[3].n_paragraphs == 10
    # fpp at this load is ~1e-10: no false positives expected
    assert out[3].n_flagged_dup == 0


def test_bloom_clean_removes_flagged_paragraphs(spark, tmp_path):
    """Flagged paragraphs disappear from the text, everything else —
    including blank lines, which are never probed — passes through
    verbatim; counts agree with the summary tier."""
    rows = [(0, "dup one\ndup two", "en", "web", 1),
            (2, "dup three", "en", "web", 1),
            (1, "dup one\nkeep a\n\ndup three\nkeep b", "en", "web", 1),
            (3, "all fresh here", "en", "web", 1)]
    sf = _write_docs(spark, tmp_path, rows)
    out = {r.doc_id: r for r in QUERIES["docs_bloom_paragraph_clean"](spark, sf).collect()}
    assert out[1].n_paragraphs == 4 and out[1].n_removed == 2
    assert out[1].cleaned_text == "keep a\n\nkeep b"
    assert out[3].n_removed == 0 and out[3].cleaned_text == "all fresh here"
    summary = {r.doc_id: r for r in QUERIES["docs_bloom_paragraph_dedup"](spark, sf).collect()}
    for d in (1, 3):
        assert summary[d].n_paragraphs == out[d].n_paragraphs
        assert summary[d].n_flagged_dup == out[d].n_removed


def test_bloom_gate_matches_oracle_planted(spark, tmp_path):
    rows = [(0, "alpha\nbeta\ngamma", "en", "web", 1),
            (1, "beta\nalpha\nfresh one\nfresh two", "en", "web", 1),
            (2, "delta", "en", "web", 1),
            (3, "delta\nanother fresh", "en", "web", 1)]
    sf = _write_docs(spark, tmp_path, rows)
    got = [tuple(r) for r in QUERIES["docs_bloom_paragraph_dedup_gate"](spark, sf).collect()]
    want = _oracle_docs(sf, "docs_bloom_paragraph_dedup_gate")
    assert got == want
    (n_probe, n_true, n_missed, fp_ok) = got[0]
    assert (n_probe, n_true, n_missed, fp_ok) == (6, 3, 0, True)


def test_bloom_bits_sizing():
    assert bloom.bits_for(0) == bloom.MIN_BITS
    assert bloom.bits_for(100) == bloom.MIN_BITS  # floor
    n = 2_000_000
    bits = bloom.bits_for(n)
    assert bits >= 16 * n and bits & (bits - 1) == 0  # pow2, >= 16 bits/item
    assert bloom.bits_for(10**9) == bloom.MAX_BITS  # ceiling


def test_bloom_words_table_bounded_and_mergeable(spark):
    """The packed words table never exceeds m/64 rows (broadcastable by
    construction) and OR-merging two shard filters equals the filter of
    the union — the cross-shard merge shape."""
    a = spark.createDataFrame([(i, 0, f"p{i}") for i in range(200)], "doc_id long, pos int, par string")
    b = spark.createDataFrame([(i, 0, f"q{i}") for i in range(200)], "doc_id long, pos int, par string")
    wa, wb = bloom.words(a), bloom.words(b)
    assert wa.count() <= (1 << 20) // 64
    merged = (
        wa.unionByName(wb)
        .groupBy("wi")
        .agg(F.expr("bit_or(w)").alias("w"))
    )
    direct = bloom.words(a.unionByName(b))
    assert merged.exceptAll(direct).count() == 0
    assert direct.exceptAll(merged).count() == 0


def test_bloom_probe_plan_is_broadcast_only(spark, tmp_path):
    """The probe path must contain no shuffle of the probe stream before
    its per-doc aggregate: every join is a BroadcastHashJoin. The k
    joins share one broadcast of the unpinned words table: the executed
    plan has one BroadcastExchange over it and k-1 ReusedExchange."""
    rows = [(i, f"line {i}\nline {i+1}", "en", "web", 1) for i in range(20)]
    sf = _write_docs(spark, tmp_path, rows)
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    pars = bloom.paragraphs(docs)
    words = bloom.words(pars.where(F.col("doc_id") % 2 == 0))
    probe = bloom.flag_probe(pars.where(F.col("doc_id") % 2 == 1), words)
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") == bloom.K
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    probe.collect()  # the final adaptive plan exists only after execution
    final = probe._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
    nodes = [line.lstrip(" :+-").split(" ")[0] for line in final.splitlines()]
    assert nodes.count("BroadcastExchange") == 1
    assert nodes.count("ReusedExchange") == bloom.K - 1


# ---------------------------------------------------------------------------
# CCNet external-LM tier
# ---------------------------------------------------------------------------


def test_ccnet_external_planted_oracle_parity(spark, tmp_path):
    rows = (
        # LM corpus (doc_id % 10 == 0): clean repeated English
        [(0, "the cat sat on the mat", "en", "web", 1),
         (10, "the cat ran on the mat", "en", "web", 1),
         (20, "the dog sat on the rug", "en", "web", 1)]
        # scored stream: one in-distribution, one gibberish, one short (excluded)
        + [(1, "the cat sat on the rug", "en", "web", 1),
           (2, "zxq qqv jjk wop vvz nnm", "en", "web", 1),
           (3, "single", "en", "web", 1),
           (4, None, "en", "web", 0)]
    )
    sf = _write_docs(spark, tmp_path, rows)
    got = [tuple(r) for r in QUERIES["docs_ccnet_ppl_score_external"](spark, sf).collect()]
    want = _oracle_docs(sf, "docs_ccnet_ppl_score_external")
    assert got == want
    by_id = {r[0]: r for r in got}
    assert set(by_id) == {1, 2}  # <2 tokens and NULL text excluded; LM slice not scored
    # in-distribution text scores higher (less negative lp) than gibberish
    assert by_id[1][2] > by_id[2][2]


def test_ccnet_external_lm_slice_never_scored(spark, tmp_path):
    rows = [(i, "alpha beta gamma delta", "en", "web", 1) for i in range(30)]
    sf = _write_docs(spark, tmp_path, rows)
    out = QUERIES["docs_ccnet_ppl_score_external"](spark, sf)
    ids = [r.doc_id for r in out.collect()]
    assert all(i % 10 != 0 for i in ids)
    assert len(ids) == 27


def test_ccnet_external_empty_lm_slice_parity(spark, tmp_path):
    """No scoreable doc in the LM slice: the pooled tier degrades to
    NULL lp -> 'tail' IDENTICALLY on both engines (1/0 -> NULL Spark,
    inf -> NULL-through-round DuckDB path verified r11 review); the
    per-lang tier drops everything (no language has an LM)."""
    rows = [(0, "single", "en", "web", 1),
            (1, "the cat sat", "en", "web", 1),
            (2, "the dog ran", "en", "web", 1)]
    sf = _write_docs(spark, tmp_path, rows)
    for name in ("docs_ccnet_ppl_score_external",
                 "docs_ccnet_ppl_score_external_perlang"):
        got = [tuple(r) for r in QUERIES[name](spark, sf).collect()]
        assert got == _oracle_docs(sf, name)
    assert [r[0] for r in QUERIES["docs_ccnet_ppl_score_external_perlang"](spark, sf).collect()] == []


def test_ccnet_external_plan_broadcasts_lm(spark, tmp_path):
    """The LM tables must reach the scored stream as broadcast joins —
    the zero-LM-shuffle production claim."""
    rows = [(i, f"w{i} w{i+1} w{i+2} common tail", "en", "web", 1) for i in range(40)]
    sf = _write_docs(spark, tmp_path, rows)
    df = QUERIES["docs_ccnet_ppl_score_external"](spark, sf)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") >= 2  # lm12 + lm1 onto the stream


def test_ccnet_perlang_unmodeled_language_not_scored(spark, tmp_path):
    """A stream doc whose language has NO LM in the held-out slice is
    dropped (CCNet does not score a language it has no model for);
    modeled languages score against their OWN LM only."""
    rows = [
        (0, "the cat sat on the mat", "en", "web", 1),   # en LM
        (10, "the dog sat on the mat", "en", "web", 1),  # en LM
        (1, "the cat sat on the rug", "en", "web", 1),   # scored vs en
        (2, "der hund sitzt auf der matte", "de", "web", 1),  # no de LM
    ]
    sf = _write_docs(spark, tmp_path, rows)
    got = [tuple(r) for r in QUERIES["docs_ccnet_ppl_score_external_perlang"](spark, sf).collect()]
    want = _oracle_docs(sf, "docs_ccnet_ppl_score_external_perlang")
    assert got == want
    assert [r[0] for r in got] == [1]  # de doc dropped, LM docs not scored


def test_ccnet_perlang_lms_are_isolated(spark, tmp_path):
    """Identical text in two languages must get identical lp only if both
    language LMs are identical — a doc never scores against another
    language's counts. Planted: en LM is dense for the probe text, fr LM
    is disjoint from it, so the fr probe's lp must be lower (all-unseen
    backoff) than the en probe's."""
    rows = [
        (0, "alpha beta gamma delta", "en", "web", 1),
        (20, "omega psi chi phi", "fr", "web", 1),
        (1, "alpha beta gamma delta", "en", "web", 1),  # seen bigrams in en
        (3, "alpha beta gamma delta", "fr", "web", 1),  # unseen in fr LM
    ]
    sf = _write_docs(spark, tmp_path, rows)
    out = {r.doc_id: r.lp for r in QUERIES["docs_ccnet_ppl_score_external_perlang"](spark, sf).collect()}
    assert set(out) == {1, 3}
    assert out[1] > out[3]


def test_ccnet_sample_headmiddle_semantics(spark, tmp_path):
    """All head docs kept, no tail doc kept, middle kept iff the md5 coin
    hits — and the whole frame matches the oracle hash-exactly."""
    # graded LM overlap: doc i carries i gibberish bigrams appended to a
    # fully-modeled prefix, so lp strictly decreases with i and every
    # tercile is populated
    base = "the cat sat on the mat"
    rows = [(0, base + " and then the cat slept", "en", "web", 1),
            (10, "the dog sat on the mat and the dog slept", "en", "web", 1)]
    rows += [
        (i, base + " " + " ".join(f"zz{i}x{j}" for j in range(i)), "en", "web", 1)
        for i in range(1, 10)
    ] + [
        (i, base + " " + " ".join(f"qq{i}x{j}" for j in range(i)), "en", "web", 1)
        for i in range(11, 20)
    ]
    sf = _write_docs(spark, tmp_path, rows)
    got = [tuple(r) for r in QUERIES["docs_ccnet_sample_headmiddle"](spark, sf).collect()]
    want = _oracle_docs(sf, "docs_ccnet_sample_headmiddle")
    assert got == want
    for doc_id, lang, lp, bucket, kept in got:
        if bucket == "head":
            assert kept
        elif bucket == "tail":
            assert not kept
    assert any(b == "head" for _, _, _, b, _ in got)
    assert any(b == "tail" for _, _, _, b, _ in got)


def test_bloom_gate_empty_probe_matches_oracle(spark, tmp_path):
    """No odd-doc_id paragraphs: both engines must return the vacuous
    constants (0 dups, 0 missed, fp trivially ok), not NULLs (review r11)."""
    rows = [(0, "alpha\nbeta", "en", "web", 1), (2, "gamma", "en", "web", 1)]
    sf = _write_docs(spark, tmp_path, rows)
    got = [tuple(r) for r in QUERIES["docs_bloom_paragraph_dedup_gate"](spark, sf).collect()]
    want = _oracle_docs(sf, "docs_bloom_paragraph_dedup_gate")
    assert got == want
    assert got[0] == (0, 0, 0, True)


def test_ccnet_agreement_gate_empty_scoreable_matches_oracle(spark, tmp_path):
    """No doc has >= 2 tokens: agree_ok is vacuously TRUE on both engines."""
    rows = [(0, "single", "en", "web", 1), (1, None, "en", "web", 0)]
    sf = _write_docs(spark, tmp_path, rows)
    got = [tuple(r) for r in QUERIES["docs_ccnet_ppl_agreement_gate"](spark, sf).collect()]
    want = _oracle_docs(sf, "docs_ccnet_ppl_agreement_gate")
    assert got == want
    assert got[0] == (0, True)


# ---------------------------------------------------------------------------
# CCNet fast (xxhash64) tier + agreement gate
# ---------------------------------------------------------------------------


def test_ccnet_fast_tier_identical_on_collision_free_corpus(spark, tmp_path):
    """With a small planted vocabulary neither bucketing collides, so the
    xxhash64 tier must reproduce the md5 tier row for row (lp included)."""
    rows = [(i, f"tok{i % 7} tok{(i + 1) % 7} tok{(i + 2) % 7} common", "en", "web", 1)
            for i in range(40)]
    sf = _write_docs(spark, tmp_path, rows)
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    fast = sorted(tuple(r) for r in ccnet.self_lm_buckets(docs, ccnet.bucket_fast).collect())
    md5t = sorted(tuple(r) for r in ccnet.self_lm_buckets(docs, ccnet.bucket_md5).collect())
    assert fast == md5t


def test_ccnet_agreement_gate_matches_oracle(spark, tmp_path):
    rows = [(i, f"w{i % 11} w{(i + 3) % 11} w{(i + 5) % 11}", "en", "web", 1)
            for i in range(30)] + [(30, "single", "en", "web", 1)]
    sf = _write_docs(spark, tmp_path, rows)
    got = [tuple(r) for r in QUERIES["docs_ccnet_ppl_agreement_gate"](spark, sf).collect()]
    want = _oracle_docs(sf, "docs_ccnet_ppl_agreement_gate")
    assert got == want
    assert got[0] == (30, True)  # the 1-token doc is not scoreable


# ---------------------------------------------------------------------------
# seeded-random semantic pins
# ---------------------------------------------------------------------------


def test_bloom_flags_equal_exact_membership_random_corpus(spark, tmp_path):
    """Seeded-random multi-line corpus: at fixture load (~200 items in
    2^20 bits) the probability of ANY false positive is ~1e-22, so the
    Bloom flags must equal exact reference-set membership paragraph for
    paragraph — and the run is deterministic, so this never flakes."""
    import random

    rng = random.Random(13)
    vocab = [f"w{i}" for i in range(40)]
    mk = lambda n: " ".join(rng.choice(vocab) for _ in range(n))
    pool = [mk(rng.randrange(3, 8)) for _ in range(60)]
    rows = []
    for d in range(40):
        lines = [rng.choice(pool) if rng.random() < 0.5 else mk(rng.randrange(3, 8))
                 for _ in range(rng.randrange(1, 6))]
        rows.append((d, "\n".join(lines), "en", "web", 1))
    sf = _write_docs(spark, tmp_path, rows)

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    pars = bloom.paragraphs(docs)
    ref = pars.where(F.col("doc_id") % 2 == 0)
    bits = bloom.bits_for(ref.count())
    flagged = bloom.flag_probe(pars.where(F.col("doc_id") % 2 == 1), bloom.words(ref, bits), bits)
    ref_set = {r.par for r in ref.collect()}
    for r in flagged.collect():
        assert r.dup == (r.par in ref_set), (r.doc_id, r.par)


def test_ccnet_tercile_threshold_invariants_random_corpus(spark, tmp_path):
    """Seeded-random corpus: per language, the cumulative-threshold cut
    semantics guarantee |head| >= (n+2)//3 and |head|+|middle| >=
    (2n+2)//3 (ties can only inflate the upper buckets, never starve
    them) and every scored doc gets exactly one bucket."""
    import random
    from collections import defaultdict

    rng = random.Random(17)
    vocab = [f"t{i}" for i in range(30)]
    rows = [
        (d, " ".join(rng.choice(vocab) for _ in range(rng.randrange(2, 12))),
         rng.choice(["en", "de"]), "web", 1)
        for d in range(60)
    ]
    sf = _write_docs(spark, tmp_path, rows)
    out = QUERIES["docs_ccnet_ppl_buckets_fast"](spark, sf).collect()
    per_lang = defaultdict(list)
    for r in out:
        per_lang[r.lang].append(r.bucket)
    assert sum(len(v) for v in per_lang.values()) == len(out)
    for lang, buckets in per_lang.items():
        n = len(buckets)
        head = buckets.count("head")
        middle = buckets.count("middle")
        assert head >= (n + 2) // 3, (lang, n, head)
        assert head + middle >= (2 * n + 2) // 3, (lang, n, head, middle)


# ---------------------------------------------------------------------------
# X1k date range
# ---------------------------------------------------------------------------


def test_date_range_struct_extraction_unit(spark):
    from etl_from_s3_to_postgresql_template_spark.functions.dates import (
        extract_date_range_col,
    )

    df = spark.createDataFrame(
        [("report_2024-01-05_to_2024-02-10.csv",),
         ("sales_2024-01-05.csv",),
         ("report_2024-13-05_to_2024-02-10.csv",)],  # invalid month -> NULL (ANSI off)
        "filename string",
    )
    rng = extract_date_range_col("filename")
    rows = df.select(
        F.date_format(rng["start_date"], "yyyy-MM-dd").alias("s"),
        F.date_format(rng["end_date"], "yyyy-MM-dd").alias("e"),
    ).collect()
    assert (rows[0].s, rows[0].e) == ("2024-01-05", "2024-02-10")
    assert (rows[1].s, rows[1].e) == (None, None)
    assert (rows[2].s, rows[2].e) == (None, "2024-02-10")


def test_date_range_query_oracle_parity_sf0001(spark):
    sf = "/root/testdata/sf0.001"
    got = [tuple(r) for r in QUERIES["project_extract_date_range"](spark, sf).collect()]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW orders AS SELECT * FROM read_parquet('{sf}/orders.parquet')"
    )
    want = [tuple(r) for r in con.execute(ORACLE["project_extract_date_range"]).fetchall()]
    assert got == want
