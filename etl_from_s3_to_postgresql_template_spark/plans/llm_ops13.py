"""Round-11 module: the last production-tier white space named by
VERDICT r10 (items 3-5).

1. ``docs_ccnet_ppl_score_external`` — CCNet scoring against an
   EXTERNAL language model (Wenzek et al. 2020, "CCNet: Extracting
   High Quality Monolingual Datasets from Web Crawl Data"). The
   registered exact/hashed tiers (llm_ops12) build their LM from the
   stream they score; production CCNet trains the LM on a curated
   reference corpus (Wikipedia) and scores the crawl against it. Here
   the held-out slice ``doc_id % 10 == 0`` stands in for the curated
   corpus: its bigram LM folds into two BOUNDED md5-bucket tables
   (2^20 rows max, ~16 MB — the docs_ccnet_ppl_buckets_hashed
   convention, shared through operators/ccnet) which
   BROADCAST, so the scored stream (``doc_id % 10 != 0``) is scored
   entirely map-side: zero LM-construction shuffle from the scored
   stream, zero scored-stream shuffle before the per-doc aggregate —
   the SCALING.md:1705 shape. Bigrams absent from the LM back off to
   add-one smoothing over the bucket vocabulary (LEFT joins +
   COALESCE(0) on BOTH engines).
2. ``docs_bloom_paragraph_dedup`` (+ ``_gate``) — Dolma-style
   memory-bounded probabilistic paragraph dedup (Soldaini et al. 2024,
   Dolma §4.1: Bloom-filter paragraph dedup when even bucketed MinHash
   is too heavy). Spark's ``bloom_filter_agg`` is not in the public
   function registry, so the filter is built from FIRST-CLASS
   DataFrame ops: k=7 double-hashed bit positions per paragraph
   (Kirsch–Mitzenmacher: pos_j = (h1 + j*h2) & (m-1), xxhash64 both),
   OR-folded into a bit-packed words table via bit_or(shiftleft),
   SIZED from the reference shard (next pow2 >= 16 bits/paragraph,
   clamped 2^20..2^27 bits = 128 KB..16 MB packed — one bounded scalar
   count() sizes it; a pipeline that knows its shard size passes n
   instead), always BROADCAST. Probing is k broadcast joins + bit
   tests: whole-stage codegen, no Python, and the probe stream never
   shuffles until its per-doc summary. The bitset is deterministic
   (fixed xxhash64 seeds; OR is order-independent), but no SQL oracle
   can replicate xxhash64, so the dedup itself is rows-only by design
   and the GATE is the oracle-paired quality check (the
   similarity_lsh_recall_gate pattern, llm_ops3.py:82): a Bloom filter
   has NO false negatives, so every true duplicate must be flagged
   (n_missed = 0 — structural), and the false-positive rate among true
   non-duplicates must stay under 5% (target fpp at the 16-bit/item
   sizing is ~1e-3). Cross-shard at 100 TB: one filter per shard,
   OR-merge across shards (bit_or is associative) — the words-table
   shape is the merge.
3. ``project_extract_date_range`` — the X1k date_range struct
   end-to-end (reference ``etl_pipeline.py:181-189``: both endpoints
   of ``YYYY-MM-DD_to_YYYY-MM-DD``), pairing
   functions/dates.py:extract_date_range_col with a ground-truth
   oracle over synthesized filenames (the core_ops _synth_filenames
   convention) — the last reference scalar without a registered
   driver-visible query.

Scale notes (100 TB): the CCNet external tier scans the corpus once;
only per-doc score rows and the bounded LM-bucket partial aggregates
ever shuffle. The Bloom build shuffles k positions per REFERENCE
paragraph collapsed map-side to <= 16 Ki words per task; the probe
stream shuffles only its per-doc summary. The date-range projection is
a pure per-row expression chain (no shuffle but the final sort).

Reference scope: the reference pipeline has no CCNet or dedup surface;
the date_range struct is reference parity (etl_pipeline.py:181-189).

Module policy: helpers shared between plan modules live once in
operators/ (or functions/) and are imported, never copied;
plans/provenance.py follows imports transitively, so an edit to a
shared helper re-checks every query that reaches it.
The CCNet scorer is operators/ccnet and the Bloom filter
operators/bloom, both shared with llm_ops12/llm_ops14.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_from_s3_to_postgresql_template_spark.functions.dates import (
    extract_date_range_col,
)
from etl_from_s3_to_postgresql_template_spark.operators import bloom, ccnet
from etl_from_s3_to_postgresql_template_spark.plans.registry import query
from etl_from_s3_to_postgresql_template_spark.sources.registry import load_table
from etl_from_s3_to_postgresql_template_spark.util import shared_subtree

__all__ = [
    "docs_ccnet_ppl_score_external",
    "docs_ccnet_ppl_score_external_perlang",
    "docs_ccnet_sample_headmiddle",
    "docs_ccnet_ppl_buckets_fast",
    "docs_ccnet_ppl_agreement_gate",
    "docs_bloom_paragraph_dedup",
    "docs_bloom_paragraph_clean",
    "docs_bloom_paragraph_dedup_gate",
    "project_extract_date_range",
]

# ---------------------------------------------------------------------------
# docs_ccnet_ppl_score_external
# ---------------------------------------------------------------------------
# The bigram extraction, bucketing, scorer and bucket assignment (and
# their oracle fragments) are operators/ccnet's.

_CCX_ORACLE = rf"""
    WITH {ccnet.TOKS_SQL}, lm_occ AS (
      SELECT {ccnet.bucket_md5_sql("s.w1 || ' ' || s.w2")} AS b12,
             {ccnet.bucket_md5_sql("s.w1")} AS b1
      FROM bg WHERE doc_id % 10 = 0
    ), lm12 AS (
      SELECT b12, CAST(COUNT(*) AS BIGINT) AS pair_cnt FROM lm_occ GROUP BY b12
    ), lm1 AS (
      SELECT b1, CAST(COUNT(*) AS BIGINT) AS w1_cnt FROM lm_occ GROUP BY b1
    ), vocab AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS v FROM lm1
    ), occ AS (
      SELECT doc_id, lang,
             {ccnet.bucket_md5_sql("s.w1 || ' ' || s.w2")} AS b12,
             {ccnet.bucket_md5_sql("s.w1")} AS b1
      FROM bg WHERE doc_id % 10 <> 0
    ), scored AS (
      SELECT o.doc_id, o.lang,
             CAST(round(ROUND(CAST(SUM(CAST(ln((COALESCE(lm12.pair_cnt, 0) + 1.0)
                       / (COALESCE(lm1.w1_cnt, 0) + vocab.v)) AS DECIMAL(38,15)))
                     AS DOUBLE) / COUNT(*), 4) * 10000) AS BIGINT) AS lp
      FROM occ o
      LEFT JOIN lm12 USING (b12)
      LEFT JOIN lm1 USING (b1)
      CROSS JOIN vocab
      GROUP BY o.doc_id, o.lang
    ), {ccnet.CUTS_SQL}
    """


@query("docs_ccnet_ppl_score_external", oracle=_CCX_ORACLE)
def docs_ccnet_ppl_score_external(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet perplexity buckets scored against an EXTERNAL LM (module
    comment above): LM bucket tables built from the held-out reference
    slice only, broadcast; the scored stream never feeds the LM and is
    scored map-side (left joins, add-one backoff for unseen bigrams).
    At 100 TB the supplied-LM tables are loaded once and broadcast —
    the crawl contributes zero LM-construction shuffle."""
    occ_all = ccnet.bucketed_occ(
        ccnet.bigram_occurrences(load_table(spark, sf_dir, "documents", parallel=True))
    )
    lm_occ = occ_all.where(F.col("doc_id") % 10 == 0)
    occ = occ_all.where(F.col("doc_id") % 10 != 0)
    # scored feeds the histogram, the cuts broadcast, AND the final
    # assignment join (the llm_ops5/6 multi-subtree precedent)
    scored = ccnet.lm_scored(lm_occ, occ, external=True).transform(shared_subtree)
    return ccnet.assign_buckets(scored).orderBy("doc_id")


# ---------------------------------------------------------------------------
# docs_ccnet_ppl_score_external_perlang + docs_ccnet_sample_headmiddle
# ---------------------------------------------------------------------------
# Production CCNet trains ONE LM PER LANGUAGE (Wenzek et al. 2020 §3.3)
# and then keeps the head, samples the middle, drops the tail (§4.4).
# The per-lang tier keys the LM bucket tables by (lang, bucket) — the
# union of per-lang tables is the same bounded size as the pooled
# tier's, still broadcast — and scores only documents whose language
# HAS an LM (inner join on the per-lang vocab: CCNet does not score a
# language it has no reference model for). The sampler composes the
# per-lang scoring end-to-end: head kept, middle kept on a
# deterministic md5 coin (1 in 3 — cross-engine-exact, the repo's md5
# convention), tail dropped.


def _ccx_external_perlang_scored(docs: DataFrame) -> DataFrame:
    """(doc_id, lang, lp) for every scoreable stream doc whose language
    has an LM — per-language external-LM scoring, all LM tables
    broadcast, stream scored map-side."""
    occ_all = ccnet.bucketed_occ(ccnet.bigram_occurrences(docs))
    lm_occ = occ_all.where(F.col("doc_id") % 10 == 0)
    occ = occ_all.where(F.col("doc_id") % 10 != 0)
    return ccnet.lm_scored(lm_occ, occ, per_lang=True, external=True).transform(
        shared_subtree
    )


_CCP_SCORED_SQL = rf"""lm_occ AS (
      SELECT lang,
             {ccnet.bucket_md5_sql("s.w1 || ' ' || s.w2")} AS b12,
             {ccnet.bucket_md5_sql("s.w1")} AS b1
      FROM bg WHERE doc_id % 10 = 0
    ), lm12 AS (
      SELECT lang, b12, CAST(COUNT(*) AS BIGINT) AS pair_cnt
      FROM lm_occ GROUP BY lang, b12
    ), lm1 AS (
      SELECT lang, b1, CAST(COUNT(*) AS BIGINT) AS w1_cnt
      FROM lm_occ GROUP BY lang, b1
    ), vocab AS (
      SELECT lang, CAST(COUNT(*) AS DOUBLE) AS v FROM lm1 GROUP BY lang
    ), occ AS (
      SELECT doc_id, lang,
             {ccnet.bucket_md5_sql("s.w1 || ' ' || s.w2")} AS b12,
             {ccnet.bucket_md5_sql("s.w1")} AS b1
      FROM bg WHERE doc_id % 10 <> 0
    ), scored AS (
      SELECT o.doc_id, o.lang,
             CAST(round(ROUND(CAST(SUM(CAST(ln((COALESCE(lm12.pair_cnt, 0) + 1.0)
                       / (COALESCE(lm1.w1_cnt, 0) + vocab.v)) AS DECIMAL(38,15)))
                     AS DOUBLE) / COUNT(*), 4) * 10000) AS BIGINT) AS lp
      FROM occ o
      LEFT JOIN lm12 USING (lang, b12)
      LEFT JOIN lm1 USING (lang, b1)
      JOIN vocab USING (lang)
      GROUP BY o.doc_id, o.lang
    )"""

_CCP_ORACLE = rf"""
    WITH {ccnet.TOKS_SQL}, {_CCP_SCORED_SQL}, {ccnet.CUTS_SQL}
    """


@query("docs_ccnet_ppl_score_external_perlang", oracle=_CCP_ORACLE)
def docs_ccnet_ppl_score_external_perlang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language external-LM CCNet buckets (module comment above):
    one LM per language from the held-out slice, all tables still
    bounded and broadcast, stream scored map-side; languages without an
    LM are not scored (CCNet semantics). Terciles are per-language as
    in every tier."""
    docs = load_table(spark, sf_dir, "documents", parallel=True)
    return ccnet.assign_buckets(_ccx_external_perlang_scored(docs)).orderBy("doc_id")


_CCS_ORACLE = rf"""
    WITH {ccnet.TOKS_SQL}, {_CCP_SCORED_SQL}, bkt AS (
      SELECT s.doc_id, s.lang, s.lp,
             CASE WHEN s.lp >= c.cut1 THEN 'head'
                  WHEN s.lp >= c.cut2 THEN 'middle'
                  ELSE 'tail' END AS bucket
      FROM scored s JOIN (
        SELECT lang,
               MAX(CASE WHEN cum >= (n + 2) // 3 THEN lp END) AS cut1,
               MAX(CASE WHEN cum >= (2 * n + 2) // 3 THEN lp END) AS cut2
        FROM (
          SELECT h.lang, h.lp, t.n,
                 CAST(SUM(h.c) OVER (PARTITION BY h.lang ORDER BY h.lp DESC)
                      AS BIGINT) AS cum
          FROM (SELECT lang, lp, CAST(COUNT(*) AS BIGINT) AS c
                FROM scored GROUP BY 1, 2) h
          JOIN (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n
                FROM scored GROUP BY 1) t USING (lang)
        ) cum GROUP BY lang
      ) c USING (lang)
    )
    SELECT doc_id, lang, lp, bucket,
           (bucket = 'head' OR (bucket = 'middle' AND {ccnet.COIN_SQL})) AS kept
    FROM bkt ORDER BY doc_id
    """


@query("docs_ccnet_sample_headmiddle", oracle=_CCS_ORACLE)
def docs_ccnet_sample_headmiddle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CCNet selection stage end-to-end (Wenzek et al. 2020 §4.4):
    per-language external-LM scoring -> tercile buckets -> keep head,
    keep 1/3 of middle on a deterministic md5 coin, drop tail. The
    kept flag is emitted (not filtered) so the oracle checks every
    decision; a production run filters on it — a pure projection, so
    Catalyst collapses the difference."""
    docs = load_table(spark, sf_dir, "documents", parallel=True)
    bkt = ccnet.assign_buckets(_ccx_external_perlang_scored(docs)).orderBy("doc_id")
    return bkt.select(
        "doc_id",
        "lang",
        "lp",
        "bucket",
        (
            (F.col("bucket") == "head")
            | ((F.col("bucket") == "middle") & ccnet.coin())
        ).alias("kept"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# docs_ccnet_ppl_buckets_fast (+ agreement gate)
# ---------------------------------------------------------------------------
# The production-hash rung the hashed tier's docstring records ("a
# 100 TB deployment swaps the bucket hash for xxhash64"): identical
# bounded-broadcast-LM plan, buckets via xxhash64 & (B-1) instead of
# two md5+conv calls per occurrence. No SQL twin exists for xxhash64,
# so the tier is rows-only and the GATE is the oracle-paired check:
# at fixture scale both bucketings are collision-free, so the two
# tiers must assign IDENTICAL head/middle/tail buckets doc for doc
# (the winnowing exact/fast tier-agreement convention).


@query("docs_ccnet_ppl_buckets_fast")
def docs_ccnet_ppl_buckets_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet hashed tier with the production bucket hash (module comment
    above): one xxhash64 per key vs two md5-hex-conv chains per
    occurrence — same bounded broadcast LM tables, same map-side
    scoring. Rows-only by design; quality gated by
    docs_ccnet_ppl_agreement_gate."""
    return ccnet.self_lm_buckets(
        load_table(spark, sf_dir, "documents", parallel=True), ccnet.bucket_fast
    )


_CCA_GATE_ORACLE = rf"""
    WITH {ccnet.TOKS_SQL}
    SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           TRUE AS agree_ok
    FROM bg
    """


@query("docs_ccnet_ppl_agreement_gate", oracle=_CCA_GATE_ORACLE)
def docs_ccnet_ppl_agreement_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-paired agreement gate for the rows-only fast tier: >= 90%
    of docs must land in the same head/middle/tail bucket under both
    bucket hashes (the oracle counts the scoreable docs independently).
    The floor is not 100% because a SINGLE frequent-pair bucket
    collision (expected ~0.4 per 1k distinct pairs at 2^20 buckets)
    shifts that tier's OWN tercile cut by one histogram step, flipping
    every boundary doc — measured 92-96% agreement at fixture scale,
    where per-doc lp differs only for docs containing a collided pair.
    The 90% floor sits just under the measured band at the DRIVER
    fixture scales (VERDICT r11 item 4 tightened it from the original
    80%): one cut-step flip moves at most the boundary docs of one
    tercile, while a systematically broken bucket expression collapses
    agreement toward the ~33% chance level — the gate now catches a
    regression that mis-buckets even one doc in ten.

    Scale contract (measured r12): agreement is 95.6% at sf0.001 and
    92.2% at sf0.01 — the scales this gate is oracle-checked at — but
    degrades with corpus growth at the FIXED B = 2^20 bucket count
    (86.1% at sf0.1; 93.2% even when both tiers share the md5 tier's
    cuts, isolating per-doc scoring from cut-shift amplification),
    because the fraction of docs containing >= 1 collided bigram grows
    with the distinct-pair count. That is collision arithmetic, not a
    defect: a production deployment sizes B with the vocabulary
    (B ~ 16x distinct unigrams, the bloom.bits_for convention), which
    pins the collided-doc fraction — and therefore this band — flat.
    The registered tiers keep B fixed because the md5 oracle twin
    bakes B into cross-engine SQL; the gate's contract is the driver
    fixture scales."""
    docs = load_table(spark, sf_dir, "documents", parallel=True)
    # one tokenize+bigram-explode pass feeds BOTH tiers (checkpointed:
    # two consuming subtrees would otherwise re-run it — the llm_ops5/6
    # multi-subtree precedent)
    occ = ccnet.bigram_occurrences(docs).transform(shared_subtree)
    fast = ccnet.self_lm_buckets(occ, ccnet.bucket_fast).select(
        "doc_id", F.col("bucket").alias("b_fast")
    )
    md5t = ccnet.self_lm_buckets(occ, ccnet.bucket_md5).select(
        "doc_id", F.col("bucket").alias("b_md5")
    )
    return fast.join(md5t, "doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.coalesce(  # empty scoreable set: vacuously TRUE (oracle literal)
            F.sum((F.col("b_fast") != F.col("b_md5")).cast("long")) * 10
            <= F.count(F.lit(1)),
            F.lit(True),
        ).alias("agree_ok"),
    )


# ---------------------------------------------------------------------------
# docs_bloom_paragraph_dedup (+ gate)
# ---------------------------------------------------------------------------

def _probe_odd_half(pars: DataFrame) -> DataFrame:
    """Bloom filter over the even-doc_id half's paragraphs, probed by
    the odd half: the odd-half paragraph frame with the `dup` flag."""
    return bloom.probe(
        pars.where(F.col("doc_id") % 2 == 1), pars.where(F.col("doc_id") % 2 == 0)
    )


@query("docs_bloom_paragraph_dedup")
def docs_bloom_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dolma-style Bloom paragraph dedup (module comment above): filter
    built over the even-doc_id half (standing in for previously
    processed shards), odd-half paragraphs probed map-side; per-doc
    summary (doc_id, n_paragraphs, n_flagged_dup). Rows-only by design
    (xxhash64 has no SQL twin); quality is oracle-gated by
    docs_bloom_paragraph_dedup_gate."""
    docs = load_table(spark, sf_dir, "documents", parallel=True)
    # checkpointed: the sizing count, the filter build, and the probe all
    # consume the paragraph frame
    pars = bloom.paragraphs(docs).transform(shared_subtree)
    probe = _probe_odd_half(pars)
    return (
        probe.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_paragraphs"),
            F.sum(F.col("dup").cast("long")).cast("long").alias("n_flagged_dup"),
        )
        .orderBy("doc_id")
    )


@query("docs_bloom_paragraph_clean")
def docs_bloom_paragraph_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The actionable form of the Bloom tier (the docs_line_dedup /
    docs_exactsubstr_clean convention): probe documents with every
    Bloom-flagged paragraph REMOVED — doc-local reconstruction via
    array_except over the line-index sequence + element_at slicing,
    untouched lines (including blank ones, which are never probed)
    pass through verbatim. Rows-only like the summary tier; the gate
    bounds the flags' quality. Documents never shuffle whole except as
    their own output rows: the paragraph stream carries positions, the
    removals regroup per doc as position lists, and the one
    text-bearing exchange is the doc-level join-back + output sort."""
    docs = load_table(spark, sf_dir, "documents", parallel=True)
    pars = bloom.paragraphs(docs).transform(shared_subtree)
    base = docs.where(F.col("doc_id") % 2 == 1).select(
        "doc_id", F.coalesce(F.col("text"), F.lit("")).alias("text")
    )
    return bloom.clean(base, _probe_odd_half(pars)).orderBy("doc_id")


_BF_GATE_ORACLE = """
    WITH pars AS (
      SELECT doc_id, TRIM(p) AS par
      FROM (SELECT doc_id, UNNEST(string_split(COALESCE(text, ''), chr(10))) AS p
            FROM documents)
      WHERE TRIM(p) <> ''
    ), ref AS (
      SELECT DISTINCT par FROM pars WHERE doc_id % 2 = 0
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_probe_paragraphs,
           CAST(COALESCE(SUM(CASE WHEN r.par IS NOT NULL THEN 1 ELSE 0 END), 0)
             AS BIGINT) AS n_true_dup,
           CAST(0 AS BIGINT) AS n_missed,
           TRUE AS fp_ok
    FROM (SELECT par FROM pars WHERE doc_id % 2 = 1) p
    LEFT JOIN ref r USING (par)
    """


@query("docs_bloom_paragraph_dedup_gate", oracle=_BF_GATE_ORACLE)
def docs_bloom_paragraph_dedup_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-paired quality gate for the rows-only Bloom tier: a Bloom
    filter has NO false negatives, so every true duplicate (exact
    paragraph match against the reference half — which the oracle
    counts independently) must be flagged (n_missed = 0), and measured
    false positives among true non-duplicates stay under 5% (target
    fpp at fixture load ~1e-10)."""
    docs = load_table(spark, sf_dir, "documents", parallel=True)
    pars = bloom.paragraphs(docs).transform(shared_subtree)
    probe = _probe_odd_half(pars)
    return bloom.gate_summary(probe, pars.where(F.col("doc_id") % 2 == 0))


# ---------------------------------------------------------------------------
# project_extract_date_range
# ---------------------------------------------------------------------------

_DR_ORACLE = """
    SELECT o_orderkey,
           CASE
             WHEN o_orderkey % 3 = 0 THEN
               'report_' || strftime(o_orderdate, '%Y-%m-%d') || '_to_'
                 || strftime(o_orderdate + to_days(CAST(o_orderkey % 30 AS INT)),
                             '%Y-%m-%d') || '.csv'
             WHEN o_orderkey % 3 = 1 THEN
               'sales_' || strftime(o_orderdate, '%Y-%m-%d') || '.csv'
             ELSE 'notes.txt'
           END AS filename,
           CASE WHEN o_orderkey % 3 = 0
                THEN strftime(o_orderdate, '%Y-%m-%d') END AS start_date,
           CASE WHEN o_orderkey % 3 = 0
                THEN strftime(o_orderdate + to_days(CAST(o_orderkey % 30 AS INT)),
                              '%Y-%m-%d') END AS end_date
    FROM orders ORDER BY o_orderkey
    """


@query("project_extract_date_range", oracle=_DR_ORACLE)
def project_extract_date_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1k end-to-end: the date_range struct (reference
    etl_pipeline.py:181-189 — BOTH endpoints of
    'YYYY-MM-DD_to_YYYY-MM-DD') extracted by
    functions.dates.extract_date_range_col over synthesized filenames;
    non-range filenames yield NULL fields (reference: pattern absent
    from the results dict). The oracle knows ground truth by
    construction (the core_ops _synth_filenames convention). Pure
    per-row projection — no shuffle but the output sort."""
    o = load_table(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    end_d = F.date_add(d, (F.col("o_orderkey") % 30).cast("int"))
    fn = (
        F.when(
            F.col("o_orderkey") % 3 == 0,
            F.concat(
                F.lit("report_"),
                F.date_format(d, "yyyy-MM-dd"),
                F.lit("_to_"),
                F.date_format(end_d, "yyyy-MM-dd"),
                F.lit(".csv"),
            ),
        )
        .when(
            F.col("o_orderkey") % 3 == 1,
            F.concat(F.lit("sales_"), F.date_format(d, "yyyy-MM-dd"), F.lit(".csv")),
        )
        .otherwise(F.lit("notes.txt"))
    )
    files = o.select("o_orderkey", fn.alias("filename"))
    rng = extract_date_range_col("filename")
    return files.select(
        "o_orderkey",
        "filename",
        F.date_format(rng["start_date"], "yyyy-MM-dd").alias("start_date"),
        F.date_format(rng["end_date"], "yyyy-MM-dd").alias("end_date"),
    ).orderBy("o_orderkey")
