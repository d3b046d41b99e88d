"""Round-12 module: VERDICT r11 items 2-3 — the composed production
funnel and the cross-shard Bloom merge.

1. ``corpus_prep_funnel4`` (+ ``_bloom`` + ``_agreement_gate``) — the
   END-TO-END web-prep funnel composing the r11 production tiers in
   the order a real crawl pipeline runs them (mirroring the reference
   pipeline's own main() composition, etl_pipeline.py:252-545, at the
   extension surface):

     paragraph dedup against previously-processed shards
       -> per-language CCNet scoring against an external LM
       -> head-keep / middle-sample / tail-drop selection
       -> token-count + mean-word-length quality gates

   Shard convention: ``doc_id % 2 == 0`` is the REFERENCE shard
   (previously processed data — supplies both the dedup paragraph set
   and the curated LM corpus); ``doc_id % 2 == 1`` is the processing
   shard. Every processing-shard doc gets exactly one output row with
   its full decision trail (n_paragraphs, n_removed, n_tok, lp,
   bucket, quality_ok, kept) — a doc whose language has no LM is not
   scored (CCNet semantics, Wenzek et al. 2020 §3.3) and is dropped
   (bucket NULL, kept false).

   Two-tier convention (the repo standard): ``corpus_prep_funnel4``
   is the cross-engine-exact oracle tier — the dedup stage removes a
   paragraph iff its trimmed text EXACTLY matches a reference-shard
   paragraph (a DISTINCT-set left join DuckDB replicates verbatim).
   ``corpus_prep_funnel4_bloom`` is the production tier: the same
   chain with the clean stage swapped for the Bloom-filter probe
   (k=7 Kirsch-Mitzenmacher xxhash64, packed words table, broadcast)
   — no corpus-to-corpus shuffle join anywhere: the ONLY corpus-scale
   exchanges are the per-doc regroup of paragraph flags, the per-doc
   lp aggregate, and the output join-back + sort; the LM tables, the
   tercile cuts, and the Bloom words table all broadcast. xxhash64
   has no SQL twin, so the Bloom tier is rows-only and
   ``corpus_prep_funnel4_agreement_gate`` is its oracle-paired
   quality check: >= 90% of processing-shard docs must get the same
   final keep decision from both tiers (at the Bloom sizing's ~1e-3
   target fpp the tiers differ only when a false positive removes an
   extra paragraph and moves that doc's lp across a tercile cut).

2. ``docs_bloom_merge_shards`` (+ ``_gate``) — the 100 TB deployment
   shape of the Bloom tier (llm_ops13 module comment: "one filter per
   shard, OR-merge across shards"): build one filter per reference
   shard (doc_id % 3 == 0 and == 1) INDEPENDENTLY at a shared m,
   OR-merge the packed words tables (union -> bit_or per word index —
   bit_or is associative and commutative, so per-shard builds combine
   in any order), probe the third shard (doc_id % 3 == 2) against the
   merged filter. Rows-only (xxhash64); the gate is the oracle-paired
   no-false-negative check: a merged Bloom filter can only turn bits
   ON, so every paragraph duplicated from EITHER reference shard must
   be flagged (n_missed = 0, structural), with measured false
   positives among true non-duplicates under 5%.

Scale notes (100 TB): funnel4_bloom scans the corpus a bounded number
of times (paragraphs, LM bigrams, output join-back — each a pushed
column subset) and shuffles only per-doc rows; the Bloom/LM/cuts
sides are all bounded broadcasts. The shard merge is the associative
scale-out: N shards each build a <= 16 MB words table map-side, the
merge is a groupBy over <= N * m/64 rows, and the merged table still
broadcasts. The exact funnel tier keeps one corpus-to-corpus string
join (paragraph against DISTINCT reference paragraphs) — that join is
precisely what the Bloom tier deletes, which is the point of the
two-tier split.

Reference scope: the reference pipeline (a 734-line pandas/boto3 ETL)
has no dedup/CCNet surface; the funnel mirrors its main() composition
pattern (etl_pipeline.py:252-545) over the extension operators.

Module policy: helpers shared between plan modules live once in
operators/ (or functions/) and are imported, never copied;
plans/provenance.py follows imports transitively, so an edit to a
shared helper re-checks every query that reaches it.
The Bloom filter is operators/bloom and the CCNet scorer
operators/ccnet, both shared with llm_ops13.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_from_s3_to_postgresql_template_spark.operators import bloom, ccnet
from etl_from_s3_to_postgresql_template_spark.functions.text import WS
from etl_from_s3_to_postgresql_template_spark.plans.registry import query
from etl_from_s3_to_postgresql_template_spark.sources.registry import load_table
from etl_from_s3_to_postgresql_template_spark.util import shared_subtree

__all__ = [
    "corpus_prep_funnel4",
    "corpus_prep_funnel4_bloom",
    "corpus_prep_funnel4_agreement_gate",
    "docs_bloom_merge_shards",
    "docs_bloom_merge_shards_gate",
]

# ---------------------------------------------------------------------------
# corpus_prep_funnel4 — shared pipeline, parameterized clean stage
# ---------------------------------------------------------------------------

# quality-gate bounds (on the CLEANED text): Gopher-style envelope —
# enough tokens to be a document, not so many it is a dump artifact,
# and a sane mean word length (micro-units, truncating div — exact on
# both engines; per-DOC values, so the 1e6 premultiply is bounded by
# ~9.2e12 chars/doc, far above any real document)
_F4_MIN_TOK = 5
_F4_MAX_TOK = 50_000
_F4_MIN_WL_MICRO = 1_000_000  # mean word length >= 1 char
_F4_MAX_WL_MICRO = 12_000_000  # mean word length <= 12 chars


def _f4_cleaned(docs: DataFrame, exact: bool) -> DataFrame:
    """Stage 1: (doc_id, lang, n_paragraphs, n_removed, cleaned_text)
    for every processing-shard doc — flagged paragraphs removed,
    untouched lines (including blanks, never probed) verbatim. exact=
    True joins the DISTINCT reference paragraph set (the oracle twin);
    False probes the Bloom filter (no corpus-to-corpus join)."""
    # checkpointed: ref build (and Bloom sizing count) + probe both
    # consume the paragraph frame (the llm_ops5/6 multi-subtree rule)
    pars = bloom.paragraphs(docs).transform(shared_subtree)
    ref = pars.where(F.col("doc_id") % 2 == 0)
    probe_pars = pars.where(F.col("doc_id") % 2 == 1)
    if exact:
        # no broadcast hint: the distinct reference TEXT frame grows
        # with the corpus — let size-based planning decide (llm_ops13
        # gate convention)
        probe = probe_pars.join(
            ref.select(F.col("par").alias("_rpar")).distinct(),
            probe_pars.par == F.col("_rpar"),
            "left",
        ).select("doc_id", "pos", "par", F.col("_rpar").isNotNull().alias("dup"))
    else:
        probe = bloom.probe(probe_pars, ref)
    base = docs.where(F.col("doc_id") % 2 == 1).select(
        "doc_id",
        F.coalesce(F.col("lang"), F.lit("")).alias("lang"),
        F.coalesce(F.col("text"), F.lit("")).alias("text"),
    )
    return bloom.clean(base, probe)


def _f4_pipeline(spark: SparkSession, sf_dir: str, exact: bool) -> DataFrame:
    """The full funnel: clean -> per-lang external-LM score -> tercile
    selection -> quality gates. One output row per processing-shard
    doc; every decision in the row so the oracle checks all of them
    (a production run filters on `kept` — a pure projection away)."""
    docs = load_table(spark, sf_dir, "documents")
    # checkpointed: cleaned feeds the scoring subtree AND the output row
    cleaned = _f4_cleaned(docs, exact).transform(shared_subtree)
    # LM from the reference shard's RAW text; stream = CLEANED text
    lm_occ = ccnet.bucketed_occ(
        ccnet.bigram_occurrences(docs.where(F.col("doc_id") % 2 == 0))
    )
    occ = ccnet.bucketed_occ(ccnet.bigram_occurrences(cleaned, "cleaned_text"))
    # checkpointed: scored feeds the histogram AND the assignment join
    scored = ccnet.lm_scored(lm_occ, occ, per_lang=True, external=True).transform(
        shared_subtree
    )
    bkt = ccnet.assign_buckets(scored).select(
        "doc_id",
        "lp",
        "bucket",
        (
            (F.col("bucket") == "head")
            | ((F.col("bucket") == "middle") & ccnet.coin())
        ).alias("_ccnet_keep"),
    )
    # quality signals built with the Python Column API only — embedding
    # WS inside an F.expr string literal would re-escape the regex
    toks = F.filter(
        F.split(F.lower(F.trim(F.col("cleaned_text"))), WS), lambda x: x != ""
    )
    n_tok = F.size(toks).cast("long")
    wl_sum = F.aggregate(toks, F.lit(0).cast("long"), lambda a, x: a + F.length(x))
    # mean word length in micro-units — truncating div over the NAMED
    # columns (regex-free expr); n_tok >= _F4_MIN_TOK inside the branch
    quality_ok = F.when(
        F.col("n_tok").between(_F4_MIN_TOK, _F4_MAX_TOK),
        F.expr("(1000000 * wl_sum) div n_tok").between(
            _F4_MIN_WL_MICRO, _F4_MAX_WL_MICRO
        ),
    ).otherwise(F.lit(False))
    return (
        cleaned.withColumn("n_tok", n_tok)
        .withColumn("wl_sum", wl_sum)
        .join(bkt, "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            "n_paragraphs",
            "n_removed",
            "n_tok",
            "lp",
            "bucket",
            quality_ok.alias("quality_ok"),
            (quality_ok & F.coalesce(F.col("_ccnet_keep"), F.lit(False))).alias(
                "kept"
            ),
        )
        .orderBy("doc_id")
    )


# --- oracle SQL ------------------------------------------------------------

_F4_BUCKET_SQL_12 = ccnet.bucket_md5_sql("s.w1 || ' ' || s.w2")
_F4_BUCKET_SQL_1 = ccnet.bucket_md5_sql("s.w1")
_F4_TOKS_SQL = (
    "list_filter(string_split_regex(lower(trim(cleaned_text)),"
    f" '{WS}'), x -> x <> '')"
)

_F4_ORACLE = rf"""
    WITH lines AS (
      SELECT doc_id, COALESCE(lang, '') AS lang, s.i AS i, s.p AS p
      FROM (
        SELECT doc_id, lang,
               UNNEST(list_transform(range(len(ls)),
                      j -> {{'i': j + 1, 'p': ls[j + 1]}})) AS s
        FROM (SELECT doc_id, lang,
                     string_split(COALESCE(text, ''), chr(10)) AS ls
              FROM documents WHERE doc_id % 2 = 1)
      )
    ), refpar AS (
      SELECT DISTINCT TRIM(p) AS par
      FROM (SELECT UNNEST(string_split(COALESCE(text, ''), chr(10))) AS p
            FROM documents WHERE doc_id % 2 = 0)
      WHERE TRIM(p) <> ''
    ), flag AS (
      SELECT l.doc_id, l.lang, l.i, l.p,
             (TRIM(l.p) <> '') AS is_par,
             (TRIM(l.p) <> '' AND r.par IS NOT NULL) AS rm_dup
      FROM lines l LEFT JOIN refpar r ON TRIM(l.p) = r.par
    ), cleaned AS (
      SELECT doc_id, lang,
             CAST(COALESCE(SUM(CASE WHEN is_par THEN 1 END), 0) AS BIGINT)
               AS n_paragraphs,
             CAST(COALESCE(SUM(CASE WHEN rm_dup THEN 1 END), 0) AS BIGINT)
               AS n_removed,
             COALESCE(string_agg(CASE WHEN NOT rm_dup THEN p END,
                                 chr(10) ORDER BY i), '') AS cleaned_text
      FROM flag GROUP BY doc_id, lang
    ), rt AS (
      SELECT doc_id, COALESCE(lang, '') AS lang,
             list_filter(string_split_regex(lower(trim(COALESCE(text, ''))),
                  '{WS}'), x -> x <> '') AS toks
      FROM documents WHERE doc_id % 2 = 0
    ), rbg AS (
      SELECT doc_id, lang,
             UNNEST(list_transform(range(len(toks) - 1),
                    i -> {{'w1': toks[i+1], 'w2': toks[i+2]}})) AS s
      FROM rt WHERE len(toks) >= 2
    ), ct AS (
      SELECT doc_id, lang, {_F4_TOKS_SQL} AS toks FROM cleaned
    ), cbg AS (
      SELECT doc_id, lang,
             UNNEST(list_transform(range(len(toks) - 1),
                    i -> {{'w1': toks[i+1], 'w2': toks[i+2]}})) AS s
      FROM ct WHERE len(toks) >= 2
    ), lm_occ AS (
      SELECT lang, {_F4_BUCKET_SQL_12} AS b12, {_F4_BUCKET_SQL_1} AS b1
      FROM rbg
    ), lm12 AS (
      SELECT lang, b12, CAST(COUNT(*) AS BIGINT) AS pair_cnt
      FROM lm_occ GROUP BY lang, b12
    ), lm1 AS (
      SELECT lang, b1, CAST(COUNT(*) AS BIGINT) AS w1_cnt
      FROM lm_occ GROUP BY lang, b1
    ), vocab AS (
      SELECT lang, CAST(COUNT(*) AS DOUBLE) AS v FROM lm1 GROUP BY lang
    ), occ AS (
      SELECT doc_id, lang, {_F4_BUCKET_SQL_12} AS b12, {_F4_BUCKET_SQL_1} AS b1
      FROM cbg
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
    ), cuts AS (
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
    ), bkt AS (
      SELECT s.doc_id, s.lp,
             CASE WHEN s.lp >= c.cut1 THEN 'head'
                  WHEN s.lp >= c.cut2 THEN 'middle'
                  ELSE 'tail' END AS bucket,
             (CASE WHEN s.lp >= c.cut1 THEN 'head'
                   WHEN s.lp >= c.cut2 THEN 'middle'
                   ELSE 'tail' END = 'head'
              OR (CASE WHEN s.lp >= c.cut1 THEN 'head'
                       WHEN s.lp >= c.cut2 THEN 'middle'
                       ELSE 'tail' END = 'middle' AND {ccnet.COIN_SQL}))
               AS ccnet_keep
      FROM scored s JOIN cuts c USING (lang)
    ), q AS (
      SELECT c.doc_id, c.lang, c.n_paragraphs, c.n_removed, c.cleaned_text,
             CAST(len(t.toks) AS BIGINT) AS n_tok,
             CAST(COALESCE(list_sum(list_transform(t.toks,
                  x -> CAST(length(x) AS BIGINT))), 0) AS BIGINT) AS wl_sum
      FROM cleaned c JOIN ct t USING (doc_id, lang)
    ), qg AS (
      SELECT doc_id, lang, n_paragraphs, n_removed, n_tok,
             (n_tok BETWEEN {_F4_MIN_TOK} AND {_F4_MAX_TOK}
              AND CASE WHEN n_tok = 0 THEN FALSE
                       ELSE (1000000 * wl_sum) // n_tok
                            BETWEEN {_F4_MIN_WL_MICRO} AND {_F4_MAX_WL_MICRO}
                  END) AS quality_ok
      FROM q
    )
    SELECT qg.doc_id, qg.lang, qg.n_paragraphs, qg.n_removed, qg.n_tok,
           b.lp, b.bucket, qg.quality_ok,
           (qg.quality_ok AND COALESCE(b.ccnet_keep, FALSE)) AS kept
    FROM qg LEFT JOIN bkt b USING (doc_id)
    ORDER BY qg.doc_id
    """


@query("corpus_prep_funnel4", oracle=_F4_ORACLE)
def corpus_prep_funnel4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed web-prep funnel, ORACLE TIER (module comment):
    exact-match paragraph dedup against the reference shard -> per-lang
    external-LM CCNet scoring of the CLEANED text -> head-keep /
    middle-sample selection -> token-count + mean-word-length quality
    gates. Cross-engine exact (md5 buckets, md5 coin, decimal log
    accumulation, integer micro-unit word-length) — the DuckDB twin
    replays every stage. Production swaps the clean stage for the
    Bloom probe: corpus_prep_funnel4_bloom."""
    return _f4_pipeline(spark, sf_dir, exact=True)


@query("corpus_prep_funnel4_bloom")
def corpus_prep_funnel4_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed web-prep funnel, PRODUCTION TIER: identical chain
    with the dedup stage probing the Bloom filter (broadcast packed
    bitset, k broadcast joins) instead of joining the reference
    paragraph set — zero corpus-to-corpus shuffle joins end-to-end.
    Rows-only by design (xxhash64 has no SQL twin); quality is
    oracle-gated by corpus_prep_funnel4_agreement_gate."""
    return _f4_pipeline(spark, sf_dir, exact=False)


_F4_GATE_ORACLE = """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, TRUE AS agree_ok
    FROM documents WHERE doc_id % 2 = 1
    """


@query("corpus_prep_funnel4_agreement_gate", oracle=_F4_GATE_ORACLE)
def corpus_prep_funnel4_agreement_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-paired agreement gate for the rows-only Bloom funnel
    tier: both tiers emit one decision row per processing-shard doc
    (the oracle counts those docs independently), and >= 90% must get
    the same final `kept` decision. The floor is not 100% because a
    Bloom false positive (~1e-3 target fpp) removes an extra paragraph,
    which can move that doc's lp and — via its own tercile cut — flip
    boundary docs (the docs_ccnet_ppl_agreement_gate mechanism); a
    broken probe or a broken stage collapses agreement far below 90%."""
    exact = _f4_pipeline(spark, sf_dir, exact=True).select(
        "doc_id", F.col("kept").alias("k_exact")
    )
    bloom = _f4_pipeline(spark, sf_dir, exact=False).select(
        "doc_id", F.col("kept").alias("k_bloom")
    )
    return exact.join(bloom, "doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.coalesce(  # empty processing shard: vacuously TRUE (oracle literal)
            F.sum((F.col("k_exact") != F.col("k_bloom")).cast("long")) * 10
            <= F.count(F.lit(1)),
            F.lit(True),
        ).alias("agree_ok"),
    )


# ---------------------------------------------------------------------------
# docs_bloom_merge_shards (+ gate)
# ---------------------------------------------------------------------------


def _merge_probe(docs: DataFrame) -> DataFrame:
    """Shared core: per-shard filters over doc_id % 3 in (0, 1) built
    independently at a shared m, OR-merged, probed by doc_id % 3 == 2.
    Returns the probe paragraph frame with the `dup` flag."""
    pars = bloom.paragraphs(docs).transform(shared_subtree)
    return bloom.probe(
        pars.where(F.col("doc_id") % 3 == 2),
        pars.where(F.col("doc_id") % 3 == 0),
        pars.where(F.col("doc_id") % 3 == 1),
    )


@query("docs_bloom_merge_shards")
def docs_bloom_merge_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-shard Bloom merge, the 100 TB deployment shape (module
    comment): two reference shards build their packed words tables
    INDEPENDENTLY (map-side, shared m), the tables OR-merge (bit_or
    per word index — associative, any order), and the third shard
    probes the merged filter. Per-doc summary like the single-shard
    tier. Rows-only by design (xxhash64); quality is oracle-gated by
    docs_bloom_merge_shards_gate."""
    probe = _merge_probe(load_table(spark, sf_dir, "documents"))
    return (
        probe.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_paragraphs"),
            F.sum(F.col("dup").cast("long")).cast("long").alias("n_flagged_dup"),
        )
        .orderBy("doc_id")
    )


_BM_GATE_ORACLE = """
    WITH pars AS (
      SELECT doc_id, TRIM(p) AS par
      FROM (SELECT doc_id, UNNEST(string_split(COALESCE(text, ''), chr(10))) AS p
            FROM documents)
      WHERE TRIM(p) <> ''
    ), ref AS (
      SELECT DISTINCT par FROM pars WHERE doc_id % 3 <> 2
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_probe_paragraphs,
           CAST(COALESCE(SUM(CASE WHEN r.par IS NOT NULL THEN 1 ELSE 0 END), 0)
             AS BIGINT) AS n_true_dup,
           CAST(0 AS BIGINT) AS n_missed,
           TRUE AS fp_ok
    FROM (SELECT par FROM pars WHERE doc_id % 3 = 2) p
    LEFT JOIN ref r USING (par)
    """


@query("docs_bloom_merge_shards_gate", oracle=_BM_GATE_ORACLE)
def docs_bloom_merge_shards_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-paired no-false-negative gate for the merged filter: an
    OR-merge can only turn bits ON, so every probe paragraph that
    exactly matches a paragraph in EITHER reference shard (which the
    oracle counts independently) must be flagged (n_missed = 0 —
    structural: missing one means the merge or a shard build dropped
    bits), and measured false positives among true non-duplicates stay
    under 5%."""
    docs = load_table(spark, sf_dir, "documents")
    pars = bloom.paragraphs(docs).transform(shared_subtree)
    probe = _merge_probe(docs)
    return bloom.gate_summary(probe, pars.where(F.col("doc_id") % 3 != 2))
