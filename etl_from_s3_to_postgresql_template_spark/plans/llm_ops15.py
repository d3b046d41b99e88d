"""Round-12 extension module (second session): three LLM-pipeline
operator families that round out existing groups with their
published-production variants.

1. ``corpus_bigram_lm_kn`` (+ trigram, bucketed, fast, agreement-gate
   and document-scoring tiers) — interpolated Kneser-Ney smoothing, the
   smoother KenLM ships and CCNet's quality LM actually uses, extending
   ``corpus_bigram_lm`` (add-one) and the CCNet family (llm_ops12/13).
   The LM, its staged exact-integer program and the DuckDB fragments
   that replay it live once in operators/knlm.py; the queries here pick
   the tier: exact words (the cross-engine oracle twin), 2^20 md5 or
   xxhash64 word buckets (the production tiers, int64-safe at any
   corpus size), or per-language external-LM document scoring.

2. ``similarity_topk_matryoshka`` (+ ``_recall_gate``) — two-stage
   coarse-to-fine retrieval over Matryoshka-style prefix dimensions
   (Kusupati et al. 2022: MRL embeddings are trained so that dimension
   prefixes are themselves usable embeddings): stage 1 ranks by cosine
   on the FIRST 32 of 64 dims and keeps 100 candidates per query;
   stage 2 rescores only those candidates at full dimensionality. Both
   stages are deterministic (round-6 cosine, id tie-break — the
   operators/similarity.py discipline), so unlike the xxhash64 LSH/IVF
   tiers this ANN production shape is FULLY oracle-paired: DuckDB runs
   the identical two-stage SQL. The gate certifies recall@10 against
   the exact brute-force ranking (floor measured at both fixture SFs).
   Scale: stage 1 is the only corpus-wide pass and touches 32/64 of the
   vector bytes (a real deployment stores the prefix as its own column
   so the scan prunes to it); stage 2 computes |Q| * 100 full dots
   instead of |Q| * N — the 100 TB win. No shuffle on the candidate
   side: queries broadcast, ranking is a per-query window.

3. ``docs_quality_domain_cut`` — per-domain quality normalization
   (the anti-domain-bias selection step web pipelines run so one
   over-represented domain's style doesn't dominate what a global
   quality threshold keeps — cf. C4 / RefinedWeb per-host treatment):
   score every doc with the hashed linear classifier margin
   (functions/text.py::hashed_margin_col — the docs_quality_classifier
   model, bit-stable across engines), then keep a doc iff its score
   reaches its OWN domain's median. The median comes from a per-domain
   score histogram with the cumulative window ON THE HISTOGRAM
   (llm_ops13 tercile-cut shape — scores are 1e4-rounded so the
   histogram collapses far below doc-count), and the bounded cuts
   frame broadcasts back onto the doc stream. Token-less docs score
   NULL and are never kept.

Reference scope: the reference pipeline (etl_pipeline.py, 734-line
pandas/boto3 ETL) has no LM/ANN/quality surface; these extend the
north-star extension families (SURVEY.md section 2 E1/E2/E4).

Module policy: helpers shared between plan modules live once in
operators/ (or functions/) and are imported, never copied;
plans/provenance.py follows imports transitively, so an edit to a
shared helper re-checks every query that reaches it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_from_s3_to_postgresql_template_spark.operators import ccnet, knlm
from etl_from_s3_to_postgresql_template_spark.plans.registry import query
from etl_from_s3_to_postgresql_template_spark.sources.registry import load_table
from etl_from_s3_to_postgresql_template_spark.util import shared_subtree

__all__ = [
    "corpus_bigram_lm_kn",
    "corpus_bigram_lm_kn_bucketed",
    "corpus_bigram_lm_kn_fast",
    "corpus_bigram_lm_kn_agreement_gate",
    "corpus_trigram_lm_kn",
    "docs_ccnet_ppl_score_kn",
    "similarity_topk_matryoshka",
    "similarity_matryoshka_recall_gate",
    "docs_quality_domain_cut",
    "streaming_bloom_paragraph_dedup",
    "streaming_bloom_dedup_gate",
    "corpus_unigram_lm_em",
    "corpus_unigram_em_gate",
    "corpus_unigram_encode",
    "corpus_unigram_encode_gate",
]

# ---------------------------------------------------------------------------
# Kneser-Ney tiers (operators/knlm.py)
# ---------------------------------------------------------------------------

_KN_TOP = 30


def _kn_top(occ: DataFrame, k1: str, k2: str) -> DataFrame:
    """The top-30 (k1, k2) pairs by raw count with their KN statistics."""
    return knlm.pair_stats(occ, k1, k2).orderBy(F.desc("pair_cnt"), k1, k2).limit(_KN_TOP)


def _kn_top_sql(occ: str, k1: str, k2: str) -> str:
    """The DuckDB twin of ``_kn_top``; ``occ`` defines the `occ(k1, k2)`
    CTE over ccnet.TOKS_SQL's `bg`."""
    return f"""
    WITH {ccnet.TOKS_SQL}, {occ}, {knlm.pair_stats_sql(k1, k2)}
    SELECT * FROM kn
    ORDER BY pair_cnt DESC, {k1}, {k2}
    LIMIT {_KN_TOP}
    """


_KN_ORACLE = _kn_top_sql("occ AS (SELECT s.w1 AS w1, s.w2 AS w2 FROM bg)", "w1", "w2")


@query("corpus_bigram_lm_kn", oracle=_KN_ORACLE)
def corpus_bigram_lm_kn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram LM over exact words: the top-30
    bigrams by raw count with their KN-smoothed probability in exact
    integer micro-units. One corpus tokenize -> one (w1,w2) groupBy;
    every LM statistic after that lives on the aggregated pairs frame
    (two windows + one broadcast scalar total), so the corpus is read
    once and shuffled once — the count shuffle any bigram LM needs.
    At 100 TB the word type counts outgrow the int64 guards by design;
    the bucketed tiers below are the production shape and this one is
    their cross-engine oracle twin."""
    docs = load_table(spark, sf_dir, "documents")
    return _kn_top(ccnet.bigram_occurrences(docs).select("w1", "w2"), "w1", "w2")


_KN3_ORACLE = f"""
    WITH {ccnet.TOKS_SQL}, {knlm.TRIGRAM_SQL}
    SELECT * FROM kn3
    ORDER BY tri_cnt DESC, w1, w2, w3
    LIMIT {_KN_TOP}
    """


@query("corpus_trigram_lm_kn", oracle=_KN3_ORACLE)
def corpus_trigram_lm_kn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigram interpolated Kneser-Ney: the full KN recursion — raw
    counts at the top order, continuation counts below, staged
    bottom-up in exact integer micro-units (operators/knlm.py)."""
    docs = load_table(spark, sf_dir, "documents", parallel=True)
    return (
        knlm.trigram_stats(docs)
        .orderBy(F.desc("tri_cnt"), "w1", "w2", "w3")
        .limit(_KN_TOP)
    )


_KNB_ORACLE = _kn_top_sql(f"{knlm.BOCC_SQL}, occ AS (SELECT b1, b2 FROM bocc)", "b1", "b2")


@query("corpus_bigram_lm_kn_bucketed", oracle=_KNB_ORACLE)
def corpus_bigram_lm_kn_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed-vocabulary KN tier: the exact tier's staged program over
    2^20 md5 word buckets — N1+ stats structurally int64-safe at any
    corpus size, and still fully oracle-paired (md5 bucketing has a
    bit-exact DuckDB twin)."""
    docs = load_table(spark, sf_dir, "documents", parallel=True)
    occ = knlm.bucket_occ(ccnet.bigram_occurrences(docs)).select("b1", "b2")
    return _kn_top(occ, "b1", "b2")


@query("corpus_bigram_lm_kn_fast")
def corpus_bigram_lm_kn_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """xxhash64 production tier of the bucketed KN LM — identical
    staged program, production hash (one 8-byte mix per word vs md5's
    full digest). Rows-only (xxhash64 has no DuckDB twin);
    corpus_bigram_lm_kn_agreement_gate is its oracle-paired quality
    check."""
    docs = load_table(spark, sf_dir, "documents")
    occ = knlm.bucket_occ(ccnet.bigram_occurrences(docs), ccnet.bucket_fast)
    return _kn_top(occ.select("b1", "b2"), "b1", "b2")


#: the gate compares the two bucketings' top-30 STATISTICS TUPLES as
#: multisets (bucket ids are hash-specific and meaningless across
#: hashes; the LM statistics are a function of the word PARTITION, so
#: wherever both hashes are injective on the observed vocabulary the
#: tuples coincide row-for-row). Measured agreement: 29/30 at sf0.001,
#: 28/30 at sf0.01 — the differing rows are exactly the birthday rate
#: a 2^20-bucket space implies at these vocab sizes (~V^2/2m colliding
#: word pairs; a collision inflates one hash's w1_cnt/n1p stats on any
#: top-30 row touching the collided word). Floor = 28, the measured
#: minimum (fixtures are deterministic, so the gate pins current
#: behavior exactly); a real regression — tokenizer drift, broken
#: stage arithmetic — shifts ALL 30 tuples and lands far below. The
#: floor is RELATIVE (n_rows - 2) so the gate stays meaningful on
#: corpora with fewer than 30 bigram types.
_KN_GATE_SLACK = 2

_KN_GATE_ORACLE = (
    f"SELECT CAST({_KN_TOP} AS BIGINT) AS n_rows, TRUE AS agree_ok"
)


@query("corpus_bigram_lm_kn_agreement_gate", oracle=_KN_GATE_ORACLE)
def corpus_bigram_lm_kn_agreement_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-structure-independence gate for the KN bucketed tiers: the
    md5 tier (oracle-paired) and the xxhash64 tier (production) must
    produce the same top-30 multiset of (pair_cnt, w1_cnt, n1p_b1,
    n1p_b2, pkn_micro) statistics tuples, >= n_rows - _KN_GATE_SLACK."""
    keys = ["pair_cnt", "w1_cnt", "n1p_b1", "n1p_b2", "pkn_micro"]
    a = (
        corpus_bigram_lm_kn_bucketed(spark, sf_dir)
        .groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("ca"))
    )
    b = (
        corpus_bigram_lm_kn_fast(spark, sf_dir)
        .groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("cb"))
    )
    return (
        a.join(b, keys, "full_outer")
        .agg(
            F.sum(F.coalesce(F.col("ca"), F.lit(0))).cast("long").alias("n_rows"),
            F.sum(
                F.least(
                    F.coalesce(F.col("ca"), F.lit(0)),
                    F.coalesce(F.col("cb"), F.lit(0)),
                )
            )
            .cast("long")
            .alias("n_agree"),
        )
        .select(
            "n_rows",
            (F.col("n_agree") >= F.col("n_rows") - _KN_GATE_SLACK).alias(
                "agree_ok"
            ),
        )
    )



_KNS_ORACLE = f"""
    WITH {ccnet.TOKS_SQL}, {knlm.BOCC_SQL}, lm_occ AS (
      SELECT lang, b1, b2 FROM bocc WHERE doc_id % 10 = 0
    ), occ AS (
      SELECT doc_id, lang, b1, b2 FROM bocc WHERE doc_id % 10 <> 0
    ), {knlm.LM_SCORED_SQL}
    SELECT * FROM scored ORDER BY doc_id
    """


@query("docs_ccnet_ppl_score_kn", oracle=_KNS_ORACLE)
def docs_ccnet_ppl_score_kn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language external-LM document scoring with interpolated KN
    smoothing — the add-one smoother of the llm_ops13 CCNet family
    upgraded to the one KenLM, and therefore CCNet, actually ships.
    doc_id % 10 == 0 builds the md5-bucketed LMs (Wenzek et al. 2020
    §3.3 split), the rest are scored map-side against them with ZERO
    LM-construction shuffle from the crawl; languages without an LM
    drop (CCNet semantics)."""
    docs = load_table(spark, sf_dir, "documents", parallel=True)
    occ = knlm.bucket_occ(ccnet.bigram_occurrences(docs))
    return knlm.lm_scored(
        occ.where(F.col("doc_id") % 10 == 0), occ.where(F.col("doc_id") % 10 != 0)
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# similarity_topk_matryoshka
# ---------------------------------------------------------------------------

_MRL_DIMS = 32  # coarse prefix length (of 64)
_MRL_FULL_DIM = 64  # full embedding width (the embeddings fixture)
_MRL_CAND = 100  # stage-1 candidates per query
_MRL_K = 10  # final top-k
_MRL_NQ = 5  # fixture query set: vec_id < 5 (the E2 convention)


def _mrl_frames(spark: SparkSession, sf_dir: str):
    emb = load_table(spark, sf_dir, "embeddings", parallel=True)
    queries = emb.filter(F.col("vec_id") < _MRL_NQ).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    candidates = emb.select(
        F.col("vec_id").alias("n_id"), F.col("embedding").alias("n_vec")
    )
    return queries, candidates


_MRL_ORACLE = f"""
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ), q AS (
      SELECT vec_id AS q_id, e AS qe, e[1:{_MRL_DIMS}] AS qc
      FROM v WHERE vec_id < {_MRL_NQ}
    ), c AS (
      SELECT vec_id AS n_id, e AS ne, e[1:{_MRL_DIMS}] AS nc FROM v
    ), coarse AS (
      SELECT q_id, n_id, qe, ne,
             ROUND(list_dot_product(qc, nc) /
                   (sqrt(list_dot_product(qc, qc))
                    * sqrt(list_dot_product(nc, nc))), 6) AS coarse_cosine
      FROM q JOIN c ON q_id <> n_id
    ), cand AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
               ORDER BY coarse_cosine DESC, n_id) AS crank
      FROM coarse
    ), fine AS (
      SELECT q_id, n_id, coarse_cosine,
             ROUND(list_dot_product(qe, ne) /
                   (sqrt(list_dot_product(qe, qe))
                    * sqrt(list_dot_product(ne, ne))), 6) AS cosine
      FROM cand WHERE crank <= {_MRL_CAND}
    ), ranked AS (
      SELECT q_id, n_id, coarse_cosine, cosine,
             CAST(ROW_NUMBER() OVER (PARTITION BY q_id
                  ORDER BY cosine DESC, n_id) AS BIGINT) AS rank
      FROM fine
    )
    SELECT q_id, n_id, coarse_cosine, cosine, rank
    FROM ranked WHERE rank <= {_MRL_K}
    ORDER BY q_id, rank
    """


@query("similarity_topk_matryoshka", oracle=_MRL_ORACLE)
def similarity_topk_matryoshka(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage Matryoshka retrieval (module comment): coarse cosine on
    the 32-dim prefix keeps 100 candidates per query; full-dim rescore
    ranks the final top-10. Queries broadcast; the corpus-wide pass
    computes 32-dim dots only, and the 64-dim dots run on |Q|*100 rows."""
    from etl_from_s3_to_postgresql_template_spark.functions.vectors import (
        as_double_vec,
        cosine_col,
        dot_col,
        norm_col,
    )

    queries, candidates = _mrl_frames(spark, sf_dir)
    # r13: hoist each side's 32-dim prefix slice AND its norm out of the
    # |Q|*N coarse pair loop — the old form re-sliced both vectors and
    # re-folded both norms per PAIR (five interpreted folds + two slices
    # per pair); now the corpus-wide pass pays one fold (the prefix dot)
    # per pair. Same expressions, same values — bit-identical cosines
    # (oracle hash-exact at all three SFs).
    q = queries.select(
        "q_id",
        "q_vec",
        F.slice(as_double_vec(F.col("q_vec")), 1, _MRL_DIMS).alias("_qc"),
    ).withColumn("_qcn", norm_col(F.col("_qc")))
    c = candidates.select(
        "n_id",
        "n_vec",
        F.slice(as_double_vec(F.col("n_vec")), 1, _MRL_DIMS).alias("_nc"),
    ).withColumn("_ncn", norm_col(F.col("_nc")))
    pairs = c.crossJoin(F.broadcast(q)).filter(F.col("q_id") != F.col("n_id"))
    coarse = pairs.select(
        "q_id",
        "n_id",
        "q_vec",
        "n_vec",
        F.round(
            dot_col(F.col("_qc"), F.col("_nc")) / (F.col("_qcn") * F.col("_ncn")),
            6,
        ).alias("coarse_cosine"),
    )
    wc = W.partitionBy("q_id").orderBy(F.desc("coarse_cosine"), F.col("n_id"))
    cand = coarse.withColumn("crank", F.row_number().over(wc)).filter(
        F.col("crank") <= _MRL_CAND
    )
    fine = cand.select(
        "q_id",
        "n_id",
        "coarse_cosine",
        F.round(
            cosine_col(as_double_vec(F.col("q_vec")), as_double_vec(F.col("n_vec"))),
            6,
        ).alias("cosine"),
    )
    wf = W.partitionBy("q_id").orderBy(F.desc("cosine"), F.col("n_id"))
    return (
        fine.withColumn("rank", F.row_number().over(wf).cast("long"))
        .filter(F.col("rank") <= _MRL_K)
        .select("q_id", "n_id", "coarse_cosine", "cosine", "rank")
        .orderBy("q_id", "rank")
    )


#: recall floor: measured recall@10 vs brute force is 0.86 (sf0.001) /
#: 0.88 (sf0.01). The fixture vectors are i.i.d. random — the WORST
#: case for prefix retrieval, since unlike trained Matryoshka
#: embeddings no signal concentrates in the leading dims; a 32-of-64
#: prefix then carries half the inner-product information and the
#: measured band is the information-theoretic neighborhood, not a tier
#: defect. Floored at 0.8 — inside one candidate-boundary swap (0.02)
#: of the band, and a slicing/rescore regression (wrong prefix, missing
#: rescore) measures <= 0.70 here, well below it.
_MRL_FLOOR = 0.8

_MRL_GATE_ORACLE = (
    f"SELECT CAST({_MRL_NQ} AS BIGINT) AS n_queries, TRUE AS recall_ok"
)


@query("similarity_matryoshka_recall_gate", oracle=_MRL_GATE_ORACLE)
def similarity_matryoshka_recall_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the two-stage Matryoshka tier against the exact
    brute-force ranking, reduced to one deterministic row (the llm_ops3
    recall-gate shape, re-declared per the new-module policy). Both
    tiers are |Q|*k frames at the join, so the gate costs the tiers."""
    from etl_from_s3_to_postgresql_template_spark.operators.similarity import (
        brute_force_topk,
    )

    queries, candidates = _mrl_frames(spark, sf_dir)
    exact = brute_force_topk(queries, candidates, k=_MRL_K)
    approx = similarity_topk_matryoshka(spark, sf_dir)
    hits = (
        exact.select("q_id", "n_id")
        .join(
            approx.select("q_id", "n_id").withColumn("__hit", F.lit(1)),
            ["q_id", "n_id"],
            "left",
        )
        .groupBy("q_id")
        .agg((F.sum("__hit") / F.count(F.lit(1))).alias("recall"))
    )
    return hits.agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        (
            F.avg(F.coalesce(F.col("recall"), F.lit(0.0))) >= F.lit(_MRL_FLOOR)
        ).alias("recall_ok"),
    )


# ---------------------------------------------------------------------------
# corpus_unigram_lm_em — the SentencePiece-unigram trainer step
# ---------------------------------------------------------------------------
# The second real-world tokenizer-training algorithm (Kudo 2018),
# completing the family next to BPE (operators/bpe.py): one
# distributed EM iteration over the segmentation lattice
# (operators/unigram.py — forward-backward per distinct word against
# the broadcast seed inventory, expected counts emitted in integer
# micro in-kernel so aggregation is exact int64). Iterative float
# lattice algebra has no SQL twin, so the step is rows-only; the gate
# pins the two properties EM guarantees and the micro discipline
# preserves: one step cannot DECREASE the corpus log-likelihood, and
# the re-estimated distribution stays normalized to within one micro
# per piece. The pure-Python reference equality test (pytest) pins the
# lattice itself.


def _unigram_frames(spark: SparkSession, sf_dir: str):
    from etl_from_s3_to_postgresql_template_spark.operators.bpe import (
        word_frequencies,
    )
    from etl_from_s3_to_postgresql_template_spark.operators.unigram import (
        em_step,
        seed_pieces,
    )

    docs = load_table(spark, sf_dir, "documents")
    wf = word_frequencies(docs, max_vocab=100_000)
    pieces, total = seed_pieces(wf)
    piece_frame, ll_frame = em_step(wf, pieces, total)
    return wf, piece_frame, ll_frame


@query("corpus_unigram_lm_em")
def corpus_unigram_lm_em(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One unigram-LM EM iteration (section comment): the top-30 pieces
    by re-estimated probability with their seed counts, seed
    probabilities, and aggregated expected counts."""
    _, piece_frame, _ = _unigram_frames(spark, sf_dir)
    return (
        piece_frame.select(
            "piece", "cnt0", "prob0_micro", "e_micro", "prob1_micro"
        )
        .orderBy(F.desc("prob1_micro"), "piece")
        .limit(30)
    )


_UNIGRAM_GATE_ORACLE = "SELECT TRUE AS ll_improved, TRUE AS norm_ok"


@query("corpus_unigram_em_gate", oracle=_UNIGRAM_GATE_ORACLE)
def corpus_unigram_em_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-paired EM-step gate (section comment): corpus
    log-likelihood is non-decreasing across the step (integer micro,
    freq-weighted ln Z per word) and the re-estimated probabilities
    sum to 1e6 within one micro per piece."""
    _, piece_frame, ll_frame = _unigram_frames(spark, sf_dir)
    norm = piece_frame.agg(
        F.sum("prob1_micro").cast("long").alias("s"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    return ll_frame.crossJoin(F.broadcast(norm)).select(
        (F.col("ll1_micro") >= F.col("ll0_micro")).alias("ll_improved"),
        (F.abs(F.col("s") - 1_000_000) <= F.col("n")).alias("norm_ok"),
    )


def _unigram_encoded(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_from_s3_to_postgresql_template_spark.operators.unigram import (
        viterbi_encode,
    )

    wf, piece_frame, _ = _unigram_frames(spark, sf_dir)
    probs1 = {
        r["piece"]: r["prob1_micro"] / 1e6
        for r in piece_frame.select("piece", "prob1_micro").collect()
        if r["prob1_micro"] > 0
    }
    return viterbi_encode(wf, probs1)


@query("corpus_unigram_encode")
def corpus_unigram_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Viterbi encoding of the vocabulary under the one-step-fitted
    unigram distribution (operators/unigram.py::viterbi_encode — the
    production ENCODE use of the artifact, symmetric with
    corpus_bpe_encode): the top-30 words by frequency with their best
    segmentation, piece count, and log-probability in micro."""
    return (
        _unigram_encoded(spark, sf_dir)
        .orderBy(F.desc("freq"), "word")
        .limit(30)
    )


_UNIGRAM_ENC_GATE_ORACLE = "SELECT TRUE AS coverage_ok, TRUE AS reconstruct_ok"


@query("corpus_unigram_encode_gate", oracle=_UNIGRAM_ENC_GATE_ORACLE)
def corpus_unigram_encode_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-paired encoder gate over the FULL vocabulary: every word
    encodes (single-char coverage makes Viterbi total — coverage_ok)
    and every segmentation concatenates back to its word verbatim
    (reconstruct_ok)."""
    enc = _unigram_encoded(spark, sf_dir)
    return enc.agg(
        F.coalesce(
            F.sum(F.col("pieces").isNull().cast("long")) == 0, F.lit(True)
        ).alias("coverage_ok"),
        F.coalesce(
            F.sum(
                (
                    F.concat_ws("", F.split(F.col("pieces"), " ")) != F.col("word")
                ).cast("long")
            )
            == 0,
            F.lit(True),
        ).alias("reconstruct_ok"),
    )


# ---------------------------------------------------------------------------
# streaming_bloom_paragraph_dedup — incremental ingest dedup (E1 x E5)
# ---------------------------------------------------------------------------
# The streaming form of the Bloom family: shards arrive over time, each
# micro-batch probes against the OR-merged filter state of every prior
# batch, then appends its own packed words table to the state
# (streaming/bloom_state.py — the docs_bloom_merge_shards associative
# primitive driven by Structured Streaming; no driver-side state).
# Rows-only (xxhash64 + streaming); the gate is the oracle-paired
# check: a Bloom filter has no false negatives, so every paragraph
# exactly duplicated from a STRICTLY-EARLIER doc_id shard must be
# flagged (n_missed = 0), with measured false positives among true
# non-duplicates under 5%. Within-batch duplicates are by-design
# unflagged (state updates after the probe) and the oracle counts
# prior-shard duplicates only, from the same doc_id ranges.


@query("streaming_bloom_paragraph_dedup")
def streaming_bloom_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental cross-batch Bloom paragraph dedup (section comment):
    one row per paragraph (doc_id, pos, dup) drained from the real
    Structured Streaming run (file source, one shard per trigger,
    AvailableNow)."""
    from etl_from_s3_to_postgresql_template_spark.streaming.bloom_state import (
        run_incremental_bloom_stream,
    )

    return run_incremental_bloom_stream(spark, sf_dir)


_SBLOOM_GATE_ORACLE = """
    WITH w AS (
      SELECT COALESCE(MAX(doc_id), 0) // 4 + 1 AS width FROM documents
    ), pars AS (
      SELECT doc_id, doc_id // (SELECT width FROM w) AS shard, TRIM(p) AS par
      FROM (SELECT doc_id, UNNEST(string_split(COALESCE(text, ''), chr(10))) AS p
            FROM documents)
      WHERE TRIM(p) <> ''
    ), firsts AS (
      SELECT par, MIN(shard) AS first_shard FROM pars GROUP BY par
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_paragraphs,
           CAST(COALESCE(SUM(CASE WHEN f.first_shard < p.shard THEN 1 ELSE 0 END), 0)
             AS BIGINT) AS n_true_prior_dup,
           CAST(0 AS BIGINT) AS n_missed,
           TRUE AS fp_ok
    FROM pars p JOIN firsts f USING (par)
    """


@query("streaming_bloom_dedup_gate", oracle=_SBLOOM_GATE_ORACLE)
def streaming_bloom_dedup_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-paired gate for the streaming Bloom tier: join the
    drained streaming flags with the exact prior-shard duplicate truth
    (recomputed batch-side from the same doc_id ranges) — no false
    negatives, false positives under 5%."""
    from etl_from_s3_to_postgresql_template_spark.sources.registry import load_table
    from etl_from_s3_to_postgresql_template_spark.streaming.bloom_state import (
        run_incremental_bloom_stream,
        shard_width,
    )

    docs = load_table(spark, sf_dir, "documents")
    width = shard_width(spark, docs.select("doc_id", "text"))
    text = F.coalesce(F.col("text"), F.lit(""))
    pars = (
        docs.select(
            "doc_id", F.posexplode(F.split(text, "\n", -1)).alias("pos", "raw")
        )
        .select(
            "doc_id",
            "pos",
            (F.col("doc_id") / width).cast("long").alias("shard"),
            F.trim(F.col("raw")).alias("par"),
        )
        .where(F.col("par") != "")
        .transform(shared_subtree)  # feeds the firsts agg AND the join
    )
    firsts = pars.groupBy("par").agg(F.min("shard").alias("first_shard"))
    truth = pars.join(firsts, "par").select(
        "doc_id", "pos", (F.col("first_shard") < F.col("shard")).alias("is_dup")
    )
    flags = run_incremental_bloom_stream(spark, sf_dir)
    j = truth.join(flags, ["doc_id", "pos"])
    return j.agg(
        F.count(F.lit(1)).cast("long").alias("n_paragraphs"),
        F.coalesce(F.sum(F.col("is_dup").cast("long")), F.lit(0))
        .cast("long")
        .alias("n_true_prior_dup"),
        F.coalesce(F.sum((F.col("is_dup") & ~F.col("dup")).cast("long")), F.lit(0))
        .cast("long")
        .alias("n_missed"),
        F.coalesce(
            F.sum((F.col("dup") & ~F.col("is_dup")).cast("long")) * 20
            <= F.sum((~F.col("is_dup")).cast("long")),
            F.lit(True),
        ).alias("fp_ok"),
    )


# ---------------------------------------------------------------------------
# docs_quality_domain_cut
# ---------------------------------------------------------------------------

#: classifier hyperparameters — the docs_quality_classifier model
#: (llm_ops7), re-declared per the new-module policy.
_DQC_BUCKETS = 2001
_DQC_BIAS = -0.02

_DQC_ORACLE = rf"""
    WITH t AS (
      SELECT doc_id, COALESCE(source, '') AS source,
             list_filter(string_split_regex(lower(trim(COALESCE(text, ''))),
                         '\s+'), x -> x <> '') AS toks
      FROM documents
    ), m AS (
      SELECT doc_id, source,
             CASE WHEN len(toks) = 0 THEN NULL
                  ELSE {_DQC_BIAS} + list_reduce(list_transform(toks, tok ->
                       ((('0x' || substr(md5(tok), 1, 8))::BIGINT
                         % {_DQC_BUCKETS}) - {(_DQC_BUCKETS - 1) // 2})
                       / {(_DQC_BUCKETS - 1) // 2}.0),
                       (acc, x) -> acc + x) / len(toks)
             END AS margin
      FROM t
    ), s AS (
      SELECT doc_id, source,
             CAST(round(ROUND(margin, 4) * 10000) AS BIGINT) AS score_tk
      FROM m
    ), hist AS (
      SELECT source, score_tk, CAST(COUNT(*) AS BIGINT) AS c
      FROM s WHERE score_tk IS NOT NULL GROUP BY 1, 2
    ), cum AS (
      SELECT source, score_tk,
             CAST(SUM(c) OVER (PARTITION BY source ORDER BY score_tk DESC)
                  AS BIGINT) AS cum,
             CAST(SUM(c) OVER (PARTITION BY source) AS BIGINT) AS n
      FROM hist
    ), cuts AS (
      SELECT source,
             MAX(CASE WHEN cum >= (n + 1) // 2 THEN score_tk END) AS cut_tk
      FROM cum GROUP BY source
    )
    SELECT s.doc_id, s.source, s.score_tk, c.cut_tk,
           COALESCE(s.score_tk >= c.cut_tk, FALSE) AS kept
    FROM s LEFT JOIN cuts c USING (source)
    ORDER BY s.doc_id
    """


@query("docs_quality_domain_cut", oracle=_DQC_ORACLE)
def docs_quality_domain_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain quality median cut (module comment): hashed-classifier
    margin in 1e4 units, per-source median from the score HISTOGRAM
    (cumulative window on the bounded histogram, never the doc stream),
    kept iff the doc reaches its own domain's median. One text pass,
    one histogram shuffle, one broadcast of the per-domain cuts."""
    from etl_from_s3_to_postgresql_template_spark.functions.text import (
        hashed_margin_col,
    )

    docs = load_table(spark, sf_dir, "documents")
    margin = hashed_margin_col("text", _DQC_BUCKETS, _DQC_BIAS)
    base = docs.select(
        "doc_id",
        F.coalesce(F.col("source"), F.lit("")).alias("source"),
        F.round(F.round(margin, 4) * 10000).cast("long").alias("score_tk"),
    )
    hist = (
        base.where(F.col("score_tk").isNotNull())
        .groupBy("source", "score_tk")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    cum = hist.select(
        "source",
        "score_tk",
        F.sum("c")
        .over(W.partitionBy("source").orderBy(F.desc("score_tk")))
        .cast("long")
        .alias("cum"),
        F.sum("c").over(W.partitionBy("source")).cast("long").alias("n"),
    )
    cuts = cum.groupBy("source").agg(
        F.max(F.when(F.expr("cum >= (n + 1) div 2"), F.col("score_tk"))).alias(
            "cut_tk"
        )
    )
    return (
        base.join(F.broadcast(cuts), "source", "left")
        .select(
            "doc_id",
            "source",
            "score_tk",
            "cut_tk",
            F.coalesce(F.col("score_tk") >= F.col("cut_tk"), F.lit(False)).alias(
                "kept"
            ),
        )
        .orderBy("doc_id")
    )
