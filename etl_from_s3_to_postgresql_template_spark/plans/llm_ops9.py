"""Round-9 north-star addition: DSIR-style data selection (Xie et al.
2023, "Data Selection for Language Models via Importance Resampling") —
the remaining white space in the LLM-pipeline surface (VERDICT r8 item 5):
choosing WHICH raw documents to train on so the selected subset's
distribution matches a target domain.

Three oracle-paired entries compose the pipeline:

1. ``dsir_importance_weights`` — hashed n-gram bag-of-features importance
   weights: unigrams + adjacent bigrams hash into ``_DSIR_B`` buckets;
   a target model p (docs with ``lang = 'en'``, the target domain) and a
   raw model q (the whole pool) are Laplace-smoothed bucket multinomials;
   each doc scores ``log w(x) = sum_f [log p(b(f)) - log q(b(f))]`` over
   its feature OCCURRENCES — the paper's bag-of-hashed-ngrams importance
   estimator.
2. ``dsir_select_topk`` — the deterministic top-k selection variant
   (take the k highest-weight docs).
3. ``dsir_resample_gumbel`` — the paper's importance RESAMPLING, made
   deterministic: Gumbel-top-k with the Gumbel noise derived from an
   md5 content hash of the doc_id (u = (h+1)/(2^32+1), g = -ln(-ln(u))),
   so the sample is reproducible and oracle-checkable while remaining a
   faithful draw from the importance distribution.

Exact-arithmetic discipline (the thing that makes all three hash-exact
cross-engine rather than tolerance-compared): every per-bucket log ratio
is quantized ONCE to integer micro-units — ``lam_micro(b) = floor(1e6 *
(ln(cp_b + 1) - ln(cq_b + 1)) + 0.5)`` — and everything downstream (the
per-doc sum ``sum_b c_b * lam_micro_b``, the volume-shift term, the
Gumbel keys, the top-k ordering) is pure int64 arithmetic. Doubles and
libm ln appear only in the <= 4097 bucket-table cells and one hash-u
Gumbel per doc, each consumed through the same floor(x*1e6 + 0.5)
quantizer on both engines; per-doc scores never accumulate floats, so
summation ORDER cannot flip a value and selection ties break on exact
integers + doc_id. (Same boundary-risk profile as the PCA gate's
micro-unit trace, orders of magnitude tighter than a ROUND(sum, 4).)

Scale stance: TWO tokenize+explode passes over the corpus — a fit pass
(groupBy bucket: map-side combine to <= 4096 rows per task) and a score
pass (broadcast the fitted lambda table, groupBy doc_id: map-side
combine to one row per doc per task); selection is TakeOrdered (no
global sort materializes). The feature stream itself NEVER shuffles.
The single-pass alternative — materializing per-doc bucket counts as a
shared sufficient statistic — was built first and measured WORSE at
500k docs (73 s for its groupBy alone): at ~190 tokens/doc almost every
(doc, bucket) pair is unique, so that shuffle moves the whole feature
stream to combine ~nothing (SCALING.md r9). Two scans + near-zero
shuffle is the 100 TB-correct trade.

Reference scope note: the reference pipeline (etl_pipeline.py ~430) has
no selection machinery at all — this is north-star surface, the
training-data analogue of its date-based file filter (etl_pipeline.py
43-76): choose the slice of raw data worth loading.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from etl_from_s3_to_postgresql_template_spark.functions.text import WS
from etl_from_s3_to_postgresql_template_spark.plans.registry import query
from etl_from_s3_to_postgresql_template_spark.sources.registry import load_table
from etl_from_s3_to_postgresql_template_spark.util import shared_subtree

__all__ = [
    "dsir_importance_weights",
    "dsir_select_topk",
    "dsir_resample_gumbel",
    "scan_arrow_dataset_pushdown",
    "docs_decontaminate_ngram",
]

_DSIR_B = 4096        # hashed feature buckets (paper: 10k; fixture-sized here)
_DSIR_TARGET = "en"   # target-domain predicate: lang = 'en'
_DSIR_K = 64          # selection size for the top-k / resample entries

# Shared oracle CTE: per-doc (n_feats, logw_micro) for EVERY doc.
# cp <= cq always (target is a subset of the pool), so lam <= 0 and the
# floor(x + 0.5) half-up quantizer is applied identically on both sides.
_DSIR_WEIGHTS_CTE = rf"""
    t AS (
      SELECT doc_id, lang,
             list_filter(string_split_regex(lower(trim(text)), '{WS}'),
                         x -> x <> '') AS toks
      FROM documents
    ), f AS (
      SELECT doc_id, lang,
             UNNEST(toks || list_transform(range(1, len(toks)),
                                           i -> toks[i] || ' ' || toks[i + 1]))
               AS feat
      FROM t
    ), dc AS (
      SELECT doc_id, lang,
             ('0x' || substr(md5(feat), 1, 8))::BIGINT % {_DSIR_B} AS b,
             COUNT(*) AS c
      FROM f GROUP BY 1, 2, 3
    ), bc AS (
      SELECT b, COALESCE(SUM(c) FILTER (WHERE lang = '{_DSIR_TARGET}'), 0) AS cp,
             SUM(c) AS cq
      FROM dc GROUP BY b
    ), lam AS (
      SELECT b, CAST(floor((ln(cp + 1) - ln(cq + 1)) * 1e6 + 0.5) AS BIGINT) AS lam
      FROM bc
    ), tot AS (
      SELECT CAST(floor((ln(SUM(cq) + {_DSIR_B}) - ln(SUM(cp) + {_DSIR_B}))
                  * 1e6 + 0.5) AS BIGINT) AS shift
      FROM bc
    ), sc AS (
      SELECT doc_id, SUM(c * lam) AS s, SUM(c) AS nf
      FROM dc JOIN lam USING (b) GROUP BY doc_id
    ), wts AS (
      SELECT t.doc_id,
             CAST(COALESCE(nf, 0) AS BIGINT) AS n_feats,
             CAST(COALESCE(s + nf * tot.shift, 0) AS BIGINT) AS logw_micro
      FROM t LEFT JOIN sc USING (doc_id) CROSS JOIN tot
    )
    """

_DSIR_WEIGHTS_ORACLE = f"""
    WITH {_DSIR_WEIGHTS_CTE}
    SELECT doc_id, n_feats, logw_micro FROM wts ORDER BY doc_id
    """


def _dsir_weights_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc (doc_id, n_feats, logw_micro) — the shared DSIR core."""
    docs = load_table(spark, sf_dir, "documents", parallel=True)
    base = docs.select("doc_id", "lang", F.lower(F.trim("text")).alias("norm"))
    toks = base.where(F.length("norm") > 0).select(
        "doc_id", "lang", F.split("norm", r"\s+").alias("t")
    )
    n = F.size("t")
    # unigram + adjacent-bigram features from ONE tokenize pass: zip each
    # token with its successor (arrays_zip — built-in, codegen; the
    # zip_with lambda form runs interpreted, r8 HOF sweep), explode, then
    # emit the token and (when a successor exists) the "w next" bigram
    z = F.arrays_zip(
        F.col("t").alias("w"),
        F.concat(
            F.slice("t", 2, n - 1), F.array(F.lit(None).cast("string"))
        ).alias("nx"),
    )
    feats = (
        toks.select("doc_id", "lang", F.explode(z).alias("s"))
        .select(
            "doc_id",
            "lang",
            F.explode(
                F.array(
                    F.col("s.w"),
                    F.when(
                        F.col("s.nx").isNotNull(),
                        F.concat(F.col("s.w"), F.lit(" "), F.col("s.nx")),
                    ),
                )
            ).alias("feat"),
        )
        .where(F.col("feat").isNotNull())
    )
    bucket = (
        F.conv(F.substring(F.md5("feat"), 1, 8), 16, 10).cast("long") % _DSIR_B
    )
    # Two-pass shape, chosen on measurement (500k-doc decomposition,
    # SCALING.md r9): the "obvious" shared sufficient statistic — per-doc
    # bucket counts, checkpointed for the fit and the score — is a trap
    # on real text: at ~190 tokens/doc nearly every (doc, bucket) pair is
    # unique (combine factor ~1.15), so its groupBy shuffles the ENTIRE
    # feature stream for nothing (measured 73 s at 500k docs, hidden in
    # the checkpoint's warmup). Evaluating feats twice instead costs one
    # extra tokenize+md5 scan (~14 s) and keeps BOTH aggregations
    # map-side-combining with tiny shuffles: the fit emits <= 4096 rows
    # per task, the score one row per doc per task. At 100 TB this is
    # two corpus scans and near-zero shuffle — the plan you'd want.
    fb = feats.select("doc_id", "lang", bucket.alias("b"))
    # the fit result is <= 4096 rows but its subtree is a full corpus
    # scan — materialize it once (lazy checkpoint) so its three readers
    # (lam, the Np/Nq totals, and nothing else) don't re-scan the corpus
    bc = (
        fb.groupBy("b")
        .agg(
            F.count(F.when(F.col("lang") == _DSIR_TARGET, F.lit(1))).alias("cp"),
            F.count(F.lit(1)).alias("cq"),
        )
        .transform(shared_subtree)
    )
    lam = bc.select(
        "b",
        F.floor((F.log(F.col("cp") + 1) - F.log(F.col("cq") + 1)) * 1e6 + 0.5)
        .cast("long")
        .alias("lam"),
    )
    tot = bc.agg(
        F.floor(
            (F.log(F.sum("cq") + _DSIR_B) - F.log(F.sum("cp") + _DSIR_B)) * 1e6
            + 0.5
        )
        .cast("long")
        .alias("shift")
    )
    # Score pass (r12): the OUTER-exploded twin of `feats` — exactly one
    # all-null feature row survives for a doc with no features (empty or
    # null text), so the per-doc aggregate covers EVERY doc and the old
    # corpus-scale re-attach (a doc_id sort-merge join + a third
    # documents scan) disappears: 2 exchanges + 2 sorts out of the plan.
    # lam covers every bucket the fit observed (the fit runs over the
    # same corpus), so the now-LEFT join hits on every non-null feature
    # — identical sums — while null features fall through with a null
    # lam/feat that the null-skipping aggregates ignore.
    to = base.select(
        "doc_id", F.when(F.length("norm") > 0, F.split("norm", r"\s+")).alias("t")
    )
    feats_o = (
        to.select("doc_id", F.explode_outer(z).alias("s"))
        .select(
            "doc_id",
            F.explode_outer(
                F.array(
                    F.col("s.w"),
                    F.when(
                        F.col("s.nx").isNotNull(),
                        F.concat(F.col("s.w"), F.lit(" "), F.col("s.nx")),
                    ),
                )
            ).alias("feat"),
        )
    )
    sc = (
        feats_o.select("doc_id", "feat", bucket.alias("b"))
        .join(F.broadcast(lam), "b", "left")
        .groupBy("doc_id")
        .agg(
            F.sum("lam").alias("s"),
            F.count("feat").alias("nf"),
        )
    )
    return sc.crossJoin(F.broadcast(tot)).select(
        "doc_id",
        F.col("nf").cast("long").alias("n_feats"),
        F.coalesce(F.col("s") + F.col("nf") * F.col("shift"), F.lit(0))
        .cast("long")
        .alias("logw_micro"),
    )


@query("dsir_importance_weights", oracle=_DSIR_WEIGHTS_ORACLE)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document DSIR importance weight in exact integer micro-units
    (module docstring): ``logw_micro = sum_b c_b * lam_micro_b +
    n_feats * shift_micro`` with ``lam_micro_b = floor(1e6 * (ln(cp_b+1)
    - ln(cq_b+1)) + 0.5)`` and ``shift_micro = floor(1e6 * (ln(Nq+B) -
    ln(Np+B)) + 0.5)`` — the Laplace-smoothed hashed-bigram
    log-likelihood ratio, quantized per BUCKET so per-doc aggregation is
    order-free int64 arithmetic. A doc with no features (empty text) has
    weight 0 (the empty product). Higher = more target-like."""
    return _dsir_weights_df(spark, sf_dir).orderBy("doc_id")


_DSIR_TOPK_ORACLE = f"""
    WITH {_DSIR_WEIGHTS_CTE}
    SELECT CAST(row_number() OVER (ORDER BY logw_micro DESC, doc_id) AS BIGINT)
             AS rank,
           doc_id, logw_micro
    FROM wts ORDER BY logw_micro DESC, doc_id LIMIT {_DSIR_K}
    """


@query("dsir_select_topk", oracle=_DSIR_TOPK_ORACLE)
def dsir_select_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic DSIR selection: the {k} highest-importance docs,
    ties broken by doc_id — exact integer ordering, so the selected SET
    is engine-independent. orderBy + limit compiles to TakeOrdered
    (per-partition top-k then a k-row driver merge; no global sort, no
    single-partition window over the corpus); the k-row result then
    ranks locally."""
    wts = _dsir_weights_df(spark, sf_dir)
    top = wts.orderBy(F.desc("logw_micro"), "doc_id").limit(_DSIR_K)
    rank = F.row_number().over(W.orderBy(F.desc("logw_micro"), "doc_id"))
    return top.select(
        rank.cast("long").alias("rank"), "doc_id", "logw_micro"
    ).orderBy("rank")


_DSIR_GUMBEL_ORACLE = f"""
    WITH {_DSIR_WEIGHTS_CTE},
    keyed AS (
      SELECT doc_id, logw_micro,
             logw_micro + CAST(floor(-ln(-ln(
                 (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                  + 1) / 4294967297.0)) * 1e6 + 0.5) AS BIGINT) AS key_micro
      FROM wts
    )
    SELECT doc_id, logw_micro, key_micro
    FROM keyed ORDER BY key_micro DESC, doc_id LIMIT {_DSIR_K}
    """


@query("dsir_resample_gumbel", oracle=_DSIR_GUMBEL_ORACLE)
def dsir_resample_gumbel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance RESAMPLING via deterministic Gumbel-top-k: taking
    the k largest ``log w_i + g_i`` draws k docs without replacement with
    probability proportional to w_i (the Gumbel-max trick; the shared
    normalizer shifts every key equally, so unnormalized log-weights
    suffice). The noise is derived, not random: u_i = (h_i + 1) /
    (2^32 + 1) from the md5 prefix of the doc_id — u in (0,1) by
    construction, one exact IEEE division — then g = -ln(-ln(u)),
    quantized with the same floor(x*1e6 + 0.5) as the bucket table so
    keys stay exact int64. Reproducible, seedable (swap the hashed
    string), and oracle-checkable — the paper's sampler made
    deterministic."""
    wts = _dsir_weights_df(spark, sf_dir)
    h = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    u = (h + 1).cast("double") / F.lit(4294967297.0)
    g = F.floor(-F.log(-F.log(u)) * 1e6 + 0.5).cast("long")
    return (
        wts.select(
            "doc_id",
            "logw_micro",
            (F.col("logw_micro") + g).alias("key_micro"),
        )
        .orderBy(F.desc("key_micro"), "doc_id")
        .limit(_DSIR_K)
    )


# ---------------------------------------------------------------------------
# scan_arrow_dataset_pushdown — the pyarrow-dataset integration rung
# ---------------------------------------------------------------------------

_ARROW_SCAN_ORACLE = """
    SELECT doc_id, lang, n_chars
    FROM documents
    WHERE n_chars >= 200 AND lang = 'en'
    ORDER BY doc_id
    """


@query("scan_arrow_dataset_pushdown", oracle=_ARROW_SCAN_ORACLE)
def scan_arrow_dataset_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents scanned through the Arrow-native Python DataSource
    (sources/arrowds.py) with a WHERE clause Spark PUSHES into the
    pyarrow scanner via DataSourceReader.pushFilters (Spark 4.1): both
    predicates below decompose to GreaterThanOrEqual/EqualTo, translate
    to pyarrow.dataset expressions, and evaluate inside Arrow (row-group
    stats pruning + vectorized filter) — Spark re-applies only the
    residual (none here). Projection is pushed via the columns option
    (the Python DataSource API has no pruning callback — documented
    boundary, not a gap). The oracle reads the same parquet directly, so
    a pushdown bug that drops or duplicates rows is a hash mismatch."""
    from etl_from_s3_to_postgresql_template_spark.sources.arrowds import (
        ArrowParquetDataSource,
    )

    spark.dataSource.register(ArrowParquetDataSource)
    # runtime-settable gate for the 4.1 pushFilters API (defaults false);
    # set here, not in registry._REQUIRED_CONFS — that module is a
    # dependency of every plan and must stay fingerprint-stable
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    return (
        spark.read.format("arrowparquet")
        .option("path", f"{sf_dir}/documents.parquet")
        .option("columns", "doc_id,lang,n_chars")
        .load()
        .where((F.col("n_chars") >= 200) & (F.col("lang") == "en"))
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# docs_decontaminate_ngram — benchmark decontamination (round 9)
# ---------------------------------------------------------------------------
#
# The GPT-3/PaLM-style TEXTUAL decontamination pass, distinct from the
# embedding-based split_leakage family (llm_ops4): a training document is
# contaminated if it shares any length-L token n-gram with the held-out
# evaluation split. Here the holdout is the deterministic 1/8 doc_id-hash
# split (the corpus_pack_sequences bucket convention), so both engines
# agree on membership exactly; production swaps in the real benchmark
# corpus on the holdout leg with no plan change.
#
# Plan shape: holdout grams reduce to a DISTINCT gram-key set; train
# grams LEFT SEMI join it on the 64-bit gram hash (one linear gram-key
# shuffle — the holdout side is NOT broadcast: it grows with the corpus,
# so the strategy belongs to AQE); per-doc contaminated-gram counts are
# a count(distinct) over the semi-join survivors; every train doc comes
# back via a doc-level left join (clean docs report 0, FALSE). Spark
# keys grams by xxhash64, the oracle by md5 — same sets barring a 64-bit
# collision (the docs_exactsubstr_clean convention).

_DCN_N = 8      # gram length in tokens (the repo's repeated-spans convention)
_DCN_MOD = 8    # holdout = doc_id-hash % 8 == 0 (~1/8 of the corpus)

_DCN_ORACLE = rf"""
    WITH d AS (
      SELECT doc_id,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
               % {_DCN_MOD} = 0 AS is_holdout,
             list_filter(string_split_regex(trim(text), '{WS}'),
                         x -> x <> '') AS t
      FROM documents
    ), g AS (
      SELECT doc_id, is_holdout,
             md5(array_to_string(t[j:j+{_DCN_N - 1}], ' ')) AS gm
      FROM d, LATERAL (SELECT UNNEST(generate_series(1, len(t) - {_DCN_N - 1})) AS j)
      WHERE len(t) >= {_DCN_N}
    ), hold AS (
      SELECT DISTINCT gm FROM g WHERE is_holdout
    ), hits AS (
      SELECT g.doc_id, COUNT(DISTINCT g.gm) AS n_shared
      FROM g JOIN hold USING (gm)
      WHERE NOT g.is_holdout
      GROUP BY g.doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(n_shared, 0) AS BIGINT) AS n_contaminated_grams,
           COALESCE(n_shared, 0) > 0 AS contaminated
    FROM d LEFT JOIN hits USING (doc_id)
    WHERE NOT is_holdout
    ORDER BY doc_id
    """


@query("docs_decontaminate_ngram", oracle=_DCN_ORACLE)
def docs_decontaminate_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per TRAIN document: how many distinct {n}-token grams it shares
    with the holdout split, and the contaminated flag (any overlap —
    the GPT-3 appendix-C rule). Gram extraction is the anchored-
    lookahead regex (codegen, one pass); the only corpus-sized shuffle
    is the gram-key semi-join. Downstream training reads
    ``WHERE NOT contaminated``."""
    docs = load_table(spark, sf_dir, "documents")
    n = _DCN_N
    is_holdout = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % _DCN_MOD
        == 0
    )
    norm = F.trim(F.regexp_replace(F.col("text"), r"\s+", " "))
    base = docs.select("doc_id", is_holdout.alias("is_holdout"), norm.alias("norm"))
    pat = r"(?:^| )(?=(\S+" + r" \S+" * (n - 1) + r"))"
    grams = base.where(F.length("norm") > 0).select(
        "doc_id",
        "is_holdout",
        F.explode(F.regexp_extract_all(F.col("norm"), F.lit(pat), F.lit(1))).alias(
            "gs"
        ),
    ).select("doc_id", "is_holdout", F.xxhash64("gs").alias("gm"))
    hold = grams.where("is_holdout").select("gm").distinct()
    # Train pass (r12): OUTER-exploded gram stream — one null-gram row
    # survives per gram-less train doc, so the per-doc aggregate covers
    # EVERY train doc and the corpus-scale doc_id re-attach join (+ a
    # third documents scan) disappears. The semi-join becomes a left
    # join against the same distinct hold set (no row multiplication)
    # with the distinct-count conditioned on a match — identical counts.
    train_grams = base.where(~F.col("is_holdout")).select(
        "doc_id",
        F.explode_outer(
            F.when(
                F.length("norm") > 0,
                F.regexp_extract_all(F.col("norm"), F.lit(pat), F.lit(1)),
            )
        ).alias("gs"),
    ).select(
        "doc_id",
        # xxhash64(NULL) is a seed constant, not NULL — null out the
        # gram-less rows' key so they can never match the hold set
        F.when(F.col("gs").isNotNull(), F.xxhash64("gs")).alias("gm"),
    )
    hit_mark = hold.select("gm", F.lit(True).alias("_hit"))
    return (
        train_grams.join(hit_mark, "gm", "left")
        .groupBy("doc_id")
        .agg(
            F.count_distinct(F.when(F.col("_hit"), F.col("gm"))).alias("n_shared")
        )
        .select(
            "doc_id",
            F.col("n_shared").cast("long").alias("n_contaminated_grams"),
            (F.col("n_shared") > 0).alias("contaminated"),
        )
        .orderBy("doc_id")
    )
