"""CCNet perplexity scoring (Wenzek et al. 2020) — the one implementation
of the bigram-LM scorer behind the CCNet tiers of plans/llm_ops12,
llm_ops13 and llm_ops14, with the DuckDB oracle fragments that replay it.

Score: a Laplace-smoothed bigram LM's mean log-prob per document,
4-decimal rounded and lifted to an EXACT integer (x 1e4), so tercile
cutoffs are integers and every oracle-paired tier hash-exacts. The
hashed tiers fold the LM into two bucket tables (pair counts keyed by
bucket(w1 w2), w1 marginals keyed by bucket(w1), ``B`` buckets each):
both BOUNDED (~16 MB) and therefore BROADCAST, so the bigram stream is
scored map-side and never shuffles. md5 buckets (``bucket_md5``, with
its ``bucket_md5_sql`` twin) buy cross-engine exactness; xxhash64
(``bucket_fast``) is ~10x cheaper and rows-only.

Buckets: the (lang, score) HISTOGRAM aggregates first (bounded:
distinct 4-decimal scores), the descending cumulative runs on that
bounded frame, and two cut values per language broadcast back —
threshold semantics (every doc with score >= cut1 is head, ties
included), deterministic on both engines. No per-language sort of the
document stream at any scale.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl_from_s3_to_postgresql_template_spark.functions.text import WS
from etl_from_s3_to_postgresql_template_spark.util import shared_subtree

__all__ = [
    "B",
    "TOKS_SQL",
    "CUTS_SQL",
    "COIN_SQL",
    "bucket_md5",
    "bucket_md5_sql",
    "bucket_fast",
    "coin",
    "tokens",
    "bigrams",
    "bigram_occurrences",
    "bucketed_occ",
    "mean_lp",
    "lm_scored",
    "self_lm_buckets",
    "assign_buckets",
]

B = 1 << 20  # buckets per LM table

#: tokenize + bigram CTE chain ending at `bg(doc_id, lang, s{{w1,w2}})` —
#: the oracle twin of ``bigram_occurrences``
TOKS_SQL = rf"""t AS (
      SELECT doc_id, COALESCE(lang, '') AS lang,
             list_filter(string_split_regex(lower(trim(COALESCE(text, ''))),
                  '{WS}'), x -> x <> '') AS toks
      FROM documents
    ), bg AS (
      SELECT doc_id, lang,
             UNNEST(list_transform(range(len(toks) - 1),
                    i -> {{'w1': toks[i+1], 'w2': toks[i+2]}})) AS s
      FROM t WHERE len(toks) >= 2
    )"""

#: histogram -> threshold cutoffs -> bucket assignment over a
#: `scored(doc_id, lang, lp)` CTE — the oracle twin of ``assign_buckets``
CUTS_SQL = """hist AS (
      SELECT lang, lp, CAST(COUNT(*) AS BIGINT) AS c FROM scored GROUP BY 1, 2
    ), tot AS (
      SELECT lang, CAST(SUM(c) AS BIGINT) AS n FROM hist GROUP BY 1
    ), cum AS (
      SELECT h.lang, h.lp, t.n,
             CAST(SUM(h.c) OVER (PARTITION BY h.lang ORDER BY h.lp DESC)
                  AS BIGINT) AS cum
      FROM hist h JOIN tot t USING (lang)
    ), cuts AS (
      SELECT lang,
             MAX(CASE WHEN cum >= (n + 2) // 3 THEN lp END) AS cut1,
             MAX(CASE WHEN cum >= (2 * n + 2) // 3 THEN lp END) AS cut2
      FROM cum GROUP BY lang
    )
    SELECT s.doc_id, s.lang, s.lp,
           CASE WHEN s.lp >= c.cut1 THEN 'head'
                WHEN s.lp >= c.cut2 THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM scored s JOIN cuts c USING (lang)
    ORDER BY s.doc_id"""

#: deterministic 1-in-3 md5 coin on doc_id (the middle-bucket sample) —
#: the oracle twin of ``coin``
COIN_SQL = "('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 3 = 0"


def bucket_md5(col: Column) -> Column:
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long") % B


def bucket_md5_sql(expr: str) -> str:
    return f"('0x' || substr(md5({expr}), 1, 8))::BIGINT % {B}"


def bucket_fast(col: Column) -> Column:
    return F.xxhash64(col).bitwiseAND(F.lit(B - 1))


def coin() -> Column:
    return (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 3
        == 0
    )


def tokens(text: Column) -> Column:
    """lower(trim(text)) split on whitespace, empty tokens dropped, NULL
    text as '' — TOKS_SQL's `toks`."""
    tx = F.coalesce(text, F.lit(""))
    return F.filter(F.split(F.lower(F.trim(tx)), WS), lambda x: x != "")


def bigrams(t: Column) -> Column:
    """array<struct<w1, w2>> of the adjacent token pairs of ``t``."""
    n = F.size(t)
    return F.zip_with(
        F.slice(t, 1, n - 1),
        F.slice(t, 2, n - 1),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )


def bigram_occurrences(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, lang, w1, w2) — one row per bigram OCCURRENCE of the
    given text column, the Spark twin of TOKS_SQL's `bg` (funnel stages
    score CLEANED text; the LM side tokenizes raw text — same
    expression, different column)."""
    toks = df.select(
        "doc_id",
        F.coalesce(F.col("lang"), F.lit("")).alias("lang"),
        tokens(F.col(text_col)).alias("t"),
    ).where(F.size("t") >= 2)
    return toks.select("doc_id", "lang", F.explode(bigrams(F.col("t"))).alias("s")).select(
        "doc_id", "lang", F.col("s.w1").alias("w1"), F.col("s.w2").alias("w2")
    )


def bucketed_occ(occ: DataFrame, bucket: Callable[[Column], Column] = bucket_md5) -> DataFrame:
    """(doc_id, lang, b12, b1): the occurrence frame's LM table keys."""
    return occ.select(
        "doc_id",
        "lang",
        bucket(F.concat(F.col("w1"), F.lit(" "), F.col("w2"))).alias("b12"),
        bucket(F.col("w1")).alias("b1"),
    )


def mean_lp(logp: Column) -> Column:
    """Per-group mean of the natural-log probabilities ``logp``,
    4-decimal rounded and lifted to an exact integer (x 1e4). The sum
    accumulates in decimal: exact and order-free (the llm_ops2
    convention)."""
    avg = F.round(F.sum(logp.cast("decimal(38,15)")).cast("double") / F.count(F.lit(1)), 4)
    return F.round(avg * 10000).cast("long")


def lm_scored(
    lm_occ: DataFrame, occ: DataFrame, per_lang: bool = False, external: bool = False
) -> DataFrame:
    """(doc_id, lang, lp): score the bucketed ``occ`` stream against the
    hashed LM built from the bucketed ``lm_occ`` — both bucket tables
    bounded and broadcast, ``occ`` scored map-side.

    - ``per_lang``: one LM per language (Wenzek et al. 2020 §3.3) — the
      tables are keyed by (lang, bucket), still bounded; documents whose
      language has no LM are not scored (inner join on the per-lang
      vocab).
    - ``external``: ``lm_occ`` is a reference corpus, not the scored
      stream itself, so bigrams absent from the LM back off to add-one
      smoothing over the bucket vocabulary (left joins + COALESCE(0)).
    """
    keys = ["lang"] if per_lang else []
    # ONE pass builds BOTH bucket tables (r12): lm12, lm1 and vocab each
    # consuming lm_occ directly re-ran the tokenize+explode+hash chain
    # once per table. Exploding each occurrence into its two (table,
    # bucket) keys keeps the counts byte-identical, partial aggregation
    # still collapses to <= 2*B rows per task before the exchange, and
    # the bounded result is lazily checkpointed so its three readers
    # share the single pass.
    kb = lm_occ.select(
        *keys,
        F.explode(
            F.array(
                F.struct(F.lit(0).alias("k"), F.col("b12").alias("b")),
                F.struct(F.lit(1).alias("k"), F.col("b1").alias("b")),
            )
        ).alias("kb"),
    ).select(*keys, "kb.k", "kb.b")
    lm = (
        kb.groupBy(*keys, "k", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .transform(shared_subtree)
    )
    lm12 = lm.where(F.col("k") == 0).select(
        *keys, F.col("b").alias("b12"), F.col("c").alias("pair_cnt")
    )
    lm1 = lm.where(F.col("k") == 1).select(
        *keys, F.col("b").alias("b1"), F.col("c").alias("w1_cnt")
    )
    vocab = lm1.groupBy(*keys).agg(F.count(F.lit(1)).cast("double").alias("v"))
    pair_cnt, w1_cnt = F.col("pair_cnt"), F.col("w1_cnt")
    if external:
        pair_cnt, w1_cnt = F.coalesce(pair_cnt, F.lit(0)), F.coalesce(w1_cnt, F.lit(0))
    how = "left" if external else "inner"
    joined = occ.join(F.broadcast(lm12), [*keys, "b12"], how).join(
        F.broadcast(lm1), [*keys, "b1"], how
    )
    if per_lang:
        joined = joined.join(F.broadcast(vocab), keys)
    else:
        joined = joined.crossJoin(F.broadcast(vocab))
    return joined.groupBy("doc_id", "lang").agg(
        mean_lp(F.log((pair_cnt + 1.0) / (w1_cnt + F.col("v")))).alias("lp")
    )


def self_lm_buckets(
    docs_or_occ: DataFrame, bucket: Callable[[Column], Column] = bucket_md5
) -> DataFrame:
    """The self-LM hashed CCNet tier: the corpus's own bucketed LM
    scores the corpus, then head/middle/tail buckets, sorted by doc_id.
    Accepts either a documents frame or a pre-extracted (doc_id, lang,
    w1, w2) occurrence frame, so a caller comparing two bucket hashes
    shares ONE tokenize+explode pass."""
    src = docs_or_occ
    if "w1" not in src.columns:
        src = bigram_occurrences(src)
    occ = bucketed_occ(src, bucket)
    # scored feeds the histogram, the cuts broadcast, AND the final
    # assignment join (the llm_ops5/6 multi-subtree precedent)
    scored = lm_scored(occ, occ).transform(shared_subtree)
    return assign_buckets(scored).orderBy("doc_id")


def assign_buckets(scored: DataFrame) -> DataFrame:
    """histogram -> per-lang tercile cutoffs -> head/middle/tail over a
    (doc_id, lang, lp) frame — the Spark twin of CUTS_SQL (unsorted).
    The window runs ON THE HISTOGRAM (bounded), never the doc stream."""
    from pyspark.sql import Window as W

    hist = scored.groupBy("lang", "lp").agg(F.count(F.lit(1)).cast("long").alias("c"))
    tot = hist.groupBy("lang").agg(F.sum("c").cast("long").alias("n"))
    # explicit hint: tot is <= one row per language, always
    # broadcastable; estimate-based planning demoted it to a
    # sort-merge join after the r12 LM restructure (guide 3.1)
    cum = hist.join(F.broadcast(tot), "lang").withColumn(
        "cum",
        F.sum("c").over(W.partitionBy("lang").orderBy(F.desc("lp"))).cast("long"),
    )
    cuts = cum.groupBy("lang").agg(
        F.max(F.when(F.expr("cum >= (n + 2) div 3"), F.col("lp"))).alias("cut1"),
        F.max(F.when(F.expr("cum >= (2 * n + 2) div 3"), F.col("lp"))).alias("cut2"),
    )
    return scored.join(F.broadcast(cuts), "lang").select(
        "doc_id",
        "lang",
        "lp",
        F.when(F.col("lp") >= F.col("cut1"), F.lit("head"))
        .when(F.col("lp") >= F.col("cut2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )
