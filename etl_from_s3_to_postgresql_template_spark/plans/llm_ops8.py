"""Round-8 north-star addition: ExactSubstr corpus CLEANING (Lee et al.
2022, "Deduplicating Training Data Makes Language Models Better") — not
just detecting repeated spans but emitting the deduplicated corpus.

``docs_exactsubstr_clean`` upgrades ``docs_repeated_spans`` (llm_ops4) in
the two ways that separate a detector from the paper's operator:

1. **Within-document repeats count.** Lee et al. remove any substring of
   length >= L that occurs >= 2 times ANYWHERE in the corpus — including
   twice inside one document (boilerplate headers, chorus lines, looped
   scrape artifacts). docs_repeated_spans requires >= 2 distinct docs;
   this entry gates on total occurrence count.
2. **The output IS the cleaned text.** Every token covered by at least
   one duplicated L-gram window is removed and the surviving tokens are
   re-joined — the union-of-duplicated-L-windows position set is exactly
   the byte set ExactSubstr removes (any duplicated substring of length
   >= L is a union of duplicated L-windows, and every duplicated
   L-window is itself a duplicated substring), so hash-keyed L-gram
   grouping computes the same removal set the paper's suffix array does.
   The suffix array is their SINGLE-NODE means of finding duplicated
   L-grams; a shuffle engine's native means is hashing them — same set,
   engine-appropriate machinery.

Granularity note: L is 8 TOKENS (the repo's repeated-spans convention,
~50 chars at the corpus' ~6-char mean token) rather than the paper's 50
bytes — token windows keep the gram count at one per token instead of
one per byte (~6x), which is what makes the stress scale tractable; the
operator is granularity-parametric (the SQL twin and plan share n).

Scale stance: one positioned-gram pass (the anchored-lookahead regex —
codegen, no HOF), one gram-key shuffle for the >= 2 occurrence test, and
two token-level shuffles (anti-join against covered positions, then the
per-doc regroup). Everything is linear in corpus tokens; per-doc state
is bounded by document length (the output row is the document); no
unbounded collect anywhere. Documents never shuffle whole except as
their own output rows.

Reference scope note: the reference pipeline has no dedup beyond pandas
drop_duplicates on exact rows (etl_pipeline.py ~line 430); this is
north-star E1 surface.
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
    "docs_exactsubstr_clean",
    "text_token_count_cjk",
    "docs_gopher_quality_cjk",
]

_ESS_N = 8  # gram length in tokens

#: per-doc hit-window cap (VERDICT r8 item 7): bounds the interval-merge
#: input for pathological near-fully-duplicated long documents. A doc with
#: more duplicated windows than this is treated as FULLY duplicated
#: (cleaned to '', n_removed = n_tokens — conservative over-removal, in
#: the cleaning direction) and reported via return_capped. Hits per doc
#: are bounded by doc length, so at this default the cap can only fire on
#: a >100k-token document that is also massively duplicated; the fixtures
#: and the 500k-doc stress corpus never reach it (oracle unchanged).
_ESS_MAX_HITS_PER_DOC = 100_000

_ESS_ORACLE = rf"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(text), '{WS}'), x -> x <> '') AS t
      FROM documents
    ), base AS (
      SELECT doc_id, len(t) AS n_tokens, t FROM t WHERE len(t) >= 1
    ), g AS (
      SELECT doc_id, j AS pos, md5(array_to_string(t[j:j+{_ESS_N - 1}], ' ')) AS gm
      FROM base, LATERAL (SELECT UNNEST(generate_series(1, len(t) - {_ESS_N - 1})) AS j)
      WHERE len(t) >= {_ESS_N}
    ), dup AS (
      SELECT gm FROM g GROUP BY gm HAVING COUNT(*) >= 2
    ), cov AS (
      SELECT DISTINCT doc_id, pos + k AS rpos
      FROM g, LATERAL (SELECT UNNEST(range(0, {_ESS_N})) AS k)
      WHERE gm IN (SELECT gm FROM dup)
    ), tok AS (
      SELECT doc_id, i AS pos, t[i] AS tok
      FROM base, LATERAL (SELECT UNNEST(generate_series(1, len(t))) AS i)
    ), kept AS (
      SELECT tok.doc_id, pos, tok
      FROM tok LEFT JOIN cov ON tok.doc_id = cov.doc_id AND tok.pos = cov.rpos
      WHERE cov.doc_id IS NULL
    ), agg AS (
      SELECT doc_id, COUNT(*) AS n_kept,
             string_agg(tok, ' ' ORDER BY pos) AS cleaned
      FROM kept GROUP BY doc_id
    )
    SELECT b.doc_id, CAST(b.n_tokens AS BIGINT) AS n_tokens,
           CAST(b.n_tokens - COALESCE(n_kept, 0) AS BIGINT) AS n_removed,
           COALESCE(cleaned, '') AS cleaned_text
    FROM base b LEFT JOIN agg USING (doc_id)
    ORDER BY doc_id
    """


@query("docs_exactsubstr_clean", oracle=_ESS_ORACLE)
def docs_exactsubstr_clean(
    spark: SparkSession,
    sf_dir: str,
    *,
    max_hits_per_doc: int = _ESS_MAX_HITS_PER_DOC,
    return_capped: bool = False,
) -> DataFrame:
    """ExactSubstr removal (module docstring): per document, the text
    with every token covered by a corpus-duplicated {n}-token window
    removed (>= 2 occurrences ANYWHERE, same-document repeats included),
    plus token counts. Case-SENSITIVE raw tokens — the paper operates on
    raw bytes; whitespace is normalized to single spaces (that is the
    only lossy step, shared by both engines' tokenization).

    Plan: positioned grams via the anchored-lookahead regexp (array
    index == token position — the docs_repeated_spans trick), 8-byte
    xxhash64 gram keys, occurrence test as count >= 2 over one gram-key
    window (the oracle keys grams by md5 string — same sets barring a
    64-bit collision). Removal NEVER shuffles tokens: hit windows merge
    into disjoint per-doc intervals (two windows over the HIT rows
    only), the bounded interval array joins back at DOC level, and the
    cleaned text is rebuilt doc-locally by slicing the token array
    between intervals. Untouched documents take the fast path — their
    normalized text passes through without even re-tokenizing. (The
    first form of this plan anti-joined a corpus-token table against
    exploded covered positions: 143 s / ratio 26.6 at 500k docs on the
    duplication-heavy stress corpus, where covered ~ all positions. The
    interval form shuffles only grams and hits — SCALING.md r8.)
    n_removed counts covered tokens, so n_removed/sum(n_tokens) is the
    paper's removed-fraction statistic for free.

    Worst-case guard (VERDICT r8 item 7, the minhash cap-and-report
    convention): the hits shuffle and the per-doc interval sort are
    proportional to duplicated positions, so a pathological
    near-fully-duplicated LONG document could funnel an unbounded hit
    stream through one doc partition. Per-doc hit-window counts above
    ``max_hits_per_doc`` short-circuit: the doc is treated as fully
    duplicated (cleaned_text = '', n_removed = n_tokens — over-removal
    only ever in the cleaning direction, never under-removal) and its
    hits skip the interval machinery, bounding every doc partition at
    the cap. Pass ``return_capped=True`` for the (doc_id, hit_cnt)
    report of what was capped — no silent caps. At the 100k default the
    fixtures and the 500k stress corpus never trigger it (oracle
    unchanged); planted pathological test in tests/test_llm_ops8.py."""
    docs = load_table(spark, sf_dir, "documents", parallel=True)
    n = _ESS_N
    # edge-trim AFTER collapsing: "\tfoo" must tokenize as ['foo'], not
    # ['', 'foo'] — F.trim strips 0x20 only, so collapse first, then trim
    norm = F.trim(F.regexp_replace(F.col("text"), r"\s+", " "))
    base = docs.select("doc_id", norm.alias("norm")).where(F.length("norm") > 0)
    pat = r"(?:^| )(?=(\S+" + r" \S+" * (n - 1) + r"))"
    grams = base.select(
        "doc_id",
        F.posexplode(
            F.regexp_extract_all(F.col("norm"), F.lit(pat), F.lit(1))
        ).alias("pos0", "gs"),
    ).select(
        "doc_id",
        (F.col("pos0") + 1).cast("int").alias("pos"),
        F.xxhash64("gs").alias("gm"),
    )
    hits = (
        grams.withColumn("occ", F.count(F.lit(1)).over(W.partitionBy("gm")))
        .where(F.col("occ") >= 2)
        .select("doc_id", "pos", (F.col("pos") + (n - 1)).alias("end"))
        # per-doc hit count for the cap guard: same doc_id partitioning
        # the interval windows below need, so this costs no extra
        # exchange; the lazy checkpoint materializes the windowed frame
        # ONCE for its two consumers (interval path + capped report)
        .withColumn("hit_cnt", F.count(F.lit(1)).over(W.partitionBy("doc_id")))
        .transform(shared_subtree)
    )
    capped = (
        hits.where(F.col("hit_cnt") > max_hits_per_doc)
        .groupBy("doc_id")
        .agg(F.max("hit_cnt").alias("hit_cnt"))
    )
    ok_hits = hits.where(F.col("hit_cnt") <= max_hits_per_doc)
    # interval merge (gaps of 0 between hit windows merge; result is
    # sorted + disjoint, so reconstruction needs no distinct/explode):
    # new island when pos > 1 + running max of prior ends
    wd = W.partitionBy("doc_id").orderBy("pos")
    prev_end = F.max("end").over(wd.rowsBetween(W.unboundedPreceding, -1))
    isl = (
        ok_hits.withColumn(
            "new_isl",
            F.when(prev_end.isNull() | (F.col("pos") > prev_end + 1), 1).otherwise(0),
        )
        .withColumn("isl", F.sum("new_isl").over(wd))
        .groupBy("doc_id", "isl")
        .agg(F.min("pos").alias("s"), F.max("end").alias("e"))
    )
    ivs = isl.groupBy("doc_id").agg(
        F.array_sort(F.collect_list(F.struct("s", "e"))).alias("iv"),
        F.sum(F.col("e") - F.col("s") + 1).cast("long").alias("n_removed"),
    )
    out = base.join(ivs, "doc_id", "left").join(
        capped.select("doc_id", F.lit(True).alias("_capped")), "doc_id", "left"
    )
    toks = F.split("norm", " ")
    n_tok = F.size(toks)
    # kept ranges are the gaps between intervals: starts = [1, e_i + 1],
    # ends = [s_i - 1, n_tokens]; zero-length gaps slice to []
    gap_starts = F.concat(
        F.array(F.lit(1)), F.transform("iv", lambda x: x["e"] + 1)
    )
    gap_ends = F.concat(F.transform("iv", lambda x: x["s"] - 1), F.array(n_tok))
    kept = F.flatten(
        F.zip_with(
            gap_starts,
            gap_ends,
            lambda a, b: F.slice(toks, a, F.greatest(b - a + F.lit(1), F.lit(0))),
        )
    )
    cleaned = out.select(
        "doc_id",
        n_tok.cast("long").alias("n_tokens"),
        F.when(F.col("_capped"), n_tok.cast("long"))
        .otherwise(F.coalesce(F.col("n_removed"), F.lit(0).cast("long")))
        .alias("n_removed"),
        # capped doc: treated as fully duplicated; fast path: no
        # intervals -> the normalized text verbatim
        F.when(F.col("_capped"), F.lit(""))
        .when(F.col("iv").isNull(), F.col("norm"))
        .otherwise(F.array_join(kept, " "))
        .alias("cleaned_text"),
    ).orderBy("doc_id")
    if return_capped:
        return cleaned, capped.orderBy("doc_id")
    return cleaned


# ---------------------------------------------------------------------------
# text_token_count_cjk — Unicode-aware token counting (VERDICT r7 item 8b)
# ---------------------------------------------------------------------------
#
# The repo's tokenizers are deliberately ASCII-whitespace-pinned, which
# under-counts unsegmented CJK text (a 500-character Chinese document is
# ONE whitespace token). This entry adds the standard no-segmenter
# fallback used by CCNet/mC4-shaped pipelines: every Han / Hiragana /
# Katakana codepoint counts as its own token, and the remaining text
# tokenizes by whitespace after the CJK codepoints are replaced with
# spaces. Both engines evaluate the SAME Unicode script properties
# (Java regex \p{IsHan} == RE2 \p{Han} — verified byte-identical on
# mixed zh/ja/en text before this entry landed), and every output is an
# exact integer, so cross-engine parity is unconditional.
#
# The synthetic documents fixture is ASCII (n_cjk = 0 corpus-wide), so
# the registry pair proves the ASCII half; the planted zh/ja fixture
# parity test in tests/test_llm_ops8.py proves the CJK half against
# DuckDB on real mixed-script text.

_CJK_JAVA = r"[\p{IsHan}\p{IsHiragana}\p{IsKatakana}]"
_CJK_RE2 = r"[\p{Han}\p{Hiragana}\p{Katakana}]"

_CJK_ORACLE = rf"""
    WITH t AS (
      SELECT doc_id,
             length(text) - length(regexp_replace(text, '{_CJK_RE2}', '', 'g'))
               AS n_cjk,
             len(list_filter(
                 string_split_regex(regexp_replace(text, '{_CJK_RE2}', ' ', 'g'),
                                    '{WS}'),
                 x -> x <> '')) AS n_ws
      FROM documents
    )
    SELECT doc_id, CAST(n_cjk AS BIGINT) AS n_cjk, CAST(n_ws AS BIGINT) AS n_ws,
           CAST(n_cjk + n_ws AS BIGINT) AS n_tokens_unicode
    FROM t ORDER BY doc_id
    """


@query("text_token_count_cjk", oracle=_CJK_ORACLE)
def text_token_count_cjk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode-aware token count (module comment above): per doc,
    ``n_cjk`` (Han/Hiragana/Katakana codepoints — each its own token),
    ``n_ws`` (whitespace tokens of the text with CJK replaced by
    spaces), and their sum. Pure codegen expressions — two regex passes
    and a split per doc, one scan, no shuffle beyond the output sort; at
    100 TB this is a projection."""
    docs = load_table(spark, sf_dir, "documents")
    n_cjk = (
        F.length("text") - F.length(F.regexp_replace("text", _CJK_JAVA, ""))
    ).cast("long")
    repl = F.regexp_replace("text", _CJK_JAVA, " ")
    n_ws = F.size(F.filter(F.split(repl, r"\s+"), lambda x: x != "")).cast("long")
    return (
        docs.select(
            "doc_id",
            n_cjk.alias("n_cjk"),
            n_ws.alias("n_ws"),
            (n_cjk + n_ws).alias("n_tokens_unicode"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# docs_gopher_quality_cjk — the quality gate the CJK tier unlocks (round 9)
# ---------------------------------------------------------------------------
#
# The ASCII Gopher gate (llm_ops2.docs_gopher_quality) fails STRUCTURALLY
# on unsegmented CJK text: a 300-character Chinese document whitespace-
# tokenizes to ~1 "token" (fails the >= 50 bound), that token's length
# explodes the mean-word-length bound, and English stopword evidence is
# zero — three false rejections from one tokenizer assumption. This gate
# re-expresses each rule with the no-segmenter fallback
# (text_token_count_cjk's convention):
#
# - token count    -> n_cjk + n_ws (each Han/Hiragana/Katakana codepoint
#                     is its own token);
# - mean word len  -> over the WHITESPACE tokens of the CJK-replaced text
#                     only (CJK "words" are single codepoints by the
#                     fallback; the bound is waived when n_ws = 0);
# - stopword rule  -> EN stopword tokens PLUS ZH stopword CODEPOINTS
#                     (LANG_STOPWORDS['zh'] are single chars — countable
#                     exactly as character occurrences on both engines);
# - alpha rule     -> (ascii-alpha + CJK) chars >= 60% of non-whitespace
#                     chars, compared as exact integers (10*a >= 6*n).
#
# Every compared cell is an exact integer or a single IEEE division
# rounded once (mean len) — no float accumulation. lower() is applied
# doc-wide; the U+0130 cross-engine lower() boundary (pinned in
# tests/test_llm_ops7.py) is out of scope for the ASCII+CJK fixtures as
# documented there.

_GQC_EN_STOPS = ("the", "and", "of", "to", "in", "is", "a", "that")
_GQC_ZH_STOPS = "的是在了和有我不"

_GQC_ORACLE = rf"""
    WITH t AS (
      SELECT doc_id, lower(trim(text)) AS lo FROM documents
    ), m AS (
      SELECT doc_id, lo,
             length(lo) - length(regexp_replace(lo, '{_CJK_RE2}', '', 'g'))
               AS n_cjk,
             list_filter(string_split_regex(
                 regexp_replace(lo, '{_CJK_RE2}', ' ', 'g'), '{WS}'),
                 x -> x <> '') AS ws_toks,
             length(lo) - length(regexp_replace(lo, '[a-z]', '', 'g'))
               AS n_alpha,
             length(regexp_replace(lo, '{WS}', '', 'g')) AS n_nonspace
      FROM t
    ), s AS (
      SELECT doc_id, n_cjk, n_alpha, n_nonspace,
             CAST(len(ws_toks) AS BIGINT) AS n_ws,
             COALESCE(list_sum(list_transform(ws_toks,
                 x -> CAST(len(x) AS BIGINT))), 0) AS ws_chars,
             CAST(len(list_filter(ws_toks, x -> x IN {_GQC_EN_STOPS!r})) AS BIGINT)
               + (length(lo) - length(regexp_replace(lo, '[{_GQC_ZH_STOPS}]', '', 'g')))
               AS n_stop
      FROM m
    )
    SELECT doc_id,
           CAST(n_cjk + n_ws AS BIGINT) AS n_tokens_unicode,
           CAST(n_cjk AS BIGINT) AS n_cjk, n_ws,
           CASE WHEN n_ws = 0 THEN NULL
                ELSE ROUND(CAST(ws_chars AS DOUBLE) / n_ws, 4) END
             AS mean_ws_token_len,
           n_stop,
           ((n_cjk + n_ws) BETWEEN 50 AND 100000
            AND (n_ws = 0 OR CAST(ws_chars AS DOUBLE) / n_ws BETWEEN 2.0 AND 10.0)
            AND n_stop >= 2
            AND 10 * (n_alpha + n_cjk) >= 6 * n_nonspace) AS passes
    FROM s
    ORDER BY doc_id
    """


@query("docs_gopher_quality_cjk", oracle=_GQC_ORACLE)
def docs_gopher_quality_cjk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CJK-aware Gopher-style quality gate (module comment above): the
    ASCII gate's three rules re-expressed over the no-segmenter Unicode
    tokenization, plus the alpha-fraction rule the ASCII fixture never
    needed — all gate comparisons on exact integers or a raw IEEE
    division (one op, bit-identical cross-engine); the one REPORTED
    ratio is that division rounded once. One scan, no shuffle beyond
    the output sort — at 100 TB this is a scan, same as the ASCII gate.

    Cost shape, measured at 500k docs (SCALING.md r9): the per-doc cost
    is dominated by the full-text REGEX passes (~3-5 s each at 500k),
    not by the two interpreted list HOFs over the split tokens (~0.5-1 s
    over their split) — a codegen collapse-and-recount rewrite was built
    and measured SLOWER (its extra regex pass outweighed the HOF it
    removed). The one derivation that does pay: every CJK codepoint
    becomes a space in the replaced text, so the whitespace-token char
    total is EXACTLY n_nonspace - n_cjk — no transform+aggregate fold
    and one fewer regex pass (38.5 -> measured again after the change,
    see the sweep table)."""
    docs = load_table(spark, sf_dir, "documents")
    lo = F.lower(F.trim("text"))
    n_cjk = (F.length(lo) - F.length(F.regexp_replace(lo, _CJK_JAVA, ""))).cast(
        "long"
    )
    ws_toks = F.filter(
        F.split(F.regexp_replace(lo, _CJK_JAVA, " "), r"\s+"), lambda x: x != ""
    )
    n_ws = F.size(ws_toks).cast("long")
    n_alpha = (F.length(lo) - F.length(F.regexp_replace(lo, "[a-z]", ""))).cast(
        "long"
    )
    n_nonspace = F.length(F.regexp_replace(lo, r"\s", "")).cast("long")
    # nonspace chars of the CJK-replaced text == n_nonspace - n_cjk
    # (each replaced codepoint contributes one space): the exact value
    # the oracle's list_sum over ws-token lengths computes
    ws_chars = n_nonspace - n_cjk
    n_stop = (
        F.size(F.filter(ws_toks, lambda x: x.isin(*_GQC_EN_STOPS))).cast("long")
        + (
            F.length(lo)
            - F.length(F.regexp_replace(lo, f"[{_GQC_ZH_STOPS}]", ""))
        ).cast("long")
    )
    mean_len = F.when(n_ws > 0, F.round(ws_chars.cast("double") / n_ws, 4))
    passes = (
        (n_cjk + n_ws).between(50, 100000)
        & ((n_ws == 0) | (ws_chars.cast("double") / n_ws).between(2.0, 10.0))
        & (n_stop >= 2)
        & (10 * (n_alpha + n_cjk) >= 6 * n_nonspace)
    )
    return docs.select(
        "doc_id",
        (n_cjk + n_ws).alias("n_tokens_unicode"),
        n_cjk.alias("n_cjk"),
        n_ws.alias("n_ws"),
        mean_len.alias("mean_ws_token_len"),
        n_stop.alias("n_stop"),
        passes.alias("passes"),
    ).orderBy("doc_id")
