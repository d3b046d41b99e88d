"""Round-9 extension module: the remaining cleaning/tokenizer gaps in
the LLM-pipeline surface — line-wise corpus dedup, SoftDeDup
reweighting (exact + hashed production tiers), and the corpus-scale
BPE ENCODER — all but the full-merge encode oracle-paired and
hash-exact.

1. ``docs_line_dedup`` — corpus-wide LINE-WISE deduplication (the
   RefinedWeb/Falcon cleaning step, Penedo et al. 2023 §"line-wise
   corrections"; CCNet applies the same idea at paragraph granularity,
   Wenzek et al. 2020): a line whose trimmed form appears in >= 2
   DISTINCT documents is boilerplate (nav bars, cookie banners, scrape
   chrome) and is removed from every document; the output IS the
   cleaned text. Distinct from docs_exactsubstr_clean (token-window
   substring dedup) and corpus_boilerplate_ngrams (detection only):
   this is structural-unit removal with reconstruction.
2. ``docs_softdedup_weights`` — SoftDeDup data REWEIGHTING (She et al.
   2024, "SoftDedup: an Efficient Data Reweighting Method for Speeding
   Up Language Model Pre-training"): instead of deleting near-duplicate
   documents, compute each document's "commonness" — its empirical
   log-probability under the corpus n-gram frequency model — and let
   training down-weight common (heavily duplicated) samples. The
   dedup-family complement of hard removal: everything stays, sampling
   pressure moves.

Exact-arithmetic discipline (the llm_ops9 convention): every per-gram
log count is quantized ONCE to integer micro-units — ``lam_micro(g) =
floor(1e6 * ln(c_g) + 0.5)`` — and per-doc scores are order-free int64
sums, so both entries hash-exact cross-engine rather than
tolerance-compare. Whitespace is pinned to the explicit Java \\s byte
set on the oracle side (the llm_ops8 convention: RE2's \\s omits \\x0B).

New module by policy (VERDICT r8 item 1 / functions/foldvec.py:17): new
work lands in new modules so stamped plans don't re-fingerprint.

Reference scope note: the reference pipeline's only dedup is pandas
drop_duplicates on exact rows (etl_pipeline.py ~line 430); both entries
are north-star training-data surface with no reference counterpart.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_from_s3_to_postgresql_template_spark.functions.text import WS
from etl_from_s3_to_postgresql_template_spark.operators import ccnet
from etl_from_s3_to_postgresql_template_spark.plans.registry import query
from etl_from_s3_to_postgresql_template_spark.sources.registry import load_table
from etl_from_s3_to_postgresql_template_spark.util import shared_subtree

__all__ = [
    "docs_line_dedup",
    "docs_softdedup_weights",
    "corpus_bpe_encode",
    "corpus_bpe_encode_step1",
    "docs_softdedup_weights_hashed",
]

#: a trimmed line occurring in at least this many DISTINCT documents is
#: removed everywhere (RefinedWeb's rule; 2 = any cross-document repeat)
_LD_MIN_DOCS = 2

_SD_N = 4  # SoftDeDup gram length in tokens (paper default n-gram size)

# ---------------------------------------------------------------------------
# docs_line_dedup
# ---------------------------------------------------------------------------
#
# Line identity: the 0x20-trimmed line content (Spark F.trim == DuckDB
# trim: both strip spaces only, so tab-padded variants stay distinct —
# documented, matching semantics on both engines). Empty-after-trim
# lines are structure, never removed. Positions are 1-based over the
# raw '\n' split (trailing empty segments kept by BOTH engines: Java
# split with limit -1 and DuckDB string_split agree).

_LD_ORACLE = f"""
    WITH d AS (
      -- COALESCE: a NULL document must behave like an empty one on both
      -- engines (Spark's size(NULL) is -1, DuckDB's len(NULL) is NULL —
      -- neither is the contract)
      SELECT doc_id, COALESCE(text, '') AS text,
             string_split(COALESCE(text, ''), chr(10)) AS parts
      FROM documents
    ), l AS (
      SELECT doc_id, j AS pos, parts[j] AS raw, trim(parts[j], ' ') AS ln
      FROM d, LATERAL (SELECT UNNEST(generate_series(1, len(parts))) AS j)
    ), dup AS (
      SELECT ln FROM l WHERE ln <> ''
      GROUP BY ln HAVING COUNT(DISTINCT doc_id) >= {_LD_MIN_DOCS}
    ), rem AS (
      SELECT doc_id, pos FROM l JOIN dup USING (ln) WHERE ln <> ''
    ), kept AS (
      SELECT l.doc_id, l.pos, l.raw
      FROM l LEFT JOIN rem ON l.doc_id = rem.doc_id AND l.pos = rem.pos
      WHERE rem.doc_id IS NULL
    ), agg AS (
      SELECT doc_id, COUNT(*) AS n_kept,
             string_agg(raw, chr(10) ORDER BY pos) AS cleaned
      FROM kept GROUP BY doc_id
    )
    SELECT d.doc_id, CAST(len(parts) AS BIGINT) AS n_lines,
           CAST(len(parts) - COALESCE(n_kept, 0) AS BIGINT) AS n_removed,
           COALESCE(cleaned, '') AS cleaned_text
    FROM d LEFT JOIN agg USING (doc_id)
    ORDER BY doc_id
    """


@query("docs_line_dedup", oracle=_LD_ORACLE)
def docs_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide line-wise dedup (module docstring): per document the
    text with every line whose trimmed form occurs in >= {min_docs}
    distinct documents removed, plus line counts. On the single-line
    fixture this degenerates to exact-duplicate-document blanking
    (still a real corpus-wide join); the multi-line semantics are
    pinned by planted fixtures in tests/test_llm_ops10.py.

    Scale stance (the docs_exactsubstr_clean convention): documents
    never shuffle whole except as their own output rows. The line
    stream ships only (line_hash, doc_id, pos) — ~20 B/line; the
    duplicate test is one groupBy on the 64-bit line hash
    (count_distinct partial-aggregates map-side); removed positions
    regroup per doc (positions only, no text) and join back at DOC
    level — the one text-bearing exchange besides the final sort, both
    linear in corpus bytes (stage-measured: the 500k stress corpus
    shuffles the 350 MB text once for the join, once for the orderBy;
    every other stage ships hashes). Reconstruction is doc-local:
    array_except over the index sequence (JVM builtin), element_at
    slicing, '\\n' re-join; untouched documents pass their raw text
    through verbatim. Per-doc work is bounded by line count. The
    oracle keys lines by content, the plan by xxhash64 — same sets
    barring a 64-bit collision (the repo-wide gram-hash convention)."""
    docs = load_table(spark, sf_dir, "documents")
    # NULL text = empty doc (oracle COALESCEs identically): without this,
    # size(split(NULL)) is -1 Spark-side and NULL on DuckDB
    text = F.coalesce(F.col("text"), F.lit(""))
    parts = F.split(text, "\n", -1)
    base = docs.select("doc_id", text.alias("text"))
    lines = (
        base.select("doc_id", F.posexplode(parts).alias("pos0", "raw"))
        .select(
            "doc_id",
            (F.col("pos0") + 1).cast("int").alias("pos"),
            F.trim(F.col("raw")).alias("ln"),
        )
        .where(F.col("ln") != "")
        .select("doc_id", "pos", F.xxhash64("ln").alias("lh"))
    )
    dup = (
        lines.groupBy("lh")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .where(F.col("nd") >= _LD_MIN_DOCS)
        .select("lh")
    )
    rem = (
        lines.join(dup, "lh", "left_semi")
        .groupBy("doc_id")
        .agg(
            F.array_sort(F.collect_list("pos")).alias("rm"),
            F.count(F.lit(1)).cast("long").alias("n_removed"),
        )
    )
    out = base.join(rem, "doc_id", "left")
    n_lines = F.size(parts)
    kept_idx = F.array_except(F.sequence(F.lit(1), n_lines), F.col("rm"))
    cleaned = F.array_join(
        F.transform(kept_idx, lambda i: F.element_at(parts, i)), "\n"
    )
    return out.select(
        "doc_id",
        n_lines.cast("long").alias("n_lines"),
        F.coalesce(F.col("n_removed"), F.lit(0).cast("long")).alias("n_removed"),
        F.when(F.col("rm").isNull(), F.col("text")).otherwise(cleaned).alias(
            "cleaned_text"
        ),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# docs_softdedup_weights
# ---------------------------------------------------------------------------
#
# Commonness of a document = log empirical probability of its n-gram
# stream under the corpus frequency model:
#   logp_micro = sum_occ lam_micro(g) - n_grams * logN_micro
# with lam_micro(g) = floor(1e6 * ln(c_g) + 0.5) and logN_micro the same
# quantizer on the total gram count. Higher (closer to 0) = more common
# (heavier duplication); training down-weights high-commonness docs.
# Doubles and libm ln touch only the per-distinct-gram table cells and
# one corpus total, each consumed through the identical floor(x*1e6+0.5)
# half-up quantizer on both engines (the llm_ops9 boundary-risk profile);
# per-doc aggregation is order-free int64.

_SD_ORACLE = rf"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '{WS}'),
                         x -> x <> '') AS t
      FROM documents
    ), g AS (
      SELECT doc_id, md5(array_to_string(t[j:j+{_SD_N - 1}], ' ')) AS gm
      FROM t, LATERAL (SELECT UNNEST(generate_series(1, len(t) - {_SD_N - 1})) AS j)
      WHERE len(t) >= {_SD_N}
    ), c AS (
      SELECT gm, COUNT(*) AS c FROM g GROUP BY gm
    ), tot AS (
      SELECT CAST(floor(ln(SUM(c)) * 1e6 + 0.5) AS BIGINT) AS logn FROM c
    ), lam AS (
      SELECT gm, CAST(floor(ln(c) * 1e6 + 0.5) AS BIGINT) AS lam FROM c
    ), sc AS (
      SELECT doc_id, SUM(lam) AS s, COUNT(*) AS nf
      FROM g JOIN lam USING (gm) GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(COALESCE(nf, 0) AS BIGINT) AS n_grams,
           CAST(COALESCE(s - nf * tot.logn, 0) AS BIGINT) AS logp_micro
    FROM t LEFT JOIN sc USING (doc_id) CROSS JOIN tot
    ORDER BY doc_id
    """


@query("docs_softdedup_weights", oracle=_SD_ORACLE)
def docs_softdedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document SoftDeDup commonness in exact integer micro-units
    (module docstring): the log empirical probability of the doc's
    {n}-token gram stream under the corpus gram-frequency model. A doc
    with no grams (< {n} tokens) reports (0, 0) — the empty product.
    Downstream: sampling weight ~ exp(-alpha * logp_micro / n_grams /
    1e6), or feed logp_micro into the dsir_resample_gumbel machinery.

    Scale stance: the DSIR two-pass shape (llm_ops9, chosen there on
    measurement) — a FIT pass (gram counts: one groupBy on the 64-bit
    gram hash, map-side combining) and a SCORE pass (join the gram
    stream back to the count table on gh, then a map-side-combining
    int64 sum per doc). Unlike DSIR's 4096 hashed buckets the frequency
    table here is corpus-sized (exact grams, the CCNet hash-count
    table), so it is NOT broadcast by hand — it materializes once via a
    lazy localCheckpoint (its three readers: lam, the total, the join)
    and the join strategy belongs to AQE (broadcast at fixture scale,
    shuffle join on gh at corpus scale, 16 B probe rows). Text never
    shuffles. The oracle keys grams by md5, the plan by xxhash64 —
    same multiset barring a 64-bit collision (the repo-wide
    convention)."""
    docs = load_table(spark, sf_dir, "documents")
    return _softdedup_weights(docs, "gh", F.xxhash64, null_guard=True, broadcast_lam=False)


def _softdedup_weights(
    docs: DataFrame,
    key: str,
    gram_key: Callable[[Column], Column],
    null_guard: bool,
    broadcast_lam: bool,
) -> DataFrame:
    """(doc_id, n_grams, logp_micro): the two-pass SoftDeDup program of
    both tiers. The FIT pass counts grams under ``gram_key`` (column
    ``key``); the SCORE pass joins the gram stream back to the count
    table, with a broadcast hint iff ``broadcast_lam``. ``null_guard``
    nulls the key of gram-less rows, for a ``gram_key`` that maps NULL
    to a value (xxhash64(NULL) is a seed constant), so they can never
    match the table."""
    n = _SD_N
    # collapse-then-trim (the llm_ops8 discipline: F.trim strips 0x20
    # only, so "\tfoo" must collapse before trimming)
    norm = F.lower(F.trim(F.regexp_replace(F.col("text"), r"\s+", " ")))
    base = docs.select("doc_id", norm.alias("norm"))
    pat = r"(?:^| )(?=(\S+" + r" \S+" * (n - 1) + r"))"
    grams = base.where(F.length("norm") > 0).select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.col("norm"), F.lit(pat), F.lit(1))
        ).alias("gs"),
    ).select("doc_id", gram_key(F.col("gs")).alias(key))
    # the count table is linear in DISTINCT grams (or buckets); materialize
    # it once so lam, the total, and the score join don't each re-run the
    # tokenize+count subtree (8 parquet scans collapse to 2: fit + score)
    freq = (
        grams.groupBy(key)
        .agg(F.count(F.lit(1)).alias("c"))
        .transform(shared_subtree)
    )
    lam = freq.select(
        key, F.floor(F.log("c") * 1e6 + 0.5).cast("long").alias("lam")
    )
    tot = freq.agg(
        F.floor(F.log(F.sum("c")) * 1e6 + 0.5).cast("long").alias("logn")
    )
    # Score pass (r12): OUTER-exploded twin of `grams` — explode_outer
    # keeps exactly one null-gram row per gram-less doc, so the per-doc
    # aggregate covers EVERY doc and the corpus-scale doc_id re-attach
    # join (+ a third documents scan) disappears. lam covers every key
    # the fit observed, so the LEFT join hits on every real gram; null
    # gram rows pass through unmatched and the null-skipping aggregates
    # ignore them.
    gs = F.col("gs")
    score_key = F.when(gs.isNotNull(), gram_key(gs)) if null_guard else gram_key(gs)
    grams_o = base.select(
        "doc_id",
        F.explode_outer(
            F.when(
                F.length("norm") > 0,
                F.regexp_extract_all(F.col("norm"), F.lit(pat), F.lit(1)),
            )
        ).alias("gs"),
    ).select("doc_id", "gs", score_key.alias(key))
    sc = (
        grams_o.join(F.broadcast(lam) if broadcast_lam else lam, key, "left")
        .groupBy("doc_id")
        .agg(F.sum("lam").alias("s"), F.count("gs").alias("nf"))
    )
    return (
        sc.crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            F.col("nf").cast("long").alias("n_grams"),
            F.coalesce(F.col("s") - F.col("nf") * F.col("logn"), F.lit(0))
            .cast("long")
            .alias("logp_micro"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# corpus_bpe_encode — the ENCODER side of the tokenizer story
# ---------------------------------------------------------------------------
#
# operators/bpe.py fits merges (corpus_bpe_merges) and encodes one word
# driver-side (encode_word); what was missing is applying the fitted
# tokenizer to the CORPUS — the job every training pipeline runs after
# the fit. The Spark-first realization: a BPE merge pass is a string
# rewrite, so the whole encode compiles to JVM codegen with ZERO
# Python in the hot path and ZERO shuffle:
#
#   1. normalize:   lower + collapse whitespace (the fit's tokenization);
#   2. symbolize:   insert \x1F between every two adjacent non-space
#                   chars — words become single-char symbols separated
#                   by \x1F, word boundaries stay ' ';
#   3. one regexp_replace PER MERGE, in merge order:
#         (?<![^ \x1F]) \Q left \E \x1F \Q right \E (?![^ \x1F])  ->  leftright
#      The lookarounds pin SYMBOL boundaries (a merge ("a","b") must
#      not fire inside symbol "xa"), and Java's matcher scans
#      left-to-right non-overlapping and resumes AFTER each match —
#      exactly _merge_word's semantics ("aaa" merges once to ("aa","a")).
#
# Token count per doc = remaining \x1F separators + word count. The
# merge table is a driver artifact bounded by the language (the
# fit_ivf_centroids fitted-artifact split, operators/bpe.py docstring);
# the encode itself is a map — at 100 TB it is one scan.

_BPE_SEP = "\x1f"

#: encoder word-cache size = the fit's max_vocab cut (operators/bpe.py):
#: ~3 MB broadcast, constant at any corpus scale; the Zipf tail pays the
#: merge chain inline
_BPE_CACHE_WORDS = 100_000


def _bpe_norm_col(text_col: str):
    """Fit-compatible normalization: lower + collapse whitespace. Raw
    \\x1F in the input is stripped first — it is the symbol-boundary
    alphabet."""
    return F.lower(
        F.trim(
            F.regexp_replace(
                F.regexp_replace(F.col(text_col), _BPE_SEP, ""), r"\s+", " "
            )
        )
    )


def _bpe_apply_merges(col, merges):
    """Chain one boundary-aware regexp_replace per fitted merge, in
    merge order. \\Q...\\E quoting keeps regex metacharacters in symbols
    literal (symbols containing the literal sequence '\\E' are outside
    the contract — impossible for whitespace-tokenized text)."""
    for left, right, _ in merges:
        pat = (
            f"(?<![^ {_BPE_SEP}])"
            + "\\Q" + left + "\\E" + _BPE_SEP + "\\Q" + right + "\\E"
            + f"(?![^ {_BPE_SEP}])"
        )
        repl = (left + right).replace("\\", "\\\\").replace("$", r"\$")
        col = F.regexp_replace(col, F.lit(pat), F.lit(repl))
    return col


def _bpe_count_frame(docs: DataFrame, merges) -> DataFrame:
    """(doc_id, n_words, n_symbols, n_tokens) after applying merges.

    Two measured traps shaped this:

    1. Run the merge chain over a BOUNDED WORD CACHE, not the corpus.
       BPE is word-local, so encoding the text directly re-encodes
       every repeated word; the direct chained-regex-over-text form
       measured 158.8 s at 500k docs (21 lookaround passes x 345 MB,
       ~10^8 replacement events). A distinct-words+shuffle-join form
       was built next and its shuffle BYTE-measured 2330x at 100x data
       (tools/shuffle_bytes.py: the word stream pre-shuffled 113M rows
       for a sort-merge join AQE only later saw was broadcastable).
       Final form — GPT-2's per-word encoder cache, bounded: the chain
       runs on the top-{cap} frequency-capped word table (the fit's own
       max_vocab cut; ~3 MB, CONSTANT at any corpus scale), which
       BROADCASTS; the stream left-joins it with zero exchange, and
       out-of-vocabulary words — the Zipf tail, a vanishing share of
       OCCURRENCES — pay the chain inline through a lazily-evaluated
       coalesce fallback. Cache membership cannot change a value (both
       branches compute the same function), only where it is computed,
       so no cut-boundary determinism question arises. The only
       corpus-sized shuffle left is the fit's own map-side-combining
       word count.
    2. Reference the chain EXACTLY ONCE. A column expression is inlined
       per reference by CollapseProject, and duplicating the 20-deep
       regex chain pushes the generated code past the JVM method limit
       into interpreted evaluation (the naive multi-reference form
       never finished the 500k corpus). Every merge application
       removes exactly one separator, so per word
       ``n_tok = length(enc_w) - length(w) + 1`` needs only
       ``length(enc_w)``."""
    from etl_from_s3_to_postgresql_template_spark.operators.bpe import (
        word_frequencies,
    )

    norm = _bpe_norm_col("text")
    base = docs.select("doc_id", norm.alias("norm"))
    # Keep one w=NULL row per wordless doc (r13, the F4/r12 outer-explode
    # rule): the per-doc aggregate below then covers EVERY document and
    # the former `base JOIN per_doc` re-attach — a second scan of the
    # corpus plus a doc_id sort-merge join whose only job was restoring
    # wordless docs — disappears. Spelled as an INNER explode over a
    # NULL-sentinel array rather than explode_outer: outer Generate drops
    # out of whole-stage codegen and measured ~18% slower at 500k docs
    # (warm A/B: old-join 11.8 s, explode_outer 13.9, this form 11.9 —
    # equal per-pass wall with one scan and zero joins instead of two
    # scans and a corpus-wide SMJ). The NULL row is inert in every
    # aggregate: count(w) skips it, sum(length(NULL)) and the NULL-keyed
    # cache miss's ntok_of(NULL) are NULL (sum skips), and the final
    # coalesce(.., 0) restores the zeros the join-back produced. Results
    # hash-exact vs the oracle at all three SFs.
    arr = F.coalesce(
        F.array_remove(F.split("norm", " ", -1), ""),
        F.array().cast("array<string>"),
    )
    padded = F.when(
        F.size(arr) == 0, F.array(F.lit(None).cast("string"))
    ).otherwise(arr)
    words = base.select("doc_id", F.explode(padded).alias("w"))

    def ntok_of(col):
        enc = _bpe_apply_merges(
            F.regexp_replace(col, r"(?<=.)(?=.)", _BPE_SEP), merges
        )
        return F.length(enc) - F.length(col) + 1

    # fit-capped cache: <= max_vocab rows regardless of corpus size
    cache = word_frequencies(docs, "text", _BPE_CACHE_WORDS).select(
        F.col("word").alias("w"), ntok_of(F.col("word")).alias("ntok_c")
    )
    return (
        words.join(F.broadcast(cache), "w", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.col("w")).alias("nw"),
            F.sum(F.length("w")).alias("nsym"),
            # coalesce evaluates the chain ONLY on cache misses (codegen
            # short-circuits), and only here — single chain reference
            F.sum(F.coalesce(F.col("ntok_c"), ntok_of(F.col("w")))).alias(
                "ntk"
            ),
        )
        .select(
            "doc_id",
            F.coalesce(F.col("nw"), F.lit(0)).cast("long").alias("n_words"),
            F.coalesce(F.col("nsym"), F.lit(0)).cast("long").alias("n_symbols"),
            F.coalesce(F.col("ntk"), F.lit(0)).cast("long").alias("n_tokens"),
        )
        .orderBy("doc_id")
    )


@query("corpus_bpe_encode")  # full fitted merge table -> rows-only by
# design (the corpus_bpe_merges class: an iterative fit has no SQL twin;
# step 1 is oracle-gated below and full-encode equality vs the
# pure-Python encoder is pinned by pytest)
def corpus_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the registered BPE fit (corpus_bpe_merges' n_merges=20,
    min_count=2 artifact) to the corpus: per document the word count,
    pre-merge symbol (character) count, and post-merge TOKEN count —
    the corpus-level tokenizer-fertility statistic (tokens/word,
    chars/token) training pipelines budget with. Encode semantics equal
    operators/bpe.py::encode_word applied to every word (pytest-pinned);
    the plan is the chained codegen rewrite above over the DISTINCT
    word table with a hash-keyed join back to the word stream
    (_bpe_count_frame docstring: direct text encoding measured 158.8 s
    at 500k docs, the word-deduped form is regex work proportional to
    the VOCABULARY) — no UDF anywhere."""
    from etl_from_s3_to_postgresql_template_spark.operators.bpe import fit_bpe_merges

    docs = load_table(spark, sf_dir, "documents")
    merges = fit_bpe_merges(docs, n_merges=20, min_count=2)
    return _bpe_count_frame(docs, merges)


_BPE_ENC1_ORACLE = rf"""
    WITH w AS (
      SELECT UNNEST(string_split_regex(lower(trim(text)), '{WS}')) AS word
      FROM documents
    ), ch AS (
      SELECT word, len(word) AS n FROM w WHERE len(word) >= 2
    ), pr AS (
      SELECT UNNEST(list_transform(range(n - 1),
                    i -> substr(word, CAST(i + 1 AS BIGINT), 2))) AS pair
      FROM ch
    ), top1 AS (
      SELECT pair FROM pr GROUP BY pair
      ORDER BY COUNT(*) DESC, pair
      LIMIT 1
    ), d AS (
      -- COALESCE: DuckDB array_to_string([]) is NULL, not '' (empty doc)
      SELECT doc_id,
             COALESCE(array_to_string(list_filter(
               string_split_regex(lower(trim(text)), '{WS}'),
               x -> x <> ''), ' '), '') AS norm
      FROM documents
    )
    SELECT doc_id,
           CAST(CASE WHEN norm = '' THEN 0
                ELSE len(string_split(norm, ' ')) END AS BIGINT) AS n_words,
           CAST(len(replace(norm, ' ', '')) AS BIGINT) AS n_symbols,
           CAST(len(replace(norm, ' ', ''))
                - (len(norm) - len(replace(norm, pair, ''))) / 2
                AS BIGINT) AS n_tokens
    FROM d CROSS JOIN top1
    ORDER BY doc_id
    """


@query("corpus_bpe_encode_step1", oracle=_BPE_ENC1_ORACLE)
def corpus_bpe_encode_step1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle gate for the distributed encode machinery: encode with
    exactly the FIRST fitted merge (n_merges=1, min_count=1,
    max_vocab=None — the corpus_bpe_first_merge_gate configuration,
    whose argmax pair IS SQL-expressible). The oracle recomputes the
    pair and counts its non-overlapping left-to-right occurrences per
    document via the replace-shrinkage identity — for single-character
    symbols, substring scanning over the space-joined text equals
    symbol scanning, and each application removes exactly one
    separator, so ``n_tokens = n_symbols - applications`` on both
    engines. A boundary bug in the lookaround pattern, a scan-order
    divergence, or an off-by-one in the separator counting is a hash
    mismatch here; merges 2..M (multi-char symbols) are pinned by the
    pure-Python equality test in tests/test_llm_ops10.py."""
    from etl_from_s3_to_postgresql_template_spark.operators.bpe import fit_bpe_merges

    docs = load_table(spark, sf_dir, "documents")
    merges = fit_bpe_merges(docs, n_merges=1, min_count=1, max_vocab=None)
    if not merges:
        return _bpe_count_frame(docs, []).limit(0)
    return _bpe_count_frame(docs, merges)


# ---------------------------------------------------------------------------
# docs_softdedup_weights_hashed — the broadcastable production tier
# ---------------------------------------------------------------------------
#
# The exact tier above is measured compute-bound at stress scale (500k
# docs: ~110M gram instances meet an ~80M-entry frequency table — two
# ~1.1-1.4 GB gram shuffles plus the join; 38-42 s across two windows,
# SCALING.md r9 extension). That is the honest cost of per-occurrence
# EXACT commonness, in the same cost family as docs_decontaminate_ngram.
# The scale path is the hashing trick (the docs_hashing_vectorizer /
# DSIR convention): fold grams into ccnet.B = 2^20 md5 buckets, so the
# count table is <= B rows — broadcastable — and the score pass joins
# WITHOUT shuffling the gram stream at all. Commonness becomes a
# count-min-style estimator (collisions merge counts: rare grams in a
# loaded bucket read as more common — bias is upward only, load factor
# ~ distinct_grams/B and reported nowhere silently: B is the dial).
# Both engines bucket with the identical md5 prefix, so the tier is
# hash-exact oracle-paired like the exact one.

_SDH_ORACLE = rf"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '{WS}'),
                         x -> x <> '') AS t
      FROM documents
    ), g AS (
      SELECT doc_id,
             ('0x' || substr(md5(array_to_string(t[j:j+{_SD_N - 1}], ' ')), 1, 8))::BIGINT
               % {ccnet.B} AS b
      FROM t, LATERAL (SELECT UNNEST(generate_series(1, len(t) - {_SD_N - 1})) AS j)
      WHERE len(t) >= {_SD_N}
    ), c AS (
      SELECT b, COUNT(*) AS c FROM g GROUP BY b
    ), tot AS (
      SELECT CAST(floor(ln(SUM(c)) * 1e6 + 0.5) AS BIGINT) AS logn FROM c
    ), lam AS (
      SELECT b, CAST(floor(ln(c) * 1e6 + 0.5) AS BIGINT) AS lam FROM c
    ), sc AS (
      SELECT doc_id, SUM(lam) AS s, COUNT(*) AS nf
      FROM g JOIN lam USING (b) GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(COALESCE(nf, 0) AS BIGINT) AS n_grams,
           CAST(COALESCE(s - nf * tot.logn, 0) AS BIGINT) AS logp_micro
    FROM t LEFT JOIN sc USING (doc_id) CROSS JOIN tot
    ORDER BY doc_id
    """


@query("docs_softdedup_weights_hashed", oracle=_SDH_ORACLE)
def docs_softdedup_weights_hashed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SoftDeDup commonness, hashed-bucket production tier (module
    section note): identical output contract to docs_softdedup_weights
    but with gram counts folded into {B} md5 buckets. Scale stance =
    the DSIR two-pass shape exactly: the fit groupBy emits <= B rows
    per task (map-side combine versus the exact tier's near-uncombined
    98M-record shuffle), the <= B-row table materializes once and
    BROADCASTS, and the score pass is a broadcast join + one
    map-side-combining per-doc int64 sum — the gram stream never
    shuffles. Estimator property: collisions only ever INCREASE a
    gram's apparent count (count-min bias direction), shrinking as B
    grows; the exact tier is the semantics reference."""
    docs = load_table(spark, sf_dir, "documents", parallel=True)
    return _softdedup_weights(docs, "b", ccnet.bucket_md5, null_guard=False, broadcast_lam=True)
