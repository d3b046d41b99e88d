"""Text-analysis Column builders: tokenization, quality, lang-ID, fingerprints.

North-star extension E3 (training-data pipeline ops over ``documents``).
Pure Column expressions — JVM-side, codegen'd — EXCEPT the character-class
counters, which are one Arrow-batched numpy pass: JVM string ops top out
at ~30-100 MB/s for per-character work (regexp_replace pays per match,
translate per boxed map lookup), while a byte-LUT gather+segmented-sum
runs at memory speed and three class counts pack into one int64 pass
(measured round 5: the three counts dominated text_quality at 500k docs).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

__all__ = [
    "WS",
    "tokens_col",
    "token_count_col",
    "ws_token_count_col",
    "normalize_text_col",
    "fingerprint_col",
    "stopword_hits_col",
    "lang_scores",
    "lang_id_col",
    "quality_columns",
    "char_class_counts",
    "shingles_col",
    "hashed_margin_col",
]

# Tiny per-language stopword lists for the n-gram/stopword-hit heuristic.
# Deliberately small + deterministic; a real deployment swaps in fastText or
# CLD3 behind the same column contract.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in", "is", "a", "that"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "los"),
    "fr": ("le", "la", "de", "et", "les", "des", "en", "un"),
    "de": ("der", "die", "und", "das", "von", "zu", "mit", "den"),
    "zh": ("的", "是", "在", "了", "和", "有", "我", "不"),
}


def tokens_col(text: Column | str) -> Column:
    """Whitespace tokenization of trimmed text -> array<string>."""
    c = F.col(text) if isinstance(text, str) else text
    return F.split(F.trim(c), r"\s+")


def token_count_col(text: Column | str) -> Column:
    return F.size(tokens_col(text)).cast("long")


#: explicit ASCII whitespace run: Java's \s is exactly this class, RE2's
#: \s omits \x0B, so Spark and DuckDB tokenizers both spell it out
WS = r"[ \t\n\x0B\f\r]+"

#: maximal non-whitespace runs (explicit ASCII whitespace — the same
#: byte set under Java regex and RE2) — each run IS one token
_NONWS = r"[^ \t\n\x0B\f\r]+"


def ws_token_count_col(tx: Column) -> Column:
    """Whitespace-token COUNT without materializing the token array:
    collapse each non-whitespace run to one char and diff the lengths —
    tokens are exactly the maximal non-WS runs, so this equals
    ``size(filter(split(t, WS), x != ''))`` on any string (equality
    re-verified on the 500k corpus before adoption). Two regex passes
    beat the split form structurally: the split materializes ~190
    strings per doc only to count them, and under allocation pressure
    its wall time degrades 10x (same-session A/B on a loaded box:
    split 3.6-43.9 s at 500k, collapse 6.0-10.8 s; fresh-session sweep
    17-18 s split vs ~6 s collapse). The llm_ops8 A/B that KEPT its
    HOFs needed the token array for other statistics — a pure count
    does not."""
    return (
        F.length(F.regexp_replace(tx, _NONWS, "x"))
        - F.length(F.regexp_replace(tx, _NONWS, ""))
    ).cast("long")


def normalize_text_col(text: Column | str) -> Column:
    """Lowercase + collapse whitespace: canonical form for exact dedup."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_replace(F.lower(F.trim(c)), r"\s+", " ")


def fingerprint_col(text: Column | str) -> Column:
    """Deterministic document fingerprint: MD5 of the normalized text.
    (MD5 not xxhash64: both engines in the oracle pair implement MD5
    identically; for scale paths prefer ``F.xxhash64`` — 8-byte keys.)"""
    return F.md5(normalize_text_col(text))


def stopword_hits_col(text: Column | str, stopwords: tuple[str, ...]) -> Column:
    """Count of tokens that are in ``stopwords`` (lowercased match)."""
    toks = F.transform(tokens_col(text), lambda t: F.lower(t))
    return F.size(F.filter(toks, lambda t: t.isin(*stopwords))).cast("long")


def lang_scores(text: Column | str) -> dict[str, Column]:
    """Per-language stopword-hit counts — ONE fused Arrow pass for all
    five languages (r7; previously five interpreted transform+filter
    HOFs per doc). Field extractions of the one kernel call collapse to
    a single ArrowEvalPython; each count is bit-equal to
    ``stopword_hits_col(text, LANG_STOPWORDS[lang])`` (parity-pinned),
    including the -1-on-null sentinel size() gives, which lang_id_col's
    ``best > 0`` guard relies on."""
    from pyspark.sql import functions as F

    c = F.col(text) if isinstance(text, str) else text
    st = _make_lang_scores_udf()(F.lower(F.trim(c)))
    return {lang: st.getField(lang) for lang in sorted(LANG_STOPWORDS)}


def lang_id_col(text: Column | str) -> Column:
    """Argmax language by stopword hits; deterministic tie-break by language
    code order; 'und' (undetermined) when no stopword hits at all."""
    scores = lang_scores(text)
    best = F.greatest(*scores.values())
    # First language (ascending code order) reaching the max score wins.
    cascade = None
    for lang in sorted(scores):
        cond = scores[lang] == best
        cascade = F.when(cond, F.lit(lang)) if cascade is None else cascade.when(cond, F.lit(lang))
    return F.when(best > 0, cascade).otherwise(F.lit("und"))


_ASCII_LETTERS = "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"
_DIGITS = "0123456789"
_PUNCT = ".,!?;:"

# One int64 LUT over UTF-8 BYTES packing three class-membership flags at
# 21-bit offsets: a single gather + segmented sum counts alpha, digit,
# and punct simultaneously. ASCII classes are exact on UTF-8 bytes —
# multi-byte sequences never contain ASCII bytes — and 21 bits caps a
# per-doc class count at 2M characters (guarded below). A fourth lane
# doesn't fit; the space count (for text_quality_gate's symbol metric)
# runs as a second plain bool pass.
_PACKED_LUT = np.zeros(256, dtype=np.int64)
for _ch in _ASCII_LETTERS.encode():
    _PACKED_LUT[_ch] = 1
for _ch in _DIGITS.encode():
    _PACKED_LUT[_ch] |= 1 << 21
for _ch in _PUNCT.encode():
    _PACKED_LUT[_ch] |= 1 << 42
_M21 = (1 << 21) - 1

# Unpacked bool LUTs for the oversized-doc fallback lane (below): a doc
# with >= 2^21 bytes could overflow a 21-bit packed lane, so its counts
# are recomputed per class without packing — exact at any length.
_BOOL_LUTS = {}
for _name, _chars in (("alpha", _ASCII_LETTERS), ("digit", _DIGITS), ("punct", _PUNCT)):
    _lut = np.zeros(256, dtype=bool)
    _lut[list(_chars.encode())] = True
    _BOOL_LUTS[_name] = _lut


# DataType instance, not a DDL string: string return types parse via the
# active SparkContext, which would make importing this module require a
# live session (same note as intquant.py::dot_long).
_CLASS_COUNTS_TYPE = StructType(
    [
        StructField("n_alpha", LongType()),
        StructField("n_digit", LongType()),
        StructField("n_punct", LongType()),
        StructField("n_space", LongType()),
    ]
)


@pandas_udf(_CLASS_COUNTS_TYPE)
def _class_counts(s: pd.Series) -> pd.DataFrame:
    """ASCII character-class counts per document, one Arrow batch at a
    time: encode to UTF-8, gather the packed LUT, segmented-sum via
    cumsum+boundary-gather (NOT reduceat — reduceat mis-handles
    zero-length segments, returning the element at the boundary for an
    empty doc). Why not JVM expressions: ``regexp_replace`` pays per
    match (a complemented class matches nearly every char — 27.7 s to
    count digits at 500k docs), ``translate`` pays a boxed map lookup
    per char (~2x better, still ~50 s); this pass is memory-bound
    (measured ~100+ MB/s per lane single-core, all lanes in one gather).
    Null text -> null counts, matching the expression forms.

    Docs >= 2^21 bytes could overflow a 21-bit lane; those ROWS (and only
    those) are recomputed through an unpacked per-class pass in the same
    batch — one oversized outlier never fails the job (ADVICE r5). The
    cumsum itself stays exact int64 regardless of doc size, so the
    packed segment sums of the NORMAL rows are untouched by an oversized
    neighbor; only the oversized rows' own lane extractions are invalid
    and get overwritten."""
    mask = s.isna().to_numpy()
    enc = s.fillna("").str.encode("utf-8").to_numpy()
    lens = np.fromiter((len(b) for b in enc), dtype=np.int64, count=len(enc))
    buf = np.frombuffer(b"".join(enc), dtype=np.uint8)
    ends = np.cumsum(lens)
    starts = ends - lens
    packed_cs = np.concatenate(([0], np.cumsum(_PACKED_LUT[buf])))
    seg = packed_cs[ends] - packed_cs[starts]
    space_cs = np.concatenate(([0], np.cumsum((buf == 0x20).astype(np.int64))))
    n_alpha = seg & _M21
    n_digit = (seg >> 21) & _M21
    n_punct = seg >> 42
    for i in np.nonzero(lens >= (1 << 21))[0]:  # oversized fallback lane
        b = buf[starts[i] : ends[i]]
        n_alpha[i] = np.int64(np.count_nonzero(_BOOL_LUTS["alpha"][b]))
        n_digit[i] = np.int64(np.count_nonzero(_BOOL_LUTS["digit"][b]))
        n_punct[i] = np.int64(np.count_nonzero(_BOOL_LUTS["punct"][b]))
    out = pd.DataFrame(
        {
            "n_alpha": n_alpha,
            "n_digit": n_digit,
            "n_punct": n_punct,
            "n_space": space_cs[ends] - space_cs[starts],
        }
    )
    out[mask] = None
    return out


def char_class_counts(text: Column | str) -> Column:
    """Struct column ``(n_alpha, n_digit, n_punct, n_space)`` for a text
    column — one Arrow pass for all four counts. Field extractions of
    the same call collapse to a single ArrowEvalPython (plan-asserted in
    tests/test_intquant.py)."""
    c = F.col(text) if isinstance(text, str) else text
    return _class_counts(c)


# --- fused quality-stats kernel (round 7) -------------------------------
#
# quality_columns previously combined the byte-LUT class pass with TWO
# interpreted higher-order expressions (token_count_col's split+size and
# stopword_hits_col's transform+filter+isin). Decomposed at 500k docs the
# HOF soup cost more than the Arrow pass itself (full text_quality 23.3 s
# vs 10.3 s for the class counts alone, same box) — HOFs are interpreted
# per element AND defeat common-subexpression reuse across the projection.
# This kernel folds token and stopword counting into the same single
# Arrow pass, replicating the Spark expressions EXACTLY:
#
# - n_tokens == size(split(trim(c), '\s+')): trim strips 0x20 only
#   (pandas .str.strip(' ')); Java regex \s is ASCII
#   [ \t\n\x0B\f\r] (== _WS_LUT); split keeps edge empty-string
#   artifacts, so the count is (#non-separator runs) + 1 per
#   leading/trailing separator, and 1 for the empty string.
# - n_stop == size(filter(transform(tokens, lower), isin(stopwords))):
#   counted with one C-level regex over the JVM-lowered trimmed text,
#   which arrives as the kernel's SECOND input (F.lower(F.trim(c)) stays
#   in the JVM — the lang_scores rule: Unicode lowercasing semantics are
#   Spark's, not Python's, so exotic case-mapping table skew between the
#   two runtimes can never flip a stopword cell). A match must be a
#   WHOLE token, so the pattern consumes start-or-one-separator, the
#   word, and looks ahead at separator-or-end. Python re.ASCII pins
#   \s-free byte classes to the same ASCII set as Java. ('' artifacts
#   can never match. Lowering the whole text vs per token is equivalent
#   here: token boundaries are ASCII whitespace, which every Unicode
#   lowercase mapping preserves, and context-sensitive mappings like
#   final sigma key off the same neighbors either way.)

_WS_LUT = np.zeros(256, dtype=bool)
_WS_LUT[[0x20, 0x09, 0x0A, 0x0B, 0x0C, 0x0D]] = True
_WS_CLASS = r"[ \t\n\x0b\f\r]"


def _stop_pattern(words: tuple[str, ...]) -> str:
    """Whole-token regex for stopword counting: consume start-or-one-
    separator, the word (longest-first alternation), look ahead at
    separator-or-end. Token boundaries are the explicit ASCII class
    (Java regex \\s), so Python's Unicode \\s can't widen them. The ONE
    construction every stopword-counting kernel uses — the English
    quality-stats pattern and the 5-language lang_scores patterns must
    never drift apart."""
    import re as _re

    alt = "|".join(sorted((_re.escape(w) for w in words), key=len, reverse=True))
    return rf"(?:^|{_WS_CLASS})(?:{alt})(?={_WS_CLASS}|$)"


_EN_STOP_PATTERN = _stop_pattern(LANG_STOPWORDS["en"])

_QUALITY_STATS_TYPE = StructType(
    [
        StructField("n_alpha", LongType()),
        StructField("n_digit", LongType()),
        StructField("n_punct", LongType()),
        StructField("n_tokens", LongType()),
        StructField("n_stop", LongType()),
    ]
)


@pandas_udf(_QUALITY_STATS_TYPE)
def _quality_stats(s: pd.Series, low: pd.Series) -> pd.DataFrame:
    """``s`` is the raw text (class counts + token runs are byte-exact
    over it); ``low`` is the ALREADY JVM-lowered trimmed text
    (F.lower(F.trim(c))) the stopword regex runs over."""
    import re

    mask = s.isna().to_numpy()
    trimmed = s.fillna("").str.strip(" ")  # F.trim semantics: 0x20 only
    enc = trimmed.str.encode("utf-8").to_numpy()
    lens = np.fromiter((len(b) for b in enc), dtype=np.int64, count=len(enc))
    buf = np.frombuffer(b"".join(enc), dtype=np.uint8)
    ends = np.cumsum(lens)
    starts = ends - lens
    # class counts: same packed gather + oversized fallback as _class_counts
    packed_cs = np.concatenate(([0], np.cumsum(_PACKED_LUT[buf])))
    seg = packed_cs[ends] - packed_cs[starts]
    n_alpha = seg & _M21
    n_digit = (seg >> 21) & _M21
    n_punct = seg >> 42
    for i in np.nonzero(lens >= (1 << 21))[0]:
        b = buf[starts[i] : ends[i]]
        n_alpha[i] = np.int64(np.count_nonzero(_BOOL_LUTS["alpha"][b]))
        n_digit[i] = np.int64(np.count_nonzero(_BOOL_LUTS["digit"][b]))
        n_punct[i] = np.int64(np.count_nonzero(_BOOL_LUTS["punct"][b]))
    # token count: non-separator runs via boundary indicators (byte-exact:
    # UTF-8 continuation bytes are never ASCII whitespace), plus edge
    # separator artifacts split() keeps
    ws = _WS_LUT[buf]
    nz = lens > 0
    if len(buf):
        prev_ws = np.empty_like(ws)
        prev_ws[0] = True
        prev_ws[1:] = ws[:-1]
        prev_ws[starts[nz]] = True  # doc boundary acts as separator
        run_start = (~ws) & prev_ws
        rs_cs = np.concatenate(([0], np.cumsum(run_start.astype(np.int64))))
        n_runs = rs_cs[ends] - rs_cs[starts]
    else:
        n_runs = np.zeros(len(lens), dtype=np.int64)
    lead = np.zeros(len(lens), dtype=np.int64)
    trail = np.zeros(len(lens), dtype=np.int64)
    lead[nz] = ws[starts[nz]]
    trail[nz] = ws[ends[nz] - 1]
    n_tokens = np.where(nz, n_runs + lead + trail, 1)
    # stopword hits: one C regex over the JVM-lowered trimmed text
    n_stop = (
        low.fillna("")
        .str.count(_EN_STOP_PATTERN, flags=re.ASCII)
        .to_numpy()
        .astype(np.int64)
    )
    out = pd.DataFrame(
        {
            "n_alpha": n_alpha,
            "n_digit": n_digit,
            "n_punct": n_punct,
            "n_tokens": n_tokens,
            "n_stop": n_stop,
        }
    )
    out[mask] = None
    # null-text contract, matched to the EXPRESSION forms this kernel
    # replaces (pinned by the parity test): the class counts are null,
    # but size(split(null)) and size(filter(null)) are -1 in this
    # engine's configuration — keep the -1, or every downstream ratio
    # and gate flips from the legacy sentinel to null
    out.loc[mask, "n_tokens"] = -1
    out.loc[mask, "n_stop"] = -1
    return out


def quality_stats_counts(text: Column | str) -> Column:
    """Struct ``(n_alpha, n_digit, n_punct, n_tokens, n_stop)`` in ONE
    Arrow pass — the fused kernel quality_columns consumes. Field
    extractions of one call collapse to a single ArrowEvalPython. The
    lowering for the stopword count happens HERE, JVM-side, so the
    kernel never depends on Python's Unicode case tables."""
    c = F.col(text) if isinstance(text, str) else text
    return _quality_stats(c, F.lower(F.trim(c)))


_LANG_SCORES_UDF = None


def _make_lang_scores_udf():
    """One Arrow kernel counting all five languages' stopword hits per
    doc (input: already lowered+trimmed text, JVM semantics). Null text
    -> -1 per field, the size(filter(null)) sentinel the expression form
    produced (lang_id_col's `best > 0` guard routes those to 'und')."""
    global _LANG_SCORES_UDF
    if _LANG_SCORES_UDF is not None:
        return _LANG_SCORES_UDF
    import re

    pats = {lang: _stop_pattern(sw) for lang, sw in LANG_STOPWORDS.items()}
    fields = StructType([StructField(lang, LongType()) for lang in sorted(pats)])

    @pandas_udf(fields)
    def scores(s: pd.Series) -> pd.DataFrame:
        mask = s.isna().to_numpy()
        low = s.fillna("")
        out = pd.DataFrame(
            {
                lang: low.str.count(pats[lang], flags=re.ASCII)
                .to_numpy()
                .astype(np.int64)
                for lang in sorted(pats)
            }
        )
        out[mask] = -1
        return out

    _LANG_SCORES_UDF = scores
    return scores


def quality_columns(text: Column | str) -> dict[str, Column]:
    """Length/punctuation/stopword quality signals (E3 quality scoring).

    All five counts come from ONE fused Arrow pass
    (:func:`quality_stats_counts`): the previous mix of the class kernel
    plus interpreted token/stopword HOFs cost 2.3x the kernel alone at
    500k docs (r7 decomposition in SCALING.md) — the HOFs evaluated
    per-element AND re-derived the token array per consumer."""
    c = F.col(text) if isinstance(text, str) else text
    n_chars = F.length(c).cast("long")
    n_chars_trim = F.length(F.trim(c)).cast("long")
    st = quality_stats_counts(c)
    n_tokens = st.getField("n_tokens")
    n_alpha = st.getField("n_alpha")
    n_digit = st.getField("n_digit")
    # class kept in lockstep with the DuckDB oracle in plans/llm_ops.py —
    # any character added here must be added there too
    n_punct = st.getField("n_punct")
    n_stop = st.getField("n_stop")
    return {
        "n_chars_calc": n_chars,
        "n_tokens": n_tokens,
        # token lengths derive from the TRIMMED text (tokenization trims);
        # raw length would overstate on padded input
        "avg_token_len": F.round((n_chars_trim - (n_tokens - 1)) / n_tokens, 4),
        "alpha_ratio": F.round(n_alpha / F.greatest(n_chars, F.lit(1)), 4),
        "digit_ratio": F.round(n_digit / F.greatest(n_chars, F.lit(1)), 4),
        "punct_ratio": F.round(n_punct / F.greatest(n_chars, F.lit(1)), 4),
        "stopword_ratio": F.round(n_stop / F.greatest(n_tokens, F.lit(1)), 4),
    }


def shingles_col(text: Column | str, k: int = 3) -> Column:
    """Token k-gram shingles -> array<string> (input to MinHash/Jaccard).

    One ``regexp_extract_all`` over whitespace-normalized text: the
    pattern consumes a token boundary (start-of-string or one space) and
    CAPTURES the next k tokens through a zero-width lookahead, so matches
    overlap exactly one-per-token-position. regexp_extract_all is an
    ordinary (non-higher-order) expression — it stays inside whole-stage
    codegen, where the previous zip_with-of-k-slices form was an
    interpreted HOF eval per element (measured on 500k docs: 181 s ->
    58 s for the same bit-identical shingle strings; byte equality
    asserted in tests, so every downstream hash, candidate set, and
    oracle is unchanged).

    Shingles are over NON-EMPTY tokens: split() emits '' artifacts at
    text edges when leading/trailing whitespace is not 0x20 (trim strips
    spaces only), and the regex branch can never produce an
    empty-token shingle anyway — counting those artifacts in ``n`` and
    the fallback made 'a b\\n' take the regex branch (n=3) and emit []
    while a filtered count takes the whole-doc fallback 'a b'. Every
    shingle oracle applies the same list_filter(x -> x <> '')."""
    toks = F.filter(tokens_col(text), lambda x: x != "")
    n = F.size(toks)
    c = F.col(text) if isinstance(text, str) else text
    norm = F.regexp_replace(F.trim(c), r"\s+", " ")
    pat = r"(?:^| )(?=(\S+" + r" \S+" * (k - 1) + r"))"
    # empty text: the filtered token array is [] (n == 0) — the regex
    # finds no token there, so route it to the fallback explicitly, which
    # emits the same [''] whole-doc shingle as before
    return F.when(
        (n >= k) & (F.length(norm) > 0), F.regexp_extract_all(norm, F.lit(pat), F.lit(1))
    ).otherwise(F.array(F.concat_ws(" ", toks)))


def hashed_margin_expr_col(
    text: Column | str, buckets: int = 2001, bias: float = -0.02
) -> Column:
    """EXPRESSION form of the feature-hashing margin — the semantic
    definition (and the DuckDB oracle's twin): tokens hash to ``buckets``
    md5-derived weight buckets in [-1, 1]; margin = ``bias +
    mean(weight)`` via a sequential left fold. Kept as the parity
    reference for the Arrow kernel below, which is what production code
    calls: the md5-per-token-OCCURRENCE here (plus two interpreted HOFs)
    was the dominant cost of docs_quality_classifier at 500k docs."""
    from pyspark.sql import functions as F

    c = F.col(text) if isinstance(text, str) else text
    toks = F.filter(F.split(F.lower(F.trim(c)), r"\s+"), lambda x: x != "")
    half = (buckets - 1) // 2
    ws = F.transform(
        toks,
        lambda t: (
            (F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long") % buckets)
            - F.lit(half)
        )
        / F.lit(float(half)),
    )
    n = F.size(toks).cast("long")
    margin = F.lit(bias) + F.aggregate(ws, F.lit(0.0), lambda a, x: a + x) / n
    return F.when(n == 0, F.lit(None).cast("double")).otherwise(margin)


#: docs longer than this many tokens leave the column sweep and fold in a
#: plain per-doc Python float loop (identical IEEE order) — keeps sweep
#: iterations bounded by typical doc length, not the longest outlier.
_MARGIN_SWEEP_CAP = 4096


def _make_margin_udf(buckets: int, bias: float):
    """Arrow kernel twin of :func:`hashed_margin_expr_col`, bit-exact by
    construction (pinned by the parity test):

    - input is the ALREADY lowered+trimmed text (F.lower(F.trim(c)) stays
      in the JVM, so Unicode lowercasing semantics are Spark's, not
      Python's);
    - tokenization is re.split on the explicit ASCII class
      ``[ \\t\\n\\x0b\\f\\r]+`` (Java regex \\s), empties filtered like
      the expression form;
    - md5 runs once per UNIQUE token per batch (pd.factorize) — the
      Zipf headroom: ~50x fewer digests than per-occurrence — with the
      identical value derivation int(hexdigest[:8], 16) % buckets;
    - the per-doc mean is a SEQUENTIAL left fold in token order, exactly
      like F.aggregate: a column sweep adds token j of every live doc on
      iteration j (descending-length order, shrinking active prefix, so
      total work is O(tokens)); docs longer than _MARGIN_SWEEP_CAP fold
      in a per-doc Python float loop — both are the same IEEE add order.
    """
    import hashlib
    import re

    half = (buckets - 1) // 2
    fhalf = float(half)
    sep = re.compile(r"[ \t\n\x0b\f\r]+")

    # DataType INSTANCE, not a DDL string: string return types parse via
    # the active SparkContext (the intquant.py/_CLASS_COUNTS_TYPE rule),
    # which would make building this udf require a live session
    @pandas_udf(DoubleType())
    def margin(s: pd.Series) -> pd.Series:
        mask = s.isna().to_numpy()
        toks = [
            [t for t in sep.split(x)] if x else []
            for x in s.fillna("").to_list()
        ]
        toks = [[t for t in ts if t] for ts in toks]
        counts = np.fromiter((len(t) for t in toks), dtype=np.int64, count=len(toks))
        flat = [t for ts in toks for t in ts]
        out = np.full(len(toks), np.nan)
        if flat:
            codes, uniques = pd.factorize(np.asarray(flat, dtype=object))
            uw = np.empty(len(uniques))
            for i, u in enumerate(uniques):
                v = int(hashlib.md5(u.encode("utf-8")).hexdigest()[:8], 16)
                uw[i] = ((v % buckets) - half) / fhalf
            w_all = uw[codes]
            offsets = np.concatenate(([0], np.cumsum(counts)))[:-1]
            big = counts > _MARGIN_SWEEP_CAP
            sweep = np.nonzero(~big & (counts > 0))[0]
            if len(sweep):
                order = sweep[np.argsort(-counts[sweep], kind="stable")]
                cs, offs = counts[order], offsets[order]
                acc = np.zeros(len(order))
                k = len(order)
                j = 0
                while k > 0:
                    while k > 0 and cs[k - 1] <= j:
                        k -= 1
                    if k == 0:
                        break
                    acc[:k] += w_all[offs[:k] + j]
                    j += 1
                out[order] = bias + acc / cs
            for i in np.nonzero(big)[0]:
                a = 0.0
                for x in w_all[offsets[i] : offsets[i] + counts[i]]:
                    a += x
                out[i] = bias + a / counts[i]
        res = pd.Series(out)
        res[mask | (counts == 0)] = None
        return res

    return margin


def hashed_margin_col(
    text: Column | str, buckets: int = 2001, bias: float = -0.02
) -> Column:
    """Feature-hashing linear-classifier margin (plans/llm_ops7.py
    docs_quality_classifier, exposed for pipeline composition): tokens
    hash to ``buckets`` md5-derived weight buckets in [-1, 1]; margin =
    ``bias + mean(weight)`` via a sequential left fold (cross-engine
    bit-stable). NULL for token-less docs.

    Runs as the factorized-md5 Arrow kernel (one digest per unique token
    per batch) — bit-identical to :func:`hashed_margin_expr_col`, which
    remains the semantic/parity reference."""
    from pyspark.sql import functions as F

    c = F.col(text) if isinstance(text, str) else text
    return _make_margin_udf(buckets, bias)(F.lower(F.trim(c)))
