"""Doc-local repetition counts for the Gopher repetition rules (Rae et
al. 2021, Table A1) — the within-document half of the quality story that
``functions/text.py``'s shape rules (token count / mean word length /
stopword evidence) deliberately left out.

One struct-returning Arrow kernel per document computes the RAW integer
counts; every fraction, threshold and the boolean gate stay JVM-side in
``plans/llm_ops11.py`` as exact integer micro-unit arithmetic (the
llm_ops9 discipline), so the registry pair is hash-exact cross-engine.

Why a kernel and not expressions: the top-n-gram and duplicate-n-gram
statistics need within-document n-gram COUNTING. The expression form is
either an explode + groupBy(doc_id, gram) shuffle of gram strings
(~n x corpus bytes for nothing — the counts are doc-local by
definition) or an O(m^2) interpreted higher-order-function fold. The
house precedent for doc-local text statistics is the fused one-pass
Arrow kernel (functions/text.py::quality_stats_counts): one scan, zero
shuffle, counts out. Per-doc work is O(m) Counter passes over tuple
windows; at ~190 tokens/doc this is Arrow-batch-bound, not Python-bound
(measured in SCALING.md round-9 second extension).

Semantics, pinned here and mirrored verbatim by the DuckDB oracle:

- *Lines*: the raw text splits on "\\n" (limit -1); a line participates
  iff its 0x20-trimmed form is non-empty (the docs_line_dedup identity
  choice — tabs stay significant); duplicate occurrences are
  occurrences beyond the first of each distinct trimmed value.
- *Tokens*: the explicit ASCII whitespace class ``[ \\t\\n\\x0B\\f\\r]+``
  (the llm_ops8 convention: RE2's ``\\s`` omits ``\\x0B``), empty
  strings dropped.
- *top n-gram chars* (n = 2, 3, 4): max over n-grams occurring >= 2
  times of ``count * chars(gram)`` where ``chars(gram)`` counts the
  single-space-joined form (sum of token lengths + n - 1); 0 when no
  n-gram repeats. The denominator (applied downstream) is the length
  of the space-normalized token stream, so pathological whitespace
  runs can't dilute the fraction.
- *dup 5-gram chars*: the UNION of word positions covered by 5-grams
  occurring >= 2 times within the doc, summing TOKEN lengths only
  (separators excluded — the denominator downstream is ``tok_chars``
  for consistency). Union semantics, not per-occurrence sums, so the
  fraction is always <= 1 (the double-counting trap Rae et al. call
  out).
- *NULL text* behaves as empty text (the llm_ops10 COALESCE contract):
  every count 0.

Reference scope note: the reference pipeline (etl_pipeline.py) has no
quality filtering at all; this is north-star training-data surface.
"""

from __future__ import annotations

import re
from collections import Counter

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from etl_from_s3_to_postgresql_template_spark.functions.text import WS

__all__ = ["rep_stats_counts", "REP_FIELDS"]

_WS_RE = re.compile(WS)

#: output struct fields, all exact int64 counts
REP_FIELDS = (
    "n_lines",
    "dup_line_cnt",
    "line_chars",
    "dup_line_chars",
    "top2_chars",
    "top3_chars",
    "top4_chars",
    "dup5_chars",
    "n_tok",
    "tok_chars",
)

_REP_TYPE = ", ".join(f"{f} long" for f in REP_FIELDS)


def _doc_counts(t: str) -> tuple:
    """Pure-Python twin for one document; exact integers only."""
    # --- line statistics over the raw '\n' split -----------------------
    plines = [ln.strip(" ") for ln in t.split("\n")]
    plines = [ln for ln in plines if ln]
    n_lines = len(plines)
    lc = Counter(plines)
    dup_line_cnt = n_lines - len(lc)
    line_chars = sum(map(len, plines))
    dup_line_chars = sum((c - 1) * len(v) for v, c in lc.items() if c >= 2)
    # --- token stream ---------------------------------------------------
    toks = [x for x in _WS_RE.split(t) if x]
    n_tok = len(toks)
    tok_chars = sum(map(len, toks))
    tops = []
    for n in (2, 3, 4):
        best = 0
        if n_tok >= n:
            cnt = Counter(zip(*(toks[i:] for i in range(n))))
            for g, c in cnt.items():
                if c >= 2:
                    chars = c * (sum(map(len, g)) + n - 1)
                    if chars > best:
                        best = chars
        tops.append(best)
    dup5_chars = 0
    if n_tok >= 5:
        grams = list(zip(*(toks[i:] for i in range(5))))
        cnt5 = Counter(grams)
        covered = bytearray(n_tok)
        for i, g in enumerate(grams):
            if cnt5[g] >= 2:
                covered[i : i + 5] = b"\x01\x01\x01\x01\x01"
        dup5_chars = sum(len(toks[j]) for j in range(n_tok) if covered[j])
    return (
        n_lines,
        dup_line_cnt,
        line_chars,
        dup_line_chars,
        tops[0],
        tops[1],
        tops[2],
        dup5_chars,
        n_tok,
        tok_chars,
    )


_REP_UDF = None


def _make_rep_udf():
    """Lazy creation: pandas_udf with a DDL return type needs an active
    SparkSession (Spark 4), so the UDF is built on first use and cached
    (the operators/dedup.py convention)."""
    global _REP_UDF
    if _REP_UDF is not None:
        return _REP_UDF

    @pandas_udf(_REP_TYPE)
    def _rep_stats(text: pd.Series) -> pd.DataFrame:
        rows = [_doc_counts(t if isinstance(t, str) else "") for t in text]
        return pd.DataFrame(rows, columns=list(REP_FIELDS))

    _REP_UDF = _rep_stats
    return _REP_UDF


def rep_stats_counts(text: Column | str) -> Column:
    """Struct of the ten repetition counts in ONE Arrow pass; field
    extractions of one call collapse to a single ArrowEvalPython (the
    quality_stats_counts pattern)."""
    c = F.col(text) if isinstance(text, str) else text
    return _make_rep_udf()(c)
