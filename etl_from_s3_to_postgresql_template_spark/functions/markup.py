"""Fused markup-stripping Arrow kernel — the production tier of
docs_strip_markup (VERDICT r9 item 5).

The codegen tier (plans/llm_ops11.py::docs_strip_markup) is four JVM
regex passes + five literal replaces, each materializing a full copy of
every document; measured at 500k docs its wall time swings 9.5-44.3 s
with co-tenant load (allocation/GC-bound). This kernel fuses the whole
transform into ONE mapInPandas pass — the tag pass counts removed chars
via an accumulating replacement callback (no second regex pass), the
five entity replaces are C-level str.replace, one whitespace collapse —
and measured 6.2-7.3 s on the same corpus in the same sessions
(same-session alternating A/B, three triples; SCALING.md round-10).

Semantics are IDENTICAL to the codegen tier by construction and by
planted-HTML tests (tests/test_llm_ops12.py): tag = ``<[^>]*>`` -> one
space; entities &lt; &gt; &quot; &#39; decoded before &amp; (so
'&amp;lt;' yields the TEXT '&lt;', never '<'); whitespace = the
explicit ASCII class (RE2/Java parity, llm_ops8 convention); trim is
0x20-only. Both tiers are hash-exact against the same DuckDB oracle.

Zero-shuffle: a per-doc projection — the only exchange in the consuming
plan is its output sort.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd

from etl_from_s3_to_postgresql_template_spark.functions.text import WS

_TAG_RE = re.compile(r"<[^>]*>")
_WS_RE = re.compile(WS)
_ENTS = (("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'), ("&#39;", "'"), ("&amp;", "&"))

#: output schema of strip_markup_batches (DDL used at the call site —
#: never at import time, per the pandas_udf import gotcha)
STRIP_SCHEMA = "doc_id long, clean_text string, n_tag_chars long, n_entity_chars long"


def strip_one(t0: str) -> tuple[str, int, int]:
    """(clean_text, n_tag_chars, n_entity_chars) for one document."""
    tag_chars = 0

    def repl(m: re.Match) -> str:
        nonlocal tag_chars
        tag_chars += m.end() - m.start()
        return " "

    t1 = _TAG_RE.sub(repl, t0)
    t2 = t1
    for ent, ch in _ENTS:
        t2 = t2.replace(ent, ch)
    clean = _WS_RE.sub(" ", t2).strip(" ")
    return clean, tag_chars, len(t1) - len(t2)


def strip_clean_only(t0: str) -> str:
    """clean_text alone — the counts-free variant for consumers that
    discard n_tag_chars/n_entity_chars (review r10: the accumulating
    tag callback costs one Python call per tag occurrence, pure waste
    when only the cleaned text is used)."""
    t2 = _TAG_RE.sub(" ", t0)
    for ent, ch in _ENTS:
        t2 = t2.replace(ent, ch)
    return _WS_RE.sub(" ", t2).strip(" ")


def strip_markup_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas generator over (doc_id, text) batches."""
    for pdf in batches:
        out = [strip_one(t) for t in pdf["text"].fillna("")]
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"].values,
                "clean_text": [o[0] for o in out],
                "n_tag_chars": [o[1] for o in out],
                "n_entity_chars": [o[2] for o in out],
            }
        )
