"""Round-9 third-session module: the remaining quality / data-mixing /
contamination white space in the LLM-pipeline surface.

1. ``docs_gopher_repetition`` — the REPETITION half of the Gopher
   quality filters (Rae et al. 2021, Table A1): duplicate-line fraction
   and duplicate-line character fraction, top-{2,3,4}-gram character
   fraction, and duplicate-5-gram character fraction with union
   (non-double-counting) coverage, plus the paper's threshold gate.
   The existing ``docs_gopher_quality`` (llm_ops2) covers only the
   SHAPE rules (token count / mean word length / stopword evidence);
   this entry completes the filter family.
2. ``corpus_mixture_unimax`` — UniMax sampling allocation (Chung et
   al. 2023, "UniMax: Fairer and More Effective Language Sampling for
   Large-Scale Multilingual Pretraining"): given per-domain token
   counts, an epoch cap, and a token budget, waterfill the budget so
   no domain exceeds ``epoch_cap`` epochs and the remainder is shared
   equally — the closed-form mixture planner a 100 TB pretraining run
   derives its sampling weights from.
3. ``embedding_decontaminate_eval`` — the SEMANTIC twin of
   ``docs_decontaminate_ngram`` (llm_ops9): flag corpus vectors whose
   cosine against ANY held-out eval vector reaches tau, the
   embedding-space benchmark-contamination sweep (Yang et al. 2023,
   "Rethinking Benchmark and Contamination ... " use the same shape).
4. ``text_tokenizer_fertility`` — per-language tokenizer fertility
   audit (chars / bytes per token under the Unicode-aware no-segmenter
   fallback), the standard pre-tokenizer corpus report (Rust et al.
   2021 study fertility per language; every multilingual data card
   ships this table).
5. ``embedding_kmeans_micro`` — Lloyd k-means over the embedding
   corpus with EVERY arithmetic step in exact integer micro-units
   (coordinates quantized once; centroid updates are integer
   truncating division of order-free int64 sums; distances are int64
   squared norms), so the full clusterer — init, two Lloyd rounds,
   final assignment — is HASH-EXACT cross-engine, not
   tolerance-compared. The first oracle-paired clustering entry (the
   SemDeDup centroids are a fitted rows-only artifact by contrast).
6. ``corpus_shard_plan`` — deterministic training-shard assignment:
   global running token totals in doc_id order, shard boundaries every
   SHARD_TOKENS tokens. The Spark plan is the classic DISTRIBUTED
   PREFIX SUM (range partition -> per-partition scan -> broadcast
   partition offsets), not a single-partition window — the shape that
   survives 100 TB.

Exact-arithmetic discipline (the llm_ops9 convention): fractions are
integer micro-units computed with BIGINT floor division on both
engines; nothing tolerance-compares. Whitespace is the explicit ASCII
class (the llm_ops8 convention — RE2's ``\\s`` omits ``\\x0B``; Java's
``\\s`` is exactly ``[ \\t\\n\\x0B\\f\\r]``).

Module policy: helpers shared between plan modules live once in
operators/ (or functions/) and are imported, never copied;
plans/provenance.py follows imports transitively, so an edit to a
shared helper re-checks every query that reaches it.

Reference scope note: the reference pipeline (etl_pipeline.py ~734
lines) has no quality/mixing/contamination surface; all four entries
are north-star training-data operators with no reference counterpart.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_from_s3_to_postgresql_template_spark.functions.text import WS, ws_token_count_col
from etl_from_s3_to_postgresql_template_spark.plans.registry import query
from etl_from_s3_to_postgresql_template_spark.sources.registry import load_table
from etl_from_s3_to_postgresql_template_spark.util import shared_subtree

__all__ = [
    "docs_gopher_repetition",
    "corpus_mixture_unimax",
    "embedding_decontaminate_eval",
    "text_tokenizer_fertility",
    "embedding_kmeans_micro",
    "corpus_shard_plan",
    "corpus_unimax_schedule",
    "docs_gopher_full_gate",
    "docs_length_quantiles_hist",
    "docs_strip_markup",
    "streaming_quality_gate",
    "docs_gopher_repetition_cjk",
    "dedup_keep_best_quality",
]

# ---------------------------------------------------------------------------
# docs_gopher_repetition
# ---------------------------------------------------------------------------
#
# Counts come from one zero-shuffle Arrow kernel
# (functions/gopher_rep.py — semantics pinned there and mirrored by the
# oracle below); fractions/thresholds are JVM-side exact integer
# micro-units. Gopher's published thresholds (Rae et al. 2021 Table A1):
# dup-line <= 0.30, dup-line-chars <= 0.20, top-2-gram <= 0.20,
# top-3-gram <= 0.18, top-4-gram <= 0.16, dup-5-gram <= 0.15.

#: the shared CTE chain computing per-doc repetition counts into `m`
#: (see _gr_body: three oracle consumers, one definition site)
def _gr_body(t_expr: str) -> str:
    """The repetition CTE chain over an arbitrary text expression — ONE
    definition site instantiated by THREE consumers: _GR_ORACLE (ASCII
    tier), _GRC_ORACLE (CJK tier), and _FG_ORACLE (full gate). Any
    semantics change here changes all three oracles together."""
    return _GR_BODY_TPL.replace("__T_EXPR__", t_expr)


_GR_BODY_TPL = rf"""d AS (
      SELECT doc_id, __T_EXPR__ AS t FROM documents
    ), ln AS (
      SELECT doc_id, trim(l, ' ') AS pl
      FROM d, UNNEST(string_split(t, chr(10))) AS u(l)
      WHERE trim(l, ' ') <> ''
    ), lg AS (
      SELECT doc_id, pl, CAST(count(*) AS BIGINT) AS c,
             CAST(len(pl) AS BIGINT) AS ll
      FROM ln GROUP BY doc_id, pl
    ), lstat AS (
      SELECT doc_id,
             CAST(sum(c) AS BIGINT) AS n_lines,
             CAST(sum(c) - count(*) AS BIGINT) AS dup_line_cnt,
             CAST(sum(c * ll) AS BIGINT) AS line_chars,
             CAST(sum((c - 1) * ll) AS BIGINT) AS dup_line_chars
      FROM lg GROUP BY doc_id
    ), ts AS (
      SELECT doc_id,
             list_filter(string_split_regex(t, '{WS}'), x -> x <> '') AS toks,
             CAST(len(list_filter(string_split_regex(t, '{WS}'), x -> x <> ''))
                  AS BIGINT) AS n_tok,
             CAST(COALESCE(list_sum(list_transform(
                  list_filter(string_split_regex(t, '{WS}'), x -> x <> ''),
                  x -> CAST(len(x) AS BIGINT))), 0) AS BIGINT) AS tok_chars
      FROM d
    ), g2 AS (
      SELECT doc_id, UNNEST(list_transform(range(n_tok - 1),
             p -> array_to_string(list_slice(toks, p + 1, p + 2), ' '))) AS gram
      FROM ts WHERE n_tok >= 2
    ), g3 AS (
      SELECT doc_id, UNNEST(list_transform(range(n_tok - 2),
             p -> array_to_string(list_slice(toks, p + 1, p + 3), ' '))) AS gram
      FROM ts WHERE n_tok >= 3
    ), g4 AS (
      SELECT doc_id, UNNEST(list_transform(range(n_tok - 3),
             p -> array_to_string(list_slice(toks, p + 1, p + 4), ' '))) AS gram
      FROM ts WHERE n_tok >= 4
    ), t2 AS (
      SELECT doc_id, CAST(MAX(cl) AS BIGINT) AS top_chars FROM (
        SELECT doc_id, count(*) * len(gram) AS cl FROM g2
        GROUP BY doc_id, gram HAVING count(*) >= 2) GROUP BY doc_id
    ), t3 AS (
      SELECT doc_id, CAST(MAX(cl) AS BIGINT) AS top_chars FROM (
        SELECT doc_id, count(*) * len(gram) AS cl FROM g3
        GROUP BY doc_id, gram HAVING count(*) >= 2) GROUP BY doc_id
    ), t4 AS (
      SELECT doc_id, CAST(MAX(cl) AS BIGINT) AS top_chars FROM (
        SELECT doc_id, count(*) * len(gram) AS cl FROM g4
        GROUP BY doc_id, gram HAVING count(*) >= 2) GROUP BY doc_id
    ), g5 AS (
      SELECT doc_id, UNNEST(list_transform(range(n_tok - 4),
             p -> struct_pack(i := p + 1,
                  gram := array_to_string(list_slice(toks, p + 1, p + 5), ' ')))) AS s
      FROM ts WHERE n_tok >= 5
    ), g5f AS (
      SELECT doc_id, s.i AS i, s.gram AS gram FROM g5
    ), c5 AS (
      SELECT doc_id, gram FROM g5f GROUP BY doc_id, gram HAVING count(*) >= 2
    ), dpos AS (
      SELECT g5f.doc_id, g5f.i FROM g5f JOIN c5 USING (doc_id, gram)
    ), cov AS (
      SELECT DISTINCT doc_id, j FROM (
        SELECT doc_id, UNNEST([i, i + 1, i + 2, i + 3, i + 4]) AS j FROM dpos)
    ), covs AS (
      SELECT c.doc_id, CAST(SUM(len(ts.toks[c.j])) AS BIGINT) AS dup5_chars
      FROM cov c JOIN ts ON c.doc_id = ts.doc_id GROUP BY c.doc_id
    ), m AS (
      SELECT d.doc_id,
             COALESCE(l.n_lines, 0) AS n_lines,
             COALESCE(l.dup_line_cnt, 0) AS dup_line_cnt,
             COALESCE(l.line_chars, 0) AS line_chars,
             COALESCE(l.dup_line_chars, 0) AS dup_line_chars,
             COALESCE(t2.top_chars, 0) AS top2,
             COALESCE(t3.top_chars, 0) AS top3,
             COALESCE(t4.top_chars, 0) AS top4,
             COALESCE(covs.dup5_chars, 0) AS dup5,
             ts.n_tok AS n_tok,
             ts.tok_chars AS tok_chars,
             ts.tok_chars + CASE WHEN ts.n_tok > 0 THEN ts.n_tok - 1 ELSE 0 END
               AS norm_len
      FROM d
      LEFT JOIN lstat l ON d.doc_id = l.doc_id
      JOIN ts ON d.doc_id = ts.doc_id
      LEFT JOIN t2 ON d.doc_id = t2.doc_id
      LEFT JOIN t3 ON d.doc_id = t3.doc_id
      LEFT JOIN t4 ON d.doc_id = t4.doc_id
      LEFT JOIN covs ON d.doc_id = covs.doc_id
    )"""

#: the six repetition fractions over `m`'s columns, and their published
#: thresholds in micro-units — the SINGLE definition both oracles and
#: both Spark plans derive from
_GR_FRACS = {
    "dup_line_frac_micro": ("dup_line_cnt", "n_lines", 300000),
    "dup_line_char_frac_micro": ("dup_line_chars", "line_chars", 200000),
    "top_2gram_frac_micro": ("top2", "norm_len", 200000),
    "top_3gram_frac_micro": ("top3", "norm_len", 180000),
    "top_4gram_frac_micro": ("top4", "norm_len", 160000),
    "dup_5gram_frac_micro": ("dup5", "tok_chars", 150000),
}

def _sql_frac(num: str, den: str) -> str:
    return f"CASE WHEN {den} > 0 THEN 1000000 * {num} // {den} ELSE 0 END"

_GR_PASSES_SQL = " AND ".join(
    f"({_sql_frac(n, d)}) <= {t}" for n, d, t in _GR_FRACS.values()
)

_GR_SELECT = (
    "SELECT doc_id, CAST(n_lines AS BIGINT) AS n_lines,\n"
    + ",\n".join(
        f"      CAST({_sql_frac(num, den)} AS BIGINT) AS {name}"
        for name, (num, den, _t) in _GR_FRACS.items()
    )
    + f",\n      {_GR_PASSES_SQL} AS passes\n    FROM m ORDER BY doc_id"
)

_GR_BODY = _gr_body("COALESCE(text, '')")
_GR_ORACLE = f"WITH {_GR_BODY}\n    {_GR_SELECT}"

#: CJK codepoint separation (the llm_ops8 no-segmenter fallback applied
#: to the REPETITION rules): every Han/Hiragana/Katakana codepoint gets
#: spaces around it, so the ws-tokenizer sees it as its own token.
#: Replacement backreference syntax differs by engine: RE2/DuckDB \1,
#: Java $1 — pinned by the planted zh test.
#: ONE definition for the whole module (repetition CJK tier +
#: fertility): editing a duplicated copy would silently tokenize
#: different character sets per entry (review r9-3b)
_CJK_RE2_CLS = r"[\p{Han}\p{Hiragana}\p{Katakana}]"
_CJK_JAVA_CLS = r"[\p{IsHan}\p{IsHiragana}\p{IsKatakana}]"
_GRC_ORACLE = (
    "WITH "
    + _gr_body(
        f"regexp_replace(COALESCE(text, ''), '({_CJK_RE2_CLS})', ' \\1 ', 'g')"
    )
    + f"\n    {_GR_SELECT}"
)


#: m-column -> kernel-struct column (the oracle's m names differ from
#: the kernel field names for the four gram counts)
_KERNEL_COL = {
    "dup_line_cnt": "dup_line_cnt",
    "dup_line_chars": "dup_line_chars",
    "top2": "top2_chars",
    "top3": "top3_chars",
    "top4": "top4_chars",
    "dup5": "dup5_chars",
}


def _frac_micro(num: str, den: str) -> F.Column:
    """Exact BIGINT micro-fraction: (1e6 * num) div den, 0 on empty
    denominator — the integer `div` form, NEVER floor(double division)
    (review r9-3: a double quotient differs from integer division once
    1e6*num exceeds 2^53 or lands within an ulp of an integer)."""
    return (
        F.when(F.col(den) > 0, F.expr(f"(1000000 * {num}) div {den}"))
        .otherwise(F.lit(0))
        .cast("long")
    )


def _and_all(conds) -> F.Column:
    out = None
    for c in conds:
        out = c if out is None else (out & c)
    return out


def _rep_counts_frame(
    spark: SparkSession, sf_dir: str, text_col: F.Column | None = None
) -> DataFrame:
    """Kernel counts + norm_len for the documents table over an
    arbitrary text expression (raw for the ASCII tier, CJK-separated
    for the CJK tier)."""
    from etl_from_s3_to_postgresql_template_spark.functions.gopher_rep import rep_stats_counts

    docs = load_table(spark, sf_dir, "documents", parallel=True)
    tc = F.col("text") if text_col is None else text_col
    base = docs.select("doc_id", rep_stats_counts(tc).alias("r")).select(
        "doc_id", "r.*"
    )
    return base.withColumn(
        "norm_len",
        F.col("tok_chars")
        + F.when(F.col("n_tok") > 0, F.col("n_tok") - 1).otherwise(F.lit(0)),
    )


def _rep_gate_frame(norm: DataFrame) -> DataFrame:
    """Fractions + gate over a kernel counts frame (shared by both
    repetition tiers)."""
    m = norm.select(
        "doc_id",
        F.col("n_lines").cast("long").alias("n_lines"),
        *[
            _frac_micro(_KERNEL_COL[num], den).alias(name)
            for name, (num, den, _t) in _GR_FRACS.items()
        ],
    )
    passes = _and_all(
        F.col(name) <= thr for name, (_n, _d, thr) in _GR_FRACS.items()
    )
    return m.withColumn("passes", passes).orderBy("doc_id")


@query("docs_gopher_repetition", oracle=_GR_ORACLE)
def docs_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition filters (module comment above). Counts come
    from ONE zero-shuffle Arrow pass (functions/gopher_rep.py — the
    within-doc n-gram counting is doc-local by definition, so the
    explode + groupBy(doc_id, gram) shuffle the expression form would
    pay ships n x corpus bytes for nothing); every fraction is a JVM
    codegen BIGINT floor division in micro-units, so the registry pair
    is hash-exact. At 100 TB this is a scan plus the output sort —
    the same cost class as text_quality's fused kernel.

    Gate semantics: a document passes iff EVERY repetition fraction is
    at or below its published threshold (0.30 / 0.20 / 0.20 / 0.18 /
    0.16 / 0.15). Empty and NULL documents pass trivially (all
    fractions 0) — shape rules (token-count bounds) live in
    docs_gopher_quality, not here.
    """
    return _rep_gate_frame(_rep_counts_frame(spark, sf_dir))


@query("docs_gopher_repetition_cjk", oracle=_GRC_ORACLE)
def docs_gopher_repetition_cjk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CJK tier of the repetition rules: an unsegmented Chinese
    document is ONE whitespace token to the ASCII tier, so none of its
    n-gram repetition is visible — the gate passes pathologically
    repetitive CJK text. This tier applies the llm_ops8 no-segmenter
    fallback (each Han/Hiragana/Katakana codepoint its own token) by
    separating CJK codepoints with spaces JVM-SIDE (one regexp_replace,
    the two-input-kernel convention: the kernel never needs a Python
    Unicode table) and then running the IDENTICAL kernel + gate.
    Backreference syntax is engine-specific (Java $1, RE2 \\1); the
    planted zh test pins the equivalence. ASCII documents gate
    identically under both tiers (separation is a no-op)."""
    sep = F.regexp_replace(
        F.coalesce(F.col("text"), F.lit("")), f"({_CJK_JAVA_CLS})", r" $1 "
    )
    return _rep_gate_frame(_rep_counts_frame(spark, sf_dir, text_col=sep))


# ---------------------------------------------------------------------------
# corpus_mixture_unimax
# ---------------------------------------------------------------------------
#
# Domains are (source, lang) pairs; capacity_d = EPOCH_CAP * tokens_d;
# budget N = BUDGET_EPOCHS * total tokens.  Waterfilling over domains
# sorted by ascending capacity (tie: domain name): domain i is CAPPED
# iff capacity_i * slots_i <= N - prefix_i (exact BIGINT compare); the
# flag is provably monotone along the sort (if c_i is uncapped, every
# larger c_j is too), so the first uncapped row fixes the equal share
# for all remaining domains: share = (N - prefix_break) / slots_break,
# held in micro-tokens.  Overflow bound (ADVICE r9): share_micro is
# computed as whole-token quotient * 1e6 + scaled remainder — exactly
# equal to ((N - prefix) * 1e6) div slots (N = q*slots + r implies
# (N*1e6) div slots = q*1e6 + (r*1e6) div slots) but never multiplying
# the full remaining budget by 1e6, so the waterfill itself is exact
# for any int64 budget.  The remaining representational cap is the
# OUTPUT unit: alloc_micro is int64 micro-tokens, so a single domain's
# allocation must stay <= ~9.2e12 tokens (at 100 TB / ~2.5e13 tokens
# that holds whenever the corpus spans >= 3 comparably-sized domains;
# past it, rescale the micro unit).

_UM_EPOCH_CAP = 4  # max epochs any domain may repeat (UniMax's N parameter)
_UM_BUDGET_EPOCHS = 2  # token budget as a multiple of total corpus tokens

#: the shared waterfill CTE chain ending at `f` (+ `brk`) — ONE
#: definition consumed by _UM_ORACLE and _US_ORACLE (review r9-3).
#: Domain key COALESCEs source/lang to '' explicitly: Spark's concat_ws
#: SKIPS nulls while SQL || propagates them — without the pin, a NULL
#: source would collide ('en') on one engine and vanish (NULL) on the
#: other (review r9-3).
_UM_BODY = rf"""tk AS (
      SELECT doc_id,
             COALESCE(source, '') || '/' || COALESCE(lang, '') AS domain,
             CAST(len(list_filter(string_split_regex(COALESCE(text, ''), '{WS}'),
                  x -> x <> '')) AS BIGINT) AS n_tok
      FROM documents
    ), dom AS (
      SELECT domain, CAST(sum(n_tok) AS BIGINT) AS n_tokens FROM tk GROUP BY domain
    ), cap AS (
      SELECT domain, n_tokens,
             CAST({_UM_EPOCH_CAP} * n_tokens AS BIGINT) AS capacity
      FROM dom
    ), tot AS (
      SELECT CAST({_UM_BUDGET_EPOCHS} * sum(n_tokens) AS BIGINT) AS budget FROM dom
    ), w AS (
      SELECT domain, n_tokens, capacity, budget,
             CAST(ROW_NUMBER() OVER (ORDER BY capacity, domain) AS BIGINT) AS rn,
             CAST(COALESCE(SUM(capacity) OVER (ORDER BY capacity, domain
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS prefix,
             CAST(COUNT(*) OVER () AS BIGINT) AS k
      FROM cap, tot
    ), f AS (
      SELECT *, (capacity * (k - rn + 1) <= budget - prefix) AS capped FROM w
    ), brk AS (
      SELECT CAST((budget - prefix) // (k - rn + 1) * 1000000
                  + ((budget - prefix) % (k - rn + 1)) * 1000000 // (k - rn + 1)
               AS BIGINT) AS share_micro
      FROM f WHERE NOT capped ORDER BY rn LIMIT 1
    )"""

_UM_ORACLE = rf"""
    WITH {_UM_BODY}
    SELECT domain, n_tokens, capacity, capped,
           CAST(CASE WHEN capped THEN capacity * 1000000
                ELSE (SELECT share_micro FROM brk) END AS BIGINT) AS alloc_micro,
           CAST(CASE WHEN n_tokens > 0 THEN
                  (CASE WHEN capped THEN capacity * 1000000
                   ELSE (SELECT share_micro FROM brk) END) // n_tokens
                ELSE 0 END AS BIGINT) AS epochs_micro
    FROM f ORDER BY domain
    """


def _domain_col() -> F.Column:
    """(source, lang) domain key with NULLs pinned to '' on BOTH engines
    (concat_ws skips NULLs, SQL || propagates them — review r9-3)."""
    return F.concat_ws(
        "/",
        F.coalesce(F.col("source"), F.lit("")),
        F.coalesce(F.col("lang"), F.lit("")),
    )


def _unimax_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared per-domain waterfill frame: (domain, n_tokens,
    capacity, capped, alloc_micro, epochs_micro). Consumed by the plan
    entry (projection) and by corpus_unimax_schedule (broadcast join
    back onto the document stream)."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    dom = docs.select(
        _domain_col().alias("domain"),
        ws_token_count_col(F.coalesce(F.col("text"), F.lit(""))).alias("n_tok"),
    )
    agg = dom.groupBy("domain").agg(F.sum("n_tok").cast("long").alias("n_tokens"))
    cap = agg.select(
        "domain",
        "n_tokens",
        (F.lit(_UM_EPOCH_CAP) * F.col("n_tokens")).cast("long").alias("capacity"),
    )
    tot = cap.agg(
        (F.lit(_UM_BUDGET_EPOCHS) * F.sum("n_tokens")).cast("long").alias("budget")
    )
    win = W.partitionBy(F.lit(0)).orderBy("capacity", "domain")
    w = (
        cap.crossJoin(F.broadcast(tot))
        .withColumn("rn", F.row_number().over(win).cast("long"))
        .withColumn(
            "prefix",
            F.coalesce(
                F.sum("capacity").over(win.rowsBetween(W.unboundedPreceding, -1)),
                F.lit(0),
            ).cast("long"),
        )
        .withColumn(
            "k", F.count(F.lit(1)).over(W.partitionBy(F.lit(0))).cast("long")
        )
    )
    f = w.withColumn(
        "capped",
        F.col("capacity") * (F.col("k") - F.col("rn") + 1)
        <= F.col("budget") - F.col("prefix"),
    )
    brk = (
        f.filter(~F.col("capped"))
        .orderBy("rn")
        .limit(1)
        .select(
            F.expr(
                "((budget - prefix) div (k - rn + 1)) * 1000000"
                " + (((budget - prefix) % (k - rn + 1)) * 1000000)"
                " div (k - rn + 1)"
            )
            .cast("long")
            .alias("share_micro"),
            F.lit(1).alias("_j"),
        )
    )
    out = (
        f.withColumn("_j", F.lit(1))
        .join(F.broadcast(brk), "_j", "left")
        .withColumn(
            "alloc_micro",
            F.when(F.col("capped"), F.col("capacity") * F.lit(1000000))
            .otherwise(F.col("share_micro"))
            .cast("long"),
        )
        .withColumn(
            "epochs_micro",
            F.when(F.col("n_tokens") > 0, F.expr("alloc_micro div n_tokens"))
            .otherwise(F.lit(0))
            .cast("long"),
        )
    )
    return out.select(
        "domain", "n_tokens", "capacity", "capped", "alloc_micro", "epochs_micro"
    )


@query("corpus_mixture_unimax", oracle=_UM_ORACLE)
def corpus_mixture_unimax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax mixture allocation (module comment above). The heavy half
    is the distributed token count — one scan with map-side combine
    down to one row per domain; the waterfill itself is a window over
    the aggregated frame (thousands of rows at any corpus scale, so the
    single-partition window is a driver-scale frame by construction,
    the same argument as the BPE merge table). Output: per-domain token
    count, capacity (EPOCH_CAP * tokens), whether the cap binds, the
    allocation in micro-tokens, and the implied epochs in micro-units —
    all exact BIGINT arithmetic, hash-exact cross-engine."""
    return _unimax_frame(spark, sf_dir).orderBy("domain")


# ---------------------------------------------------------------------------
# corpus_unimax_schedule
# ---------------------------------------------------------------------------
#
# The allocation turned into the thing a data loader actually consumes:
# per-document REPEAT COUNTS.  Each domain owes epochs_micro / 1e6
# passes over its documents; every document repeats floor(epochs) times,
# plus one more iff its hash-derived uniform falls below the fractional
# part — the dsir_resample_gumbel determinism convention (md5 of the
# doc_id, first 8 hex digits, mod 1e6), so expected repeats per domain
# equal the allocation while the schedule stays hash-exact and
# shuffle-free (the domain table broadcasts).

_US_ORACLE = rf"""
    WITH {_UM_BODY}, alloc AS (
      SELECT domain,
             CAST(CASE WHEN n_tokens > 0 THEN
                    (CASE WHEN capped THEN capacity * 1000000
                     ELSE (SELECT share_micro FROM brk) END) // n_tokens
                  ELSE 0 END AS BIGINT) AS epochs_micro
      FROM f
    )
    SELECT tk.doc_id, tk.domain,
           CAST(a.epochs_micro // 1000000
                + CASE WHEN ('0x' || substr(md5(CAST(tk.doc_id AS VARCHAR)), 1, 8))::BIGINT
                            % 1000000 < a.epochs_micro % 1000000
                       THEN 1 ELSE 0 END AS BIGINT) AS repeats
    FROM tk JOIN alloc a ON tk.domain = a.domain
    ORDER BY tk.doc_id
    """


@query("corpus_unimax_schedule", oracle=_US_ORACLE)
def corpus_unimax_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repeat schedule under the UniMax allocation (module
    comment above): ``repeats = floor(epochs) + [u_doc < frac(epochs)]``
    with u_doc the md5-derived uniform in micro-units. One extra
    broadcast join over the mixture plan — the document stream never
    shuffles; at 100 TB this is the corpus scan plus a map-side lookup
    into a domains-sized table."""
    docs = load_table(spark, sf_dir, "documents")
    dom_docs = docs.select("doc_id", _domain_col().alias("domain"))
    alloc = _unimax_frame(spark, sf_dir).select("domain", "epochs_micro")
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 1000000
    )
    return (
        dom_docs.join(F.broadcast(alloc), "domain")
        .select(
            "doc_id",
            "domain",
            (
                F.expr("epochs_micro div 1000000")
                + F.when(u < F.col("epochs_micro") % 1000000, 1).otherwise(0)
            )
            .cast("long")
            .alias("repeats"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# embedding_decontaminate_eval
# ---------------------------------------------------------------------------
#
# Holdout = vec_id % 10 == 3 (deterministic eval split, the
# docs_decontaminate_ngram convention); corpus = the rest.  tau = 0.35
# flags a real minority of the fixture corpus at both SFs (measured:
# 44-48 pairs over a 50-vector holdout).  The holdout side is SMALL BY
# NATURE (benchmark eval sets), so the production plan is a broadcast
# nested-loop against the corpus scan with map-side partial aggregation
# — the corpus never shuffles; the exchange carries at most one
# (vec_id, n_hits, max_cos) row per vector per task.

_ED_TAU = 0.35

_ED_ORACLE = f"""
    WITH h AS (
      SELECT vec_id AS hid, CAST(embedding AS DOUBLE[]) AS hv
      FROM embeddings WHERE vec_id % 10 = 3
        AND list_dot_product(CAST(embedding AS DOUBLE[]),
                             CAST(embedding AS DOUBLE[])) > 0
    ), c AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv
      FROM embeddings WHERE vec_id % 10 <> 3
        AND list_dot_product(CAST(embedding AS DOUBLE[]),
                             CAST(embedding AS DOUBLE[])) > 0
    ), p AS (
      SELECT vec_id,
             list_dot_product(cv, hv) /
               (sqrt(list_dot_product(cv, cv)) * sqrt(list_dot_product(hv, hv)))
               AS cos
      FROM c, h
    )
    SELECT vec_id,
           CAST(SUM(CASE WHEN cos >= {_ED_TAU} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_hits,
           ROUND(MAX(cos), 6) AS max_cos,
           (SUM(CASE WHEN cos >= {_ED_TAU} THEN 1 ELSE 0 END) >= 1)
             AS contaminated
    FROM p GROUP BY vec_id ORDER BY vec_id
    """


@query("embedding_decontaminate_eval", oracle=_ED_ORACLE)
def embedding_decontaminate_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space benchmark decontamination (module comment above):
    for every corpus vector, the count of held-out eval vectors within
    cosine tau and the max cosine reached — ``contaminated`` rows are
    what a pretraining run drops (the semantic complement of
    docs_decontaminate_ngram's textual gram overlap). Thresholding uses
    the UNROUNDED cosine on both engines (the dedup_embedding_pairs
    convention); ``max`` is order-free, so the rounded output is
    deterministic. Zero-norm vectors are excluded on BOTH sides before
    any cosine (ADVICE r9: Spark 0/0 = NaN and NaN >= tau is TRUE,
    DuckDB x/0.0 = NULL and NULL >= tau is ignored — the guard pins one
    semantics instead of relying on fixtures never containing a zero
    vector). Scale shape: eval sets are tiny by nature -> the
    holdout broadcasts, the corpus scans once, and partial aggregation
    collapses the pair stream map-side — no corpus shuffle at any
    scale."""
    from etl_from_s3_to_postgresql_template_spark.functions.vectors import (
        as_double_vec,
        cosine_col,
        dot_col,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    dv = as_double_vec(F.col("embedding"))
    nonzero = dot_col(dv, dv) > 0
    hold = emb.filter((F.col("vec_id") % 10 == 3) & nonzero).select(
        F.col("vec_id").alias("hid"), as_double_vec(F.col("embedding")).alias("hv")
    )
    corp = emb.filter((F.col("vec_id") % 10 != 3) & nonzero).select(
        "vec_id", as_double_vec(F.col("embedding")).alias("cv")
    )
    cos = cosine_col(F.col("cv"), F.col("hv"))
    pairs = corp.join(F.broadcast(hold)).select("vec_id", cos.alias("cos"))
    return (
        pairs.groupBy("vec_id")
        .agg(
            F.sum(F.when(F.col("cos") >= _ED_TAU, 1).otherwise(0))
            .cast("long")
            .alias("n_hits"),
            F.round(F.max("cos"), 6).alias("max_cos"),
        )
        .withColumn("contaminated", F.col("n_hits") >= 1)
        .orderBy("vec_id")
    )


# ---------------------------------------------------------------------------
# text_tokenizer_fertility
# ---------------------------------------------------------------------------
#
# Token identity is the llm_ops8 no-segmenter fallback (every Han /
# Hiragana / Katakana codepoint its own token; remainder whitespace-
# tokenized after CJK is replaced by spaces) — constants re-declared
# here, not imported, so the stamped module stays untouched.  Java
# \\p{IsHan} == RE2 \\p{Han} byte-parity was pinned before
# text_token_count_cjk landed (tests/test_llm_ops8.py).

_CJK_JAVA = _CJK_JAVA_CLS
_CJK_RE2 = _CJK_RE2_CLS


def _ratio_micro_tf(c: str, t: str, d: str) -> str:
    """(1e6 * c) integer-divided by t without forming 1e6 * c — the
    staged quotient+remainder decomposition (re-declared from
    llm_ops12._ratio_micro per the module-coupling policy): c = q*t + r
    gives (c*1e6) div t = q*1e6 + (r*1e6) div t, with the 1e6 factor
    applied as 1e3 * 1e3 because r < t can reach corpus-scale token
    counts. The naive premultiply wraps int64 past ~9.2e12 chars per
    language (VERDICT r10 weak #1) — below this module's own 100 TB
    claim. Exact iff t < ~9.2e15 AND c div t <= ~9.2e12."""
    return (
        f"((({c}) {d} ({t})) * 1000000"
        f" + ((({c}) % ({t})) * 1000 {d} ({t})) * 1000"
        f" + (((({c}) % ({t})) * 1000 % ({t})) * 1000) {d} ({t}))"
    )


_TF_ORACLE = rf"""
    WITH t AS (
      SELECT lang,
             COALESCE(text, '') AS tx,
             length(COALESCE(text, ''))
               - length(regexp_replace(COALESCE(text, ''), '{_CJK_RE2}', '', 'g'))
               AS n_cjk,
             len(list_filter(
                 string_split_regex(
                   regexp_replace(COALESCE(text, ''), '{_CJK_RE2}', ' ', 'g'),
                   '{WS}'),
                 x -> x <> '')) AS n_ws
      FROM documents
    ), a AS (
      SELECT lang,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_cjk) AS BIGINT) AS n_cjk_chars,
             CAST(sum(n_ws) AS BIGINT) AS n_ws_tokens,
             CAST(sum(n_cjk + n_ws) AS BIGINT) AS n_unicode_tokens,
             CAST(sum(length(tx)) AS BIGINT) AS n_chars,
             CAST(sum(strlen(tx)) AS BIGINT) AS n_bytes
      FROM t GROUP BY lang
    )
    SELECT lang, n_docs, n_cjk_chars, n_ws_tokens, n_unicode_tokens,
           n_chars, n_bytes,
           CAST(CASE WHEN n_unicode_tokens > 0
                THEN {_ratio_micro_tf('n_chars', 'n_unicode_tokens', '//')}
                ELSE 0 END AS BIGINT) AS chars_per_tok_micro,
           CAST(CASE WHEN n_unicode_tokens > 0
                THEN {_ratio_micro_tf('n_bytes', 'n_unicode_tokens', '//')}
                ELSE 0 END AS BIGINT) AS bytes_per_tok_micro
    FROM a ORDER BY lang
    """


@query("text_tokenizer_fertility", oracle=_TF_ORACLE)
def text_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language tokenizer fertility audit (module comment above):
    document counts, CJK-codepoint and whitespace token totals under
    the Unicode-aware fallback, char/byte totals, and the fertility
    ratios (chars and bytes per token) in exact integer micro-units.
    One scan, map-side combine to one row per language; at 100 TB this
    is a projection plus a trivial aggregate. The ratios are the
    numbers a multilingual data card reports per language (fertility:
    how many bytes one token carries — CJK text shows ~3x the
    bytes-per-token of ASCII under a codepoint tokenizer)."""
    docs = load_table(spark, sf_dir, "documents")
    tx = F.coalesce(F.col("text"), F.lit(""))
    n_cjk = (F.length(tx) - F.length(F.regexp_replace(tx, _CJK_JAVA, ""))).cast(
        "long"
    )
    repl = F.regexp_replace(tx, _CJK_JAVA, " ")
    n_ws = ws_token_count_col(repl)
    a = (
        docs.select(
            "lang",
            n_cjk.alias("n_cjk"),
            n_ws.alias("n_ws"),
            F.length(tx).cast("long").alias("n_chars"),
            F.octet_length(tx).cast("long").alias("n_bytes"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_cjk").cast("long").alias("n_cjk_chars"),
            F.sum("n_ws").cast("long").alias("n_ws_tokens"),
            F.sum(F.col("n_cjk") + F.col("n_ws")).cast("long").alias("n_unicode_tokens"),
            F.sum("n_chars").cast("long").alias("n_chars"),
            F.sum("n_bytes").cast("long").alias("n_bytes"),
        )
    )

    def _ratio(num: str) -> F.Column:
        return (
            F.when(
                F.col("n_unicode_tokens") > 0,
                F.expr(_ratio_micro_tf(num, "n_unicode_tokens", "div")),
            )
            .otherwise(F.lit(0))
            .cast("long")
        )

    return a.select(
        "lang",
        "n_docs",
        "n_cjk_chars",
        "n_ws_tokens",
        "n_unicode_tokens",
        "n_chars",
        "n_bytes",
        _ratio("n_chars").alias("chars_per_tok_micro"),
        _ratio("n_bytes").alias("bytes_per_tok_micro"),
    ).orderBy("lang")


# ---------------------------------------------------------------------------
# embedding_kmeans_micro
# ---------------------------------------------------------------------------
#
# Exactness design: float k-means cannot hash-match across engines (sum
# order changes the mean in the last ulp, which flips boundary
# assignments).  Quantizing coordinates ONCE to integer micro-units
# (floor(x * 1e6 + 0.5), the llm_ops7 vec_micro convention) makes every
# downstream step exact: per-cluster per-dim sums are order-free int64,
# centroid updates are truncating integer division (Spark `div` and
# DuckDB `//` both truncate toward zero — verified on negatives), and
# distances are int64 squared norms (|coord| <= ~1e7 micro, d = 64 ->
# max dist2 ~ 2.6e16, far inside int64).  Ties (equal distance to two
# centroids) break to the LOWEST cluster index on both engines.
# Init: the K lowest vec_ids, ranked by vec_id (deterministic).  An
# empty cluster keeps its previous centroid (pinned by a planted test).

_KM_K = 4
_KM_ITERS = 2

_KM_DIST = (
    "CAST(list_sum(list_transform(range(len(q.xm)), "
    "i -> (q.xm[i+1] - {c}.xm[i+1]) * (q.xm[i+1] - {c}.xm[i+1]))) AS BIGINT)"
)

_KM_ORACLE = f"""
    WITH q AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(floor(x * 1000000 + 0.5) AS BIGINT)) AS xm
      FROM embeddings
    ), c0 AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cl, xm
      FROM q ORDER BY vec_id LIMIT {_KM_K}
    ), a1 AS (
      SELECT vec_id, xm, cl, d2 FROM (
        SELECT q.vec_id, q.xm, c0.cl,
               {_KM_DIST.format(c="c0")} AS d2,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
                 {_KM_DIST.format(c="c0")}, c0.cl) AS rn
        FROM q, c0)
      WHERE rn = 1
    ), upd AS (
      SELECT cl, list(smic ORDER BY pos) AS xm FROM (
        SELECT cl, pos, CAST(SUM(v) // COUNT(*) AS BIGINT) AS smic
        FROM (SELECT cl, UNNEST(xm) AS v, UNNEST(range(len(xm))) AS pos FROM a1)
        GROUP BY cl, pos)
      GROUP BY cl
    ), c1 AS (
      -- an empty cluster keeps its previous centroid
      SELECT c0.cl, COALESCE(upd.xm, c0.xm) AS xm
      FROM c0 LEFT JOIN upd ON c0.cl = upd.cl
    ), a2 AS (
      SELECT vec_id, cl, d2 FROM (
        SELECT q.vec_id, c1.cl,
               {_KM_DIST.format(c="c1")} AS d2,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
                 {_KM_DIST.format(c="c1")}, c1.cl) AS rn
        FROM q, c1)
      WHERE rn = 1
    )
    SELECT vec_id, CAST(cl AS BIGINT) AS cluster, d2 AS dist2_micro
    FROM a2 ORDER BY vec_id
    """


def _km_tdiv(a: int, b: int) -> int:
    """Truncating integer division (toward zero) — Python's // floors,
    Spark div and DuckDB // truncate; this pins the engines' shared
    semantics for the driver-side centroid update."""
    q = abs(a) // abs(b)
    return q if (a >= 0) == (b >= 0) else -q


@query("embedding_kmeans_micro", oracle=_KM_ORACLE)
def embedding_kmeans_micro(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact Lloyd k-means (module comment above): K = 4
    centroids initialized from the lowest vec_ids, 2 Lloyd rounds,
    output = final (cluster, squared distance in micro^2 units) per
    vector — hash-exact against the unrolled SQL twin.

    Scale shape: assignment is a broadcast of K centroid literal arrays
    into one projection over the corpus scan (no shuffle); the centroid
    update aggregates per (cluster, dim) with map-side combine — the
    exchange carries at most K * d rows per task (the
    embedding_covariance gram-moment argument) — and only K * d summary
    rows ever reach the driver per round (the fitted-artifact class,
    like the BPE merge table and k-center loop). Cost per round is one
    corpus scan; rounds are a constant. The interpreted zip_with fold
    is K * d multiply-adds per row — the foldvec Arrow kernel is the
    documented lever if K grows past ~16."""
    from etl_from_s3_to_postgresql_template_spark.functions.vectors import as_double_vec

    emb = load_table(spark, sf_dir, "embeddings")
    xm = F.transform(
        as_double_vec(F.col("embedding")),
        lambda x: F.floor(x * 1000000 + F.lit(0.5)).cast("long"),
    )
    q = emb.select("vec_id", xm.alias("xm"))

    init = q.orderBy("vec_id").limit(_KM_K).collect()
    cents: list[list[int]] = [list(r["xm"]) for r in init]
    if not cents:
        # empty corpus: no centroids to fit — emit the schema, zero rows
        # (the SQL twin's assignment CTEs are likewise empty)
        return spark.createDataFrame(
            [], "vec_id long, cluster long, dist2_micro long"
        )

    def _assigned() -> DataFrame:
        ds = F.array(
            *[
                F.struct(
                    F.aggregate(
                        F.zip_with(
                            F.col("xm"),
                            F.array(*[F.lit(int(v)) for v in c]),
                            lambda a, b: (a - b) * (a - b),
                        ),
                        F.lit(0).cast("long"),
                        lambda acc, x: acc + x,
                    ).alias("d2"),
                    F.lit(j).alias("cl"),
                )
                for j, c in enumerate(cents)
            ]
        )
        best = F.array_min(ds)
        return q.select(
            "vec_id",
            "xm",
            best["cl"].alias("cluster"),
            best["d2"].alias("dist2_micro"),
        )

    for _ in range(_KM_ITERS - 1):
        sums = (
            _assigned()
            .select("cluster", F.posexplode("xm").alias("pos", "v"))
            .groupBy("cluster", "pos")
            .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        upd: dict[int, dict[int, int]] = {}
        for r in sums:
            upd.setdefault(r["cluster"], {})[r["pos"]] = _km_tdiv(r["s"], r["n"])
        cents = [
            [upd[j][p] for p in range(len(c))] if j in upd else c
            for j, c in enumerate(cents)
        ]

    return (
        _assigned()
        .select(
            "vec_id",
            F.col("cluster").cast("long").alias("cluster"),
            F.col("dist2_micro").cast("long").alias("dist2_micro"),
        )
        .orderBy("vec_id")
    )


# ---------------------------------------------------------------------------
# corpus_shard_plan
# ---------------------------------------------------------------------------
#
# The running-total-in-key-order primitive.  The naive plan is a window
# over ORDER BY doc_id with no partition key — every row through ONE
# task, the exact anti-pattern WindowExec warns about.  The
# scale-correct plan is the textbook distributed scan: range-partition
# by doc_id, per-partition local prefix sums in one Arrow pass, then a
# bounded (numPartitions-row) offsets table broadcast back.  The
# localCheckpoint pins the sampled range boundaries so the totals
# aggregate and the final join see the SAME partitioning (the
# kernel-once convention from llm_ops5/6).

_SHARD_TOKENS = 1000  # tokens per training shard at fixture scale

_SP_ORACLE = rf"""
    WITH t AS (
      SELECT doc_id,
             CAST(len(list_filter(string_split_regex(COALESCE(text, ''), '{WS}'),
                  x -> x <> '')) AS BIGINT) AS n_tok
      FROM documents
    ), w AS (
      SELECT doc_id, n_tok,
             CAST(COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS cum_before
      FROM t
    )
    SELECT doc_id, n_tok, cum_before,
           CAST(cum_before // {_SHARD_TOKENS} AS BIGINT) AS shard_id
    FROM w ORDER BY doc_id
    """


@query("corpus_shard_plan", oracle=_SP_ORACLE)
def corpus_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-shard assignment (module comment above):
    every document gets the shard its first token falls into when the
    corpus is laid out in doc_id order and cut every SHARD_TOKENS
    tokens. Output: (doc_id, n_tok, cum_before, shard_id), exact
    BIGINT arithmetic throughout, hash-exact against the window-SQL
    twin.

    The oracle is a single-partition window; the PLAN is not: range
    repartition on doc_id, one mapInPandas computing each partition's
    local running totals, a numPartitions-row aggregate collected into
    a broadcast offsets join. Shuffle volume = one 16-byte row per doc
    for the range exchange; driver traffic = one row per partition.
    At 100 TB the same plan runs with more range partitions — nothing
    widens."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id", ws_token_count_col(F.coalesce(F.col("text"), F.lit(""))).alias("n_tok")
    )
    nparts = max(2, int(spark.conf.get("spark.sql.shuffle.partitions", "32")))
    part = base.repartitionByRange(nparts, "doc_id").sortWithinPartitions("doc_id")

    def _local_scan(batches):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        run = 0
        for pdf in batches:
            cums = pdf["n_tok"].cumsum() + run
            run = int(cums.iloc[-1]) if len(cums) else run
            out = pdf[["doc_id", "n_tok"]].copy()
            out["pid"] = pid
            out["local_cum"] = cums.astype("int64")
            yield out

    loc = part.mapInPandas(
        _local_scan, "doc_id long, n_tok long, pid int, local_cum long"
    ).transform(shared_subtree)
    tot = loc.groupBy("pid").agg(F.max("local_cum").alias("ptot"))
    from pyspark.sql import Window as W

    owin = W.partitionBy(F.lit(0)).orderBy("pid")
    offs = tot.select(
        "pid",
        F.coalesce(
            F.sum("ptot").over(owin.rowsBetween(W.unboundedPreceding, -1)),
            F.lit(0),
        )
        .cast("long")
        .alias("offset"),
    )
    out = (
        loc.join(F.broadcast(offs), "pid")
        .withColumn(
            "cum_before",
            (F.col("offset") + F.col("local_cum") - F.col("n_tok")).cast("long"),
        )
        .withColumn(
            "shard_id", F.expr(f"cum_before div {_SHARD_TOKENS}").cast("long")
        )
    )
    return out.select("doc_id", "n_tok", "cum_before", "shard_id").orderBy("doc_id")


# ---------------------------------------------------------------------------
# docs_gopher_full_gate
# ---------------------------------------------------------------------------
#
# The COMPLETE published Gopher filter (Rae et al. 2021 Table A1) as one
# entry: the shape rules (docs_gopher_quality's token-count / mean-word-
# length / stopword-evidence semantics, mirrored expression-for-
# expression) AND the repetition rules (docs_gopher_repetition's kernel)
# evaluated in ONE scan — text is read once, the Arrow kernel and the
# shape expressions share the stage. This is the gate a cleaning
# pipeline actually applies; the two component entries exist for
# auditing WHICH family rejected a document.

#: the shape-rule CTE (docs_gopher_quality semantics with the NULL and
#: \x0B pins) — consumed by _FG_ORACLE and dedup_keep_best_quality.
#: COALESCE(FALSE): NULL text propagates NULL through the list ops
#: here, while the Spark side's size(split(NULL)) = -1 sentinel fails
#: the BETWEEN — both engines must gate a NULL doc to false.
#: Tokenization uses the explicit ASCII class (review r9-3): the Spark
#: shape expressions split on Java \s, which IS this byte set, while
#: RE2's \s omits \x0B.
_FG_SHAPE_CTE = rf"""shape AS (
      SELECT doc_id,
             COALESCE(CAST(len(toks) AS BIGINT) BETWEEN 50 AND 100000
              AND ROUND(list_sum(list_transform(toks, x -> CAST(len(x) AS DOUBLE)))
                        / len(toks), 4) BETWEEN 2.0 AND 10.0
              AND CAST(len(list_filter(toks,
                   x -> x IN ('the','and','of','to','in','is','a','that'))) AS BIGINT)
                  >= 2, FALSE) AS passes_shape
      FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '{WS}') AS toks
            FROM documents)
    )"""

_FG_ORACLE = (
    rf"""
    WITH {_GR_BODY}, {_FG_SHAPE_CTE}
    SELECT m.doc_id, shape.passes_shape AS passes_shape,
           ({_GR_PASSES_SQL}) AS passes_repetition,
           (shape.passes_shape AND ({_GR_PASSES_SQL})) AS passes
    FROM m JOIN shape ON m.doc_id = shape.doc_id
    ORDER BY m.doc_id
    """
)


def _full_gate_cols(docs: DataFrame) -> DataFrame:
    """The full-gate PROJECTION, factored so the batch entry and the
    streaming rung (streaming/docstream.py) apply the identical logic —
    one Arrow kernel pass + the shape expressions, no ordering (the
    caller sorts; streams cannot). The shape split uses the explicit
    ASCII class — byte-identical to docs_gopher_quality's Java ``\\s``
    (so the mirror contract holds) and faithfully twinned by the RE2
    oracle (review r9-3: RE2's ``\\s`` omits ``\\x0B``)."""
    from etl_from_s3_to_postgresql_template_spark.functions.gopher_rep import rep_stats_counts
    from etl_from_s3_to_postgresql_template_spark.functions.text import LANG_STOPWORDS

    toks = F.split(F.lower(F.trim("text")), WS)
    n_tokens = F.size(toks).cast("long")
    mean_len = F.round(
        F.aggregate(
            F.transform(toks, lambda x: F.length(x).cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        / n_tokens,
        4,
    )
    n_stop = F.size(F.filter(toks, lambda x: x.isin(*LANG_STOPWORDS["en"]))).cast(
        "long"
    )
    passes_shape = (
        n_tokens.between(50, 100000)
        & mean_len.between(2.0, 10.0)
        & (n_stop >= 2)
    )
    base = (
        docs.select(
            "doc_id",
            passes_shape.alias("passes_shape"),
            rep_stats_counts("text").alias("r"),
        )
        .select("doc_id", "passes_shape", "r.*")
        .withColumn(
            "norm_len",
            F.col("tok_chars")
            + F.when(F.col("n_tok") > 0, F.col("n_tok") - 1).otherwise(F.lit(0)),
        )
    )
    # exact-integer micro fractions + thresholds from the SAME table the
    # repetition entry uses (_GR_FRACS) — one definition site
    passes_rep = _and_all(
        _frac_micro(_KERNEL_COL[num], den) <= thr
        for _name, (num, den, thr) in _GR_FRACS.items()
    )
    return base.select(
        "doc_id",
        "passes_shape",
        passes_rep.alias("passes_repetition"),
        (F.col("passes_shape") & passes_rep).alias("passes"),
    )


@query("docs_gopher_full_gate", oracle=_FG_ORACLE)
def docs_gopher_full_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete Gopher filter in one scan (module comment above):
    ``passes_shape`` mirrors docs_gopher_quality expression-for-
    expression (llm_ops2 — token count 50..100k over the lower(trim)
    ``\\s+`` split, mean token length 2.0..10.0 rounded once, >= 2 EN
    stopword tokens), ``passes_repetition`` applies the published
    repetition thresholds to the gopher_rep kernel counts, and
    ``passes`` is their conjunction — the row a cleaning pipeline
    filters on. One scan, one Arrow pass, no shuffle beyond the output
    sort."""
    return _full_gate_cols(load_table(spark, sf_dir, "documents")).orderBy("doc_id")


@query("streaming_quality_gate", oracle=_FG_ORACLE)
def streaming_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full Gopher gate AS A STREAMING QUERY: readStream over the
    documents table, the identical _full_gate_cols projection per
    micro-batch (the Arrow kernel runs inside the stream), drained
    through a memory sink in append mode — a stateless projection emits
    every row exactly once, so the drained table hash-matches the SAME
    batch oracle. This is quality-gating at ingest: at 100 TB the gate
    runs as documents arrive, before anything lands in the lake."""
    from etl_from_s3_to_postgresql_template_spark.streaming.docstream import (
        run_quality_gate_stream,
    )

    out = run_quality_gate_stream(spark, sf_dir, _full_gate_cols)
    return out.orderBy("doc_id")


# ---------------------------------------------------------------------------
# docs_length_quantiles_hist
# ---------------------------------------------------------------------------
#
# The SCALE tier of docs_length_quantiles (corpus_ops, stamped): that
# plan rank-picks via row_number over a per-lang window — every row of
# a language flows through ONE task's sort, which at 100 TB with a
# handful of languages is a straggler by construction.  The histogram
# form aggregates to (lang, value, count) first — map-side combine, at
# most |langs| x |distinct lengths| rows ever shuffle — and runs the
# selection window on that bounded frame.  Same rank-picked
# percentile_disc semantics, same output, same oracle; the stamped
# original stays untouched as the semantics reference (the fast64 /
# md5 twin-tier convention).

_LQ_ORACLE = """
    WITH r AS (
      SELECT lang, n_chars,
             CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS BIGINT) AS rn,
             CAST(COUNT(*) OVER (PARTITION BY lang) AS BIGINT) AS cnt
      FROM documents
    )
    SELECT lang,
           MAX(CASE WHEN rn = CAST(ceil(0.10 * cnt) AS BIGINT) THEN n_chars END) AS p10,
           MAX(CASE WHEN rn = CAST(ceil(0.50 * cnt) AS BIGINT) THEN n_chars END) AS p50,
           MAX(CASE WHEN rn = CAST(ceil(0.90 * cnt) AS BIGINT) THEN n_chars END) AS p90,
           MAX(cnt) AS n_docs
    FROM r GROUP BY lang ORDER BY lang
    """


@query("docs_length_quantiles_hist", oracle=_LQ_ORACLE)
def docs_length_quantiles_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-language length percentiles by HISTOGRAM SELECTION
    (module comment above): value at rank ceil(p*n) = the smallest
    value whose cumulative count reaches the rank. Identical output to
    docs_length_quantiles (shared oracle); the shuffle carries the
    value histogram, never the rows."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    hist = (
        docs.groupBy("lang", "n_chars")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    # asc_nulls_last pins Spark's default NULLS FIRST to DuckDB's
    # NULLS LAST so a NULL n_chars cannot shift the cumulative ranks
    # (review r9-3; n_chars is non-null in every current fixture)
    lw = W.partitionBy("lang").orderBy(F.col("n_chars").asc_nulls_last())
    h = hist.withColumn(
        "cum", F.sum("c").over(lw.rowsBetween(W.unboundedPreceding, 0)).cast("long")
    ).withColumn("cnt", F.sum("c").over(W.partitionBy("lang")).cast("long"))

    def pick(p: float, name: str):
        k = F.ceil(F.lit(p) * F.col("cnt")).cast("long")
        return F.min(F.when(F.col("cum") >= k, F.col("n_chars"))).alias(name)

    return (
        h.groupBy("lang")
        .agg(
            pick(0.10, "p10"),
            pick(0.50, "p50"),
            pick(0.90, "p90"),
            F.max("cnt").alias("n_docs"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# docs_strip_markup
# ---------------------------------------------------------------------------
#
# The first cleaning step every WEB pipeline runs before any quality or
# dedup stage: remove markup tags, decode the five XML entities, and
# collapse the whitespace the removal leaves behind.  Tag identity is
# the conservative `<[^>]*>` (identical under Java regex and RE2 —
# both classes are pure byte sets); entity decoding is fixed literal
# replaces in the ORDER that makes &amp; safe (decoded LAST, so
# '&amp;lt;' becomes '&lt;' the TEXT, never '<'). The synthetic fixture
# is markup-free — pass-through there (counts 0, text byte-identical);
# the semantics live in the planted HTML tests.

_SM_TAG = r"<[^>]*>"

_SM_ORACLE = rf"""
    WITH s AS (
      SELECT doc_id,
             COALESCE(text, '') AS t0,
             regexp_replace(COALESCE(text, ''), '{_SM_TAG}', ' ', 'g') AS t1
      FROM documents
    ), e AS (
      SELECT doc_id, t0, t1,
             replace(replace(replace(replace(replace(t1,
               '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
               '&amp;', '&') AS t2
      FROM s
    )
    SELECT doc_id,
           trim(regexp_replace(t2, '{WS}', ' ', 'g'), ' ') AS clean_text,
           CAST((length(t0) - length(regexp_replace(t0, '{_SM_TAG}', '', 'g')))
                AS BIGINT) AS n_tag_chars,
           CAST(length(t1) - length(t2) AS BIGINT) AS n_entity_chars
    FROM e ORDER BY doc_id
    """


@query("docs_strip_markup", oracle=_SM_ORACLE)
def docs_strip_markup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markup stripping (module comment above): tags -> single space
    (so '<p>a</p><p>b</p>' keeps a token boundary between a and b),
    the five XML entities decoded with &amp; last, whitespace collapsed
    to single spaces and 0x20-trimmed. Reports the removed tag chars
    and the entity shrinkage so a pipeline can gate on markup density.
    Pure codegen projection — three regex passes + five literal
    replaces per doc, one scan, no shuffle beyond the output sort."""
    docs = load_table(spark, sf_dir, "documents")
    t0 = F.coalesce(F.col("text"), F.lit(""))
    t1 = F.regexp_replace(t0, _SM_TAG, " ")
    t2 = t1
    for ent, ch in (
        ("&lt;", "<"),
        ("&gt;", ">"),
        ("&quot;", '"'),
        ("&#39;", "'"),
        ("&amp;", "&"),
    ):
        t2 = F.replace(t2, F.lit(ent), F.lit(ch))
    clean = F.trim(F.regexp_replace(t2, WS, " "))
    n_tag_chars = (
        F.length(t0) - F.length(F.regexp_replace(t0, _SM_TAG, ""))
    ).cast("long")
    n_entity_chars = (F.length(t1) - F.length(t2)).cast("long")
    return docs.select(
        "doc_id",
        clean.alias("clean_text"),
        n_tag_chars.alias("n_tag_chars"),
        n_entity_chars.alias("n_entity_chars"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# dedup_keep_best_quality
# ---------------------------------------------------------------------------
#
# WHICH duplicate to keep.  The existing keep list (llm_ops2) keeps the
# min-id member of each near-dup cluster — fine for determinism, blind
# to quality.  Production curation (RefinedWeb, Dolma) keeps the BEST
# member: this entry ranks each exact-dup cluster (md5 of the raw text,
# the audit-grade identity) by (full-gate passes DESC, n_chars DESC,
# doc_id ASC) and keeps rank 1 — so a gate-passing duplicate always
# survives over a failing one, longer text breaks ties, and doc_id
# makes the choice total.  Output: one row per cluster with the kept
# doc, the cluster size, and whether the kept doc passes the gate.

_KB_ORACLE = rf"""
    WITH {_GR_BODY}, {_FG_SHAPE_CTE}, gate AS (
      SELECT m.doc_id,
             (shape.passes_shape AND ({_GR_PASSES_SQL})) AS passes
      FROM m JOIN shape ON m.doc_id = shape.doc_id
    ), h AS (
      SELECT d.doc_id, md5(d.t) AS ckey, length(d.t) AS n_chars, g.passes
      FROM d JOIN gate g ON d.doc_id = g.doc_id
    ), r AS (
      SELECT doc_id, ckey, n_chars, passes,
             ROW_NUMBER() OVER (PARTITION BY ckey
               ORDER BY passes DESC, n_chars DESC, doc_id) AS rn,
             CAST(COUNT(*) OVER (PARTITION BY ckey) AS BIGINT) AS n_members
      FROM h
    )
    SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars, n_members,
           passes AS kept_passes
    FROM r WHERE rn = 1 ORDER BY doc_id
    """


@query("dedup_keep_best_quality", oracle=_KB_ORACLE)
def dedup_keep_best_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-ranked duplicate keep list (module comment above): one
    scan computes the full Gopher gate, clusters on md5 of the raw text,
    and a cluster-partitioned window keeps the best member. Exact-dup
    clusters are tiny by construction, so the window never skews; the
    shuffle carries (32-B key, gate bits, length) per doc. The min-id
    keep list (llm_ops2) stays as the determinism-first variant."""
    docs = load_table(spark, sf_dir, "documents")
    tx = F.coalesce(F.col("text"), F.lit(""))
    gated = _full_gate_cols(docs).select("doc_id", "passes")
    h = docs.select(
        "doc_id", F.md5(tx).alias("ckey"), F.length(tx).cast("long").alias("n_chars")
    ).join(gated, "doc_id")
    from pyspark.sql import Window as W

    w = W.partitionBy("ckey").orderBy(
        F.col("passes").desc(), F.col("n_chars").desc(), F.col("doc_id")
    )
    r = h.withColumn("rn", F.row_number().over(w)).withColumn(
        "n_members", F.count(F.lit(1)).over(W.partitionBy("ckey")).cast("long")
    )
    return (
        r.filter(F.col("rn") == 1)
        .select("doc_id", "n_chars", "n_members", F.col("passes").alias("kept_passes"))
        .orderBy("doc_id")
    )
