"""Interpolated Kneser-Ney language models (Kneser & Ney 1995; Chen &
Goodman 1998) — the one implementation behind the KN tiers of
plans/llm_ops15, with the DuckDB fragments that replay it. Tokens and
word buckets come from operators/ccnet.py.

Bigram, absolute discount d = 3/4:

  p_KN(w2|w1) = max(c(w1,w2) - d, 0) / c(w1)
              + d * N1+(w1,*) / c(w1) * N1+(*,w2) / T

where N1+(w1,*) = distinct continuations of w1, N1+(*,w2) = distinct
left-contexts of w2 (the continuation count) and T = distinct bigram
types. All four come from ONE aggregated (k1, k2, pair_cnt) pairs frame:
two windows over it (vocabulary-squared-bounded, never the corpus) and
one broadcast scalar total. The probability is emitted in exact integer
micro-units by a staged truncating-div program; each stage guards its
own int64 bound with a loud error (Spark would wrap silently with ANSI
off; DuckDB errors natively, so the CASE keeps the two engines' failure
behaviour aligned too), and the oracle runs the IDENTICAL staging, so
the engines agree bit for bit:

  pc_micro  = (1e6 * N1+(*,w2)) div T
  t1_micro  = (1e6 * max(4*c12 - 3, 0)) div (4 * c1)
  t2_micro  = (3 * N1+(w1,*) * pc_micro) div (4 * c1)
  pkn_micro = t1_micro + t2_micro      -- < 2 micro off the true rational

Trigram, the full recursion (Chen & Goodman §4.1.6): the HIGHEST order
discounts raw counts, every lower order discounts CONTINUATION (type)
counts — what makes KN more than absolute discounting:

  p(w3|w1w2)   = max(c123 - d, 0)/c12 + d*N1+(w1w2,*)/c12 * p_mid(w3|w2)
  p_mid(w3|w2) = max(N1+(*,w2w3) - d, 0)/N1+(*,w2,*)
               + d*N1+(w2,*)/N1+(*,w2,*) * p_cont(w3)
  p_cont(w3)   = N1+(*,w3) / T_bi

Every statistic is a window over the aggregated trigram/bigram TYPE
frames, and the stages run bottom-up (PC -> PMID -> PTRI); the micro
truncation error compounds to < 3 micro.

Tiers: over exact words the int64 guards are load-bearing, because type
counts grow with the corpus. Over 2^20 word buckets (``ccnet.bucket_md5``
with its DuckDB twin, or ``ccnet.bucket_fast``, rows-only) every N1+ and
T is structurally <= 2^20 types, so the staged program cannot leave
int64 at any corpus size.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from etl_from_s3_to_postgresql_template_spark.operators import ccnet
from etl_from_s3_to_postgresql_template_spark.util import shared_subtree

__all__ = [
    "PC",
    "T1",
    "T2",
    "PMID",
    "PTRI",
    "BOCC_SQL",
    "LM_SCORED_SQL",
    "spark_expr",
    "duck_expr",
    "bucket_occ",
    "pair_stats",
    "pair_stats_sql",
    "trigram_stats",
    "TRIGRAM_SQL",
    "lm_scored",
]

_BIGMAX = 9223372036854775807

# Staged stages, shared by the Spark F.expr and the DuckDB oracle. The
# engine fills {max}/{div}/{err}; PC's column names and error tag
# default to the bigram program's.
PC = (
    "CASE WHEN {cont} > {max} {div} 1000000"
    "  THEN {err}('{tag} p_cont stage would overflow int64')"
    "  ELSE (1000000 * {cont}) {div} {types} END"
)
T1 = (
    "CASE WHEN pair_cnt > {max} {div} 4000000"
    "  THEN {err}('kn discount stage would overflow int64')"
    "  ELSE (1000000 * greatest(4 * pair_cnt - 3, CAST(0 AS BIGINT)))"
    "       {div} (4 * w1_cnt) END"
)
T2 = (
    "CASE WHEN n1p_w1 > {max} {div} 3000000"
    "  THEN {err}('kn backoff stage would overflow int64')"
    "  ELSE (3 * n1p_w1 * pc_micro) {div} (4 * w1_cnt) END"
)
PMID = (
    "CASE WHEN ncw2w3 > {max} {div} 1000000"
    "  THEN {err}('kn3 mid stage would overflow int64')"
    "  ELSE (1000000 * greatest(4 * ncw2w3 - 3, CAST(0 AS BIGINT)))"
    "       {div} (4 * nmidw2)"
    "     + (3 * nw2dot * pc_micro) {div} (4 * nmidw2) END"
)
PTRI = (
    "CASE WHEN tri_cnt > {max} {div} 4000000"
    "  THEN {err}('kn3 top stage would overflow int64')"
    "  ELSE (1000000 * greatest(4 * tri_cnt - 3, CAST(0 AS BIGINT)))"
    "       {div} (4 * c12)"
    "     + (3 * n1p_ctx * pmid_micro) {div} (4 * c12) END"
)

#: scoring-side p_KN: an unseen context backs off to p_cont alone; a
#: 1-micro floor keeps ln() defined for fully unseen bigrams
_SCORE_PKN = (
    "CASE WHEN w1_cnt IS NULL THEN greatest(pc_micro, CAST(1 AS BIGINT))"
    "  ELSE greatest(({t1}) + ({t2}), CAST(1 AS BIGINT)) END"
)

_BIGRAM = {"cont": "n1p_w2", "types": "t", "tag": "kn"}


def spark_expr(tmpl: str, **names: str) -> str:
    body = tmpl.format(max=_BIGMAX, div="div", err="__ERR__", **{**_BIGRAM, **names})
    # Spark needs the raise_error wrapped in a CAST to type-check the CASE
    return body.replace("__ERR__('", "CAST(raise_error('").replace(
        "overflow int64')", "overflow int64') AS BIGINT)"
    )


def duck_expr(tmpl: str, **names: str) -> str:
    return tmpl.format(max=_BIGMAX, div="//", err="error", **{**_BIGRAM, **names})


def _stage(tmpl: str, **names: str) -> Column:
    return F.expr(spark_expr(tmpl, **names)).cast("long")


def bucket_occ(occ: DataFrame, bucket: Callable[[Column], Column] = ccnet.bucket_md5) -> DataFrame:
    """(doc_id, lang, b1, b2): a ``ccnet.bigram_occurrences`` frame with
    both words quantized to their bucket — the Spark twin of BOCC_SQL."""
    return occ.select(
        "doc_id", "lang", bucket(F.col("w1")).alias("b1"), bucket(F.col("w2")).alias("b2")
    )


#: `bocc(doc_id, lang, b1, b2)` over ccnet.TOKS_SQL's `bg` — md5 buckets
BOCC_SQL = f"""bocc AS (
      SELECT doc_id, lang,
             {ccnet.bucket_md5_sql('s.w1')} AS b1,
             {ccnet.bucket_md5_sql('s.w2')} AS b2
      FROM bg
    )"""


def pair_stats(occ: DataFrame, k1: str, k2: str) -> DataFrame:
    """(k1, k2, pair_cnt, w1_cnt, n1p_<k1>, n1p_<k2>, pkn_micro): the
    bigram KN program over one row per occurrence of the (k1, k2) key
    pair — words ("w1", "w2") or buckets ("b1", "b2")."""
    # pairs feeds the window stats AND the broadcast total — the lazy
    # checkpoint shares one corpus pass between them (r12)
    pairs = (
        occ.groupBy(k1, k2)
        .agg(F.count(F.lit(1)).cast("long").alias("pair_cnt"))
        .transform(shared_subtree)
    )
    stats = pairs.select(
        k1,
        k2,
        "pair_cnt",
        F.sum("pair_cnt").over(W.partitionBy(k1)).cast("long").alias("w1_cnt"),
        F.count(F.lit(1)).over(W.partitionBy(k1)).cast("long").alias("n1p_w1"),
        F.count(F.lit(1)).over(W.partitionBy(k2)).cast("long").alias("n1p_w2"),
    ).crossJoin(F.broadcast(pairs.agg(F.count(F.lit(1)).cast("long").alias("t"))))
    pc = stats.withColumn("pc_micro", _stage(PC))
    return pc.select(
        k1,
        k2,
        "pair_cnt",
        "w1_cnt",
        F.col("n1p_w1").alias(f"n1p_{k1}"),
        F.col("n1p_w2").alias(f"n1p_{k2}"),
        (_stage(T1) + _stage(T2)).alias("pkn_micro"),
    )


def pair_stats_sql(k1: str, k2: str) -> str:
    """CTE chain over an `occ(k1, k2)` CTE ending at `kn` — the DuckDB
    twin of ``pair_stats``, same columns."""
    return f"""pairs AS (
      SELECT {k1}, {k2}, CAST(COUNT(*) AS BIGINT) AS pair_cnt
      FROM occ GROUP BY 1, 2
    ), stats AS (
      SELECT {k1}, {k2}, pair_cnt,
             CAST(SUM(pair_cnt) OVER (PARTITION BY {k1}) AS BIGINT) AS w1_cnt,
             CAST(COUNT(*) OVER (PARTITION BY {k1}) AS BIGINT) AS n1p_w1,
             CAST(COUNT(*) OVER (PARTITION BY {k2}) AS BIGINT) AS n1p_w2,
             CAST(COUNT(*) OVER () AS BIGINT) AS t
      FROM pairs
    ), pc AS (
      SELECT *, {duck_expr(PC)} AS pc_micro FROM stats
    ), kn AS (
      SELECT {k1}, {k2}, pair_cnt, w1_cnt,
             n1p_w1 AS n1p_{k1}, n1p_w2 AS n1p_{k2},
             CAST({duck_expr(T1)} + {duck_expr(T2)} AS BIGINT) AS pkn_micro
      FROM pc
    )"""


_TRI_PC = {"cont": "ndotw3", "types": "t_bi", "tag": "kn3"}


def trigram_stats(docs: DataFrame) -> DataFrame:
    """(w1, w2, w3, tri_cnt, c12, n1p_ctx, ncw2w3, nmidw2, nw2dot,
    ndotw3, t_bi, pkn_micro) per trigram type of the documents' text:
    one tokenize, one trigram and one bigram type aggregation."""
    toks = docs.select(ccnet.tokens(F.col("text")).alias("t")).transform(
        shared_subtree
    )  # feeds the trigram AND bigram subtrees
    n = F.size("t")
    tri_structs = F.zip_with(
        F.zip_with(
            F.slice("t", 1, n - 2),
            F.slice("t", 2, n - 2),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        ),
        F.slice("t", 3, n - 2),
        lambda p, c: F.struct(p["w1"].alias("w1"), p["w2"].alias("w2"), c.alias("w3")),
    )
    tri = (
        toks.where(n >= 3)
        .select(F.explode(tri_structs).alias("s"))
        .groupBy(F.col("s.w1").alias("w1"), F.col("s.w2").alias("w2"), F.col("s.w3").alias("w3"))
        .agg(F.count(F.lit(1)).cast("long").alias("tri_cnt"))
    )
    bgt = (
        toks.where(n >= 2)
        .select(F.explode(ccnet.bigrams(F.col("t"))).alias("s"))
        .groupBy(F.col("s.w1").alias("w1"), F.col("s.w2").alias("w2"))
        .agg(F.count(F.lit(1)).alias("_c"))
        .drop("_c")
    )
    bstat = bgt.select(
        "w1",
        "w2",
        F.count(F.lit(1)).over(W.partitionBy("w1")).cast("long").alias("nw1dot"),
        F.count(F.lit(1)).over(W.partitionBy("w2")).cast("long").alias("ndotw2"),
    ).crossJoin(
        F.broadcast(bgt.agg(F.count(F.lit(1)).cast("long").alias("t_bi")))
    ).transform(shared_subtree)  # feeds both lower-order join legs
    tstat = tri.select(
        "w1",
        "w2",
        "w3",
        "tri_cnt",
        F.sum("tri_cnt").over(W.partitionBy("w1", "w2")).cast("long").alias("c12"),
        F.count(F.lit(1)).over(W.partitionBy("w1", "w2")).cast("long").alias("n1p_ctx"),
        F.count(F.lit(1)).over(W.partitionBy("w2", "w3")).cast("long").alias("ncw2w3"),
        F.count(F.lit(1)).over(W.partitionBy("w2")).cast("long").alias("nmidw2"),
    )
    b2 = bstat.select(F.col("w1").alias("_bw"), "nw1dot").distinct()
    b3 = bstat.select(F.col("w2").alias("_cw"), "ndotw2", "t_bi").distinct()
    cols = ["w1", "w2", "w3", "tri_cnt", "c12", "n1p_ctx", "ncw2w3", "nmidw2"]
    joined = (
        tstat.join(b2, tstat.w2 == b2._bw)
        .join(b3, tstat.w3 == b3._cw)
        .select(
            *cols,
            F.col("nw1dot").alias("nw2dot"),
            F.col("ndotw2").alias("ndotw3"),
            "t_bi",
        )
    )
    return (
        joined.withColumn("pc_micro", _stage(PC, **_TRI_PC))
        .withColumn("pmid_micro", _stage(PMID))
        .withColumn("pkn_micro", _stage(PTRI))
        .select(*cols, "nw2dot", "ndotw3", "t_bi", "pkn_micro")
    )


#: the DuckDB twin of ``trigram_stats`` over ccnet.TOKS_SQL, ending at
#: `kn3` (same columns)
TRIGRAM_SQL = rf"""tg AS (
      SELECT UNNEST(list_transform(range(len(toks) - 2),
             i -> {{'w1': toks[i+1], 'w2': toks[i+2], 'w3': toks[i+3]}})) AS s
      FROM t WHERE len(toks) >= 3
    ), tri AS (
      SELECT s.w1 AS w1, s.w2 AS w2, s.w3 AS w3,
             CAST(COUNT(*) AS BIGINT) AS tri_cnt
      FROM tg GROUP BY 1, 2, 3
    ), bgt AS (
      SELECT s.w1 AS w1, s.w2 AS w2 FROM bg GROUP BY 1, 2
    ), bstat AS (
      SELECT w1, w2,
             CAST(COUNT(*) OVER (PARTITION BY w1) AS BIGINT) AS nw1dot,
             CAST(COUNT(*) OVER (PARTITION BY w2) AS BIGINT) AS ndotw2,
             CAST(COUNT(*) OVER () AS BIGINT) AS t_bi
      FROM bgt
    ), tstat AS (
      SELECT w1, w2, w3, tri_cnt,
             CAST(SUM(tri_cnt) OVER (PARTITION BY w1, w2) AS BIGINT) AS c12,
             CAST(COUNT(*) OVER (PARTITION BY w1, w2) AS BIGINT) AS n1p_ctx,
             CAST(COUNT(*) OVER (PARTITION BY w2, w3) AS BIGINT) AS ncw2w3,
             CAST(COUNT(*) OVER (PARTITION BY w2) AS BIGINT) AS nmidw2
      FROM tri
    ), joined AS (
      SELECT t.*, b2.nw1dot AS nw2dot, b3.ndotw2 AS ndotw3, b3.t_bi
      FROM tstat t
      JOIN (SELECT DISTINCT w1, nw1dot FROM bstat) b2 ON t.w2 = b2.w1
      JOIN (SELECT DISTINCT w2, ndotw2, t_bi FROM bstat) b3 ON t.w3 = b3.w2
    ), pc AS (
      SELECT *, {duck_expr(PC, **_TRI_PC)} AS pc_micro FROM joined
    ), pm AS (
      SELECT *, {duck_expr(PMID)} AS pmid_micro FROM pc
    ), kn3 AS (
      SELECT w1, w2, w3, tri_cnt, c12, n1p_ctx, ncw2w3, nmidw2, nw2dot,
             ndotw3, t_bi, CAST({duck_expr(PTRI)} AS BIGINT) AS pkn_micro
      FROM pm
    )"""


def lm_scored(lm_occ: DataFrame, occ: DataFrame) -> DataFrame:
    """(doc_id, lang, n_bigrams, lp): score the (doc_id, lang, b1, b2)
    stream ``occ`` against per-language KN LMs built from the bucketed
    reference occurrences ``lm_occ`` (Wenzek et al. 2020 §3.3). Every LM
    table is bounded (<= 2^20-keyed per language) and broadcast, so the
    stream is scored map-side; languages without an LM drop."""
    # lm12 feeds its own broadcast AND the lm1/lmc/tt derivations — each
    # a separate broadcast build that re-ran the reference slice's
    # tokenize+explode+md5 chain (4 extra passes, r12). The lazy
    # checkpoint pins the bounded table once.
    lm12 = (
        lm_occ.groupBy("lang", "b1", "b2")
        .agg(F.count(F.lit(1)).cast("long").alias("pair_cnt"))
        .transform(shared_subtree)
    )
    lm1 = lm12.groupBy("lang", "b1").agg(
        F.sum("pair_cnt").cast("long").alias("w1_cnt"),
        F.count(F.lit(1)).cast("long").alias("n1p_w1"),
    )
    lmc = lm12.groupBy("lang", "b2").agg(F.count(F.lit(1)).cast("long").alias("n1p_w2"))
    tt = lm12.groupBy("lang").agg(F.count(F.lit(1)).cast("long").alias("t"))
    joined = (
        occ.join(F.broadcast(lm12), ["lang", "b1", "b2"], "left")
        .join(F.broadcast(lm1), ["lang", "b1"], "left")
        .join(F.broadcast(lmc), ["lang", "b2"], "left")
        .join(F.broadcast(tt), "lang")  # inner: unscoreable langs drop
        .select(
            "doc_id",
            "lang",
            F.coalesce(F.col("pair_cnt"), F.lit(0)).cast("long").alias("pair_cnt"),
            "w1_cnt",
            "n1p_w1",
            F.coalesce(F.col("n1p_w2"), F.lit(0)).cast("long").alias("n1p_w2"),
            "t",
        )
    )
    pkn = joined.withColumn("pc_micro", _stage(PC)).withColumn(
        "pkn_micro",
        F.expr(_SCORE_PKN.format(t1=spark_expr(T1), t2=spark_expr(T2))).cast("long"),
    )
    return pkn.groupBy("doc_id", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        ccnet.mean_lp(F.log(F.col("pkn_micro") / F.lit(1000000.0))).alias("lp"),
    )


#: the DuckDB twin of ``lm_scored`` over `lm_occ(lang, b1, b2)` and
#: `occ(doc_id, lang, b1, b2)` CTEs, ending at `scored`
LM_SCORED_SQL = f"""lm12 AS (
      SELECT lang, b1, b2, CAST(COUNT(*) AS BIGINT) AS pair_cnt
      FROM lm_occ GROUP BY 1, 2, 3
    ), lm1 AS (
      SELECT lang, b1, CAST(SUM(pair_cnt) AS BIGINT) AS w1_cnt,
             CAST(COUNT(*) AS BIGINT) AS n1p_w1
      FROM lm12 GROUP BY 1, 2
    ), lmc AS (
      SELECT lang, b2, CAST(COUNT(*) AS BIGINT) AS n1p_w2
      FROM lm12 GROUP BY 1, 2
    ), tt AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS t FROM lm12 GROUP BY 1
    ), joined AS (
      SELECT o.doc_id, o.lang,
             COALESCE(l12.pair_cnt, 0) AS pair_cnt,
             l1.w1_cnt, l1.n1p_w1,
             COALESCE(lc.n1p_w2, 0) AS n1p_w2, tt.t
      FROM occ o
      LEFT JOIN lm12 l12 USING (lang, b1, b2)
      LEFT JOIN lm1 l1 USING (lang, b1)
      LEFT JOIN lmc lc USING (lang, b2)
      JOIN tt USING (lang)
    ), pc AS (
      SELECT *, {duck_expr(PC)} AS pc_micro FROM joined
    ), p AS (
      SELECT doc_id, lang,
             {_SCORE_PKN.format(t1=duck_expr(T1), t2=duck_expr(T2))}
               AS pkn_micro
      FROM pc
    ), scored AS (
      SELECT doc_id, lang, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             CAST(round(ROUND(CAST(SUM(CAST(ln(pkn_micro / 1000000.0)
                       AS DECIMAL(38,15))) AS DOUBLE) / COUNT(*), 4) * 10000)
                  AS BIGINT) AS lp
      FROM p GROUP BY doc_id, lang
    )"""
