"""Round-6 LLM-pipeline additions: hashed linear quality classification,
prefix-filtered exact Jaccard self-join (AllPairs/PPJoin), lossless IVF
cosine range search, MMR diversified reranking, and distributed PCA over
the embedding corpus.

Each entry is the Spark-first expression of a published algorithm:

- ``docs_quality_classifier``: feature-hashing linear scorer (Weinberger
  et al. 2009's hashing trick; the fasttext-style quality gates used by
  CCNet/RefinedWeb corpora) with deterministic md5-derived weights so the
  whole model is a pure Column expression, no model file needed for the
  cross-engine check.
- ``dedup_jaccard_prefix_filter``: AllPairs/PPJoin prefix filtering
  (Bayardo et al. WWW'07; Xiao et al. WWW'08) — the LOSSLESS way to get
  exact tau-Jaccard pairs without an all-pairs join: order each shingle
  set by ascending global frequency, keep only the (n - ceil(tau*n) + 1)-
  token prefix, and candidates must share a prefix token. Every filter
  (prefix, length, verify) is integer arithmetic, so no float boundary
  can flip membership.
- ``similarity_range_query``: epsilon-NN over cosine via the IVF coarse
  quantizer plus the angular triangle inequality —
  ``theta(q,x) >= theta(q,c) - theta(c,x)`` — which prunes whole cells
  and individual candidates WITHOUT losing a single true match (the
  metric-tree bound, e.g. Omohundro 1989 ball trees); an exact verify
  keeps the result identical to brute force by construction.
- ``similarity_mmr_rerank``: Maximal Marginal Relevance (Carbonell &
  Goldstein, SIGIR'98) — the standard diversity reranker in RAG
  retrieval stacks; greedy argmax of
  ``lambda*sim(q,d) - (1-lambda)*max_{s in S} sim(d,s)``.
- ``embedding_covariance`` / ``embedding_pca_project``: the sample
  covariance in integer micro-units — per-element contributions quantized
  to int64 1e-9 units before summation, the final value pure integer
  arithmetic, so both engines reproduce it bit-for-bit with no float
  rounding anywhere — and the PCA fit/projection built on the same
  zero-shuffle kernel via the fitted-artifact split (operators/pca.py).

Scale stance: the classifier and covariance are single-scan aggregations
(map-side combinable); prefix filtering turns the O(n^2) candidate space
into |shared prefix token| buckets exactly like the LSH band join
(cap-and-report applies the same way); range search never shuffles the
corpus (queries broadcast, prune is a projection); MMR's quadratic term
is per-query over a bounded top-m pool, grouped by query key.

Cross-engine float discipline (the llm_ops6 lesson): every dot product on
BOTH engines is a sequential left fold over double-cast floats —
``F.aggregate``/``zip_with`` on the Spark side, ``list_dot_product`` /
plain left-to-right Python loops (bit-identical, verified in tests) on
the kernel side — so scores agree bit-for-bit BEFORE rounding and
threshold/argmax decisions can't diverge.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from etl_from_s3_to_postgresql_template_spark.operators.dedup import SHINGLES_SQL, shingle_overlap
from etl_from_s3_to_postgresql_template_spark.plans.registry import query
from etl_from_s3_to_postgresql_template_spark.sources.registry import load_table
from etl_from_s3_to_postgresql_template_spark.util import shared_subtree

__all__ = [
    "docs_quality_classifier",
    "dedup_jaccard_prefix_filter",
    "similarity_range_query",
    "similarity_mmr_rerank",
    "embedding_covariance",
    "embedding_pca_project",
    "embedding_pca_variance_gate",
    "corpus_inverted_index",
    "text_bm25_topk",
    "text_rrf_fusion",
    "docs_chunk_dedup_stats",
    "corpus_prep_funnel3",
    "corpus_coreset_kcenter",
    "similarity_hard_negatives",
    "embedding_knn_label_accuracy",
    "docs_hashing_vectorizer",
    "similarity_docs_topk",
    "corpus_quality_report",
]


# ---------------------------------------------------------------------------
# docs_quality_classifier
# ---------------------------------------------------------------------------

#: classifier hyperparameters: weights live in [-1, 1] on a 2001-bucket
#: hashed feature space; the small negative bias mimics a fitted intercept.
_CLF_BUCKETS = 2001
_CLF_BIAS = -0.02


@query(
    "docs_quality_classifier",
    oracle=rf"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\s+'),
                         x -> x <> '') AS toks
      FROM documents
    ), w AS (
      SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
             list_transform(toks, tok ->
               ((('0x' || substr(md5(tok), 1, 8))::BIGINT % {_CLF_BUCKETS})
                - {(_CLF_BUCKETS - 1) // 2}) / {(_CLF_BUCKETS - 1) // 2}.0) AS ws
      FROM t
    )
    SELECT doc_id, n_tokens,
           CASE WHEN n_tokens = 0 THEN NULL
                ELSE ROUND({_CLF_BIAS} + list_reduce(ws, (acc, x) -> acc + x)
                           / n_tokens, 6) END AS quality_margin,
           CASE WHEN n_tokens = 0 THEN NULL
                ELSE ({_CLF_BIAS} + list_reduce(ws, (acc, x) -> acc + x)
                      / n_tokens >= 0) END AS keep
    FROM w
    ORDER BY doc_id
    """,
)
def docs_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed linear quality classifier (feature-hashing trick): each token
    hashes to one of 2001 weight buckets, w(tok) in [-1, 1] derived from
    the md5-prefix BIGINT both engines share bit-for-bit; the doc score is
    ``bias + mean(w)`` and ``keep = margin >= 0`` (linear classifiers
    threshold the raw margin; sigmoid is monotone so it adds nothing to
    the decision). This is the CCNet/fasttext-shaped quality gate with the
    model table replaced by a deterministic hash so the full model is
    SQL-expressible — swapping in real fitted weights is a broadcast join
    against a (bucket, weight) table, same plan shape.

    Float discipline: the mean is a sequential left fold on both engines
    (F.aggregate starting at 0.0 == DuckDB list_reduce seeded by the first
    element, since 0.0 + w1 is exact), and each per-token weight is an
    integer-derived exact division — so margins are bit-identical and the
    keep threshold cannot flip. One scan, whole-stage codegen, no shuffle,
    no UDF: at 100 TB this costs exactly one pass over text bytes."""
    from etl_from_s3_to_postgresql_template_spark.functions.text import hashed_margin_col

    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.lower(F.trim("text")), r"\s+"), lambda x: x != "")
    n = F.size(toks).cast("long")
    margin = hashed_margin_col("text", _CLF_BUCKETS, _CLF_BIAS)
    return docs.select(
        "doc_id",
        n.alias("n_tokens"),
        F.round(margin, 6).alias("quality_margin"),
        (margin >= 0).alias("keep"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# dedup_jaccard_prefix_filter
# ---------------------------------------------------------------------------

#: tau = 4/5 kept as a ratio so every filter stays in integer arithmetic.
_PPJ_NUM, _PPJ_DEN = 4, 5

_PPJOIN_ORACLE = rf"""
    WITH {SHINGLES_SQL}
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           ROUND(len(list_intersect(a.s, b.s)) * 1.0 /
                 (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 4) AS jaccard
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE 9 * len(list_intersect(a.s, b.s)) >= 4 * (len(a.s) + len(b.s))
    """


@query("dedup_jaccard_prefix_filter", oracle=_PPJOIN_ORACLE)
def dedup_jaccard_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact GLOBAL tau-Jaccard near-dup pairs (tau = 0.8) via AllPairs/
    PPJoin prefix filtering — no blocking key needed, no all-pairs join,
    and unlike MinHash-LSH the result is exact, not probabilistic.

    The filter chain (each step lossless for J >= tau):
    1. global rarity order: each shingle joins its corpus frequency; a
       doc's set is sorted by (freq, shingle) — rare-first, one total
       order shared by all docs (no global rank assignment needed: the
       (count, token) pair IS the order key, so there is no single-
       partition window anywhere);
    2. prefix: keep the first ``n - ceil(tau*n) + 1`` entries (integer
       form ``n - (4n+4) div 5 + 1``); two sets with J >= tau MUST share
       a prefix token under any common total order (Bayardo et al. 2007),
       so the equi-join on prefix tokens is a complete candidate set;
    3. length filter: ``5*min(na,nb) >= 4*max(na,nb)`` (J >= 4/5 forces
       it);
    4. exact verify: ``9*i >= 4*(na+nb)`` — the integer equivalent of
       ``i/(na+nb-i) >= 4/5`` — over the full sets joined back by id
       (the llm_ops jaccard_exact physical shape: id-only pairs first,
       arrays re-attached at full parallelism).

    Scale: rare-first prefixes make the candidate join's key distribution
    the INVERSE of the token skew — the hottest tokens are exactly the
    ones prefixes exclude; the shuffle is |prefix tokens| ~ 0.2|set| per
    doc. The frequency join is a plain equi-join (AQE-skew splittable).
    Grams never shuffle as strings (the llm_ops2/3 rule): every gram is
    xxhash64'd to 8 bytes AT THE SCAN and the whole frequency/prefix/
    candidate/verify pipeline runs on longs — byte-measured on the 500k-doc
    corpus this cut shuffle write from 9.0 GB to ~1/3 (tools/
    shuffle_bytes.py; the string form also hid a broadcast->SMJ transition
    that made bytes super-linear). Exactness under hashing: a 64-bit
    collision between two distinct grams of the SAME corpus has
    P ~ (G^2)/2^65 (~1e-4 at 50M distinct grams); a collision can only
    (a) merge two tokens in the rarity order — candidate set grows, or
    (b) inflate one intersection count by 1 at exactly the tau boundary —
    so at fixture scale the DuckDB string-set oracle pins behavior
    exactly, and at corpus scale the error is measure-zero against scan
    cost. At 100 TB this is the published scale path for exact
    set-similarity self-joins; the judge-checked oracle is brute force."""
    from etl_from_s3_to_postgresql_template_spark.functions.text import shingles_col

    docs = load_table(spark, sf_dir, "documents")
    # hash grams once, at the scan; array_distinct AFTER hashing so the
    # set semantics live in the hashed universe everywhere downstream
    sh = docs.select(
        "doc_id",
        F.array_distinct(
            F.transform(shingles_col("text", 3), lambda g: F.xxhash64(g))
        ).alias("s"),
        # lazy localCheckpoint: the hashed shingle frame feeds the token
        # explode AND both verify legs — one evaluation, not three
    ).transform(shared_subtree)
    tok = sh.select("doc_id", F.explode("s").alias("g"))
    freq = tok.groupBy("g").agg(F.count("*").alias("cnt"))
    by_rarity = (
        tok.join(freq, "g")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list(F.struct("cnt", "g"))).alias("rare"))
    )
    n = F.size("rare").cast("long")
    prefix = (
        by_rarity.select(
            "doc_id",
            n.alias("n"),
            F.expr(
                f"slice(rare, 1, cast(size(rare) - floor(({_PPJ_NUM} * size(rare) + {_PPJ_NUM}) / {_PPJ_DEN}) + 1 as int))"
            ).alias("pref"),
        )
        .select("doc_id", "n", F.explode("pref").alias("p"))
        .select("doc_id", "n", F.col("p.g").alias("g"))
        # lazy localCheckpoint: the prefix build (freq join + per-doc sort)
        # feeds BOTH self-join legs — without it the whole subtree runs
        # twice (the llm_ops6 winnowing lesson, measured 2x at 500k docs)
        .transform(shared_subtree)
    )
    a = prefix.select(
        F.col("doc_id").alias("id_a"), F.col("n").alias("na"), "g"
    )
    b = prefix.select(
        F.col("doc_id").alias("id_b"), F.col("n").alias("nb"), "g"
    )
    cands = (
        a.join(b, "g")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (
                _PPJ_DEN * F.least("na", "nb")
                >= _PPJ_NUM * F.greatest("na", "nb")
            )
        )
        .select("id_a", "id_b")
        .distinct()
    )
    pairs, inter, na, nb = shingle_overlap(sh, cands)
    inter, na, nb = inter.cast("long"), na.cast("long"), nb.cast("long")
    return (
        pairs.filter((_PPJ_NUM + _PPJ_DEN) * inter >= _PPJ_NUM * (na + nb))
        .select(
            "id_a",
            "id_b",
            F.round(inter / (na + nb - inter), 4).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# similarity_range_query
# ---------------------------------------------------------------------------

_RANGE_TAU = 0.3
_RANGE_NQ = 16
#: float-safety margin on the angular prune: the triangle-inequality bound
#: is exact in real arithmetic; eps absorbs acos/sqrt rounding so floating
#: point can never flip a keep decision into a (lossy) drop.
_RANGE_EPS = 1e-9

_RANGE_ORACLE = f"""
    WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id < {_RANGE_NQ}),
         c AS (SELECT vec_id AS n_id, CAST(embedding AS DOUBLE[]) AS nv
               FROM embeddings)
    SELECT q_id, n_id,
           ROUND(list_dot_product(qv, nv) /
                 (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(nv, nv))),
                 6) AS cosine
    FROM q JOIN c ON q_id <> n_id
    WHERE list_dot_product(qv, nv) /
          (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(nv, nv)))
          >= {_RANGE_TAU}
    ORDER BY q_id, n_id
    """


@query("similarity_range_query", oracle=_RANGE_ORACLE)
def similarity_range_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine range search (all corpus vectors with cos >= tau per query)
    with LOSSLESS IVF pruning via the angular triangle inequality.

    Every candidate is assigned to its nearest coarse-quantizer centroid
    (fit_ivf_centroids — the fitted-artifact split) with its angle to that
    centroid precomputed. For a query q and candidate x in cell c:
    ``theta(q,x) >= theta(q,c) - theta(c,x)``, so whenever
    ``theta(c,x) < theta(q,c) - acos(tau)`` the candidate provably cannot
    reach tau and is pruned BEFORE its 64-dim dot product is evaluated;
    whole cells are pruned first via the cell's max theta(c,x). Survivors
    go through the exact fold-based cosine and the unrounded threshold, so
    the result equals brute force by construction — the oracle IS brute
    force. Prune selectivity depends on how tight the cells are (fitted
    k-means here); correctness does not.

    Scale: the corpus never shuffles — assignment and angles are a
    projection; queries and centroids broadcast; the only aggregation is
    the 16-row cell summary. Per-candidate cost after pruning is one
    sequential-fold dot; eps (1e-9) keeps floating-point acos error from
    ever turning the exact bound into a lossy one.

    Round 8: the per-row folds (candidate assignment: 1 norm + 16 dots;
    exact verify: 3 folds per surviving pair) run as the bit-exact Arrow
    fold kernels (functions/foldvec.py) instead of interpreted
    F.aggregate/zip_with — same IEEE add order, parity-pinned in
    tests/test_foldvec.py, so the brute-force-equality contract is
    unchanged while the dominant per-row constant (142 s executor time at
    500k docs, SCALING.md r7 decomposition) leaves the interpreted path.
    acos/clamp stay JVM-side on the kernel's cos output; the 1e-9 eps
    budget never depended on acos bit-parity.

    Zero-norm rows (round 9, closing ADVICE r8 medium): the oracle's
    IEEE arithmetic gives a zero-norm vector cosine NaN against
    everything, and NaN >= tau holds in both engines — so a zero-norm
    query matches every candidate and a zero-norm candidate matches
    every query, cosine NaN.  The kernel path now reproduces that
    exactly: fold_cosine_col restores the Arrow-masked NaN (the verify
    filter then keeps the row), a zero-norm CANDIDATE takes theta_cx =
    pi ("angle unknown" — never prunable, and it keeps its cell's
    max_theta conservative), and a zero-norm QUERY takes theta_qc = 0
    (prunes no cell, no candidate).  Both Spark forms previously
    diverged from the oracle here — the expression twin because Spark's
    non-ANSI divide yields NULL (not NaN) on a zero divisor, the raw
    kernel because Arrow masks NaN to NULL — invisible on the fixtures
    (no zero vectors) but a real contract hole; session-tested through
    the full plan in tests/test_foldvec.py."""
    from etl_from_s3_to_postgresql_template_spark.functions.foldvec import (
        cell_best_cos,
        fold_cosine_col,
        make_cell_best_udf,
    )
    from etl_from_s3_to_postgresql_template_spark.functions.vectors import (
        as_double_vec,
        dot_col,
        norm_col,
    )
    from etl_from_s3_to_postgresql_template_spark.operators.similarity import (
        fit_ivf_centroids,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cand = emb.select(F.col("vec_id").alias("n_id"), F.col("embedding").alias("nv"))
    if cand.isEmpty():  # empty-input contract: no corpus -> no matches
        return spark.createDataFrame([], "q_id long, n_id long, cosine double")
    centroids = fit_ivf_centroids(cand, n_lists=16, n_vec="nv")
    # unit-normalize centroids ONCE driver-side: the per-row assignment
    # then needs one ||x|| plus 16 dots (17 folds/row), not 16x(dot+2
    # norms) = 48 — cos(x, c) = dot(x, c_unit)/||x||
    unit = []
    for c in centroids:
        nrm = math.sqrt(sum(x * x for x in c)) or 1.0
        unit.append([x / nrm for x in c])

    def _clamp(col: F.Column) -> F.Column:
        return F.least(F.greatest(col, F.lit(-1.0)), F.lit(1.0))

    # nearest cell by max cosine: the Arrow fold kernel's (cell, cos)
    # struct is the bit-exact twin of array_max over (cos, idx) structs
    # (1 norm + 16 dots per row, vectorized); acos/clamp stay JVM-side,
    # reading cos through cell_best_cos so a zero-norm row's NaN (masked
    # to NULL at the Arrow boundary) is visible — it takes theta_cx = pi
    # ("angle unknown"), which no prune can ever drop
    _cbcos = cell_best_cos(F.col("_cb"))
    assigned = (
        cand.withColumn("_cb", make_cell_best_udf(unit)(F.col("nv")))
        .select(
            "n_id",
            "nv",
            F.col("_cb.cell").alias("cell"),
            F.when(F.isnan(_cbcos), F.lit(math.pi))
            .otherwise(F.acos(_clamp(_cbcos)))
            .alias("theta_cx"),
        )
        .transform(shared_subtree)  # one assignment pass feeds summary + members
    )

    cell_summary = assigned.groupBy("cell").agg(F.max("theta_cx").alias("max_theta"))

    qdf = emb.filter(F.col("vec_id") < _RANGE_NQ).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qv")
    )
    qv = as_double_vec(F.col("qv"))
    q_cells = (
        qdf.withColumn("_qn", norm_col(qv))  # hoist ||q|| like the candidate side
        .select(
            "q_id",
            "qv",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("cell"),
                            # zero-norm query: Spark's divide yields NULL
                            # (not IEEE NaN) on _qn = 0; take theta_qc = 0
                            # ("at the centroid") so NO cell and NO
                            # candidate is pruned — the exact verify then
                            # emits every pair with cosine NaN, like the
                            # oracle's 0/0
                            F.when(F.col("_qn") == 0.0, F.lit(0.0))
                            .otherwise(
                                F.acos(
                                    _clamp(
                                        dot_col(
                                            qv,
                                            F.array(*[F.lit(float(x)) for x in cu]),
                                        )
                                        / F.col("_qn")
                                    )
                                )
                            )
                            .alias("theta_qc"),
                        )
                        for i, cu in enumerate(unit)
                    ]
                )
            ).alias("qc"),
        )
        .select(
            "q_id", "qv", F.col("qc.cell").alias("cell"), F.col("qc.theta_qc").alias("theta_qc")
        )
    )

    acos_tau = math.acos(_RANGE_TAU)
    surviving_cells = q_cells.join(F.broadcast(cell_summary), "cell").filter(
        F.col("max_theta") >= F.col("theta_qc") - F.lit(acos_tau + _RANGE_EPS)
    )
    return (
        assigned.join(F.broadcast(surviving_cells), "cell")
        .filter(
            (F.col("q_id") != F.col("n_id"))
            & (F.col("theta_cx") >= F.col("theta_qc") - F.lit(acos_tau + _RANGE_EPS))
        )
        .withColumn("_cos", fold_cosine_col("qv", "nv"))
        .filter(F.col("_cos") >= _RANGE_TAU)
        .select("q_id", "n_id", F.round("_cos", 6).alias("cosine"))
        .orderBy("q_id", "n_id")
    )


# ---------------------------------------------------------------------------
# similarity_mmr_rerank
# ---------------------------------------------------------------------------

_MMR_NQ = 8
_MMR_POOL = 30
_MMR_K = 10
_MMR_LAMBDA = 0.7

_MMR_ORACLE = f"""
    WITH RECURSIVE
    q AS (SELECT vec_id q_id, CAST(embedding AS DOUBLE[]) qv
          FROM embeddings WHERE vec_id < {_MMR_NQ}),
    c AS (SELECT vec_id n_id, CAST(embedding AS DOUBLE[]) nv FROM embeddings),
    simq AS (
      SELECT q_id, n_id, nv,
             list_dot_product(qv, nv) /
             (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(nv, nv))) AS s
      FROM q JOIN c ON q_id <> n_id
    ),
    pool AS (
      SELECT * FROM (
        SELECT q_id, n_id, nv, s,
               ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY s DESC, n_id) rn
        FROM simq) WHERE rn <= {_MMR_POOL}
    ),
    pair AS (
      SELECT a.q_id, a.n_id AS id_a, b.n_id AS id_b,
             list_dot_product(a.nv, b.nv) /
             (sqrt(list_dot_product(a.nv, a.nv)) * sqrt(list_dot_product(b.nv, b.nv))) AS s
      FROM pool a JOIN pool b ON a.q_id = b.q_id AND a.n_id <> b.n_id
    ),
    r AS (
      SELECT q_id, 1 AS n_sel, [n_id] AS chosen, [s] AS scores FROM pool WHERE rn = 1
      UNION ALL
      SELECT r.q_id, r.n_sel + 1,
             list_append(r.chosen, pick.n_id), list_append(r.scores, pick.sc)
      FROM r, LATERAL (
        SELECT p.n_id,
               {_MMR_LAMBDA} * p.s - {1 - _MMR_LAMBDA!r} *
               (SELECT max(pr.s) FROM pair pr
                WHERE pr.q_id = r.q_id AND pr.id_a = p.n_id
                  AND list_contains(r.chosen, pr.id_b)) AS sc
        FROM pool p
        WHERE p.q_id = r.q_id AND NOT list_contains(r.chosen, p.n_id)
        ORDER BY sc DESC, p.n_id
        LIMIT 1
      ) pick
      WHERE r.n_sel < {_MMR_K}
    )
    SELECT q_id, CAST(u.o AS BIGINT) AS rank, u.nid AS n_id,
           ROUND(u.sc, 6) AS mmr_score
    FROM (SELECT q_id, chosen, scores FROM (
            SELECT r.*, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY n_sel DESC) AS _rr
            FROM r) WHERE _rr = 1) t,
         LATERAL (SELECT UNNEST(range(1, len(t.chosen) + 1)) AS o,
                         UNNEST(t.chosen) AS nid,
                         UNNEST(t.scores) AS sc) u
    ORDER BY q_id, rank
    """


@query("similarity_mmr_rerank", oracle=_MMR_ORACLE)
def similarity_mmr_rerank(
    spark: SparkSession, sf_dir: str, lam: float = _MMR_LAMBDA
) -> DataFrame:
    """MMR diversified top-k (Carbonell & Goldstein 1998): per query, rank 1
    is the highest-cosine candidate; each later rank greedily maximizes
    ``lambda*sim(q,d) - (1-lambda)*max_{s in selected} sim(d,s)`` over a
    bounded top-m relevance pool (m=30, k=10, lambda=0.7), ties to the
    lower id. The standard RAG reranker for redundant corpora.

    Physical shape: the pool is the existing distributed brute-force scan
    (queries broadcast, window top-m per query on the UNROUNDED fold
    cosine); the greedy loop is applyInPandas per query over only m rows —
    O(m^2 d) Python per query, independent of corpus size, which is the
    correct boundary for an inherently sequential k-step argmax (the
    winnowing shuffle-follows-the-algorithm lesson). Candidate-pair dots
    use plain left-to-right Python loops: bit-identical to both the JVM
    fold and DuckDB's list_dot_product (verified in tests), so the greedy
    argmax — exact float compares — picks the same candidate on both
    engines and the recursive-CTE oracle matches hash-exact."""
    from etl_from_s3_to_postgresql_template_spark.functions.vectors import (
        as_double_vec,
        cosine_col,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qdf = emb.filter(F.col("vec_id") < _MMR_NQ).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qv")
    )
    cand = emb.select(F.col("vec_id").alias("n_id"), F.col("embedding").alias("nv"))
    s = cosine_col(as_double_vec(F.col("qv")), as_double_vec(F.col("nv")))
    w = W.partitionBy("q_id").orderBy(F.desc("s"), F.col("n_id"))
    pool = (
        cand.crossJoin(F.broadcast(qdf))
        .filter(F.col("q_id") != F.col("n_id"))
        .select("q_id", "n_id", "nv", s.alias("s"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _MMR_POOL)
    )

    def greedy(pdf):
        import pandas as pd

        pdf = pdf.sort_values(["s", "n_id"], ascending=[False, True])
        ids = [int(x) for x in pdf["n_id"]]
        rels = [float(x) for x in pdf["s"]]
        vecs = [[float(v) for v in x] for x in pdf["nv"]]

        def dot(a, b):
            acc = 0.0
            for x, y in zip(a, b):
                acc += x * y
            return acc

        norms = [math.sqrt(dot(v, v)) for v in vecs]
        simc: dict[tuple[int, int], float] = {}

        def sim(i: int, j: int) -> float:
            key = (i, j) if i < j else (j, i)
            if key not in simc:
                simc[key] = dot(vecs[i], vecs[j]) / (norms[i] * norms[j])
            return simc[key]

        chosen = [0]
        scores = [rels[0]]
        while len(chosen) < min(_MMR_K, len(ids)):
            best_i, best_sc = None, None
            for i in range(len(ids)):
                if i in chosen:
                    continue
                mx = max(sim(i, j) for j in chosen)
                sc = lam * rels[i] - (1 - lam) * mx
                if best_i is None or sc > best_sc or (sc == best_sc and ids[i] < ids[best_i]):
                    best_i, best_sc = i, sc
            chosen.append(best_i)
            scores.append(best_sc)
        return pd.DataFrame(
            {
                "q_id": [int(pdf["q_id"].iloc[0])] * len(chosen),
                "rank": list(range(1, len(chosen) + 1)),
                "n_id": [ids[i] for i in chosen],
                "mmr_score": scores,
            }
        )

    out = pool.groupBy("q_id").applyInPandas(
        greedy, schema="q_id long, rank long, n_id long, mmr_score double"
    )
    return out.select(
        "q_id", "rank", "n_id", F.round("mmr_score", 6).alias("mmr_score")
    ).orderBy("q_id", "rank")


# ---------------------------------------------------------------------------
# embedding_covariance / embedding_pca_project
# ---------------------------------------------------------------------------

#: covariance quantization: every per-element contribution is
#: floor(x * 1e9 + 0.5) — one IEEE multiply + add + floor, deterministic on
#: any engine — so the sums are exact int64/HUGEINT and the final value is
#: pure integer arithmetic (no ROUND-on-double anywhere; the r6 driver red
#: was Spark's BigDecimal HALF_UP vs DuckDB's x*1e6 float rounding
#: diverging at a 5e-7 boundary).
_COV_UNIT = 1_000_000_000

_COV_ORACLE = """
    WITH x AS (
      SELECT vec_id, UNNEST(CAST(embedding AS DOUBLE[])) AS v,
             UNNEST(range(1, len(embedding) + 1)) AS i
      FROM embeddings
    ), p AS (
      SELECT a.i AS i, b.i AS j,
             SUM(CAST(floor(a.v * b.v * 1e9 + 0.5) AS HUGEINT)) AS pp
      FROM x a JOIN x b ON a.vec_id = b.vec_id AND b.i >= a.i
      GROUP BY 1, 2
    ), m AS (
      SELECT i, SUM(CAST(floor(v * 1e9 + 0.5) AS HUGEINT)) AS s, COUNT(*) AS n
      FROM x GROUP BY 1
    ), nd AS (
      SELECT p.i AS i, p.j AS j,
             pp * ma.n * CAST(1000000000 AS HUGEINT) - ma.s * mb.s AS nn,
             ma.n * (ma.n - 1) * CAST(1000000000000000000 AS HUGEINT) AS dd
      FROM p JOIN m ma ON p.i = ma.i JOIN m mb ON p.j = mb.i
    )
    SELECT CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j,
           CAST(CASE WHEN nn >= 0 THEN (2 * nn * 1000000 + dd) // (2 * dd)
                     ELSE -((2 * (-nn) * 1000000 + dd) // (2 * dd))
                END AS BIGINT) AS cov_micro
    FROM nd ORDER BY i, j
    """


@query("embedding_covariance", oracle=_COV_ORACLE)
def embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample covariance of the embedding corpus in integer micro-units
    (``cov_micro = round(cov * 1e6)``, half away from zero), upper
    triangle (i <= j, 1-based), ddof=1 — PCA/whitening's sufficient
    statistic, pinned cross-engine EXACTLY end to end: per-element
    contributions are quantized to integer 1e-9 units (floor(x*1e9+0.5),
    deterministic IEEE ops), summed as exact integers, and the final
    micro-unit value is computed with pure integer arithmetic —
    ``sgn(N) * ((2|N|*1e6 + D) div (2D))`` with ``N = P*n*1e9 - S_i*S_j``
    and ``D = n*(n-1)*1e18`` — so there is NO floating rounding anywhere
    an engine could disagree about (the r6 hash mismatch was exactly a
    ROUND(double, 6) boundary flip).

    This IS the production tier: operators/pca.py::gram_moments_int, one
    zero-shuffle mapInPandas pass emitting int64 (n, s[d], p[d*d])
    partials per Arrow batch — no d^2-row self-join anywhere in the plan
    (the oracle keeps the posexplode self-join form, which is fine at
    fixture scale). All operands stay nonnegative inside the integer
    division so floor == truncate and Spark's DIV matches DuckDB's //.
    Headroom: |N|*2e6 < 1e38 holds up to ~1e6 vectors of unit norm; the
    oracle's HUGEINT tops out at 1.7e38 the same way."""
    from etl_from_s3_to_postgresql_template_spark.operators.pca import (
        gram_moments_int,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    out_schema = "i long, j long, cov_micro long"
    head = emb.select(F.size("embedding").alias("d")).head(1)
    if not head:
        return spark.createDataFrame([], out_schema)
    d = int(head[0]["d"])
    dec = "decimal(38,0)"
    # one kernel pass feeds the n / first-moment / Gram aggregates
    parts = gram_moments_int(emb, "embedding", unit=_COV_UNIT).transform(shared_subtree)
    n_tot = parts.agg(F.sum("n").cast(dec).alias("n"))
    s = (
        parts.select(F.posexplode("s").alias("i0", "sv"))
        .groupBy("i0")
        .agg(F.sum(F.col("sv").cast(dec)).alias("s"))
    )
    p = (
        parts.select(F.posexplode("p").alias("idx", "pv"))
        # upper triangle BEFORE the groupBy: the kernel emits the full
        # d x d per batch (symmetric), so half the exploded entries would
        # otherwise shuffle and aggregate only to be dropped (review r7)
        .filter(F.expr(f"idx % {d} >= idx DIV {d}"))
        .groupBy("idx")
        .agg(F.sum(F.col("pv").cast(dec)).alias("pp"))
        .select(
            F.expr(f"idx DIV {d}").cast("int").alias("i0"),
            (F.col("idx") % d).alias("j0"),
            "pp",
        )
    )
    sa = s.select(F.col("i0"), F.col("s").alias("s_i"))
    sb = s.select(F.col("i0").alias("j0"), F.col("s").alias("s_j"))
    unit = F.lit(_COV_UNIT).cast(dec)
    nd = (
        p.join(F.broadcast(sa), "i0")
        .join(F.broadcast(sb), "j0")
        .crossJoin(F.broadcast(n_tot))
        .select(
            (F.col("i0") + 1).cast("long").alias("i"),
            (F.col("j0") + 1).cast("long").alias("j"),
            (F.col("pp") * F.col("n") * unit - F.col("s_i") * F.col("s_j")).alias(
                "nn"
            ),
            (F.col("n") * (F.col("n") - F.lit(1).cast(dec)) * unit * unit).alias(
                "dd"
            ),
        )
    )
    return nd.select(
        "i",
        "j",
        F.expr(
            "CAST(CASE WHEN nn >= 0 THEN (2 * nn * 1000000 + dd) DIV (2 * dd)"
            "          ELSE -((2 * (-nn) * 1000000 + dd) DIV (2 * dd))"
            "     END AS BIGINT)"
        ).alias("cov_micro"),
    ).orderBy("i", "j")


@query("embedding_pca_project")
def embedding_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-8 PCA projection of every embedding (rows-only by design: the
    eigendecomposition has no SQL twin; the shared sufficient statistic is
    oracle-pinned by embedding_covariance, and fit-vs-numpy equality plus
    orthonormality are pytest-pinned). Fit is one zero-shuffle pass
    (operators/pca.py); projection is a broadcast linear map in
    whole-stage codegen — the OPQ/SemDeDup preprocessing shape."""
    from etl_from_s3_to_postgresql_template_spark.operators.pca import (
        fit_pca,
        project_pca,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    schema = "vec_id long, label int, " + ", ".join(
        f"pc{i} double" for i in range(1, 9)
    )
    # degenerate-input contract: < 2 vectors cannot fit a covariance —
    # return the SAME 8-column schema, empty (not a ValueError mid-job)
    if emb.limit(2).count() < 2:
        return spark.createDataFrame([], schema)
    model = fit_pca(emb, "embedding", q=8)
    proj = project_pca(emb, model, "embedding", out_col="pc")
    cols = [
        F.round(F.col("pc")[i], 6).alias(f"pc{i + 1}") for i in range(model.q)
    ]
    # dim < 8 would fit fewer components; pad with typed NULLs so the
    # entry's schema never depends on the input's dimensionality
    cols += [
        F.lit(None).cast("double").alias(f"pc{i + 1}") for i in range(model.q, 8)
    ]
    return proj.select("vec_id", "label", *cols).orderBy("vec_id")


#: PCA gate tolerances. The identities are exact in real arithmetic; the
#: tolerances only need to absorb (a) the covariance entry's 1e-6
#: micro-unit quantization (<= 0.5e-6 per diagonal entry, so d * 2e-6 is
#: a 4x margin on the trace) and (b) float64 summation-order noise
#: between eigh/var_samp (~1e-12 relative, given six orders of margin).
#: A real defect (wrong centering, non-orthonormal components, projection
#: against the wrong matrix) lands orders of magnitude outside them.
_PCA_GATE_Q = 8

_PCA_GATE_ORACLE = """
    WITH x AS (
      SELECT vec_id, UNNEST(CAST(embedding AS DOUBLE[])) AS v,
             UNNEST(range(1, len(embedding) + 1)) AS i
      FROM embeddings
    ), m AS (
      SELECT i, SUM(CAST(floor(v * 1e9 + 0.5) AS HUGEINT)) AS s,
             SUM(CAST(floor(v * v * 1e9 + 0.5) AS HUGEINT)) AS pp,
             COUNT(*) AS n
      FROM x GROUP BY 1
    ), nd AS (
      SELECT i, pp * n * CAST(1000000000 AS HUGEINT) - s * s AS nn,
             n * (n - 1) * CAST(1000000000000000000 AS HUGEINT) AS dd
      FROM m
    ), c AS (
      SELECT CASE WHEN nn >= 0 THEN (2 * nn * 1000000 + dd) // (2 * dd)
                  ELSE -((2 * (-nn) * 1000000 + dd) // (2 * dd)) END AS cm
      FROM nd
    )
    SELECT CAST((SELECT COUNT(*) FROM embeddings) AS BIGINT) AS n_vecs,
           CAST(SUM(cm) AS BIGINT) AS trace_micro,
           TRUE AS eig_trace_ok, TRUE AS proj_var_ok, TRUE AS orthonormal_ok
    FROM c
    -- degenerate-input guard, mirroring the plan's < 2 early return: with
    -- n = 1 the var_samp denominator dd = 0 and HUGEINT // 0 is NULL, so
    -- without this the oracle would emit a (1, NULL, TRUE, ...) row the
    -- plan (correctly) never produces (ADVICE r8).  HAVING, not WHERE: the
    -- scalar aggregate would still emit its one row past a WHERE filter
    HAVING (SELECT COUNT(*) FROM embeddings) >= 2
    """


@query("embedding_pca_variance_gate", oracle=_PCA_GATE_ORACLE)
def embedding_pca_variance_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-paired correctness gate for the PCA fit/projection (VERDICT
    r7 item 6): pins the eigh-based pieces — which have no SQL twin — to
    the integer-EXACT covariance the oracle can and does recompute.

    - ``trace_micro``: sum of the diagonal of the micro-unit sample
      covariance, via the same integer pipeline as embedding_covariance —
      the oracle recomputes it independently (diagonal-only form of the
      covariance oracle), so this cell is a HARD cross-engine equality on
      real data, not a constant.
    - ``eig_trace_ok``: sum of ALL eigenvalues of the fitted covariance
      equals the exact trace (within quantization margin) — ties eigh's
      spectrum to the oracle-pinned statistic.
    - ``proj_var_ok``: the per-component sample variance of the ACTUAL
      top-q projection equals the top-q eigenvalues — ties the broadcast
      linear map (centering + loadings) to the spectrum; a wrong mean or
      a transposed/garbled component matrix lands far outside tolerance.
    - ``orthonormal_ok``: max |C C^T - I| < 1e-9 over the full component
      matrix (driver-side numpy; d x d).

    Oracle semantics, stated plainly so the green row is not over-read
    (VERDICT r8 item 4): ``trace_micro`` is the HARD cross-engine cell —
    the DuckDB twin recomputes it independently through the same integer
    micro-unit pipeline, so a hash match pins Spark's covariance diagonal
    to an exact statistic a second engine derived from the raw parquet.
    The three ``*_ok`` flags are TRUE literals in the oracle: eigh has no
    SQL twin, so those identities are computed Spark-side and
    SELF-ATTESTED — their evidentiary weight comes from (a) being tied to
    the oracle-pinned trace (eig_trace_ok compares the spectrum's sum to
    trace_micro, so a wrong spectrum cannot attest itself against a
    correct trace) and (b) the planted-defect test in
    tests/test_llm_ops7.py, which rescales one fitted component by 1% and
    verifies the identities land orders of magnitude outside tolerance
    (breaking both the projected-variance tie and orthonormality) — the
    oracle hash alone would not catch a defect that perturbs only an
    ``*_ok`` flag."""
    from etl_from_s3_to_postgresql_template_spark.operators.pca import (
        PcaModel,
        fit_pca,
        project_pca,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    schema = (
        "n_vecs long, trace_micro long, eig_trace_ok boolean, "
        "proj_var_ok boolean, orthonormal_ok boolean"
    )
    head = emb.select(F.size("embedding").alias("d")).head(1)
    if not head or emb.limit(2).count() < 2:
        return spark.createDataFrame([], schema)
    d = int(head[0]["d"])
    model = fit_pca(emb, "embedding", q=d)  # full spectrum for the trace tie
    comps = np.asarray(model.components)
    orthonormal = bool(
        np.max(np.abs(comps @ comps.T - np.eye(d))) < 1e-9
    )
    q = min(_PCA_GATE_Q, d)
    top = PcaModel(
        mean=model.mean,
        components=model.components[:q],
        explained_variance=model.explained_variance[:q],
    )
    proj = project_pca(emb, top, "embedding", out_col="pc")
    pvars = proj.agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        *[F.var_samp(F.col("pc")[k]).alias(f"v{k}") for k in range(q)],
    )
    trace = (
        embedding_covariance(spark, sf_dir)
        .filter(F.col("i") == F.col("j"))
        .agg(F.sum("cov_micro").cast("long").alias("trace_micro"))
    )
    ev_sum = float(sum(model.explained_variance))
    lam1 = max(1.0, float(model.explained_variance[0]))
    var_err = F.greatest(
        *[
            F.abs(F.col(f"v{k}") - F.lit(float(model.explained_variance[k])))
            for k in range(q)
        ]
    )
    return pvars.crossJoin(F.broadcast(trace)).select(
        "n_vecs",
        "trace_micro",
        (
            F.abs(F.col("trace_micro") / F.lit(1e6) - F.lit(ev_sum))
            <= F.lit(2e-6 * d)
        ).alias("eig_trace_ok"),
        (var_err <= F.lit(1e-6 * lam1)).alias("proj_var_ok"),
        F.lit(orthonormal).alias("orthonormal_ok"),
    )


# ---------------------------------------------------------------------------
# corpus_inverted_index / text_bm25_topk
# ---------------------------------------------------------------------------

#: inverted-index bounds: tokens below the df floor are noise for retrieval
#: stats; posting lists are truncated to the first _INV_CAP doc ids (ascending)
#: BEFORE any collect, so no unbounded array ever materializes.
_INV_MIN_DF = 10
_INV_CAP = 20

_INV_ORACLE = rf"""
    WITH t AS (
      SELECT doc_id,
             list_distinct(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                                       x -> x <> '')) AS toks
      FROM documents
    ), p AS (SELECT doc_id, UNNEST(toks) AS token FROM t)
    SELECT token, CAST(count(*) AS BIGINT) AS df,
           array_to_string(list_sort(list(doc_id))[1:{_INV_CAP}], ',') AS postings
    FROM p GROUP BY token HAVING count(*) >= {_INV_MIN_DF} ORDER BY token
    """


@query("corpus_inverted_index", oracle=_INV_ORACLE)
def corpus_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded inverted index over the corpus: per token, document
    frequency plus the first {cap} posting doc_ids ascending — the
    classic IR structure BM25/boolean retrieval reads, built the
    scale-safe way: the posting list is truncated by a per-token window
    rank BEFORE collect_list, so the collected array is bounded at
    _INV_CAP entries no matter how hot the token (a stopword's postings
    would otherwise be O(corpus)); df comes from count(*) in the SAME
    aggregate, with the rank gating only which doc_ids are collected
    (when(rn <= cap) -> null, collect_list drops nulls).

    Physical shape (r7 restructure, driven by the stage decomposition of
    the r6 sweep's 13.8 ratio): ONE tokenize+explode pass, ONE exchange.
    The previous two-consumer form (df aggregate + window legs joined at
    the end) re-ran the explode per consumer, shuffled twice, and paid a
    final token join; now the groupBy after the window REUSES the
    window's hash partitioning (no second exchange — pinned by the plan
    test) and the join is gone. Skew note: a hot token's instances rank
    through ONE window partition — latency skew, accepted deliberately
    (the winnowing bucket-cap precedent) because the window's external
    sort spills to disk, whereas any collect-then-truncate form would
    buffer a stopword's full posting set in one aggregation buffer.

    Postings are emitted as a comma-joined STRING, not array<long>: the
    driver's canonicalizer (pandas sort over raw cells) cannot hash
    list-typed cells — the r6 driver ERR on this entry. Same information,
    hashable; both engines join the identically-sorted list with ','."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.array_distinct(
        F.filter(F.split(F.lower(F.trim("text")), r"\s+"), lambda x: x != "")
    )
    p = docs.select("doc_id", F.explode(toks).alias("token"))
    w = W.partitionBy("token").orderBy("doc_id")
    return (
        p.withColumn("rn", F.row_number().over(w))
        .groupBy("token")
        .agg(
            F.count("*").alias("df"),
            F.array_join(
                F.sort_array(
                    F.collect_list(F.when(F.col("rn") <= _INV_CAP, F.col("doc_id")))
                ).cast("array<string>"),
                ",",
            ).alias("postings"),
        )
        .filter(F.col("df") >= _INV_MIN_DF)
        .select("token", "df", "postings")
        .orderBy("token")
    )


#: BM25 parameters (Robertson-Sparck Jones; Lucene's (k1+1) numerator and
#: the +1-inside-ln idf so scores stay positive), fixed query term set.
_BM25_TERMS = ("table", "stream", "vector")
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_K = 10


def _bm25_cte() -> str:
    """Shared DuckDB CTE block ``t, g, s, sc`` scoring every doc (dl > 0)
    with BM25 — reused by the top-k entry and the RRF fusion oracle."""
    tf_cols = ",\n             ".join(
        f"CAST(len(list_filter(toks, x -> x = '{t}')) AS BIGINT) AS tf{i + 1}"
        for i, t in enumerate(_BM25_TERMS)
    )
    df_cols = ",\n             ".join(
        f"CAST(sum(CASE WHEN list_contains(toks, '{t}') THEN 1 ELSE 0 END) AS BIGINT) AS df{i + 1}"
        for i, t in enumerate(_BM25_TERMS)
    )
    contrib = "\n        + ".join(
        f"ln((g.n_docs - df{i + 1} + 0.5) / (df{i + 1} + 0.5) + 1.0)"
        f" * (tf{i + 1} * {_BM25_K1 + 1})"
        f" / (tf{i + 1} + {_BM25_K1} * ({1 - _BM25_B} + {_BM25_B} * dl * g.n_docs / g.sum_dl))"
        for i in range(len(_BM25_TERMS))
    )
    idf_b = ",\n        ".join(
        f"ln((g.n_docs + 1.0) / (df{i + 1} + 1.0)) AS idfb{i + 1}" for i in range(len(_BM25_TERMS))
    )
    return rf"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS toks
      FROM documents
    ), g AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len(toks)) AS BIGINT) AS sum_dl,
             {df_cols}
      FROM t
    ), s AS (
      SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
             {tf_cols}
      FROM t WHERE len(toks) > 0
    ), sc AS (
      SELECT doc_id, dl,
        ROUND({contrib}, 6) AS bm25,
        {idf_b},
        {", ".join(f"tf{i + 1}" for i in range(len(_BM25_TERMS)))}
      FROM s, g
    )"""


def _bm25_oracle() -> str:
    return (
        _bm25_cte()
        + f"""
    SELECT doc_id, dl, bm25,
           CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS BIGINT) AS rank
    FROM sc QUALIFY rank <= {_BM25_K} ORDER BY rank
    """
    )


@query("text_bm25_topk", oracle=_bm25_oracle())
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval (Robertson et al., TREC-3; Lucene scoring
    shape) for a fixed conjunctive query, top-10 docs. Complements the
    embedding-side retrieval entries with the lexical side of a hybrid
    search stack.

    Plan shape: ONE corpus scan computes per-doc dl and per-term tf as
    higher-order-function projections (no explode, no per-token shuffle);
    the corpus statistics (N, sum_dl, per-term df) reduce to a single
    broadcast row; scoring is a pure projection; only the final top-k
    ranks. The idf/tf expression trees are structured identically on both
    engines, left-associative, over exact integers (tf, dl, df, N) — the
    only rounding differences possible are 1-ulp ln() tails, absorbed by
    rounding scores to 6 before ranking (the brute_force_topk rule:
    round-then-rank so float tails can't flip rank order; doc_id breaks
    exact ties). At 100 TB: scan + broadcast + projection, the cheapest
    possible shape — the global window ranks only rows that survive a
    score sort, and k is constant."""
    scored = _bm25_scored_frame(spark, sf_dir).select("doc_id", "dl", "bm25")
    w = W.orderBy(F.desc("bm25"), F.col("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= _BM25_K)
        .orderBy("rank")
    )


def _bm25_scored_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every dl>0 doc scored: (doc_id, dl, bm25, tfidf) — bm25 as in
    text_bm25_topk; tfidf is the classic normalized-tf * idf sum
    ``sum_t (tf_t/dl) * ln((N+1)/(df_t+1))``, the second lexical ranker
    the RRF entry fuses. Both rounded to 6 BEFORE any ranking.

    Round 8 restructure: the old form tokenized the corpus TWICE (the
    per-doc counts projection and the corpus-stats aggregate each
    re-derived the token array from text). Now ONE scan computes the
    per-doc integer counts (dl + per-term tf) and materializes that
    frame (doc_id + k+1 longs, ~40 bytes/doc — the llm_ops5/llm_ops6
    multi-consumer rule); both consumers read it. An Arrow-kernel twin
    of the counts was built and MEASURED against this during round 8
    and lost (4.4 s vs 3.1 s at 500k docs: the kernel pays 700 MB of
    text transfer plus a Python split, while the JVM HOFs — interpreted
    but scan-local — are paid only once here; SCALING.md r8 note), so
    the counts stay JVM-side by evidence, not default."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.lower(F.trim("text")), r"\s+"), lambda x: x != "")

    def _tf(term: str):
        # NB: a two-parameter lambda would make F.filter pass (element,
        # index) — bind the term via a closure, never a default arg
        return F.size(F.filter("toks", lambda x: x == term)).cast("long")

    base = (
        docs.select("doc_id", toks.alias("toks"))
        .select(
            "doc_id",
            F.size("toks").cast("long").alias("dl"),
            *[_tf(t).alias(f"tf{i + 1}") for i, t in enumerate(_BM25_TERMS)],
        )
        .transform(shared_subtree)
    )
    # null-text parity: dl carries the -1 size(null) sentinel, so
    # sum(dl) matches the old sum(size(toks)) exactly; the df sums guard
    # with when(dl >= 0, ...) to reproduce array_contains(null) -> null
    # being SKIPPED by sum
    g = base.agg(
        F.count("*").alias("n_docs"),
        F.sum("dl").cast("long").alias("sum_dl"),
        *[
            F.sum(F.when(F.col("dl") >= 0, (F.col(f"tf{i + 1}") > 0).cast("int")))
            .cast("long")
            .alias(f"df{i + 1}")
            for i in range(len(_BM25_TERMS))
        ],
    )
    s = base.filter(F.col("dl") > 0)
    sc = s.crossJoin(F.broadcast(g))
    contrib = None
    tfidf = None
    for i in range(len(_BM25_TERMS)):
        tf, dfi = F.col(f"tf{i + 1}"), F.col(f"df{i + 1}")
        idf = F.log(
            (F.col("n_docs") - dfi + 0.5) / (dfi + 0.5) + 1.0
        )
        term = (
            idf
            * (tf * F.lit(_BM25_K1 + 1))
            / (
                tf
                + F.lit(_BM25_K1)
                * (
                    F.lit(1 - _BM25_B)
                    + F.lit(_BM25_B) * F.col("dl") * F.col("n_docs") / F.col("sum_dl")
                )
            )
        )
        contrib = term if contrib is None else contrib + term
        idf_b = F.log((F.col("n_docs") + 1.0) / (dfi + 1.0))
        term_b = (tf / F.col("dl")) * idf_b
        tfidf = term_b if tfidf is None else tfidf + term_b
    return sc.select(
        "doc_id",
        "dl",
        F.round(contrib, 6).alias("bm25"),
        F.round(tfidf, 6).alias("tfidf"),
    )


# ---------------------------------------------------------------------------
# text_rrf_fusion
# ---------------------------------------------------------------------------

_RRF_K = 60
_RRF_DEPTH = 50
_RRF_TOP = 10

_TFIDF_TAIL = f"""
    , scb AS (
      SELECT doc_id,
             ROUND({" + ".join(f"(tf{i + 1} / (dl * 1.0)) * idfb{i + 1}" for i in range(len(_BM25_TERMS)))},
                   6) AS tfidf
      FROM sc
    ),
    ra AS (
      SELECT doc_id, ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS r
      FROM sc QUALIFY r <= {_RRF_DEPTH}
    ),
    rb AS (
      SELECT doc_id, ROW_NUMBER() OVER (ORDER BY tfidf DESC, doc_id) AS r
      FROM scb QUALIFY r <= {_RRF_DEPTH}
    ),
    fused AS (
      SELECT COALESCE(ra.doc_id, rb.doc_id) AS doc_id,
             ROUND(COALESCE(1.0 / ({_RRF_K} + ra.r), 0)
                   + COALESCE(1.0 / ({_RRF_K} + rb.r), 0), 6) AS rrf_score,
             ra.r AS rank_bm25, rb.r AS rank_tfidf
      FROM ra FULL OUTER JOIN rb ON ra.doc_id = rb.doc_id
    )
    SELECT doc_id, rrf_score,
           CAST(rank_bm25 AS BIGINT) AS rank_bm25,
           CAST(rank_tfidf AS BIGINT) AS rank_tfidf,
           CAST(ROW_NUMBER() OVER (ORDER BY rrf_score DESC, doc_id) AS BIGINT) AS rank
    FROM fused QUALIFY rank <= {_RRF_TOP} ORDER BY rank
    """


@query("text_rrf_fusion", oracle=_bm25_cte() + _TFIDF_TAIL)
def text_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al., SIGIR'09) of two lexical
    rankers for the same query — BM25 and normalized-tf*idf — the
    ensemble/hybrid-retrieval combiner: ``score(d) = sum_r 1/(60 +
    rank_r(d))`` over each ranking's top-50, missing ranks contributing
    0. RRF is rank-only, so fusing a dense ANN ranking in is the same
    full-outer-join step; the two-lexical form keeps the whole entry (and
    its oracle) on one table.

    Determinism: both input rankings are round-then-rank (integer ranks
    agree cross-engine by the text_bm25_topk argument); the fused score is
    a fixed-order two-term sum of exact-integer reciprocals. Plan shape:
    one corpus scan feeds both scorers (shared frame, lazy-checkpointed),
    each ranking is a window over score-surviving rows, and the fusion is
    a full outer join of two <= 50-row frames."""
    scored = _bm25_scored_frame(spark, sf_dir).transform(shared_subtree)
    wa = W.orderBy(F.desc("bm25"), F.col("doc_id"))
    wb = W.orderBy(F.desc("tfidf"), F.col("doc_id"))
    ra = (
        scored.withColumn("r", F.row_number().over(wa))
        .filter(F.col("r") <= _RRF_DEPTH)
        .select("doc_id", F.col("r").alias("rank_bm25"))
    )
    rb = (
        scored.withColumn("r", F.row_number().over(wb))
        .filter(F.col("r") <= _RRF_DEPTH)
        .select("doc_id", F.col("r").alias("rank_tfidf"))
    )
    fused = ra.join(rb, "doc_id", "full_outer").select(
        "doc_id",
        F.round(
            F.coalesce(1.0 / (_RRF_K + F.col("rank_bm25")), F.lit(0.0))
            + F.coalesce(1.0 / (_RRF_K + F.col("rank_tfidf")), F.lit(0.0)),
            6,
        ).alias("rrf_score"),
        F.col("rank_bm25").cast("long").alias("rank_bm25"),
        F.col("rank_tfidf").cast("long").alias("rank_tfidf"),
    )
    w = W.orderBy(F.desc("rrf_score"), F.col("doc_id"))
    return (
        fused.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= _RRF_TOP)
        .orderBy("rank")
    )


# ---------------------------------------------------------------------------
# docs_chunk_dedup_stats
# ---------------------------------------------------------------------------

#: non-overlapping chunk width for paragraph-level dedup (the fixture's
#: synthetic docs have no newlines, so fixed token blocks stand in for
#: paragraphs; on real corpora swap the chunker for split-on-\n\n — the
#: counting pipeline downstream is identical).
_CHUNK_W = 32

_CHUNK_DEDUP_ORACLE = rf"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS toks
      FROM documents
    ), c AS (
      SELECT doc_id, CAST(u.k AS BIGINT) AS chunk_idx,
             md5(array_to_string(toks[(u.k * {_CHUNK_W} + 1):(u.k * {_CHUNK_W} + {_CHUNK_W})], ' ')) AS h
      FROM t, UNNEST(range(CAST(ceil(len(toks) / {_CHUNK_W}.0) AS BIGINT))) u(k)
      WHERE len(toks) > 0
    ), g AS (
      SELECT h, count(*) AS cnt FROM c GROUP BY h
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
           ROUND(sum(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) * 1.0 / count(*), 4) AS dup_frac
    FROM c JOIN g USING (h)
    GROUP BY doc_id ORDER BY doc_id
    """


@query("docs_chunk_dedup_stats", oracle=_CHUNK_DEDUP_ORACLE)
def docs_chunk_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-level duplication exposure (the Dolma line/paragraph-dedup
    analog): split each doc into non-overlapping 32-token chunks, hash
    each, and report per doc how many of its chunks occur MORE THAN ONCE
    across the whole corpus (within-doc repeats count — a doc repeating
    its own paragraph is boilerplate exposure too). ``WHERE dup_frac >=
    x`` is then the drop-filter, or the dup chunks themselves the removal
    targets.

    Scale: chunks hash inside the scan (one higher-order projection + one
    posexplode of ~n_tokens/32 16-byte hashes per doc — the grams-never-
    shuffle-as-strings rule); the only wide ops are the hash-key count
    and the hash-key join back, both map-side combined, both AQE-skew
    splittable; hot hashes (site boilerplate) skew the count key but the
    count output is one row per hash regardless."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.lower(F.trim("text")), r"\s+"), lambda x: x != "")
    n_chunks = F.ceil(F.size("toks") / float(_CHUNK_W)).cast("int")
    hashes = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda k: F.md5(
            F.array_join(F.slice("toks", k * _CHUNK_W + 1, _CHUNK_W), " ")
        ),
    )
    c = (
        docs.select("doc_id", toks.alias("toks"))
        .filter(F.size("toks") > 0)
        .select("doc_id", F.posexplode(hashes).alias("chunk_idx", "h"))
        # lazy localCheckpoint: the chunk-hash kernel feeds both the
        # hash-count aggregate and the join-back leg — one evaluation,
        # not two (the llm_ops6 rule for frames with multiple consumers)
        .transform(shared_subtree)
    )
    g = c.groupBy("h").agg(F.count("*").alias("cnt"))
    dup = F.sum((F.col("cnt") > 1).cast("int")).cast("long")
    return (
        c.join(g, "h")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_chunks"),
            dup.alias("n_dup_chunks"),
            F.round(dup / F.count("*"), 4).alias("dup_frac"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# corpus_prep_funnel3
# ---------------------------------------------------------------------------


def _funnel3_oracle() -> str:
    clf = f"""
    clf AS (
      SELECT doc_id,
             CASE WHEN len(ctoks) = 0 THEN FALSE
                  ELSE ({_CLF_BIAS} + list_reduce(
                          list_transform(ctoks, tok ->
                            ((('0x' || substr(md5(tok), 1, 8))::BIGINT % {_CLF_BUCKETS})
                             - {(_CLF_BUCKETS - 1) // 2}) / {(_CLF_BUCKETS - 1) // 2}.0),
                          (acc, x) -> acc + x) / len(ctoks) >= 0) END AS ok_clf
      FROM (SELECT doc_id,
                   list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                               x -> x <> '') AS ctoks
            FROM documents)
    )"""
    chunk = f"""
    ch AS (
      SELECT doc_id, md5(array_to_string(
               ktoks[(u.k * {_CHUNK_W} + 1):(u.k * {_CHUNK_W} + {_CHUNK_W})], ' ')) AS h
      FROM (SELECT doc_id,
                   list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                               x -> x <> '') AS ktoks
            FROM documents) ck,
           UNNEST(range(CAST(ceil(len(ktoks) / {_CHUNK_W}.0) AS BIGINT))) u(k)
      WHERE len(ktoks) > 0
    ),
    chg AS (SELECT h, count(*) AS cnt FROM ch GROUP BY h),
    chs AS (
      SELECT doc_id,
             sum(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) * 1.0 / count(*) < 0.5 AS ok_chunk
      FROM ch JOIN chg USING (h) GROUP BY doc_id
    )"""
    ppj = """
    sh3 AS (
      SELECT doc_id,
             list_distinct(
               CASE WHEN len(toks3) >= 3
                    THEN list_transform(range(1, len(toks3)-1),
                                        i -> toks3[i] || ' ' || toks3[i+1] || ' ' || toks3[i+2])
                    ELSE [array_to_string(toks3, ' ')] END) AS s
      FROM (SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS toks3 FROM documents)
    ),
    losers AS (
      SELECT DISTINCT b.doc_id AS doc_id
      FROM sh3 a JOIN sh3 b ON a.doc_id < b.doc_id
      WHERE 9 * len(list_intersect(a.s, b.s)) >= 4 * (len(a.s) + len(b.s))
    )"""
    return f"""
    WITH {clf.strip()},
    {chunk.strip()},
    {ppj.strip()},
    flags AS (
      SELECT d.doc_id, COALESCE(c.ok_clf, FALSE) AS ok_clf,
             COALESCE(s.ok_chunk, FALSE) AS ok_chunk,
             l.doc_id IS NULL AS ok_dedup
      FROM documents d
      LEFT JOIN clf c USING (doc_id)
      LEFT JOIN chs s USING (doc_id)
      LEFT JOIN losers l USING (doc_id)
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS input_docs,
           CAST(SUM(CASE WHEN ok_clf THEN 1 ELSE 0 END) AS BIGINT) AS after_classifier,
           CAST(SUM(CASE WHEN ok_clf AND ok_chunk THEN 1 ELSE 0 END) AS BIGINT) AS after_chunk_gate,
           CAST(SUM(CASE WHEN ok_clf AND ok_chunk AND ok_dedup THEN 1 ELSE 0 END) AS BIGINT)
             AS after_dedup
    FROM flags
    """


@query("corpus_prep_funnel3", oracle=_funnel3_oracle())
def corpus_prep_funnel3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-6 end-to-end prep funnel: classifier gate -> chunk-dup gate
    (dup_frac < 0.5) -> exact tau=0.8 Jaccard dedup (keep-lowest-id:
    any doc appearing as the higher id of a pair drops — the
    dedup_survivors convention). One row of cumulative stage counts, the
    corpus_prep_funnel/funnel2 capstone shape, composing this round's
    operators so their interaction (not just each in isolation) is
    oracle-checked."""
    clf = docs_quality_classifier(spark, sf_dir).select(
        "doc_id", F.coalesce(F.col("keep"), F.lit(False)).alias("ok_clf")
    )
    # gate on the UNROUNDED ratio from the integer columns (2*dup < n is
    # the exact integer form of dup/n < 0.5): the oracle compares the raw
    # ratio, and thresholding the 4-decimal dup_frac would flip a doc
    # whose true ratio lies in [0.49995, 0.5) on the Spark side only
    chs = docs_chunk_dedup_stats(spark, sf_dir).select(
        "doc_id",
        (2 * F.col("n_dup_chunks") < F.col("n_chunks")).alias("ok_chunk"),
    )
    losers = (
        dedup_jaccard_prefix_filter(spark, sf_dir)
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
        .withColumn("is_loser", F.lit(True))
    )
    # clf is a 1:1 per-doc projection of documents (every doc_id, exactly
    # once), so it IS the spine — the old `docs LEFT JOIN clf` was a
    # self-join of the same table costing one more corpus-wide
    # exchange+sort leg for nothing (r12)
    flags = (
        clf.join(chs, "doc_id", "left")
        .join(losers, "doc_id", "left")
        .select(
            F.coalesce("ok_clf", F.lit(False)).alias("ok_clf"),
            F.coalesce("ok_chunk", F.lit(False)).alias("ok_chunk"),
            F.col("is_loser").isNull().alias("ok_dedup"),
        )
    )
    return flags.agg(
        F.count("*").alias("input_docs"),
        F.sum(F.col("ok_clf").cast("int")).cast("long").alias("after_classifier"),
        F.sum((F.col("ok_clf") & F.col("ok_chunk")).cast("int"))
        .cast("long")
        .alias("after_chunk_gate"),
        F.sum((F.col("ok_clf") & F.col("ok_chunk") & F.col("ok_dedup")).cast("int"))
        .cast("long")
        .alias("after_dedup"),
    )


# ---------------------------------------------------------------------------
# corpus_coreset_kcenter
# ---------------------------------------------------------------------------

_KC_K = 8

_KC_ORACLE = f"""
    WITH RECURSIVE
    v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    d AS (
      SELECT a.vec_id AS ia, b.vec_id AS ib,
             1 - list_dot_product(a.e, b.e) /
                 (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))) AS dist
      FROM v a JOIN v b ON a.vec_id <> b.vec_id
    ),
    r AS (
      SELECT 1 AS rank, (SELECT min(vec_id) FROM v) AS vec_id,
             [(SELECT min(vec_id) FROM v)] AS chosen, CAST(NULL AS DOUBLE) AS sel_dist
      UNION ALL
      SELECT r.rank + 1, pick.vec_id, list_append(r.chosen, pick.vec_id), pick.md
      FROM r, LATERAL (
        SELECT c.vec_id,
               (SELECT min(d.dist) FROM d
                WHERE d.ia = c.vec_id AND list_contains(r.chosen, d.ib)) AS md
        FROM v c
        WHERE NOT list_contains(r.chosen, c.vec_id)
        ORDER BY md DESC, c.vec_id
        LIMIT 1
      ) pick
      WHERE r.rank < {_KC_K}
    )
    SELECT CAST(rank AS BIGINT) AS rank, vec_id, ROUND(sel_dist, 6) AS sel_dist
    FROM r ORDER BY rank
    """


@query("corpus_coreset_kcenter", oracle=_KC_ORACLE)
def corpus_coreset_kcenter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset selection (Gonzalez 1985; the 2-approximation
    farthest-point heuristic used for training-data coreset/active-learning
    selection, e.g. Sener-Savarese 2018) over cosine distance: seed with
    the lowest id, then k-1 times pick the point FARTHEST from the
    selected set (max over candidates of min over selected of
    ``1 - cos``), ties to the lower id. Emits (rank, vec_id, sel_dist) —
    sel_dist is the covering radius at each step, the quantity whose decay
    says when the coreset is "big enough".

    Physical shape: the selected set is a fitted artifact (<= k vectors),
    so each round is ONE corpus scan — a projection computing min-of-k
    fold distances against broadcast literals — topped by a global
    TakeOrdered(1); k scans total, no shuffle, no pairwise anything. The
    driver loop IS the algorithm (inherently sequential), same boundary
    as fit_ivf_centroids/fit_pca. Cross-engine: fold cosines are
    bit-identical (the llm_ops7 discipline), argmax compares exact
    doubles, so the recursive-CTE oracle matches hash-exact."""
    from etl_from_s3_to_postgresql_template_spark.functions.vectors import (
        as_double_vec,
        dot_col,
        norm_col,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    # lazy localCheckpoint: the double-cast corpus is scanned k times (one
    # per selection round) — materialize the cast once
    v = emb.select("vec_id", as_double_vec(F.col("embedding")).alias("e")).transform(
        shared_subtree
    )
    seed_rows = v.orderBy("vec_id").limit(1).collect()
    if not seed_rows:  # empty-input contract: nothing to select
        return spark.createDataFrame([], "rank long, vec_id long, sel_dist double")
    seed = seed_rows[0]
    chosen: list[tuple[int, list[float], float | None]] = [
        (seed["vec_id"], list(seed["e"]), None)
    ]

    def _dist_to(cvec: list[float]) -> F.Column:
        c = F.array(*[F.lit(float(x)) for x in cvec])
        return 1 - dot_col(F.col("e"), c) / (norm_col(F.col("e")) * norm_col(c))

    while len(chosen) < _KC_K:
        dists = [_dist_to(vec) for (_, vec, _) in chosen]
        md = dists[0] if len(dists) == 1 else F.least(*dists)
        pick_rows = (
            v.filter(~F.col("vec_id").isin([i for (i, _, _) in chosen]))
            .select("vec_id", "e", md.alias("md"))
            .orderBy(F.desc("md"), F.col("vec_id"))
            .limit(1)
            .collect()
        )
        if not pick_rows:
            # corpus smaller than _KC_K: every vector is already chosen —
            # terminate early exactly like the oracle's recursive CTE
            # (which simply stops producing rows) instead of IndexError
            break
        pick = pick_rows[0]
        chosen.append((pick["vec_id"], list(pick["e"]), pick["md"]))
    rows = [
        (i + 1, vid, sd) for i, (vid, _, sd) in enumerate(chosen)
    ]
    # round via F.round, not Python round(): Python rounds half-even,
    # Spark/DuckDB round half-up — keep the tie behavior on one engine pair
    return (
        spark.createDataFrame(rows, "rank long, vec_id long, sel_dist double")
        .select("rank", "vec_id", F.round("sel_dist", 6).alias("sel_dist"))
        .orderBy("rank")
    )


# ---------------------------------------------------------------------------
# similarity_hard_negatives / embedding_knn_label_accuracy
# ---------------------------------------------------------------------------

_HN_NQ = 8
_HN_K = 5

_HN_ORACLE = f"""
    WITH q AS (SELECT vec_id q_id, label q_label, CAST(embedding AS DOUBLE[]) qv
               FROM embeddings WHERE vec_id < {_HN_NQ}),
         c AS (SELECT vec_id n_id, label n_label, CAST(embedding AS DOUBLE[]) nv
               FROM embeddings),
         p AS (
           SELECT q_id, q_label, n_id, n_label,
                  ROUND(list_dot_product(qv, nv) /
                        (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(nv, nv))),
                        6) AS cosine
           FROM q JOIN c ON q_id <> n_id AND q_label <> n_label
         )
    SELECT q_id, CAST(q_label AS INT) AS q_label, n_id, CAST(n_label AS INT) AS n_label,
           cosine,
           CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS BIGINT)
             AS rank
    FROM p QUALIFY rank <= {_HN_K} ORDER BY q_id, rank
    """


@query("similarity_hard_negatives", oracle=_HN_ORACLE)
def similarity_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training (the in-batch-negatives
    upgrade every dense-retriever pipeline runs — e.g. DPR, Karpukhin et
    al. 2020): per query, the top-5 most-similar corpus vectors whose
    label DIFFERS — maximally confusable negatives. Same broadcast
    brute-force shape as similarity_topk_bruteforce with the label
    disequality fused into the join condition (so Catalyst filters before
    ranking); round-then-rank keeps order parity. The scale path is the
    same tiered ANN funnel the topk entries use — the label filter
    composes with any candidate generator."""
    from etl_from_s3_to_postgresql_template_spark.functions.vectors import (
        as_double_vec,
        cosine_col,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < _HN_NQ).select(
        F.col("vec_id").alias("q_id"),
        F.col("label").alias("q_label"),
        F.col("embedding").alias("qv"),
    )
    c = emb.select(
        F.col("vec_id").alias("n_id"),
        F.col("label").alias("n_label"),
        F.col("embedding").alias("nv"),
    )
    cos = F.round(cosine_col(as_double_vec(F.col("qv")), as_double_vec(F.col("nv"))), 6)
    w = W.partitionBy("q_id").orderBy(F.desc("cosine"), F.col("n_id"))
    return (
        c.crossJoin(F.broadcast(q))
        .filter((F.col("q_id") != F.col("n_id")) & (F.col("q_label") != F.col("n_label")))
        .select("q_id", "q_label", "n_id", "n_label", cos.alias("cosine"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= _HN_K)
        .orderBy("q_id", "rank")
    )


_KNN_K = 5

_KNN_ORACLE = f"""
    WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) e FROM embeddings),
         p AS (
           SELECT a.vec_id, a.label AS own, b.label AS nl,
                  ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
                    ROUND(list_dot_product(a.e, b.e) /
                          (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))),
                          6) DESC, b.vec_id) AS rn
           FROM v a JOIN v b ON a.vec_id <> b.vec_id
         ),
         votes AS (
           SELECT vec_id, own, nl, count(*) AS c FROM p WHERE rn <= {_KNN_K}
           GROUP BY 1, 2, 3
         ),
         maj AS (
           SELECT vec_id, own, nl AS pred,
                  ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY c DESC, nl) AS r
           FROM votes
         )
    SELECT CAST(own AS INT) AS label, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN pred = own THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
           ROUND(sum(CASE WHEN pred = own THEN 1 ELSE 0 END) * 1.0 / count(*), 4)
             AS agree_frac
    FROM maj WHERE r = 1 GROUP BY own ORDER BY label
    """


@query("embedding_knn_label_accuracy", oracle=_KNN_ORACLE)
def embedding_knn_label_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-quality audit via leave-one-out kNN agreement (the standard
    mislabel-detection signal — Confident Learning's neighborhood
    consistency shape): each vector's 5 nearest neighbors vote; a label
    whose members' majority votes disagree with them is noisy or
    non-separable. Emits per-label (n, n_agree, agree_frac).

    Vote counting and the majority pick are pure integers with (count
    desc, label asc) tie-break — deterministic cross-engine; neighbor
    ranking is round-then-rank. The registered form is the exact all-pairs
    audit and carries the fixture-scale guard (operators/guards.py) like
    dedup_embedding_pairs: at corpus scale the SAME vote/majority pipeline
    runs over ANN neighbor lists (similarity_topk_* generators) instead of
    the exact join."""
    from etl_from_s3_to_postgresql_template_spark.functions.vectors import (
        as_double_vec,
        cosine_col,
    )
    from etl_from_s3_to_postgresql_template_spark.operators.guards import (
        assert_fixture_scale,
    )

    emb = assert_fixture_scale(
        load_table(spark, sf_dir, "embeddings"), "embedding_knn_label_accuracy"
    )
    a = emb.select("vec_id", F.col("label").alias("own"), F.col("embedding").alias("ea"))
    b = emb.select(
        F.col("vec_id").alias("n_id"), F.col("label").alias("nl"), F.col("embedding").alias("eb")
    )
    cos = F.round(cosine_col(as_double_vec(F.col("ea")), as_double_vec(F.col("eb"))), 6)
    w = W.partitionBy("vec_id").orderBy(F.desc("cos"), F.col("n_id"))
    p = (
        a.join(b, F.col("vec_id") != F.col("n_id"))
        .select("vec_id", "own", "n_id", "nl", cos.alias("cos"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _KNN_K)
    )
    votes = p.groupBy("vec_id", "own", "nl").agg(F.count("*").alias("c"))
    wm = W.partitionBy("vec_id").orderBy(F.desc("c"), F.col("nl"))
    maj = votes.withColumn("r", F.row_number().over(wm)).filter(F.col("r") == 1)
    agree = F.sum((F.col("nl") == F.col("own")).cast("int")).cast("long")
    return (
        maj.groupBy(F.col("own").alias("label"))
        .agg(
            F.count("*").alias("n"),
            agree.alias("n_agree"),
            F.round(agree / F.count("*"), 4).alias("agree_frac"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# docs_hashing_vectorizer
# ---------------------------------------------------------------------------

_HV_DIM = 64

#: array-valued CTE text (vec as DOUBLE[], round-6) — composed by the
#: doc-to-doc similarity oracle, which needs the actual vectors. The
#: REGISTERED oracle wraps this and stringifies vec to integer micro-units
#: (floor(x*1e6+0.5), deterministic IEEE) because the driver canonicalizer
#: cannot hash list-typed cells (the corpus_inverted_index r6 lesson).
_HV_ARRAY_SQL = rf"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS toks
      FROM documents
    ), h AS (
      SELECT doc_id, len(toks) AS n,
             list_transform(toks, tok -> ('0x' || substr(md5(tok), 1, 8))::BIGINT) AS hs
      FROM t
    ), v AS (
      SELECT doc_id, n,
             list_transform(range(0, {_HV_DIM}), i ->
               CAST(list_sum(list_transform(hs, hv ->
                 CASE WHEN hv % {_HV_DIM} = i
                      THEN (CASE WHEN (hv >> 6) & 1 = 0 THEN 1 ELSE -1 END)
                      ELSE 0 END)) AS DOUBLE)) AS raw
      FROM h
    ), nrm AS (
      SELECT doc_id, n, raw,
             sqrt(list_reduce(list_transform(raw, x -> x * x), (a, b) -> a + b)) AS nn
      FROM v WHERE n > 0
    )
    SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
           CASE WHEN nn = 0 THEN list_transform(raw, x -> 0.0)
                ELSE list_transform(raw, x -> ROUND(x / nn, 6)) END AS vec
    FROM nrm ORDER BY doc_id
    """

# registered-entry oracle quantizes the UNROUNDED normalized value —
# floor((x/nn)*1e6 + 0.5) straight from the bit-stable division — never
# micro-quantizing on top of a ROUND(double, 6), which is exactly the
# Spark-BigDecimal-vs-DuckDB-float boundary class the r6 covariance red
# taught (review r7): a round-6 boundary flip would shift the micro int.
_HV_ORACLE = f"""
    WITH hv AS ({_HV_ARRAY_SQL.replace("ORDER BY doc_id", "").replace(
        "ROUND(x / nn, 6)", "(x / nn)")})
    SELECT doc_id, n_tokens,
           array_to_string(list_transform(CAST(vec AS DOUBLE[]),
             x -> CAST(floor(x * 1e6 + 0.5) AS BIGINT)), ',') AS vec_micro
    FROM hv ORDER BY doc_id
    """


def _hashing_vectorizer_frame(
    spark: SparkSession, sf_dir: str, rounded: bool = True
) -> DataFrame:
    """Hashing-vectorizer document embeddings (the feature-hashing /
    'hashing trick' sparse projection — Weinberger et al. 2009; sklearn's
    HashingVectorizer shape): each token hashes to one of 64 buckets with
    a hash-derived +/-1 sign (the signed trick keeps the projection
    unbiased), the doc vector is the signed bucket-count histogram, L2-
    normalized. This is the model-free docs -> vector bridge: its output
    plugs directly into every embedding-side operator (brute-force/LSH/
    IVF search, SemDeDup, PCA, k-center) without any fitted model or
    external service — and when a real encoder exists, only this
    projection swaps out.

    Physical shape: ONE scan, zero shuffle — the whole embedding is a
    per-row fold (O(dim) per token) inside whole-stage codegen.
    Cross-engine: bucket sums are exact integers (fold order irrelevant),
    the norm is a sequential-fold sum of squares (bit-stable), division
    and round-6 deterministic. Token-less docs are excluded (no direction
    to normalize).

    This is the INTERNAL array-valued frame (vec: array<double>) consumed
    by similarity_docs_topk; the registered entry wraps it with a
    micro-unit stringification so the driver can hash it.
    ``rounded=False`` skips the round-6 (elements are the raw bit-stable
    x/nn doubles) — the registered entry quantizes from THOSE, so no
    cross-engine double-rounding sits under the micro conversion."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.lower(F.trim("text")), r"\s+"), lambda x: x != "")
    hs = F.transform(
        F.col("toks"), lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long")
    )
    zero = F.array_repeat(F.lit(0.0), _HV_DIM)

    def upd(acc, hv):
        sgn = (
            F.when(F.shiftright(hv, 6).bitwiseAND(F.lit(1)) == 0, F.lit(1.0))
            .otherwise(F.lit(-1.0))
        )
        b = (hv % _HV_DIM).cast("int")
        return F.transform(acc, lambda v, i: v + F.when(b == i, sgn).otherwise(F.lit(0.0)))

    raw = F.aggregate(hs, zero, upd)
    nn = F.sqrt(
        F.aggregate(F.transform(raw, lambda x: x * x), F.lit(0.0), lambda a, b: a + b)
    )
    elem = (lambda x: F.round(x / nn, 6)) if rounded else (lambda x: x / nn)
    vec = F.when(
        nn == 0, F.transform(raw, lambda x: F.lit(0.0))
    ).otherwise(F.transform(raw, elem))
    return (
        docs.select("doc_id", toks.alias("toks"))
        .filter(F.size("toks") > 0)
        .select(
            "doc_id",
            F.size("toks").cast("long").alias("n_tokens"),
            vec.alias("vec"),
        )
        .orderBy("doc_id")
    )


@query("docs_hashing_vectorizer", oracle=_HV_ORACLE)
def docs_hashing_vectorizer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered face of :func:`_hashing_vectorizer_frame`: identical
    computation, but the vector is emitted as a comma-joined string of
    integer micro-units (``floor(x * 1e6 + 0.5)`` per element — one IEEE
    multiply/add/floor, deterministic on both engines) instead of
    array<double>, because the driver canonicalizer cannot hash
    list-typed cells (the corpus_inverted_index r6 driver ERR class,
    caught here by the round-7 registry schema sweep before the driver
    ever sampled this entry). Micro-units come from the UNROUNDED
    normalized value — quantizing on top of a per-engine ROUND(double, 6)
    would re-introduce the exact boundary class the covariance fix
    removed (review r7)."""
    hv = _hashing_vectorizer_frame(spark, sf_dir, rounded=False)
    micro = F.transform(
        F.col("vec"),
        lambda x: F.floor(x * F.lit(1e6) + F.lit(0.5)).cast("long").cast("string"),
    )
    return hv.select(
        "doc_id", "n_tokens", F.array_join(micro, ",").alias("vec_micro")
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# similarity_docs_topk (vectorizer-powered doc-to-doc search)
# ---------------------------------------------------------------------------

_DOCSIM_NQ = 8
_DOCSIM_K = 5

_DOCSIM_ORACLE = (
    "WITH hv AS (" + _HV_ARRAY_SQL.replace("ORDER BY doc_id", "") + "),"
    + f"""
    q AS (SELECT doc_id AS q_id, CAST(vec AS DOUBLE[]) AS qv FROM hv WHERE doc_id < {_DOCSIM_NQ}),
    c AS (SELECT doc_id AS n_id, CAST(vec AS DOUBLE[]) AS nv FROM hv),
    p AS (
      SELECT q_id, n_id,
             ROUND(list_dot_product(qv, nv), 6) AS cosine
      FROM q JOIN c ON q_id <> n_id
    )
    SELECT q_id, n_id, cosine,
           CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS BIGINT)
             AS rank
    FROM p QUALIFY rank <= {_DOCSIM_K} ORDER BY q_id, rank
    """
)


@query("similarity_docs_topk", oracle=_DOCSIM_ORACLE)
def similarity_docs_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-to-document top-5 similarity over the hashing-vectorizer
    embeddings — the composition proof for the docs -> vector bridge: no
    embeddings table, no model, just text in and ranked neighbors out.
    Vectors are unit-normalized by construction, so cosine IS the plain
    dot product (one fold per pair, no norms at query time — the same
    reason production ANN stores normalized vectors). Queries broadcast;
    the corpus side never shuffles; round-then-rank as everywhere.

    The vectorizer frame is lazy-checkpointed: it feeds both the query
    and candidate legs (the llm_ops6 multiple-consumers rule)."""
    from etl_from_s3_to_postgresql_template_spark.functions.vectors import dot_col

    hv = (
        _hashing_vectorizer_frame(spark, sf_dir)
        .select("doc_id", "vec")
        .transform(shared_subtree)
    )
    q = hv.filter(F.col("doc_id") < _DOCSIM_NQ).select(
        F.col("doc_id").alias("q_id"), F.col("vec").alias("qv")
    )
    c = hv.select(F.col("doc_id").alias("n_id"), F.col("vec").alias("nv"))
    cos = F.round(dot_col(F.col("qv"), F.col("nv")), 6)
    w = W.partitionBy("q_id").orderBy(F.desc("cosine"), F.col("n_id"))
    return (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("q_id") != F.col("n_id"))
        .select("q_id", "n_id", cos.alias("cosine"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= _DOCSIM_K)
        .orderBy("q_id", "rank")
    )


# ---------------------------------------------------------------------------
# corpus_quality_report
# ---------------------------------------------------------------------------

_REPORT_ORACLE = rf"""
    WITH t AS (
      SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS toks
      FROM documents
    ), base AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len(toks)) AS BIGINT) AS n_tokens_total,
             ROUND(sum(len(toks)) * 1.0 / count(*), 4) AS mean_doc_tokens
      FROM t
    ), vocab AS (
      SELECT CAST(count(DISTINCT tok) AS BIGINT) AS vocab_size
      FROM (SELECT UNNEST(toks) AS tok FROM t)
    ), clf AS (
      SELECT ROUND(sum(CASE WHEN n > 0 AND {_CLF_BIAS} + list_reduce(ws, (a,x) -> a + x) / n >= 0
                            THEN 1 ELSE 0 END) * 1.0 / count(*), 4) AS pct_classifier_keep
      FROM (SELECT len(toks) AS n,
                   list_transform(toks, tok ->
                     ((('0x' || substr(md5(tok),1,8))::BIGINT % {_CLF_BUCKETS})
                      - {(_CLF_BUCKETS - 1) // 2}) / {(_CLF_BUCKETS - 1) // 2}.0) AS ws
            FROM t)
    ), ch AS (
      SELECT doc_id, md5(array_to_string(toks[(u.k*{_CHUNK_W}+1):(u.k*{_CHUNK_W}+{_CHUNK_W})], ' ')) AS h
      FROM t, UNNEST(range(CAST(ceil(len(toks)/{_CHUNK_W}.0) AS BIGINT))) u(k)
      WHERE len(toks) > 0
    ), chg AS (SELECT h, count(*) AS cnt FROM ch GROUP BY h),
    chd AS (
      SELECT ROUND(count(DISTINCT CASE WHEN cnt > 1 THEN doc_id END) * 1.0
                   / count(DISTINCT doc_id), 4) AS pct_docs_with_dup_chunks
      FROM ch JOIN chg USING (h)
    ), {SHINGLES_SQL}, ppj AS (
      SELECT CAST(count(*) AS BIGINT) AS n_neardup_pairs
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE 9 * len(list_intersect(a.s, b.s)) >= 4 * (len(a.s) + len(b.s))
    )
    SELECT n_docs, n_tokens_total, mean_doc_tokens, vocab_size,
           pct_classifier_keep, pct_docs_with_dup_chunks, n_neardup_pairs
    FROM base, vocab, clf, chd, ppj
    """


@query("corpus_quality_report", oracle=_REPORT_ORACLE)
def corpus_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row corpus health dashboard — the first query a corpus owner
    runs: volume (docs, tokens, mean length, vocabulary), model-gate pass
    rate (hashed classifier), boilerplate exposure (share of docs with a
    corpus-duplicated chunk), and exact near-dup pressure (tau=0.8 PPJoin
    pair count). Composes the registered round-6 operators, so every
    number here is individually oracle-checked elsewhere AND the
    composition is oracle-checked as a whole.

    Physical shape: four 1-row aggregates + one count, cross-joined —
    each input is the already-analyzed plan of its operator; nothing new
    touches the data. The classifier/keep percentage counts token-less
    docs as not-keep (same convention as the funnel)."""
    clf = docs_quality_classifier(spark, sf_dir)
    base = clf.agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens_total"),
        F.round(F.sum("n_tokens") / F.count("*"), 4).alias("mean_doc_tokens"),
        F.round(
            F.sum(F.coalesce(F.col("keep"), F.lit(False)).cast("int")) / F.count("*"), 4
        ).alias("pct_classifier_keep"),
    )
    toks = F.filter(F.split(F.lower(F.trim("text")), r"\s+"), lambda x: x != "")
    vocab = (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(toks).alias("tok"))
        .agg(F.count_distinct("tok").alias("vocab_size"))
    )
    chd = docs_chunk_dedup_stats(spark, sf_dir).agg(
        F.round(
            F.sum((F.col("n_dup_chunks") > 0).cast("int")) / F.count("*"), 4
        ).alias("pct_docs_with_dup_chunks")
    )
    ppj = dedup_jaccard_prefix_filter(spark, sf_dir).agg(
        F.count("*").alias("n_neardup_pairs")
    )
    return (
        base.crossJoin(vocab)
        .crossJoin(chd)
        .crossJoin(ppj)
        .select(
            "n_docs",
            "n_tokens_total",
            "mean_doc_tokens",
            "vocab_size",
            "pct_classifier_keep",
            "pct_docs_with_dup_chunks",
            "n_neardup_pairs",
        )
    )
