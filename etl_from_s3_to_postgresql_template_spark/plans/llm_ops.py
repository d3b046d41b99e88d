"""Training-data-pipeline queries over documents/embeddings (north-star
E1-E3): dedup, similarity search, text analysis. Oracle-paired wherever the
semantics are SQL-expressible; LSH/blocking ops are rows-only checks (the
driver records the weaker check; pytest verifies them against brute force).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_from_s3_to_postgresql_template_spark.functions.text import (
    fingerprint_col,
    lang_id_col,
    quality_columns,
    token_count_col,
)
from etl_from_s3_to_postgresql_template_spark.operators.dedup import (
    CLUSTERS_ORACLE,
    SHINGLES_SQL,
    dedup_exact_by_hash,
    duplicate_clusters,
    minhash_candidates,
    ngram_jaccard_pairs,
    shingle_overlap,
    shingle_sets,
    simhash_candidates,
)
from etl_from_s3_to_postgresql_template_spark.operators.similarity import brute_force_topk, lsh_topk
from etl_from_s3_to_postgresql_template_spark.plans.registry import query
from etl_from_s3_to_postgresql_template_spark.sources.registry import load_table

_NORM_SQL = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"


@query(
    "text_token_count",
    oracle=r"""
    SELECT doc_id, CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
    FROM documents
    """,
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", token_count_col("text").alias("n_tokens"))


@query(
    "text_quality",
    oracle=r"""
    WITH t AS (
      SELECT doc_id, text,
             CAST(length(text) AS BIGINT) AS n_chars_calc,
             CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
             CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS BIGINT) AS n_alpha,
             CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS BIGINT) AS n_digit,
             CAST(length(trim(text)) AS BIGINT) AS n_chars_trim,
             CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS BIGINT) AS n_punct,
             CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                  x -> x IN ('the','and','of','to','in','is','a','that'))) AS BIGINT) AS n_stop
      FROM documents
    )
    SELECT doc_id, n_chars_calc, n_tokens,
           ROUND((n_chars_trim - (n_tokens - 1)) / n_tokens, 4) AS avg_token_len,
           ROUND(n_alpha / greatest(n_chars_calc, 1), 4) AS alpha_ratio,
           ROUND(n_digit / greatest(n_chars_calc, 1), 4) AS digit_ratio,
           ROUND(n_punct / greatest(n_chars_calc, 1), 4) AS punct_ratio,
           ROUND(n_stop / greatest(n_tokens, 1), 4) AS stopword_ratio
    FROM t
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 quality scoring: length/alpha/digit/punct/stopword signals as one
    projection pass."""
    docs = load_table(spark, sf_dir, "documents")
    q = quality_columns("text")
    return docs.select("doc_id", *[c.alias(name) for name, c in q.items()])


@query(
    "text_lang_id",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS tk FROM documents
    ), hits AS (
      SELECT doc_id,
        len(list_filter(tk, x -> x IN ('der','die','und','das','von','zu','mit','den'))) AS de,
        len(list_filter(tk, x -> x IN ('the','and','of','to','in','is','a','that'))) AS en,
        len(list_filter(tk, x -> x IN ('el','la','de','que','y','en','un','los'))) AS es,
        len(list_filter(tk, x -> x IN ('le','la','de','et','les','des','en','un'))) AS fr,
        len(list_filter(tk, x -> x IN ('的','是','在','了','和','有','我','不'))) AS zh
      FROM toks
    )
    SELECT doc_id,
           CASE WHEN greatest(de,en,es,fr,zh) = 0 THEN 'und'
                WHEN de = greatest(de,en,es,fr,zh) THEN 'de'
                WHEN en = greatest(de,en,es,fr,zh) THEN 'en'
                WHEN es = greatest(de,en,es,fr,zh) THEN 'es'
                WHEN fr = greatest(de,en,es,fr,zh) THEN 'fr'
                ELSE 'zh' END AS lang_guess
    FROM hits
    """,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 language ID: stopword-hit argmax heuristic (deterministic
    tie-break by language code). The fixture text is synthetic word soup, so
    the *guess* is arbitrary — but the operator semantics are exact and
    oracle-checked; swap in fastText behind the same column contract."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", lang_id_col("text").alias("lang_guess"))


@query(
    "text_repetition_score",
    oracle=rf"""
    WITH {SHINGLES_SQL}
    SELECT doc_id,
           ROUND(1.0 - len(list_distinct(sl)) * 1.0 / len(sl), 4) AS repetition,
           CASE WHEN 1.0 - len(list_distinct(sl)) * 1.0 / len(sl) > 0.2 THEN 1 ELSE 0 END AS is_repetitive
    FROM shl
    """,
)
def text_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 repetition filter (Gopher-style): fraction of duplicate 3-gram
    shingles. High repetition = boilerplate/spam; a standard pretraining
    data gate. One projection pass."""
    from etl_from_s3_to_postgresql_template_spark.functions.text import shingles_col

    docs = load_table(spark, sf_dir, "documents")
    s = shingles_col("text", 3)
    rep = 1.0 - F.size(F.array_distinct(s)) / F.size(s)
    return docs.select(
        "doc_id",
        F.round(rep, 4).alias("repetition"),
        F.when(rep > 0.2, 1).otherwise(0).alias("is_repetitive"),
    )


@query(
    "text_quality_gate",
    oracle=r"""
    WITH t AS (
      SELECT doc_id,
             CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
             CAST(length(text) AS BIGINT) AS n_chars,
             CAST(length(trim(text)) AS BIGINT) AS n_chars_trim,
             CAST(length(regexp_replace(text, '[A-Za-z ]', '', 'g')) AS BIGINT) AS n_symbols
      FROM documents
    )
    SELECT doc_id,
           CASE WHEN n_tokens BETWEEN 10 AND 10000 THEN 1 ELSE 0 END AS pass_length,
           CASE WHEN n_tokens > 0
                 AND (n_chars_trim - (n_tokens - 1)) * 1.0 / n_tokens BETWEEN 2 AND 12
                THEN 1 ELSE 0 END AS pass_word_len,
           CASE WHEN n_symbols * 1.0 / greatest(n_chars, 1) < 0.1 THEN 1 ELSE 0 END AS pass_symbols,
           CASE WHEN n_tokens BETWEEN 10 AND 10000
                 AND n_tokens > 0
                 AND (n_chars_trim - (n_tokens - 1)) * 1.0 / n_tokens BETWEEN 2 AND 12
                 AND n_symbols * 1.0 / greatest(n_chars, 1) < 0.1
                THEN 1 ELSE 0 END AS pass_all
    FROM t
    """,
)
def text_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 composite quality gate: length bounds, mean-word-length bounds,
    symbol ratio — the Gopher-rule shape with per-gate flags so downstream
    can attribute drops. One pass, no shuffle."""
    from etl_from_s3_to_postgresql_template_spark.functions.text import token_count_col

    docs = load_table(spark, sf_dir, "documents")
    n_tokens = token_count_col("text")
    n_chars = F.length("text").cast("long")
    n_chars_trim = F.length(F.trim(F.col("text"))).cast("long")
    # symbols = everything outside [A-Za-z ] = n_chars - alpha - spaces,
    # from the one-pass Arrow class counter (the regexp_replace complement
    # form pays per match — see functions/text.py::_class_counts)
    from etl_from_s3_to_postgresql_template_spark.functions.text import char_class_counts

    cc = char_class_counts("text")
    n_symbols = n_chars - cc.getField("n_alpha") - cc.getField("n_space")
    mean_wl = (n_chars_trim - (n_tokens - 1)) / n_tokens
    pass_length = n_tokens.between(10, 10000)
    pass_word_len = (n_tokens > 0) & mean_wl.between(2, 12)
    pass_symbols = (n_symbols / F.greatest(n_chars, F.lit(1))) < 0.1
    as_int = lambda c: F.when(c, 1).otherwise(0)
    return docs.select(
        "doc_id",
        as_int(pass_length).alias("pass_length"),
        as_int(pass_word_len).alias("pass_word_len"),
        as_int(pass_symbols).alias("pass_symbols"),
        as_int(pass_length & pass_word_len & pass_symbols).alias("pass_all"),
    )


@query(
    "text_token_count_bpe",
    oracle=r"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_bpe_tokens
    FROM documents
    """,
)
def text_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 BPE-ish token counting: letter runs / digit runs / single
    punctuation as separate tokens (the pre-tokenizer split every BPE uses),
    via regexp_extract_all in both engines."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(
            F.expr(r"regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]', 0)")
        ).cast("long").alias("n_bpe_tokens"),
    )


@query(
    "doc_fingerprint",
    oracle=f"""
    SELECT doc_id, md5({_NORM_SQL}) AS fingerprint
    FROM documents
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 document fingerprinting: MD5 over normalized text."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", fingerprint_col("text").alias("fingerprint"))


@query(
    "dedup_exact_docs",
    oracle=f"""
    SELECT CAST(MIN(doc_id) AS BIGINT) AS doc_id, CAST(COUNT(*) AS BIGINT) AS dup_count
    FROM documents
    GROUP BY {_NORM_SQL}
    """,
)
def dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1 exact dedup on normalized content: min-id survivor + group size."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup_exact_by_hash(docs, "text", "doc_id")


@query("dedup_minhash_pairs")  # LSH blocking is not SQL-expressible -> rows-only
def dedup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1 near-dup candidates: MinHash(32 hashes, 3-gram shingles) + LSH
    (8 bands), est. Jaccard >= 0.5. pytest cross-checks candidate quality
    against exact n-gram Jaccard."""
    docs = load_table(spark, sf_dir, "documents")
    return minhash_candidates(docs, "text", "doc_id").orderBy("id_a", "id_b")


@query("dedup_ngram_jaccard")  # verify stage over LSH candidates
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1 exact-verify: token-3-gram Jaccard on the MinHash candidate pairs
    (threshold 0.5). The LSH->exact two-stage shape is the scale pattern."""
    docs = load_table(spark, sf_dir, "documents")
    cands = minhash_candidates(docs, "text", "doc_id", threshold=0.3).select("id_a", "id_b")
    return ngram_jaccard_pairs(docs, cands, "text", "doc_id", threshold=0.5).orderBy("id_a", "id_b")


@query(
    "dedup_ngram_jaccard_exact",
    oracle=rf"""
    WITH {SHINGLES_SQL}
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           ROUND(len(list_intersect(a.s, b.s)) * 1.0 /
                 (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 4) AS jaccard
    FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
    WHERE len(list_intersect(a.s, b.s)) * 1.0 /
          (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.05
    """,
)
def dedup_ngram_jaccard_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1 exact token-3-gram Jaccard, oracle-checked end to end: candidate
    blocking by `source` (a deterministic SQL-expressible block, standing in
    for the LSH block which isn't), then exact set overlap. The unrounded
    jaccard drives the threshold so boundary values can't flip membership.

    Physical shape: id-only pairs enumerate first (blocked_pair_ids), then
    the shingle arrays join back by id — so the array_intersect scoring
    runs at full parallelism instead of |distinct sources| tasks
    (measured 31 s -> ~2 s at sf0.1)."""
    docs = load_table(spark, sf_dir, "documents")
    pairs, inter, na, nb = shingle_overlap(shingle_sets(docs, "source"))
    jac = inter / (na + nb - inter)
    return pairs.filter(jac >= 0.05).select("id_a", "id_b", F.round(jac, 4).alias("jaccard"))


@query(
    "dq_rule_violations",
    oracle="""
    WITH agg AS (
      SELECT COUNT(*) AS checked,
             SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS r1,
             SUM(CASE WHEN o_orderstatus NOT IN ('F','O','P') OR o_orderstatus IS NULL THEN 1 ELSE 0 END) AS r2,
             SUM(CASE WHEN o_totalprice IS NULL OR o_totalprice < 0 OR o_totalprice > 300000 THEN 1 ELSE 0 END) AS r3,
             SUM(CASE WHEN o_orderpriority IS NULL OR NOT regexp_matches(o_orderpriority, '^[1-5]-') THEN 1 ELSE 0 END) AS r4
      FROM orders
    ), dup AS (
      SELECT COALESCE(SUM(c - 1), 0) AS d FROM (
        SELECT COUNT(*) AS c FROM orders GROUP BY o_orderkey
      )
    )
    SELECT 'not_null(o_custkey)' AS rule, CAST(r1 AS BIGINT) AS violations, CAST(checked AS BIGINT) AS checked FROM agg
    UNION ALL SELECT 'in_set(o_orderstatus)', CAST(r2 AS BIGINT), CAST(checked AS BIGINT) FROM agg
    UNION ALL SELECT 'in_range(o_totalprice)', CAST(r3 AS BIGINT), CAST(checked AS BIGINT) FROM agg
    UNION ALL SELECT 'matches(o_orderpriority)', CAST(r4 AS BIGINT), CAST(checked AS BIGINT) FROM agg
    UNION ALL SELECT 'unique(o_orderkey)', CAST(d AS BIGINT), CAST(checked AS BIGINT) FROM agg, dup
    """,
)
def dq_rule_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality expectations over orders, all evaluated in
    one aggregate pass (operators/quality.py). The in_range ceiling is set
    low enough that real violations exist — a check that can't fail checks
    nothing."""
    from etl_from_s3_to_postgresql_template_spark.operators.quality import (
        check_rules,
        in_range,
        in_set,
        matches,
        not_null,
        unique,
    )

    o = load_table(spark, sf_dir, "orders")
    rules = [
        not_null("o_custkey"),
        in_set("o_orderstatus", ("F", "O", "P")),
        in_range("o_totalprice", 0, 300000),
        matches("o_orderpriority", r"^[1-5]-"),
        unique("o_orderkey"),
    ]
    return check_rules(o, rules)


@query(
    "profile_table_stats",
    oracle="""
    WITH agg AS (
      SELECT COUNT(o_orderkey) AS c1, COUNT(DISTINCT o_orderkey) AS d1,
             COUNT(o_custkey) AS c2, COUNT(DISTINCT o_custkey) AS d2,
             COUNT(o_orderstatus) AS c3, COUNT(DISTINCT o_orderstatus) AS d3,
             COUNT(o_totalprice) AS c4, COUNT(DISTINCT o_totalprice) AS d4,
             COUNT(o_orderdate) AS c5, COUNT(DISTINCT o_orderdate) AS d5,
             COUNT(o_orderpriority) AS c6, COUNT(DISTINCT o_orderpriority) AS d6
      FROM orders
    )
    SELECT 'o_orderkey' AS column_name, CAST(c1 AS BIGINT) AS n_nonnull, CAST(d1 AS BIGINT) AS n_distinct FROM agg
    UNION ALL SELECT 'o_custkey', CAST(c2 AS BIGINT), CAST(d2 AS BIGINT) FROM agg
    UNION ALL SELECT 'o_orderstatus', CAST(c3 AS BIGINT), CAST(d3 AS BIGINT) FROM agg
    UNION ALL SELECT 'o_totalprice', CAST(c4 AS BIGINT), CAST(d4 AS BIGINT) FROM agg
    UNION ALL SELECT 'o_orderdate', CAST(c5 AS BIGINT), CAST(d5 AS BIGINT) FROM agg
    UNION ALL SELECT 'o_orderpriority', CAST(c6 AS BIGINT), CAST(d6 AS BIGINT) FROM agg
    """,
)
def profile_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-profiling summary (the reference ships ydata-profiling in its
    requirements — this is the distributed equivalent): per-column non-null
    and distinct counts in ONE scan + unpivot, not a scan per column."""
    o = load_table(spark, sf_dir, "orders")
    cols = o.columns
    agg = o.agg(
        *[F.count(F.col(c)).alias(f"c_{c}") for c in cols],
        *[F.countDistinct(F.col(c)).alias(f"d_{c}") for c in cols],
    )
    stack_expr = ", ".join(f"'{c}', c_{c}, d_{c}" for c in cols)
    return agg.selectExpr(
        f"stack({len(cols)}, {stack_expr}) AS (column_name, n_nonnull, n_distinct)"
    )


@query("dedup_simhash_pairs")
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1 SimHash near-dup pairs: 64-bit sign-aggregated hash, 16-bit-chunk
    blocking, Hamming <= 3."""
    docs = load_table(spark, sf_dir, "documents")
    return simhash_candidates(docs, "text", "doc_id").orderBy("id_a", "id_b")


@query(
    "text_tfidf_top_terms",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
      FROM documents
    ),
    tf AS (
      SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM toks GROUP BY doc_id, term
    ),
    df AS (
      SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df FROM tf GROUP BY term
    ),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term,
             ROUND(tf.tf * (ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0), 4) AS tfidf
      FROM tf JOIN df USING (term) CROSS JOIN n
    ),
    ranked AS (
      SELECT doc_id, term, tfidf,
             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rnk
      FROM scored
    )
    SELECT doc_id, term, tfidf, CAST(rnk AS BIGINT) AS rnk
    FROM ranked WHERE rnk <= 3
    """,
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 TF-IDF: top-3 terms per document (smoothed idf, sklearn-style
    ln((N+1)/(df+1))+1). Explode -> two grouped aggs -> shuffle-join the
    df side back on term -> window top-k. The vocabulary join is NOT
    hinted: by Heaps' law a web-scale corpus has 1e8+ distinct terms, far
    past broadcast size, and both sides already hash-partition on `term`
    from their own aggregations, so the sort-merge join reuses that
    exchange (AQE still broadcasts at small SF). N is a 1-row broadcast
    aggregate folded into the same lazy plan — no separate count() job.
    Ranking happens on the ROUNDED score with a term tie-break so float
    noise can't reorder ranks between engines."""
    from pyspark.sql import Window as W

    from etl_from_s3_to_postgresql_template_spark.functions.text import tokens_col

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(tokens_col(F.lower(F.col("text")))).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = tf.join(df_, "term").crossJoin(F.broadcast(n)).select(
        "doc_id",
        "term",
        F.round(
            F.col("tf") * (F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0), 4
        ).alias("tfidf"),
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("tfidf"), "term")
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "term", "tfidf", "rnk")
    )


@query(
    "embedding_norms",
    oracle="""
    SELECT vec_id,
           ROUND(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))), 6) AS l2_norm
    FROM embeddings
    """,
)
def embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 baseline vector op: L2 norm as a sequential fold (deterministic)."""
    from etl_from_s3_to_postgresql_template_spark.functions.vectors import as_double_vec, norm_col

    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select("vec_id", F.round(norm_col(as_double_vec(F.col("embedding"))), 6).alias("l2_norm"))


@query(
    "similarity_topk_bruteforce",
    oracle="""
    WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id < 5),
         c AS (SELECT vec_id AS n_id, CAST(embedding AS DOUBLE[]) AS nv FROM embeddings),
         p AS (
           SELECT q_id, n_id,
                  ROUND(list_dot_product(qv, nv) /
                        (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(nv, nv))), 6) AS cosine
           FROM q, c WHERE q_id <> n_id
         ),
         r AS (
           SELECT q_id, n_id, cosine,
                  ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rn
           FROM p
         )
    SELECT q_id, n_id, cosine, CAST(rn AS BIGINT) AS rank FROM r WHERE rn <= 10
    """,
)
def similarity_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 exact ANN baseline: cosine top-10 for 5 query vectors. The query
    side is broadcast; the big side is never shuffled."""
    emb = load_table(spark, sf_dir, "embeddings", parallel=True)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    candidates = emb.select(F.col("vec_id").alias("n_id"), F.col("embedding").alias("n_vec"))
    return brute_force_topk(queries, candidates, k=10)


@query(
    "dedup_embedding_pairs",
    oracle="""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(list_dot_product(a.e, b.e) /
                 (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))), 6) AS cosine
    FROM v a JOIN v b ON a.vec_id < b.vec_id
    WHERE list_dot_product(a.e, b.e) /
          (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))) >= 0.3
    """,
)
def dedup_embedding_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1 embedding-cosine near-dup pairs (exact form, oracle-checked).

    All-pairs cosine with id_a < id_b and threshold. Exact O(n^2) is the
    verification baseline; the scale path is the SAME query over LSH-blocked
    candidates (similarity_topk_lsh's banding) — at 100 TB you never run the
    unblocked form, and a fail-fast guard (operators/guards.py) makes that
    mechanical: corpus-scale input raises before any pair is enumerated.
    The filter uses the UNROUNDED cosine (both engines), so boundary values
    can't flip membership."""
    from etl_from_s3_to_postgresql_template_spark.functions.vectors import (
        as_double_vec,
        dot_col,
        norm_col,
    )
    from etl_from_s3_to_postgresql_template_spark.operators.guards import assert_fixture_scale

    emb = assert_fixture_scale(
        load_table(spark, sf_dir, "embeddings"), "dedup_embedding_pairs"
    )
    # r13: hoist each side's norm out of the O(n^2) pair loop — the pair
    # filter previously re-evaluated three interpreted 64-wide folds per
    # candidate pair; now it pays one (the dot). Same expressions, same
    # values, bit-identical cosines (oracle hash-exact at all three SFs);
    # measured 70 -> 33 s at sf0.1 (2000 vectors, ~2M pairs).
    a = emb.select(
        F.col("vec_id").alias("id_a"), as_double_vec(F.col("embedding")).alias("ea")
    ).withColumn("_na", norm_col(F.col("ea")))
    b = emb.select(
        F.col("vec_id").alias("id_b"), as_double_vec(F.col("embedding")).alias("eb")
    ).withColumn("_nb", norm_col(F.col("eb")))
    cos = dot_col(F.col("ea"), F.col("eb")) / (F.col("_na") * F.col("_nb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .filter(cos >= 0.3)
        .select("id_a", "id_b", F.round(cos, 6).alias("cosine"))
    )


@query(
    "dedup_exact_hashed",
    oracle="""
    SELECT DISTINCT l_returnflag, l_linestatus, l_quantity FROM lineitem
    """,
)
def dedup_exact_hashed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2 at scale: exact dedup via 8-byte hash groupBy instead of
    shuffling full rows (SCALING.md). All rows in a hash group are
    identical (mod 2^-64 collisions), so any representative IS the
    distinct row — semantics equal to DISTINCT, shuffle weight ~constant
    per row instead of per byte."""
    li = load_table(spark, sf_dir, "lineitem").select("l_returnflag", "l_linestatus", "l_quantity")
    h = F.xxhash64(*[F.col(c) for c in li.columns])
    return (
        li.groupBy(h.alias("__h"))
        .agg(*[F.first(c).alias(c) for c in li.columns])
        .drop("__h")
    )


@query(
    "dedup_latest_per_key",
    oracle="""
    SELECT user_id, event_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts,
           event_type
    FROM (
      SELECT user_id, event_id, ts, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def dedup_latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed dedup: keep the LATEST row per key (the CDC/upsert compaction
    every warehouse pipeline needs; subset-dropDuplicates keeps an arbitrary
    row — this keeps a deterministic one)."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id", "event_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts"),
            "event_type",
        )
    )


@query("agg_approx_sketches")  # sketch algorithms are engine-specific -> rows-only
def agg_approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate aggregates for the scale path: HLL++ distinct and
    quantile sketches. Not oracle-hashable (DuckDB's sketches differ);
    pytest bounds the error vs exact instead."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey", rsd=0.01).alias("approx_orders"),
        F.round(F.expr("approx_percentile(l_extendedprice, 0.5)"), 2).alias("approx_median_price"),
        F.count(F.lit(1)).alias("n"),
    ).orderBy("l_returnflag")


@query("similarity_topk_ivf")
def similarity_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 IVF ANN: seeded k-means coarse quantizer, probe 4/16 lists.
    pytest bounds recall vs brute force."""
    from etl_from_s3_to_postgresql_template_spark.operators.similarity import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    candidates = emb.select(F.col("vec_id").alias("n_id"), F.col("embedding").alias("n_vec"))
    return ivf_topk(queries_df, candidates, k=10).orderBy("q_id", "rank")


@query("similarity_topk_lsh")
def similarity_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 scale path: sign-LSH blocked cosine top-10 (16 planes, 4 bands).
    pytest measures recall vs brute force."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    candidates = emb.select(F.col("vec_id").alias("n_id"), F.col("embedding").alias("n_vec"))
    return lsh_topk(queries, candidates, dim=64, k=10).orderBy("q_id", "rank")


@query("dedup_duplicate_clusters", oracle=CLUSTERS_ORACLE)
def dedup_duplicate_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1 capstone: duplicate CLUSTERS, not just pairs — connected
    components over the exact-Jaccard edge graph (same edges as
    dedup_ngram_jaccard_exact), assigning every doc the min reachable
    doc_id as its canonical representative. Spark runs iterative min-label
    propagation (operators/dedup.py::connected_components); the oracle is
    the recursive-CTE transitive closure. Transitivity matters: A~B and
    B~C put A and C in one cluster even when A is not directly similar
    to C. The edges come from the blocked overlap stage
    (operators/dedup.py::duplicate_clusters), not a self-join on
    `source`, whose scoring ran one task per source."""
    return duplicate_clusters(load_table(spark, sf_dir, "documents"))


@query(
    "embedding_label_centroids",
    oracle="""
    WITH e AS (
      SELECT label,
             UNNEST(list_transform(range(len(embedding)),
                                   i -> {'pos': i, 'val': CAST(embedding[i+1] AS DOUBLE)})) AS u
      FROM embeddings
    )
    SELECT label, CAST(u.pos AS BIGINT) AS pos,
           CAST(SUM(CAST(u.val AS DECIMAL(18,6))) AS DOUBLE) AS cell_sum,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM e GROUP BY label, pos
    """,
)
def embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped vector mean (class centroids): posexplode each embedding to
    (label, dim, value) and average per cell — the distributed formulation
    of elementwise array mean. The shuffle key is (label, pos): dimension
    cells spread across ALL partitions instead of one task per label
    holding whole vectors, so a label with a billion members still
    aggregates in parallel (partial aggregation does the heavy lifting
    map-side). Output is the exact decimal cell SUM plus member count —
    dividing (and rounding) is display math, and emitting the exact sum
    sidesteps the half-ulp mean-rounding boundary that a divide-then-round
    can land on (seen live at sf0.1: one cell off by 1e-6). Array
    re-assembly from (label, pos) rows is likewise a display concern."""
    from etl_from_s3_to_postgresql_template_spark.functions.vectors import as_double_vec

    emb = load_table(spark, sf_dir, "embeddings")
    cells = emb.select(
        "label", F.posexplode(as_double_vec(F.col("embedding"))).alias("pos", "val")
    )
    return cells.groupBy("label", F.col("pos").cast("long").alias("pos")).agg(
        F.sum(F.col("val").cast("decimal(18,6)")).cast("double").alias("cell_sum"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "embedding_quantize_int8",
    oracle="""
    WITH m AS (
      SELECT vec_id,
             embedding,
             list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS max_abs
      FROM embeddings
    )
    SELECT vec_id,
           CASE WHEN max_abs = 0 THEN 0.0
                ELSE CAST(127.0 AS DOUBLE) / max_abs END AS scale,
           CASE WHEN max_abs = 0
                THEN array_to_string(list_transform(embedding, x -> '0'), ',')
                ELSE array_to_string(
                  list_transform(embedding,
                    x -> CAST(CAST(floor(CAST(x AS DOUBLE) * (127.0 / max_abs) + 0.5) AS BIGINT) AS VARCHAR)),
                  ',')
           END AS q_csv
    FROM m
    ORDER BY vec_id
    """,
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 storage path: symmetric per-vector int8 quantization (scale =
    127/max|x|), the standard 4x shrink before ANN indexing. All math is
    per-row double IEEE (float32 inputs widen exactly), and rounding is
    floor(x+0.5) — explicit half-up in BOTH engines, because ROUND(double)
    is not cross-engine deterministic (DuckDB computes it via double
    multiply). Quantized codes emit as a CSV string: deterministic
    hashing without array-type comparison semantics. Embarrassingly
    parallel — no shuffle at any scale."""
    emb = load_table(spark, sf_dir, "embeddings")
    max_abs = F.array_max(F.transform(F.col("embedding"), lambda v: F.abs(v.cast("double"))))
    scale = F.lit(127.0) / F.col("max_abs")
    q = F.transform(
        F.col("embedding"),
        lambda v: F.floor(v.cast("double") * F.col("scale") + F.lit(0.5)).cast("string"),
    )
    zeros = F.transform(F.col("embedding"), lambda v: F.lit("0"))
    return (
        emb.withColumn("max_abs", max_abs)
        .withColumn(
            "scale",
            F.when(F.col("max_abs") == 0, F.lit(0.0)).otherwise(scale),
        )
        .withColumn(
            "q_csv",
            F.when(F.col("max_abs") == 0, F.concat_ws(",", zeros)).otherwise(
                F.concat_ws(",", q)
            ),
        )
        .select("vec_id", "scale", "q_csv")
        .orderBy("vec_id")
    )


@query(
    "dedup_fuzzy_levenshtein",
    oracle="""
    WITH d AS (
      SELECT doc_id, lang, source,
             CAST(FLOOR(n_chars / 64) AS BIGINT) AS band,
             substr(text, 1, 60) AS prefix
      FROM documents
    )
    SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
           CAST(levenshtein(a.prefix, b.prefix) AS BIGINT) AS dist
    FROM d a JOIN d b
      ON a.lang = b.lang AND a.source = b.source AND a.band = b.band
     AND a.doc_id < b.doc_id
    ORDER BY dist, doc_id_a, doc_id_b
    LIMIT 30
    """,
)
def dedup_fuzzy_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1 fuzzy dedup: 30 closest same-block pairs by prefix Levenshtein.
    Blocking on (lang, source, length band) bounds the pair space; the
    distance is exact and identically defined in both engines (unit-cost
    edit distance), so the whole query oracle-pairs. See
    operators/dedup.py::fuzzy_pairs_blocked for the scale shape."""
    from etl_from_s3_to_postgresql_template_spark.operators.dedup import fuzzy_pairs_blocked

    return fuzzy_pairs_blocked(load_table(spark, sf_dir, "documents"))
