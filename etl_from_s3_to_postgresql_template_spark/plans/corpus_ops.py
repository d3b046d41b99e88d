r"""Corpus-preparation queries (north-star training-data surface): benchmark
decontamination, deterministic stratified sampling, vocabulary building,
bigram LM counts, and sequence packing over the documents table.

All five are oracle-paired: determinism comes from md5-keyed decisions and
exact-integer outputs (no doubles anywhere near a ROUND boundary).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_from_s3_to_postgresql_template_spark.operators.corpus import (
    decontaminate,
    pack_sequences,
    stratified_sample,
)
from etl_from_s3_to_postgresql_template_spark.plans.registry import query
from etl_from_s3_to_postgresql_template_spark.sources.registry import load_table
from etl_from_s3_to_postgresql_template_spark.util import shared_subtree_eager


@query(
    "corpus_decontaminate",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents
    ), sh AS (
      SELECT doc_id,
             substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0', '1') AS is_bench,
             UNNEST(CASE WHEN len(t) >= 8
               THEN list_transform(range(len(t) - 7), i -> array_to_string(t[i+1:i+8], ' '))
               ELSE [array_to_string(t, ' ')] END) AS ngram
      FROM toks
    ), bench AS (
      SELECT DISTINCT ngram FROM sh WHERE is_bench
    )
    SELECT s.doc_id, CAST(COUNT(DISTINCT s.ngram) AS BIGINT) AS n_shared
    FROM sh s JOIN bench b USING (ngram)
    WHERE NOT s.is_bench
    GROUP BY s.doc_id
    ORDER BY s.doc_id
    """,
)
def corpus_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: train docs sharing any 8-gram with the
    (md5-split) benchmark subset, with distinct-shared-ngram counts.
    Benchmark n-gram set broadcasts; the corpus side never shuffles before
    the per-doc aggregate. See operators/corpus.py for the scale story."""
    return decontaminate(load_table(spark, sf_dir, "documents"), n=8)


@query(
    "corpus_sample_stratified",
    oracle="""
    WITH r AS (
      SELECT doc_id, lang, source,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY lang, source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rk
      FROM documents
    )
    SELECT doc_id, lang, source, rk FROM r WHERE rk <= 5
    ORDER BY lang, source, rk
    """,
)
def corpus_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sample: first 5 docs per (lang, source)
    stratum in md5-of-id order — uniform-random in distribution, but
    re-runnable and engine-portable (the property RAND() samples lack)."""
    return stratified_sample(load_table(spark, sf_dir, "documents"), ["lang", "source"], k=5)


@query(
    "corpus_vocab_topk",
    oracle=r"""
    WITH w AS (
      SELECT UNNEST(string_split_regex(lower(trim(text)), '\s+')) AS token FROM documents
    ), c AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt FROM w GROUP BY token
    )
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, token) AS BIGINT) AS rank,
           token, cnt,
           CAST(SUM(cnt) OVER (ORDER BY cnt DESC, token
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cnt
    FROM c
    ORDER BY rank
    LIMIT 20
    """,
)
def corpus_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary building: top-20 tokens by frequency with cumulative
    coverage counts (cum_cnt / corpus total = coverage; emitted as exact
    integers, the division is the reader's). The token count aggregates
    map-side (partial agg before the shuffle); the top-20 restriction runs
    FIRST as a distributed TakeOrderedAndProject, so the ranking/cumsum
    window only ever sees 20 rows — at web scale the vocabulary is 1e8+
    terms (Heaps' law) and a pre-restriction global window would funnel
    all of it through one task. cum_cnt over ranks 1..k depends only on
    rows 1..k, so restrict-then-window is exact, not approximate."""
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    top = counts.orderBy(F.desc("cnt"), "token").limit(20)
    # rank + cumulative sum over exactly 20 rows: fold them into one sorted
    # array and posexplode — no WindowExec, no global-window partition at all
    arr = top.agg(
        F.sort_array(
            F.collect_list(F.struct((-F.col("cnt")).alias("neg"), "token", "cnt"))
        ).alias("a")
    )
    return (
        arr.select("a", F.posexplode("a").alias("pos", "s"))
        .select(
            (F.col("pos") + 1).cast("long").alias("rank"),
            F.col("s.token").alias("token"),
            F.col("s.cnt").alias("cnt"),
            F.expr("aggregate(slice(a, 1, pos + 1), 0L, (acc, x) -> acc + x.cnt)").alias(
                "cum_cnt"
            ),
        )
        .orderBy("rank")
    )


@query(
    "corpus_bigram_lm",
    oracle=r"""
    WITH toks AS (
      SELECT string_split_regex(lower(trim(text)), '\s+') AS t FROM documents
    ), bg AS (
      SELECT UNNEST(list_transform(range(len(t) - 1),
                    i -> {'w1': t[i+1], 'w2': t[i+2]})) AS s
      FROM toks WHERE len(t) >= 2
    ), pairs AS (
      SELECT s.w1 AS w1, s.w2 AS w2, CAST(COUNT(*) AS BIGINT) AS pair_cnt
      FROM bg GROUP BY 1, 2
    )
    SELECT w1, w2, pair_cnt,
           CAST(SUM(pair_cnt) OVER (PARTITION BY w1) AS BIGINT) AS w1_cnt
    FROM pairs
    ORDER BY pair_cnt DESC, w1, w2
    LIMIT 30
    """,
)
def corpus_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram LM counts: top-30 adjacent-token pairs with the per-first-
    token total (pair_cnt / w1_cnt is the conditional MLE; both emitted as
    exact integers). Bigrams come from arrays_zip over two shifted
    slices — one pass, JVM-side, and a BUILT-IN expression rather than a
    zip_with lambda: the lambda runs interpreted per bigram (~100M
    evaluations at 500k docs) and measured 11.9 s vs 7.3 s for the
    identical plan on arrays_zip (r8 HOF sweep, SCALING.md); the w1
    totals are a window over the aggregated pair table, not a second
    corpus scan."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.split(F.lower(F.trim("text")), r"\s+").alias("t")).where(F.size("t") >= 2)
    n = F.size("t")
    bigrams = F.arrays_zip(
        F.slice("t", 1, n - 1).alias("w1"),
        F.slice("t", 2, n - 1).alias("w2"),
    )
    pairs = (
        toks.select(F.explode(bigrams).alias("s"))
        .groupBy(F.col("s.w1").alias("w1"), F.col("s.w2").alias("w2"))
        .agg(F.count(F.lit(1)).alias("pair_cnt"))
    )
    w1_cnt = F.sum("pair_cnt").over(Window.partitionBy("w1")).alias("w1_cnt")
    return (
        pairs.select("w1", "w2", "pair_cnt", w1_cnt)
        .orderBy(F.desc("pair_cnt"), "w1", "w2")
        .limit(30)
    )


@query(
    "corpus_pack_sequences",
    oracle=r"""
    WITH d AS (
      SELECT doc_id,
             substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS bucket,
             CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
      FROM documents
    ), c AS (
      SELECT bucket, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
                 ROWS UNBOUNDED PRECEDING) - n_tokens AS start_off
      FROM d
    )
    SELECT bucket, CAST(FLOOR(start_off / 2048) AS BIGINT) AS seq_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
    FROM c
    GROUP BY bucket, seq_id
    ORDER BY bucket, seq_id
    """,
)
def corpus_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: docs concatenate (doc-id order, per md5 bucket)
    into a token stream cut every 2048 tokens; a doc belongs to the chunk
    where it starts. Per-bucket packing keeps the running sum parallel —
    the global-cumsum alternative serializes the corpus through one task."""
    return pack_sequences(load_table(spark, sf_dir, "documents"), capacity=2048)


@query(
    "corpus_bpe_pair_stats",
    oracle=r"""
    WITH w AS (
      SELECT UNNEST(string_split_regex(lower(trim(text)), '\s+')) AS word FROM documents
    ), ch AS (
      SELECT word, len(word) AS n FROM w WHERE len(word) >= 2
    ), pr AS (
      SELECT UNNEST(list_transform(range(n - 1),
                    i -> substr(word, CAST(i + 1 AS BIGINT), 2))) AS pair
      FROM ch
    )
    SELECT pair, CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, pair) AS BIGINT) AS rank
    FROM pr GROUP BY pair
    ORDER BY rank
    LIMIT 25
    """,
)
def corpus_bpe_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first step of BPE tokenizer training: corpus-wide adjacent
    character-pair frequencies (the merge candidates), top-25. Pairs come
    from substr over a sequence of offsets — JVM-side, one explode; the
    count aggregates map-side before the shuffle and the ranking window
    sees only the tiny pair vocabulary."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("word")
    ).where(F.length("word") >= 2)
    pairs = words.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("word") - 1),
                lambda i: F.col("word").substr(i, F.lit(2)),
            )
        ).alias("pair")
    )
    w = Window.orderBy(F.desc("cnt"), "pair")
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= 25)
        .select("pair", "cnt", "rank")
        .orderBy("rank")
    )


@query(
    "docs_length_quantiles",
    oracle="""
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
    """,
)
def docs_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language document-length profile (p10/p50/p90) for corpus
    filtering thresholds. Quantiles are rank-picked (value at rank
    ceil(p*n)) — the engine-neutral percentile_disc definition, exact
    integers end to end. One shuffle on lang."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    r = docs.select(
        "lang",
        "n_chars",
        F.row_number().over(w).cast("long").alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("lang")).cast("long").alias("cnt"),
    )

    def pick(p: float, name: str):
        return F.max(
            F.when(F.col("rn") == F.ceil(p * F.col("cnt")), F.col("n_chars"))
        ).alias(name)

    return (
        r.groupBy("lang")
        .agg(pick(0.10, "p10"), pick(0.50, "p50"), pick(0.90, "p90"), F.max("cnt").alias("n_docs"))
        .orderBy("lang")
    )


@query(
    "corpus_prep_funnel",
    oracle=r"""
    WITH base AS (
      SELECT doc_id, text,
             CAST(length(text) AS BIGINT) AS n_chars_calc,
             CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS BIGINT) AS n_alpha
      FROM documents
    ), gated AS (
      SELECT doc_id, text,
             (length(text) >= 50
              AND ROUND(n_alpha / greatest(n_chars_calc, 1), 4) >= 0.5) AS ok_quality
      FROM base
    ), surv AS (
      SELECT doc_id, text FROM gated WHERE ok_quality
    ), winners AS (
      SELECT MIN(doc_id) AS doc_id FROM surv
      GROUP BY regexp_replace(lower(trim(text)), '\s+', ' ', 'g')
    ), toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM surv
    ), sh AS (
      SELECT doc_id,
             substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0', '1') AS is_bench,
             UNNEST(CASE WHEN len(t) >= 8
               THEN list_transform(range(len(t) - 7), i -> array_to_string(t[i+1:i+8], ' '))
               ELSE [array_to_string(t, ' ')] END) AS ngram
      FROM toks
    ), bench AS (
      SELECT DISTINCT ngram FROM sh WHERE is_bench
    ), contaminated AS (
      SELECT DISTINCT s.doc_id FROM sh s JOIN bench b USING (ngram) WHERE NOT s.is_bench
    ), flags AS (
      SELECT g.doc_id, g.ok_quality,
             (g.ok_quality AND w.doc_id IS NOT NULL) AS ok_dedup,
             (g.ok_quality AND w.doc_id IS NOT NULL AND c.doc_id IS NULL
              AND substr(md5(CAST(g.doc_id AS VARCHAR)), 1, 1) NOT IN ('0', '1')) AS ok_decontam,
             substr(md5(CAST(g.doc_id AS VARCHAR)), 1, 1) IN ('2', '3') AS is_holdout
      FROM gated g
      LEFT JOIN winners w ON w.doc_id = g.doc_id
      LEFT JOIN contaminated c ON c.doc_id = g.doc_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS input_docs,
           CAST(SUM(CASE WHEN ok_quality THEN 1 ELSE 0 END) AS BIGINT) AS after_quality,
           CAST(SUM(CASE WHEN ok_dedup THEN 1 ELSE 0 END) AS BIGINT) AS after_dedup,
           CAST(SUM(CASE WHEN ok_decontam THEN 1 ELSE 0 END) AS BIGINT) AS after_decontam,
           CAST(SUM(CASE WHEN ok_decontam AND NOT is_holdout THEN 1 ELSE 0 END) AS BIGINT) AS train_docs,
           CAST(SUM(CASE WHEN ok_decontam AND is_holdout THEN 1 ELSE 0 END) AS BIGINT) AS holdout_docs
    FROM flags
    """,
)
def corpus_prep_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END corpus pipeline (corpus_pipeline.py) as one
    hash-checked funnel row: quality gate -> exact dedup -> benchmark
    decontamination -> train/holdout split, with per-stage survivor
    counts. The oracle re-derives every stage decision independently in
    SQL, so a drift in ANY stage (gate thresholds, dedup winner rule,
    n-gram semantics, split hashing) breaks the hash match — this is the
    pipeline's integration test in the driver gate."""
    from etl_from_s3_to_postgresql_template_spark.corpus_pipeline import annotate_corpus

    ann = annotate_corpus(load_table(spark, sf_dir, "documents"))
    return ann.agg(
        F.count(F.lit(1)).alias("input_docs"),
        F.sum(F.col("ok_quality").cast("long")).alias("after_quality"),
        F.sum(F.col("ok_dedup").cast("long")).alias("after_dedup"),
        F.sum(F.col("ok_decontam").cast("long")).alias("after_decontam"),
        F.sum((F.col("split") == "train").cast("long")).alias("train_docs"),
        F.sum((F.col("split") == "holdout").cast("long")).alias("holdout_docs"),
    )


@query(
    "graph_token_triangles",
    oracle=r"""
    WITH toks AS (
      SELECT string_split_regex(lower(trim(text)), '\s+') AS t FROM documents
    ), bg AS (
      SELECT UNNEST(list_transform(range(len(t) - 1),
                    i -> {'w1': t[i+1], 'w2': t[i+2]})) AS s
      FROM toks WHERE len(t) >= 2
    ), edges AS (
      SELECT least(s.w1, s.w2) AS a, greatest(s.w1, s.w2) AS b
      FROM bg WHERE s.w1 <> s.w2
      GROUP BY 1, 2 HAVING COUNT(*) >= 20
    ), tri AS (
      SELECT COUNT(*) AS n_triangles
      FROM edges e1
      JOIN edges e2 ON e2.a = e1.b
      JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b
    )
    SELECT CAST((SELECT COUNT(DISTINCT x) FROM (SELECT a AS x FROM edges UNION SELECT b FROM edges)) AS BIGINT) AS n_nodes,
           CAST((SELECT COUNT(*) FROM edges) AS BIGINT) AS n_edges,
           CAST((SELECT n_triangles FROM tri) AS BIGINT) AS n_triangles
    """,
)
def graph_token_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph analytics on the token co-occurrence graph: node/edge counts
    and exact triangle count. Edges are ORDERED (a < b), which is the
    standard distributed-triangle trick: each triangle {x<y<z} is counted
    exactly once as the path x->y->z closed by edge (x,z), so the 3-way
    self-join needs no post-hoc dedup and the join fan-out is bounded by
    ordered adjacency (high-degree hubs split their edges across the
    order, halving worst-case skew). Two hash self-joins on 8-byte-ish
    keys; the bigram aggregation before it is the only corpus-sized
    stage."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.split(F.lower(F.trim("text")), r"\s+").alias("t")).where(F.size("t") >= 2)
    n = F.size("t")
    # arrays_zip (built-in) instead of a zip_with lambda, and the
    # least/greatest edge ordering moves AFTER the explode — one codegen
    # projection per bigram row instead of an interpreted lambda per
    # array element (same r8 measurement as corpus_bigram_lm)
    bigrams = F.arrays_zip(
        F.slice("t", 1, n - 1).alias("w1"),
        F.slice("t", 2, n - 1).alias("w2"),
    )
    edges = (
        toks.select(F.explode(bigrams).alias("s"))
        .select(
            F.least("s.w1", "s.w2").alias("a"),
            F.greatest("s.w1", "s.w2").alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") >= 20)
        .select("a", "b")
    )
    # pinned EAGERLY: the three legs below run as concurrent broadcast
    # jobs, and one of them marking a lazy checkpoint while another's
    # submit walks its dependencies failed a run with an NPE in
    # DAGScheduler.eagerlyComputePartitionsForRddAndAncestors
    edges = edges.transform(shared_subtree_eager)
    e1 = edges.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = edges.select(F.col("a").alias("y"), F.col("b").alias("z"))
    e3 = edges.select(F.col("a").alias("x"), F.col("b").alias("z"))
    tri = e1.join(e2, "y").join(e3, ["x", "z"]).agg(F.count(F.lit(1)).alias("n_triangles"))
    nodes = (
        edges.select(F.col("a").alias("x"))
        .unionByName(edges.select(F.col("b").alias("x")))
        .agg(F.count_distinct("x").alias("n_nodes"))
    )
    n_edges = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    return nodes.join(n_edges).join(tri)
