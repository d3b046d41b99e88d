"""Round-3 LLM-pipeline additions.

First entries: recall-gate companions for the approximate similarity tiers
(north-star E2). ``similarity_topk_lsh`` / ``similarity_topk_ivf`` are
rows-only in the driver's gate by nature (an ANN result has no SQL oracle).
These companions close that gap: each computes recall@k of the approximate
tier against the exact brute-force ranking ENTIRELY inside Spark, reduces
it to one deterministic row, and pairs it with a constant-valued DuckDB
oracle — so the driver gets a hash-checkable green row certifying the ANN
tier's quality instead of a bare row-count.

Scale stance: the recall join touches only the two top-k result sets
(|Q| * k rows each — tiny by construction), so the gate costs the same as
running the two tiers; everything else is the tiers' own scale shape
(documented in operators/similarity.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_from_s3_to_postgresql_template_spark.operators.dedup import CLUSTERS_ORACLE, duplicate_clusters
from etl_from_s3_to_postgresql_template_spark.plans.registry import query
from etl_from_s3_to_postgresql_template_spark.sources.registry import load_table

__all__ = [
    "similarity_lsh_recall_gate",
    "similarity_ivf_recall_gate",
    "dedup_minhash_accuracy_gate",
    "dedup_simhash_precision_gate",
    "agg_sketch_error_gate",
    "events_gap_sessionize",
    "tokens_pmi_top_pairs",
    "docs_url_domains",
    "dedup_incremental_day",
    "docs_ngram_novelty",
    "corpus_boilerplate_ngrams",
    "dedup_duplicate_clusters_star",
    "join_skew_salted",
    "orders_daily_anomaly",
    "corpus_weighted_sample",
    "streaming_approx_distinct_gate",
    "dq_referential_integrity",
    "graph_token_pagerank",
    "table_diff_snapshots",
    "events_cumulative_users",
]


def _query_candidate_split(spark: SparkSession, sf_dir: str):
    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    candidates = emb.select(F.col("vec_id").alias("n_id"), F.col("embedding").alias("n_vec"))
    return queries_df, candidates


def _recall_gate(exact: DataFrame, approx: DataFrame, floor: float) -> DataFrame:
    """One-row recall@k gate: mean over queries of |approx ∩ exact| / |exact|.

    Both inputs are (q_id, n_id, cosine, rank) top-k frames — |Q|*k rows, so
    the semi join and the final aggregate are negligible next to the tiers
    themselves. Output is deterministic (seeded hyperplanes / seeded k-means,
    fixed data): (n_queries, recall_ok) hash-matches a constant oracle.
    """
    hits = (
        exact.select("q_id", "n_id")
        .join(approx.select("q_id", "n_id").withColumn("__hit", F.lit(1)), ["q_id", "n_id"], "left")
        .groupBy("q_id")
        .agg((F.sum("__hit") / F.count(F.lit(1))).alias("recall"))
    )
    return hits.agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        (F.avg(F.coalesce(F.col("recall"), F.lit(0.0))) >= F.lit(floor)).alias("recall_ok"),
    )


_GATE_ORACLE = "SELECT CAST(5 AS BIGINT) AS n_queries, TRUE AS recall_ok"


@query("similarity_lsh_recall_gate", oracle=_GATE_ORACLE)
def similarity_lsh_recall_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 quality gate: sign-LSH top-10 must hold mean recall@10 >= 0.3 vs
    exact brute force (the floor the recall pytest enforces at 500 random
    vectors — sign-LSH with 4 bands is imperfect by design; the gate
    catches blocking bugs, which drive recall to ~0)."""
    from etl_from_s3_to_postgresql_template_spark.operators.similarity import (
        brute_force_topk,
        lsh_topk,
    )

    queries_df, candidates = _query_candidate_split(spark, sf_dir)
    exact = brute_force_topk(queries_df, candidates, k=10)
    approx = lsh_topk(queries_df, candidates, dim=64, k=10)
    return _recall_gate(exact, approx, floor=0.3)


@query("similarity_ivf_recall_gate", oracle=_GATE_ORACLE)
def similarity_ivf_recall_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 quality gate: IVF (probe 4/16 lists) top-10 must hold mean
    recall@10 >= 0.3 vs exact brute force (same floor as the pytest;
    guards against degenerate k-means assignment)."""
    from etl_from_s3_to_postgresql_template_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
    )

    queries_df, candidates = _query_candidate_split(spark, sf_dir)
    exact = brute_force_topk(queries_df, candidates, k=10)
    approx = ivf_topk(queries_df, candidates, k=10)
    return _recall_gate(exact, approx, floor=0.3)


@query(
    "dedup_minhash_accuracy_gate",
    oracle="SELECT TRUE AS found_pairs, TRUE AS est_err_ok",
)
def dedup_minhash_accuracy_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1 quality gate for the rows-only MinHash tier: every LSH candidate
    pair's signature-estimated Jaccard must track the EXACT token-3-gram
    Jaccard (computed only on the candidate pairs — the two-stage scale
    shape). Floors: max abs error <= 0.25, mean <= 0.10; measured bands at
    both SFs are max ~0.11 / mean ~0.03 with 32 hashes (sigma ~ 0.09)."""
    from etl_from_s3_to_postgresql_template_spark.operators.dedup import (
        minhash_candidates,
        ngram_jaccard_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    cands = minhash_candidates(docs, "text", "doc_id", threshold=0.3)
    exact = ngram_jaccard_pairs(docs, cands.select("id_a", "id_b"), "text", "doc_id", threshold=0.0)
    err = F.abs(F.col("est_jaccard") - F.col("jaccard"))
    return (
        cands.join(exact, ["id_a", "id_b"])
        .agg(
            (F.count(F.lit(1)) > 0).alias("found_pairs"),
            ((F.max(err) <= 0.25) & (F.avg(err) <= 0.10)).alias("est_err_ok"),
        )
    )


@query(
    "dedup_simhash_precision_gate",
    oracle="SELECT TRUE AS found_pairs, TRUE AS precision_ok",
)
def dedup_simhash_precision_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1 quality gate for the rows-only SimHash tier: pairs within Hamming
    distance 3 must be real near-dups ON AVERAGE — mean exact 3-gram
    Jaccard >= 0.4 (measured 0.76-0.87 at both SFs; individual short-doc
    collisions can hit 0, which is why the gate is on the mean)."""
    from etl_from_s3_to_postgresql_template_spark.operators.dedup import (
        ngram_jaccard_pairs,
        simhash_candidates,
    )

    docs = load_table(spark, sf_dir, "documents")
    cands = simhash_candidates(docs, "text", "doc_id")
    exact = ngram_jaccard_pairs(docs, cands.select("id_a", "id_b"), "text", "doc_id", threshold=0.0)
    return exact.agg(
        (F.count(F.lit(1)) > 0).alias("found_pairs"),
        (F.avg("jaccard") >= 0.4).alias("precision_ok"),
    )


@query(
    "agg_sketch_error_gate",
    oracle="SELECT TRUE AS hll_ok, TRUE AS median_ok",
)
def agg_sketch_error_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality gate for the rows-only sketch tier: per-group HLL++ distinct
    within 5% of exact (rsd=0.01; measured <= 0.9%), approx median within
    1% of exact (measured <= 0.08%). One scan computes sketch and exact
    side by side; the gate reduces to one hash-checkable row."""
    li = load_table(spark, sf_dir, "lineitem")
    per_group = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey", rsd=0.01).alias("a"),
        F.countDistinct("l_orderkey").alias("e"),
        F.expr("approx_percentile(l_extendedprice, 0.5)").alias("am"),
        F.expr("percentile(l_extendedprice, 0.5)").alias("em"),
    )
    hll_err = F.abs(F.col("a") - F.col("e")) / F.col("e")
    med_err = F.abs(F.col("am").cast("double") - F.col("em")) / F.col("em")
    return per_group.agg(
        (F.max(hll_err) <= 0.05).alias("hll_ok"),
        (F.max(med_err) <= 0.01).alias("median_ok"),
    )


@query(
    "events_gap_sessionize",
    oracle=r"""
    WITH o AS (
      SELECT user_id, event_id, ts,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      FROM events
    ), marks AS (
      SELECT user_id, event_id, ts,
             CASE WHEN prev IS NULL OR epoch_us(ts) - epoch_us(prev) > 300000000
                  THEN 1 ELSE 0 END AS is_new
      FROM o
    ), grp AS (
      SELECT user_id, ts,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS session_id
      FROM marks
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
           strftime(MAX(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM grp GROUP BY user_id, session_id ORDER BY user_id, session_id
    """,
)
def events_gap_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BATCH gap sessionization (the lag->mark->cumsum classic): a session
    breaks after a >5-minute silence per user. Complements the streaming
    session_window twin (window_session_events) with the backfill-side
    formulation every warehouse needs.

    Scale: two window passes over the SAME (user_id, ts) partitioning —
    one shuffle total, then a partial-aggregated groupBy on (user, session).
    """
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    order = [F.col("ts"), F.col("event_id")]
    w = W.partitionBy("user_id").orderBy(*order)
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    prev = F.lag(us).over(w)
    marked = ev.select(
        "user_id",
        "event_id",
        "ts",
        F.when(prev.isNull() | ((us - prev) > 300_000_000), 1).otherwise(0).alias("is_new"),
    )
    sessioned = marked.select(
        "user_id",
        "ts",
        F.sum("is_new").over(w.rowsBetween(W.unboundedPreceding, 0)).alias("session_id"),
    )
    return (
        sessioned.groupBy("user_id", "session_id")
        .agg(
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("session_start"),
            F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("user_id", "session_id")
    )


@query(
    "tokens_pmi_top_pairs",
    oracle=r"""
    WITH t AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents
    ), uni AS (
      SELECT unnest(toks) AS w FROM t
    ), ucnt AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM uni GROUP BY w
    ), ntok AS (
      SELECT CAST(SUM(c) AS DOUBLE) AS n FROM ucnt
    ), bg AS (
      SELECT UNNEST(list_transform(range(len(toks) - 1),
             i -> {'w1': toks[i+1], 'w2': toks[i+2]})) AS s
      FROM t WHERE len(toks) >= 2
    ), bcnt AS (
      SELECT s.w1 AS w1, s.w2 AS w2, CAST(COUNT(*) AS BIGINT) AS c FROM bg GROUP BY 1, 2
    ), nbig AS (
      SELECT CAST(SUM(c) AS DOUBLE) AS n FROM bcnt
    )
    SELECT b.w1, b.w2, b.c AS pair_count,
           ROUND(ln((b.c / nbig.n) / ((u1.c / ntok.n) * (u2.c / ntok.n))), 4) AS pmi
    FROM bcnt b
    JOIN ucnt u1 ON b.w1 = u1.w
    JOIN ucnt u2 ON b.w2 = u2.w
    CROSS JOIN ntok CROSS JOIN nbig
    WHERE b.c >= 5
    ORDER BY pmi DESC, b.w1, b.w2 LIMIT 20
    """,
)
def tokens_pmi_top_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation extraction: top-20 adjacent token pairs by pointwise
    mutual information (min pair count 5) — the classic corpus-analysis op
    for finding multiword units worth single tokens.

    Scale: token and bigram counts are two map-side-combined aggregations
    of one scan; the PMI join keys are words (the unigram table joins
    twice); the global constants ride in as 1-row broadcasts; final top-20
    is a TakeOrdered, not a sort."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.split(F.lower(F.trim("text")), r"\s+").alias("t"))
    uni = toks.select(F.explode("t").alias("w")).groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    n_tok = uni.agg(F.sum("c").cast("double").alias("n_tok"))
    n = F.size("t")
    # arrays_zip (built-in, codegen) instead of a zip_with lambda — the
    # lambda runs interpreted per bigram; measured 11.9 -> 7.3 s on the
    # identical bigram-LM plan shape (r8 HOF sweep, SCALING.md)
    bigrams = F.arrays_zip(
        F.slice("t", 1, n - 1).alias("w1"),
        F.slice("t", 2, n - 1).alias("w2"),
    )
    bcnt = (
        toks.where(n >= 2)
        .select(F.explode(bigrams).alias("s"))
        .groupBy(F.col("s.w1").alias("w1"), F.col("s.w2").alias("w2"))
        .agg(F.count(F.lit(1)).alias("pair_count"))
    )
    n_big = bcnt.agg(F.sum("pair_count").cast("double").alias("n_big"))
    u1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    pmi = F.round(
        F.log(
            (F.col("pair_count") / F.col("n_big"))
            / ((F.col("c1") / F.col("n_tok")) * (F.col("c2") / F.col("n_tok")))
        ),
        4,
    )
    return (
        bcnt.filter(F.col("pair_count") >= 5)
        .join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(n_tok))
        .crossJoin(F.broadcast(n_big))
        .select("w1", "w2", "pair_count", pmi.alias("pmi"))
        .orderBy(F.desc("pmi"), "w1", "w2")
        .limit(20)
    )


_URL_RE = r"https?://[A-Za-z0-9.-]+(?:/[A-Za-z0-9./_-]*)?"


@query(
    "docs_url_domains",
    oracle=rf"""
    WITH withurl AS (
      SELECT doc_id,
             text || CASE WHEN doc_id % 3 = 0
                          THEN ' see https://site' || (doc_id % 20) || '.example.org/p/' || doc_id || ' now'
                          ELSE '' END AS text
      FROM documents
    ), urls AS (
      SELECT doc_id, unnest(regexp_extract_all(text, '{_URL_RE}')) AS url FROM withurl
    )
    SELECT regexp_extract(url, 'https?://([A-Za-z0-9.-]+)', 1) AS domain,
           CAST(COUNT(*) AS BIGINT) AS n_urls,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM urls GROUP BY 1 ORDER BY n_urls DESC, domain
    """,
)
def docs_url_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain URL statistics — the provenance/source-mix profile every
    web-corpus pipeline runs before filtering by domain. The fixture text
    is URL-free, so deterministic URLs are injected doc_id-keyed on BOTH
    engines (same move as docs_pii_scan).

    Scale: regexp extraction is a projection; explode + one partial-agg'd
    groupBy on domain."""
    docs = load_table(spark, sf_dir, "documents")
    injected = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit(" see https://site"),
                (F.col("doc_id") % 20).cast("string"),
                F.lit(".example.org/p/"),
                F.col("doc_id").cast("string"),
                F.lit(" now"),
            ),
        ).otherwise(F.lit("")),
    )
    urls = docs.select(
        "doc_id", F.explode(F.regexp_extract_all(injected, F.lit(_URL_RE), F.lit(0))).alias("url")
    )
    return (
        urls.select("doc_id", F.regexp_extract("url", r"https?://([A-Za-z0-9.-]+)", 1).alias("domain"))
        .groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("n_urls"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.desc("n_urls"), "domain")
    )


@query(
    "dedup_incremental_day",
    oracle="""
    WITH lake AS (
      SELECT md5(text) AS h FROM documents WHERE doc_id < 300
    ), incoming AS (
      SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id >= 250
    ), fresh AS (
      SELECT doc_id, h FROM incoming WHERE h NOT IN (SELECT h FROM lake)
    ), ranked AS (
      SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id) AS rn FROM fresh
    )
    SELECT doc_id FROM ranked WHERE rn = 1 ORDER BY doc_id
    """,
)
def dedup_incremental_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (cross-day) dedup: which incoming documents are NEW vs
    the lake — dedup against history WITHOUT rescanning history content.
    Modeled on the fixture: lake = doc_id < 300, incoming = doc_id >= 250
    (the 250-299 overlap must self-exclude by content hash), then
    first-wins within the incoming batch itself.

    Scale shape: the lake side reduces to a HASH COLUMN (md5 here for the
    cross-engine oracle; xxhash64 in production) — at 100 TB you persist
    that hash column day over day and anti-join the new day against it;
    content never moves twice. Anti join + per-hash first-wins window."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    lake = docs.filter(F.col("doc_id") < 300).select(F.md5("text").alias("h"))
    incoming = docs.filter(F.col("doc_id") >= 250).select("doc_id", F.md5("text").alias("h"))
    fresh = incoming.join(lake, "h", "left_anti")
    rn = F.row_number().over(W.partitionBy("h").orderBy("doc_id"))
    return (
        fresh.withColumn("rn", rn).filter(F.col("rn") == 1).select("doc_id").orderBy("doc_id")
    )


@query(
    "docs_ngram_novelty",
    oracle=r"""
    WITH t AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents
    ), g AS (
      SELECT doc_id,
             UNNEST(list_transform(range(len(toks) - 7),
                    i -> {'gi': i, 'g': md5(array_to_string(toks[i+1:i+8], ' '))})) AS s
      FROM t WHERE len(toks) >= 8
    ), occ AS (
      SELECT doc_id, s.gi AS gi, s.g AS g,
             ROW_NUMBER() OVER (PARTITION BY s.g ORDER BY doc_id, s.gi) AS rn
      FROM g
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
           ROUND(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) / CAST(COUNT(*) AS DOUBLE), 4)
             AS novelty_ratio
    FROM occ GROUP BY doc_id ORDER BY doc_id
    """,
)
def docs_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-corpus memorization scan: per document, the fraction of its
    8-grams that are FIRST occurrences in (doc_id, position) order — low
    novelty = the document is mostly text already seen earlier in the
    corpus (near-copy, boilerplate, template). The complement of
    corpus_decontaminate: that guards the eval boundary, this profiles
    internal repetition before training.

    Scale: grams collapse to fixed-width hashes immediately (md5 here for
    the cross-engine oracle; xxhash64 in production — gram STRINGS never
    shuffle); first-occurrence is one window over the gram-hash
    partitioning; the per-doc aggregate is map-side combined."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.split(F.lower(F.trim("text")), r"\s+").alias("t")
    ).where(F.size("t") >= 8)
    grams = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(0, size(t) - 8),"
                " i -> struct(i as gi, md5(concat_ws(' ', slice(t, i + 1, 8))) as g))"
            )
        ).alias("s"),
    ).select("doc_id", F.col("s.gi").alias("gi"), F.col("s.g").alias("g"))
    from pyspark.sql import Window as W

    rn = F.row_number().over(W.partitionBy("g").orderBy("doc_id", "gi"))
    occ = grams.withColumn("rn", rn)
    return (
        occ.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.round(
                F.sum(F.when(F.col("rn") == 1, 1).otherwise(0)) / F.count(F.lit(1)).cast("double"),
                4,
            ).alias("novelty_ratio"),
        )
        .orderBy("doc_id")
    )


@query(
    "corpus_boilerplate_ngrams",
    oracle=r"""
    WITH t AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents
    ), g AS (
      SELECT doc_id,
             UNNEST(list_transform(range(len(toks) - 7),
                    i -> array_to_string(toks[i+1:i+8], ' '))) AS gram
      FROM t WHERE len(toks) >= 8
    )
    SELECT gram, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS doc_freq,
           CAST(COUNT(*) AS BIGINT) AS total_count
    FROM g GROUP BY gram
    HAVING COUNT(DISTINCT doc_id) >= 2
    ORDER BY doc_freq DESC, total_count DESC, gram LIMIT 20
    """,
)
def corpus_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate detection: the 8-grams shared by the most documents
    (headers, footers, license blurbs, navigation chrome) — the removal
    list every web-corpus pipeline computes before dedup, because
    boilerplate inflates near-dup similarity between unrelated pages.

    Scale note: UNLIKE the novelty scan this keeps gram strings, because
    the output IS the human-auditable removal list — but only grams
    surviving doc_freq >= 2 reach the final top-20 TakeOrdered; the
    aggregation itself is map-side combined on the gram key, and a
    production run would pre-collapse to hashes and join strings back for
    the survivors only."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.split(F.lower(F.trim("text")), r"\s+").alias("t")
    ).where(F.size("t") >= 8)
    grams = toks.select(
        "doc_id",
        F.explode(
            F.expr("transform(sequence(0, size(t) - 8), i -> concat_ws(' ', slice(t, i + 1, 8)))")
        ).alias("gram"),
    )
    return (
        grams.groupBy("gram")
        .agg(
            F.countDistinct("doc_id").alias("doc_freq"),
            F.count(F.lit(1)).alias("total_count"),
        )
        .filter(F.col("doc_freq") >= 2)
        .orderBy(F.desc("doc_freq"), F.desc("total_count"), "gram")
        .limit(20)
    )


@query("dedup_duplicate_clusters_star", oracle=CLUSTERS_ORACLE)
def dedup_duplicate_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_duplicate_clusters' twin on the Large-Star/Small-Star path
    (operators/dedup.py::connected_components(algorithm='star')): same
    exact-Jaccard edge graph, same recursive-CTE oracle — proving the
    O(log^2 n)-round formulation computes the identical clustering the
    diameter-round label propagation does. This is the variant to run on
    graphs with long chains / giant components."""
    return duplicate_clusters(load_table(spark, sf_dir, "documents"), algorithm="star")


@query(
    "join_skew_salted",
    oracle="""
    SELECT o.o_custkey AS custkey, c.c_mktsegment AS segment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(CAST(o.o_totalprice AS DECIMAL(18,6))), 2) :: DOUBLE AS total_price
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY 1, 2 ORDER BY n_orders DESC, custkey LIMIT 50
    """,
)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skew-salted join (operators/skew.py) proven against the PLAIN
    join's oracle: per-row salt on the fact side, small side replicated
    n_salts times, join on (key, salt) — the result set is salt-invariant
    and must hash-match the unsalted equi-join, which is exactly what the
    oracle compare enforces. This is the explicit fallback for the
    one-key-hotter-than-an-executor case AQE's skew split can't fix."""
    from etl_from_s3_to_postgresql_template_spark.operators.skew import salted_join
    from etl_from_s3_to_postgresql_template_spark.plans.money import _dsum

    orders = load_table(spark, sf_dir, "orders")
    cust = (
        load_table(spark, sf_dir, "customer")
        .select(F.col("c_custkey").alias("o_custkey"), "c_mktsegment")
    )
    joined = salted_join(orders, cust, on="o_custkey", n_salts=8)
    return (
        joined.groupBy(
            F.col("o_custkey").alias("custkey"), F.col("c_mktsegment").alias("segment")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            _dsum(F.col("o_totalprice")).alias("total_price"),
        )
        .orderBy(F.desc("n_orders"), "custkey")
        .limit(50)
    )


@query(
    "orders_daily_anomaly",
    oracle=r"""
    WITH d AS (
      SELECT CAST(o_orderdate AS DATE) AS dt, CAST(COUNT(*) AS BIGINT) AS n
      FROM orders GROUP BY 1
    ), w AS (
      SELECT dt, n,
             avg(n) OVER (ORDER BY dt ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS mu,
             stddev_samp(n) OVER (ORDER BY dt ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS sd,
             COUNT(*) OVER (ORDER BY dt ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS w_n
      FROM d
    )
    SELECT strftime(dt, '%Y-%m-%d') AS order_date, n AS n_orders,
           ROUND((n - mu) / NULLIF(sd, 0), 4) AS z,
           COALESCE(w_n >= 3 AND sd > 0 AND abs(ROUND((n - mu) / NULLIF(sd, 0), 4)) > 3, FALSE) AS is_anomaly
    FROM w ORDER BY order_date
    """,
)
def orders_daily_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operational anomaly detection on load volume — the audit-log
    monitoring query the reference's data_processing_log exists to answer
    (README.md:211-222 'monitor rows per day'): each day's order count
    z-scored against its trailing 7-day window; |z| > 3 flags a spike or
    an ingestion gap.

    Scale note: the window is GLOBAL-ordered, which is normally forbidden
    (single task) — but it runs on the per-day AGGREGATE (one row per day:
    thousands of rows for years of data), after the map-side-combined
    count has already collapsed the fact table. That is the general rule:
    global windows are fine strictly above a cardinality-collapsing agg."""
    from pyspark.sql import Window as W

    orders = load_table(spark, sf_dir, "orders")
    d = (
        orders.groupBy(F.to_date("o_orderdate").alias("dt"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = W.orderBy("dt").rowsBetween(-7, -1)
    mu = F.avg("n").over(w)
    sd = F.stddev_samp("n").over(w)
    w_n = F.count(F.lit(1)).over(w)
    return (
        d.select(
            F.date_format("dt", "yyyy-MM-dd").alias("order_date"),
            F.col("n").alias("n_orders"),
            F.round((F.col("n") - mu) / F.nullif(sd, F.lit(0)), 4).alias("z"),
            # threshold on the ROUNDED z: the raw double ratio can straddle
            # 3.0 between engines; the 4-dp rounding both sides share cannot
            F.coalesce(
                (w_n >= 3)
                & (sd > 0)
                & (F.abs(F.round((F.col("n") - mu) / F.nullif(sd, F.lit(0)), 4)) > 3),
                F.lit(False),
            ).alias("is_anomaly"),
        )
        .orderBy("order_date")
    )


@query(
    "corpus_weighted_sample",
    oracle=r"""
    WITH s AS (
      SELECT lang, source,
             CAST(SUM(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY 1, 2
    ), tot AS (
      SELECT SUM(n_tokens) AS tok_total, COUNT(*) AS n_strata FROM s
    ), w AS (
      SELECT lang, source,
             LEAST((1.0 / tot.n_strata) / (n_tokens / tot.tok_total), 1.0) AS p
      FROM s CROSS JOIN tot
    )
    SELECT d.doc_id, d.lang, d.source,
           substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 6)
             < lower(lpad(to_hex(CAST(floor(w.p * 16777216) AS BIGINT)), 6, '0'))
             AS kept
    FROM documents d JOIN w USING (lang, source)
    ORDER BY d.doc_id
    """,
)
def corpus_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The consumer of corpus_mixing_weights: ACTUALLY draw the
    mixture-equalizing sample. Each doc's per-stratum acceptance
    probability (uniform-target weight, capped at 1) is compared against a
    uniform-[0,1) value derived from the doc id's md5 — hex prefixes of
    equal length preserve numeric order, so the comparison runs on strings
    and both engines agree bit-for-bit. No RNG: membership is stable
    across runs, engines, partitionings, and replays (the property that
    makes a sampled corpus reproducible).

    Scale: the weight table is |strata| rows (broadcast by AQE); the draw
    is a projection — one scan, one tiny join, no shuffle of documents."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.size(F.split(F.trim("text"), r"\s+"))
    s = docs.groupBy("lang", "source").agg(F.sum(toks).alias("n_tokens"))
    tot = s.agg(
        F.sum("n_tokens").cast("double").alias("tok_total"),
        F.count(F.lit(1)).cast("double").alias("n_strata"),
    )
    w = (
        s.crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "source",
            F.least(
                (1.0 / F.col("n_strata")) / (F.col("n_tokens") / F.col("tok_total")),
                F.lit(1.0),
            ).alias("p"),
        )
    )
    threshold = F.lower(
        F.lpad(F.hex(F.floor(F.col("p") * 16777216).cast("long")), 6, "0")
    )
    return (
        docs.join(w, ["lang", "source"])
        .select(
            "doc_id",
            "lang",
            "source",
            (F.substring(F.md5(F.col("doc_id").cast("string")), 1, 6) < threshold).alias("kept"),
        )
        .orderBy("doc_id")
    )


@query(
    "streaming_approx_distinct_gate",
    oracle="SELECT TRUE AS found_windows, TRUE AS approx_ok",
)
def streaming_approx_distinct_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming x sketch composition gate: per-hour APPROX distinct users
    computed by a real streaming query (HLL++ inside a watermarked tumbling
    window — the only distinct-count streaming supports at state-bounded
    cost) must land within 5% of the batch EXACT count for every window.
    Exact distinct in streaming would require unbounded per-window sets;
    the sketch is the 100 TB answer, and this gate prices its error."""
    from etl_from_s3_to_postgresql_template_spark.streaming.ingest import (
        _run_to_memory,
        stream_events,
    )

    ev = stream_events(spark, sf_dir).withWatermark("ts", "10 minutes")
    agg = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.approx_count_distinct("user_id", rsd=0.01).alias("a"))
        .select(F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("w_start"), "a")
    )
    streamed = _run_to_memory(spark, agg, "complete")
    exact = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.countDistinct("user_id").alias("e"))
        .select(F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("w_start"), "e")
    )
    err = F.abs(F.col("a") - F.col("e")) / F.col("e")
    return streamed.join(exact, "w_start").agg(
        (F.count(F.lit(1)) > 0).alias("found_windows"),
        (F.max(err) <= 0.05).alias("approx_ok"),
    )


@query(
    "dq_referential_integrity",
    oracle="""
    SELECT 'orders.custkey->customer' AS fk,
           CAST((SELECT COUNT(*) FROM orders o
                 WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
                AS BIGINT) AS orphans
    UNION ALL
    SELECT 'lineitem.orderkey->orders',
           CAST((SELECT COUNT(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
                AS BIGINT)
    UNION ALL
    SELECT 'lineitem.suppkey->supplier',
           CAST((SELECT COUNT(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey))
                AS BIGINT)
    ORDER BY fk
    """,
)
def dq_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table data-quality: orphan counts for the three fact->dim
    foreign keys (the check every warehouse runs after every load; the
    reference's audit table records row counts, this records whether the
    rows JOIN). Each check is a left-anti join that reduces to a count —
    keys only, no payload shuffle; AQE picks broadcast when the dim fits."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")

    def orphans(fact: DataFrame, fk: str, dim: DataFrame, pk: str, label: str) -> DataFrame:
        n = (
            fact.select(F.col(fk).alias("k"))
            .join(dim.select(F.col(pk).alias("k")), "k", "left_anti")
            .agg(F.count(F.lit(1)).alias("orphans"))
        )
        return n.select(F.lit(label).alias("fk"), F.col("orphans"))

    return (
        orphans(orders, "o_custkey", cust, "c_custkey", "orders.custkey->customer")
        .unionByName(orphans(li, "l_orderkey", orders, "o_orderkey", "lineitem.orderkey->orders"))
        .unionByName(orphans(li, "l_suppkey", supp, "s_suppkey", "lineitem.suppkey->supplier"))
        .orderBy("fk")
    )


@query(
    "graph_token_pagerank",
    oracle=r"""
    WITH t AS (
      SELECT string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents
    ), bg AS (
      SELECT UNNEST(list_transform(range(len(toks) - 1),
             i -> {'w1': toks[i+1], 'w2': toks[i+2]})) AS s
      FROM t WHERE len(toks) >= 2
    ), e AS (
      SELECT s.w1 AS src, s.w2 AS dst, CAST(COUNT(*) AS BIGINT) AS w
      FROM bg GROUP BY 1, 2
    ), nodes AS (
      SELECT DISTINCT tok FROM (SELECT src AS tok FROM e UNION SELECT dst FROM e)
    ), nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
    outw AS (SELECT src, CAST(SUM(w) AS DOUBLE) AS ow FROM e GROUP BY src),
    ef AS (
      SELECT e.src, e.dst, e.w / outw.ow AS f FROM e JOIN outw USING (src)
    ),
    r0 AS (SELECT tok, (SELECT 1.0 / n FROM nn) AS r FROM nodes),
    r1 AS (
      SELECT nodes.tok,
             0.15 * (SELECT 1.0 / n FROM nn)
             + 0.85 * COALESCE(CAST(SUM(CAST(r0.r * ef.f AS DECIMAL(38,15))) AS DOUBLE), 0.0) AS r
      FROM nodes
      LEFT JOIN ef ON ef.dst = nodes.tok
      LEFT JOIN r0 ON r0.tok = ef.src
      GROUP BY nodes.tok
    ),
    r2 AS (
      SELECT nodes.tok,
             0.15 * (SELECT 1.0 / n FROM nn)
             + 0.85 * COALESCE(CAST(SUM(CAST(r1.r * ef.f AS DECIMAL(38,15))) AS DOUBLE), 0.0) AS r
      FROM nodes
      LEFT JOIN ef ON ef.dst = nodes.tok
      LEFT JOIN r1 ON r1.tok = ef.src
      GROUP BY nodes.tok
    ),
    r3 AS (
      SELECT nodes.tok,
             0.15 * (SELECT 1.0 / n FROM nn)
             + 0.85 * COALESCE(CAST(SUM(CAST(r2.r * ef.f AS DECIMAL(38,15))) AS DOUBLE), 0.0) AS r
      FROM nodes
      LEFT JOIN ef ON ef.dst = nodes.tok
      LEFT JOIN r2 ON r2.tok = ef.src
      GROUP BY nodes.tok
    )
    SELECT tok, ROUND(r, 9) AS rank
    FROM r3 ORDER BY rank DESC, tok LIMIT 20
    """,
)
def graph_token_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative graph algorithm, cross-engine EXACT: 3 unrolled PageRank
    iterations (damping 0.85, weighted edges = bigram counts) over the
    token co-occurrence graph, top-20 central tokens. Each iteration's
    contribution sum accumulates as DECIMAL(38,15) — decimal addition is
    exact and order-independent, so the double ranks are bit-identical
    across partitionings AND engines, which is what lets an ITERATIVE
    algorithm hash-match a recursive oracle at all (a double sum would
    drift by accumulation order in round 1 and compound).

    Scale shape: per iteration one shuffle join (ranks x edges on src,
    both hash-partitioned) + one groupBy(dst) — the Pregel cost model; a
    production run localCheckpoints per iteration past ~5 rounds
    (operators/dedup.connected_components shows the pattern)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.split(F.lower(F.trim("text")), r"\s+").alias("t")).where(
        F.size("t") >= 2
    )
    n = F.size("t")
    bigrams = F.zip_with(
        F.slice("t", 1, n - 1),
        F.slice("t", 2, n - 1),
        lambda a, b: F.struct(a.alias("src"), b.alias("dst")),
    )
    e = (
        toks.select(F.explode(bigrams).alias("s"))
        .groupBy(F.col("s.src").alias("src"), F.col("s.dst").alias("dst"))
        .agg(F.count(F.lit(1)).alias("w"))
    )
    nodes = (
        e.select(F.col("src").alias("tok"))
        .unionByName(e.select(F.col("dst").alias("tok")))
        .distinct()
    )
    n_nodes = nodes.agg(F.count(F.lit(1)).cast("double").alias("n"))
    outw = e.groupBy("src").agg(F.sum("w").cast("double").alias("ow"))
    ef = e.join(outw, "src").select("src", "dst", (F.col("w") / F.col("ow")).alias("f"))

    ranks = nodes.crossJoin(F.broadcast(n_nodes)).select(
        "tok", (F.lit(1.0) / F.col("n")).alias("r")
    )
    for _ in range(3):
        contrib = (
            ef.join(ranks.select(F.col("tok").alias("src"), "r"), "src")
            .groupBy("dst")
            .agg(F.sum((F.col("r") * F.col("f")).cast("decimal(38,15)")).cast("double").alias("c"))
        )
        ranks = (
            nodes.join(contrib.withColumnRenamed("dst", "tok"), "tok", "left")
            .crossJoin(F.broadcast(n_nodes))
            .select(
                "tok",
                (
                    0.15 * (F.lit(1.0) / F.col("n"))
                    + 0.85 * F.coalesce(F.col("c"), F.lit(0.0))
                ).alias("r"),
            )
        )
    return (
        ranks.select("tok", F.round("r", 9).alias("rank"))
        .orderBy(F.desc("rank"), "tok")
        .limit(20)
    )


@query(
    "table_diff_snapshots",
    oracle="""
    WITH a AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders WHERE o_orderkey % 3 <> 0
    ), b AS (
      SELECT o_orderkey, o_orderstatus,
             CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1.0 ELSE o_totalprice END
               AS o_totalprice
      FROM orders WHERE o_orderkey % 3 <> 1
    )
    SELECT COALESCE(a.o_orderkey, b.o_orderkey) AS o_orderkey,
           CASE WHEN a.o_orderkey IS NULL THEN 'added'
                WHEN b.o_orderkey IS NULL THEN 'removed'
                ELSE 'changed' END AS change
    FROM a FULL OUTER JOIN b USING (o_orderkey)
    WHERE a.o_orderkey IS NULL OR b.o_orderkey IS NULL
       OR a.o_orderstatus <> b.o_orderstatus OR a.o_totalprice <> b.o_totalprice
    ORDER BY o_orderkey
    """,
)
def table_diff_snapshots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff — the lake-maintenance primitive behind CDC audits and
    reconciliation (which rows were added / removed / changed between two
    loads of the same table). Synthetic snapshots derive deterministically
    from orders so the oracle sees the same pair.

    Scale: ONE full-outer join on the key with change classification in
    the projection; unchanged rows drop before any further processing. At
    100 TB both snapshots hash-partition on the key and AQE handles the
    residual skew; no column-level compare explosion (struct equality is
    one comparison per column, fused in codegen)."""
    orders = load_table(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_orderkey") % 3 != 0).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    b = orders.filter(F.col("o_orderkey") % 3 != 1).select(
        "o_orderkey",
        "o_orderstatus",
        F.when(F.col("o_orderkey") % 5 == 0, F.col("o_totalprice") + 1.0)
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
    )
    aa = a.select([F.col(c).alias(f"a_{c}") for c in a.columns])
    bb = b.select([F.col(c).alias(f"b_{c}") for c in b.columns])
    j = aa.join(bb, aa.a_o_orderkey == bb.b_o_orderkey, "full_outer")
    change = (
        F.when(F.col("a_o_orderkey").isNull(), "added")
        .when(F.col("b_o_orderkey").isNull(), "removed")
        .otherwise("changed")
    )
    differs = (
        F.col("a_o_orderkey").isNull()
        | F.col("b_o_orderkey").isNull()
        | (F.col("a_o_orderstatus") != F.col("b_o_orderstatus"))
        | (F.col("a_o_totalprice") != F.col("b_o_totalprice"))
    )
    return (
        j.filter(differs)
        .select(
            F.coalesce("a_o_orderkey", "b_o_orderkey").alias("o_orderkey"),
            change.alias("change"),
        )
        .orderBy("o_orderkey")
    )


@query(
    "events_cumulative_users",
    oracle="""
    WITH first_seen AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS d0 FROM events GROUP BY user_id
    ), per_day AS (
      SELECT d0, CAST(COUNT(*) AS BIGINT) AS new_users FROM first_seen GROUP BY d0
    )
    SELECT strftime(d0, '%Y-%m-%d') AS day, new_users,
           CAST(SUM(new_users) OVER (ORDER BY d0) AS BIGINT) AS cumulative_users
    FROM per_day ORDER BY day
    """,
)
def events_cumulative_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth curve: cumulative distinct users by day, EXACTLY, without a
    running countDistinct (which has no bounded-state distributed form):
    distinct-over-time reduces to first-event-per-user + a cumulative sum
    over the per-day new-user counts. Two map-side-combined aggregations
    + a window over the tiny per-day frame (same rule as
    orders_daily_anomaly: global windows only above a collapsing agg)."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("d0"))
    per_day = first_seen.groupBy("d0").agg(F.count(F.lit(1)).alias("new_users"))
    cum = F.sum("new_users").over(W.orderBy("d0").rowsBetween(W.unboundedPreceding, 0))
    return per_day.select(
        F.date_format("d0", "yyyy-MM-dd").alias("day"),
        "new_users",
        cum.alias("cumulative_users"),
    ).orderBy("day")
