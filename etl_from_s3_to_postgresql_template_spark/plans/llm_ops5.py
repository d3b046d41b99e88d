"""Round-4 additions: semantic (embedding-cluster) dedup, incremental
partial-aggregate maintenance, the PQ-ADC similarity tier (+ recall
gate), deterministic curriculum ordering, and bounded BFS reachability
(the recursive-CTE query class).

Theme: the two jobs a 100 TB training-data pipeline reruns forever are
(a) pruning semantically-redundant documents (SemDeDup-style: cluster the
embedding space, compare only within a cluster — the cluster IS the
blocking key, so the pairwise term is O(sum c_i^2) with c_i bounded by
k growing with n, never O(n^2)), and (b) keeping rollups current without
rescanning the base (COUNT/SUM are algebraic: partials computed per
partition epoch merge exactly, so a daily delta folds into a materialized
aggregate in O(delta) — re-aggregation of 100 TB becomes re-aggregation
of one day).

Cluster assignment reuses the leakage scan's integer coarse-quantizer
(llm_ops4._leak_assigned): seeded int8-range centroids, BIGINT
distance arithmetic, so the DuckDB oracle replicates the blocking
bit-for-bit and both entries stay hash-exact.

Reference parity: the reference template has no embedding or rollup
surface (SURVEY §2 north-star extensions); closest analogue is its
drop_duplicates call (etl_pipeline.py:479-483), generalized here from
byte-equality to semantic equivalence classes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_from_s3_to_postgresql_template_spark.plans.llm_ops4 import (
    _LEAK_Q_SQL,
    _leak_assigned,
    _leak_lists_sql,
    _leakage_quantized,
)
from etl_from_s3_to_postgresql_template_spark.plans.registry import query
from etl_from_s3_to_postgresql_template_spark.sources.registry import load_table
from etl_from_s3_to_postgresql_template_spark.util import shared_subtree

__all__ = [
    "dedup_semantic_clusters",
    "incremental_agg_merge",
    "similarity_topk_ivfpq",
    "corpus_curriculum_order",
    "graph_token_bfs_reach",
    "similarity_ivfpq_recall_gate",
]

#: SemDeDup cosine threshold: pairs at or above it are semantic duplicates.
_SEM_TAU = 0.40

_SEM_ORACLE = (
    _LEAK_Q_SQL
    + _leak_lists_sql()
    + f"""
    , a AS (
      SELECT vec_id, q, nrm, CAST(dl[1].lid AS BIGINT) AS cluster_id FROM d
    ), p AS (
      SELECT hi.vec_id AS vec_id,
             MAX(CAST(list_dot_product(lo.q, hi.q) AS DOUBLE)
                 / sqrt(CAST(lo.nrm * hi.nrm AS DOUBLE))) AS max_cos
      FROM a lo JOIN a hi
        ON lo.cluster_id = hi.cluster_id AND lo.vec_id < hi.vec_id
      GROUP BY hi.vec_id
    )
    SELECT a.vec_id, a.cluster_id,
           COALESCE(p.max_cos >= {_SEM_TAU}, FALSE) AS is_semantic_dup,
           ROUND(p.max_cos, 6) AS max_cos_smaller
    FROM a LEFT JOIN p USING (vec_id)
    ORDER BY vec_id
    """
)


@query("dedup_semantic_clusters", oracle=_SEM_ORACLE)
def dedup_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: embedding-cosine near-dup pruning blocked by coarse
    k-means cells. Each vector is assigned to its nearest integer centroid
    (BIGINT argmin — the leakage scan's quantizer); cosine runs ONLY inside
    a cell, as an equi-join on cluster_id. A vector is a semantic duplicate
    when some LOWER-id cell-mate sits at cos >= tau — the keep-lowest-id
    convention makes the survivor set deterministic without a second pass.

    Scale shape: the cluster id is the blocking key, so the pairwise term
    is sum(c_i^2) over cell sizes, not n^2; production grows n_lists with
    the corpus (k ~ n/target_cell) and swaps the seeded centroids for
    fit_ivf_centroids output — assignment and join shape are unchanged.
    The cell-size cap story is minhash's (operators/dedup.py
    max_bucket_size): cap-and-report oversized cells before the join.
    """
    return semantic_dedup_frame(spark, sf_dir)


def semantic_dedup_frame(
    spark: SparkSession,
    sf_dir: str,
    centroids: list[list[int]] | None = None,
    tau: float = _SEM_TAU,
    max_cell_size: int | None = None,
    return_oversized: bool = False,
) -> DataFrame:
    """The parameterizable SemDeDup plan behind dedup_semantic_clusters:
    static oracle centroids by default; the scale path passes k ~
    n/target_cell centroids (tools/bench_docs_dedup.py measures exactly
    this). Quantize+assign and the pair dots run through the vectorized
    kernels (operators/intquant.py) — integer-exact, so the oracle is
    unaffected.

    ``max_cell_size`` is the same cap-and-report contract as minhash's
    max_bucket_size (operators/dedup.py): cells above the cap — a
    degenerate centroid or boilerplate mass that would reintroduce the
    c^2 blow-up — are EXCLUDED from pair generation (their members come
    out is_semantic_dup=false with null max_cos, exactly like singleton
    cells: no verdict, not a false one), and ``return_oversized=True``
    adds the (cluster_id, cell_size) report of what was skipped. The
    registered oracle entry runs uncapped — its k=16 fixture cells are
    tiny by construction."""
    from etl_from_s3_to_postgresql_template_spark.operators.intquant import cell_pair_max_cos
    from pyspark.sql import Window as W

    # localCheckpoint (lazy): the assignment pass (quantize + k-way argmin,
    # the expensive mapInPandas) feeds BOTH the pair term and the final
    # verdict join — without it Catalyst evaluates the kernel once per
    # subtree occurrence (measured 3x = ~520 s redundant executor time at
    # 200k vectors, k=1600; SCALING.md round 5).
    a = (
        _leak_assigned(spark, sf_dir, centroids=centroids)
        .select("vec_id", "q", "nrm", F.element_at("lids", 1).cast("long").alias("cluster_id"))
        .transform(shared_subtree)
    )
    paired = a
    if max_cell_size is not None:
        cell_w = W.partitionBy("cluster_id")
        paired = (
            a.withColumn("cell_size", F.count(F.lit(1)).over(cell_w))
            .where(F.col("cell_size") <= max_cell_size)
            .drop("cell_size")
        )
    # Pair term as a grouped blocked gemm: one shuffle of the VECTORS on
    # the cell key instead of one pair row per candidate (the join form
    # shipped both q arrays per pair — measured 798 s executor time /
    # ~12.5M pair rows at 200k vectors, k=1600; bit-identical, see
    # cell_pair_max_cos).
    pair_max = cell_pair_max_cos(paired)
    out = (
        a.join(pair_max, "vec_id", "left")
        .select(
            "vec_id",
            "cluster_id",
            F.coalesce(F.col("max_cos") >= tau, F.lit(False)).alias("is_semantic_dup"),
            F.round("max_cos", 6).alias("max_cos_smaller"),
        )
        .orderBy("vec_id")
    )
    if not return_oversized:
        return out
    oversized = (
        a.groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("cell_size"))
        .filter(F.col("cell_size") > (max_cell_size if max_cell_size is not None else 2**62))
    )
    return out, oversized


@query(
    "incremental_agg_merge",
    oracle="""
    SELECT o_custkey,
           COUNT(*) AS n_orders,
           ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,6))), 2) :: DOUBLE
             AS total_spend,
           strftime(MIN(o_orderdate), '%Y-%m-%d') AS first_order,
           strftime(MAX(o_orderdate), '%Y-%m-%d') AS last_order
    FROM orders
    GROUP BY o_custkey
    ORDER BY o_custkey
    """,
)
def incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental rollup maintenance: the per-customer lifetime rollup is
    computed as BASE PARTIAL (orders before 1997) merged with DELTA PARTIAL
    (1997 onward) — never as one scan. COUNT/SUM/MIN/MAX are algebraic, so
    merging partials is exact and the result is hash-identical to the
    oracle's flat GROUP BY over all rows: the proof that a materialized
    100 TB rollup can absorb a daily delta in O(delta) instead of a
    full rescan. (AVG-class measures derive from merged SUM/COUNT; the
    non-mergeable exact measures — MEDIAN, DISTINCT — are the ones that
    force sketches, plans/llm_ops3.py.)

    Scale shape: each partial is a map-side-combined groupBy on its own
    (date-pruned) partition set; the merge shuffles pre-aggregated rows
    (one per customer per epoch), not raw orders.
    """
    from etl_from_s3_to_postgresql_template_spark.plans.money import _dec

    orders = load_table(spark, sf_dir, "orders")
    split = F.lit("1997-01-01").cast("timestamp")

    def partial(df: DataFrame) -> DataFrame:
        # partials stay EXACT decimals — rounding happens once, after the
        # merge, or repeated folds would accumulate rounding drift
        return df.groupBy("o_custkey").agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(_dec(F.col("o_totalprice"))).alias("total_spend"),
            F.min("o_orderdate").alias("first_order"),
            F.max("o_orderdate").alias("last_order"),
        )

    base = partial(orders.where(F.col("o_orderdate") < split))
    delta = partial(orders.where(F.col("o_orderdate") >= split))
    return (
        base.unionByName(delta)
        .groupBy("o_custkey")
        .agg(
            F.sum("n_orders").alias("n_orders"),
            F.round(F.sum("total_spend"), 2).cast("double").alias("total_spend"),
            F.min("first_order").alias("first_order"),
            F.max("last_order").alias("last_order"),
        )
        .select(
            "o_custkey",
            "n_orders",
            "total_spend",
            F.date_format("first_order", "yyyy-MM-dd").alias("first_order"),
            F.date_format("last_order", "yyyy-MM-dd").alias("last_order"),
        )
        .orderBy("o_custkey")
    )


# ---------------------------------------------------------------------------
# IVF-PQ: product-quantized ADC scoring, the memory-bound tier of the ANN
# stack (bruteforce -> LSH/IVF candidate gen -> int8/Hamming rerank ->
# PQ codes). 64-dim int8 vector -> 8 subspaces x 4-bit code = 8 bytes per
# vector: the index that keeps a billion vectors in executor memory.
# ---------------------------------------------------------------------------

_PQ_M = 8  # subspaces
_PQ_DSUB = 8  # dims per subspace (8 x 8 = 64)
_PQ_K = 16  # codewords per subspace (4-bit codes)
_PQ_NCAND = 32  # ADC candidates per query fed to the exact rerank
_PQ_TOPK = 10


def _pq_codebooks(seed: int = 11) -> list[list[list[int]]]:
    """Seeded INTEGER codebooks, [M][K][DSUB] in the int8 range — same
    static-artifact rationale as the leakage scan's coarse quantizer
    (llm_ops4._leakage_centroids): BIGINT encode/ADC arithmetic is
    bit-identical in Spark and DuckDB, so the oracle replicates code
    assignment AND scoring exactly. Production fits these per-subspace
    with k-means (fit_ivf_centroids run M times on subvector slices) and
    ships them as a few-KB artifact; the query plan is unchanged."""
    import numpy as np

    rng = np.random.default_rng(seed)
    cb = rng.integers(-64, 65, size=(_PQ_M, _PQ_K, _PQ_DSUB))
    return [[[int(x) for x in cw] for cw in sub] for sub in cb]


_PQ_CB = _pq_codebooks()


def _pq_oracle() -> str:
    subs = ", ".join(
        f"q[{m * _PQ_DSUB + 1}:{(m + 1) * _PQ_DSUB}] AS s{m}" for m in range(_PQ_M)
    )
    enc_cols = []
    for m in range(_PQ_M):
        structs = []
        for k in range(_PQ_K):
            lits = "[" + ", ".join(str(v) for v in _PQ_CB[m][k]) + "]::BIGINT[]"
            cc = sum(v * v for v in _PQ_CB[m][k])
            # argmin over ||sub - c||^2; the dot(sub,sub) term is constant
            # per row so cc - 2<sub,c> preserves the argmin; ties -> lowest k
            structs.append(
                f"struct_pack(d2 := CAST({cc} - 2 * list_dot_product(s{m}, {lits}) AS BIGINT),"
                f" k := {k})"
            )
        enc_cols.append(f"list_sort([{', '.join(structs)}])[1].k AS c{m}")
    cb_lits = [
        "["
        + ", ".join("[" + ", ".join(str(v) for v in _PQ_CB[m][k]) + "]" for k in range(_PQ_K))
        + "]::BIGINT[][]"
        for m in range(_PQ_M)
    ]
    adc = " + ".join(
        f"list_dot_product(t{m}, ({cb_lits[m]})[c{m} + 1])" for m in range(_PQ_M)
    )
    qry_subs = ", ".join(f"s{m} AS t{m}" for m in range(_PQ_M))
    enc_list = ", ".join(f"c{m}" for m in range(_PQ_M))
    return (
        _LEAK_Q_SQL
        + f"""
    , s AS (SELECT vec_id, q, {subs} FROM n)
    , enc AS (SELECT vec_id, q, {', '.join(enc_cols)} FROM s)
    , qry AS (SELECT vec_id AS q_id, q AS qq, {qry_subs} FROM s WHERE vec_id < 5)
    , scored AS (
        SELECT qry.q_id, enc.vec_id AS n_id, enc.q AS nq, qry.qq,
               CAST({adc} AS BIGINT) AS adc
        FROM qry, enc
    ), cand AS (
        SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY adc DESC, n_id) AS arn
        FROM scored
    ), rr AS (
        SELECT q_id, n_id, adc,
               CAST(list_dot_product(qq, nq) AS BIGINT) AS int_dot
        FROM cand WHERE arn <= {_PQ_NCAND}
    ), ranked AS (
        SELECT q_id, n_id, adc, int_dot,
               CAST(row_number() OVER (PARTITION BY q_id ORDER BY int_dot DESC, n_id) AS BIGINT)
                 AS rank
        FROM rr
    )
    SELECT q_id, n_id, adc, int_dot, rank FROM ranked
    WHERE rank <= {_PQ_TOPK} ORDER BY q_id, rank
    """
    )


@query("similarity_topk_ivfpq", oracle=_pq_oracle())
def similarity_topk_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-ADC approximate top-k with exact int8 rerank.

    Corpus vectors are product-quantized: each 8-dim subvector maps to its
    nearest of 16 integer codewords (BIGINT argmin, lowest-k ties), so a
    vector is 8 codes. ADC scores a (query, vector) pair from codes alone —
    sum over subspaces of <query subvector, codeword> — a table lookup, no
    full-vector access; the top-32 ADC candidates per query are then
    reranked by the exact int8 dot product and the top-10 returned.

    Scale shape: the scoring pass touches only the 8-byte codes (a
    billion-vector index fits in executor memory; the full vectors stay in
    parquet); queries broadcast, the corpus never shuffles, and full
    vectors are fetched — an equi-join on n_id — for 32 rows per query,
    not N. Everything is integer arithmetic, so candidate sets, rerank
    order, and every output column are cross-engine hash-exact.
    """
    from pyspark.sql import Window as W

    from etl_from_s3_to_postgresql_template_spark.operators.intquant import (
        dot_long,
        make_adc_udf,
        pq_encode,
    )

    # quant feeds the PQ encode, the query slice AND the exact-rerank
    # vector fetch — the lazy checkpoint runs the int8 quantize kernel
    # once instead of once per consumer (r12; the winnowing pair-join
    # precedent)
    quant = (
        _leakage_quantized(spark, sf_dir)
        .select("vec_id", "q")
        .transform(shared_subtree)
    )
    # encode: vectorized per-subspace argmin (operators/intquant.py — the
    # expression-tree form is interpreted HOF eval, measured bottleneck)
    enc = pq_encode(quant, _PQ_CB).select(F.col("vec_id").alias("n_id"), "codes")

    qry = quant.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("q").alias("qq")
    )

    scored = enc.join(F.broadcast(qry), how="cross").withColumn(
        "adc", make_adc_udf(_PQ_CB)("qq", "codes")
    )
    cand = (
        scored.withColumn(
            "arn", F.row_number().over(W.partitionBy("q_id").orderBy(F.desc("adc"), "n_id"))
        )
        .where(F.col("arn") <= _PQ_NCAND)
        .select("q_id", "n_id", "adc")
    )
    # exact rerank touches full vectors for <= _PQ_NCAND rows per query
    reranked = (
        cand.join(quant.select(F.col("vec_id").alias("n_id"), F.col("q").alias("nq")), "n_id")
        .join(F.broadcast(qry.select("q_id", "qq")), "q_id")
        .withColumn("int_dot", dot_long("qq", "nq"))
        .withColumn(
            "rank",
            F.row_number()
            .over(W.partitionBy("q_id").orderBy(F.desc("int_dot"), "n_id"))
            .cast("long"),
        )
        .where(F.col("rank") <= _PQ_TOPK)
        .select("q_id", "n_id", "adc", "int_dot", "rank")
        .orderBy("q_id", "rank")
    )
    return reranked


@query(
    "corpus_curriculum_order",
    oracle=r"""
    WITH t AS (
      SELECT doc_id,
             CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
      FROM documents
    ), b AS (
      SELECT doc_id, n_tokens,
             CAST(ntile(4) OVER (ORDER BY n_tokens, doc_id) AS BIGINT) AS bucket,
             md5(CAST(doc_id AS VARCHAR) || ':42') AS h
      FROM t
    )
    SELECT doc_id, n_tokens, bucket,
           CAST(row_number() OVER (ORDER BY bucket, h, doc_id) AS BIGINT) AS train_order
    FROM b ORDER BY train_order
    """,
)
def corpus_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum training order: docs bucketed easy-to-hard (token-count
    quartiles — the classic length curriculum), deterministically shuffled
    WITHIN each bucket by a seeded content hash, then assigned one global
    train_order. Reproducibility is the contract: the order is a pure
    function of (corpus, seed) — no Spark rand(), no partition-order
    dependence — so a preempted training job resumes mid-epoch on the
    exact same sequence, and an A/B run holds data order fixed.

    Scale shape: one token-count projection, one quartile assignment, one
    global sort (range-partitioned, linear); downstream the order column
    rides into the shard writer (sinks/shards.py) as the file sort key.
    """
    from pyspark.sql import Window as W

    from etl_from_s3_to_postgresql_template_spark.functions.text import token_count_col

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", token_count_col(F.col("text")).alias("n_tokens"))
    b = t.select(
        "doc_id",
        "n_tokens",
        F.ntile(4).over(W.orderBy("n_tokens", "doc_id")).cast("long").alias("bucket"),
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":42"))).alias("h"),
    )
    return (
        b.withColumn(
            "train_order", F.row_number().over(W.orderBy("bucket", "h", "doc_id")).cast("long")
        )
        .select("doc_id", "n_tokens", "bucket", "train_order")
        .orderBy("train_order")
    )


@query(
    "graph_token_bfs_reach",
    oracle=r"""
    WITH RECURSIVE t AS (
      SELECT string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents
    ), bg AS (
      SELECT UNNEST(list_transform(range(len(toks) - 1),
             i -> {'w1': toks[i+1], 'w2': toks[i+2]})) AS s
      FROM t WHERE len(toks) >= 2
    ), e AS (
      SELECT DISTINCT s.w1 AS src, s.w2 AS dst FROM bg
    ), walk(tok, depth) AS (
      SELECT 'spark', 0
      UNION
      SELECT e.dst, walk.depth + 1
      FROM walk JOIN e ON e.src = walk.tok
      WHERE walk.depth < 3
    )
    SELECT tok, CAST(MIN(depth) AS BIGINT) AS depth
    FROM walk GROUP BY tok ORDER BY depth, tok
    """,
)
def graph_token_bfs_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive-CTE-class query: min-hop BFS reachability (<= 3 hops) from
    a seed token over the bigram co-occurrence graph. Spark has no WITH
    RECURSIVE; the equivalent is the standard bounded frontier loop — each
    hop is one equi-join frontier x edges plus an anti-join against the
    visited set, and BFS's first-visit-is-min-depth invariant makes the
    result identical to the oracle's MIN(depth) GROUP BY. The driver loop
    holds only DataFrame handles (depth is a literal per hop); data never
    leaves the cluster.

    Scale shape: per-hop cost is one shuffle of the frontier against an
    edge list partitioned by src — the iterative-join pattern every
    distributed graph engine reduces to; unbounded traversals add
    per-round localCheckpoint exactly like operators/dedup.py's
    connected-components loop.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.split(F.lower(F.trim("text")), r"\s+").alias("toks")).where(
        F.size("toks") >= 2
    )
    grams = toks.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("toks") - 2),
                lambda i: F.struct(
                    F.element_at("toks", i + 1).alias("src"),
                    F.element_at("toks", i + 2).alias("dst"),
                ),
            )
        ).alias("s")
    )
    edges = grams.select("s.src", "s.dst").distinct()

    frontier = spark.createDataFrame([("spark", 0)], "tok string, depth int")
    visited = frontier
    for d in (1, 2, 3):
        nxt = (
            frontier.join(edges, frontier["tok"] == edges["src"])
            .select(F.col("dst").alias("tok"), F.lit(d).alias("depth"))
            .distinct()
            .join(visited.select("tok"), "tok", "left_anti")
        )
        visited = visited.unionByName(nxt)
        frontier = nxt
    return visited.select("tok", F.col("depth").cast("long").alias("depth")).orderBy(
        "depth", "tok"
    )


@query(
    "similarity_ivfpq_recall_gate",
    oracle="SELECT CAST(5 AS BIGINT) AS n_queries, TRUE AS recall_ok",
)
def similarity_ivfpq_recall_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality gate for the PQ tier: mean recall@10 of ADC-candidates +
    exact rerank vs the TRUE exact-int8-dot top-10 must clear the floor.
    Both sides are deterministic (seeded codebooks, integer arithmetic,
    fixed tie-breaks), so the one-row verdict hash-matches a constant
    oracle — same contract as the LSH/IVF recall gates (plans/llm_ops3).
    What it quantifies: how much ranking quality the 8-byte-per-vector
    compression gives up at NCAND=32 candidates."""
    from pyspark.sql import Window as W

    from etl_from_s3_to_postgresql_template_spark.operators.intquant import dot_long

    approx = similarity_topk_ivfpq(spark, sf_dir).select("q_id", "n_id")

    # quant feeds the PQ encode, the query slice AND the exact-rerank
    # vector fetch — the lazy checkpoint runs the int8 quantize kernel
    # once instead of once per consumer (r12; the winnowing pair-join
    # precedent)
    quant = (
        _leakage_quantized(spark, sf_dir)
        .select("vec_id", "q")
        .transform(shared_subtree)
    )
    qry = quant.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("q").alias("qq")
    )
    corp = quant.select(F.col("vec_id").alias("n_id"), F.col("q").alias("nq"))
    exact = (
        corp.join(F.broadcast(qry), how="cross")
        .withColumn("int_dot", dot_long("qq", "nq"))
        .withColumn(
            "rank", F.row_number().over(W.partitionBy("q_id").orderBy(F.desc("int_dot"), "n_id"))
        )
        .where(F.col("rank") <= 10)
        .select("q_id", "n_id")
    )
    hits = (
        exact.join(approx.withColumn("__hit", F.lit(1)), ["q_id", "n_id"], "left")
        .groupBy("q_id")
        .agg((F.sum("__hit") / F.count(F.lit(1))).alias("recall"))
    )
    return hits.agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        # floor matches the LSH gate's 0.3 (llm_ops3): random codebooks at
        # NCAND=32/500 measure ~0.42 mean recall on the fixture; fitted
        # codebooks + larger NCAND raise it at scale
        (F.avg(F.coalesce(F.col("recall"), F.lit(0.0))) >= F.lit(0.3)).alias("recall_ok"),
    )
