"""Round-3 (second wave) additions: physical-layout analytics and the
remaining window-function surface.

Theme: at 100 TB the dominant cost is the SCAN, and the two levers a lake
engine has are (a) file-level zone maps (min/max skipping) and (b)
multi-dimensional clustering (Z-order) so those zone maps stay tight on
more than one column. Neither needs a new execution primitive — both are
plain aggregations over a layout key — so they are expressed as ordinary
DataFrame plans with DuckDB oracle twins, and the "skip estimate" output
is the number a table-maintenance job would use to decide whether a
rewrite pays for itself.

All arithmetic here is integer or DECIMAL-accumulated (plans/money.py
discipline), so every query is cross-engine hash-exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_from_s3_to_postgresql_template_spark.operators.dedup import (
    SHINGLES_SQL,
    shingle_overlap,
    shingle_sets,
)
from etl_from_s3_to_postgresql_template_spark.plans.money import _dsum
from etl_from_s3_to_postgresql_template_spark.plans.registry import query
from etl_from_s3_to_postgresql_template_spark.sources.registry import load_table
from etl_from_s3_to_postgresql_template_spark.util import shared_subtree

__all__ = [
    "window_rank_suite",
    "events_tiered_rollup",
    "events_zone_map_skip",
    "events_zorder_layout",
]


@query(
    "window_rank_suite",
    oracle="""
    SELECT o_orderkey, o_orderpriority,
           percent_rank() OVER w AS pct_rank,
           cume_dist() OVER w AS cume,
           nth_value(o_totalprice, 2) OVER w AS second_price,
           CAST(ntile(4) OVER w AS INTEGER) AS quartile
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1995-01-01'
      AND o_orderdate < TIMESTAMP '1995-04-01'
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
    ORDER BY o_orderpriority, o_totalprice, o_orderkey
    """,
)
def window_rank_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 completion: the rank-family window functions not yet covered by
    the registry (percent_rank / cume_dist / nth_value / ntile in one
    window). Ordering includes the unique o_orderkey so every function is
    deterministic; percent_rank and cume_dist are exact rationals evaluated
    with one double division in both engines, so the hashes match without
    rounding. One shuffle on the partition key — Catalyst evaluates all
    four functions in a single Window physical node (one sort, one pass)."""
    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return (
        orders.where(
            (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1995-04-01").cast("timestamp"))
        )
        .select(
            "o_orderkey",
            "o_orderpriority",
            F.percent_rank().over(w).alias("pct_rank"),
            F.cume_dist().over(w).alias("cume"),
            F.nth_value("o_totalprice", 2).over(w).alias("second_price"),
            F.ntile(4).over(w).alias("quartile"),
        )
        .orderBy("o_orderpriority", "pct_rank", "o_orderkey")
    )


@query(
    "events_tiered_rollup",
    oracle="""
    WITH cutoff AS (
      SELECT date_trunc('day', MAX(ts)) - INTERVAL 6 DAY AS recent_start FROM events
    ),
    hourly AS (
      SELECT 'hour' AS granularity, date_trunc('hour', e.ts) AS bucket_ts,
             COUNT(*) AS n_events, COUNT(DISTINCT e.user_id) AS n_users,
             CAST(ROUND(SUM(CAST(e."value" AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_value
      FROM events e, cutoff c
      WHERE e.ts >= c.recent_start
      GROUP BY bucket_ts
    ),
    daily AS (
      SELECT 'day' AS granularity, date_trunc('day', e.ts) AS bucket_ts,
             COUNT(*) AS n_events, COUNT(DISTINCT e.user_id) AS n_users,
             CAST(ROUND(SUM(CAST(e."value" AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_value
      FROM events e, cutoff c
      WHERE e.ts < c.recent_start
      GROUP BY bucket_ts
    )
    SELECT * FROM hourly UNION ALL SELECT * FROM daily
    ORDER BY granularity, bucket_ts
    """,
)
def events_tiered_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention-policy rollup (hypertable-style continuous aggregate):
    the trailing 7 days keep hourly resolution, everything older is
    downsampled to daily — the standard storage/latency trade for a
    metrics lake. The cutoff is a 1-row aggregate cross-joined in
    (broadcast by AQE; the one case the no-hint discipline allows), then
    each tier is a single partial-agg shuffle over its slice; the two
    tiers read disjoint row sets so total scan cost equals one pass.
    Value sums are DECIMAL-accumulated for cross-engine exactness."""
    events = load_table(spark, sf_dir, "events")
    cutoff = events.agg(
        (F.date_trunc("day", F.max("ts")) - F.expr("INTERVAL 6 DAYS")).alias("recent_start")
    )
    with_cut = events.crossJoin(cutoff)

    def tier(df: DataFrame, granularity: str, trunc: str) -> DataFrame:
        return df.groupBy(F.date_trunc(trunc, "ts").alias("bucket_ts")).agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            _dsum(F.col("value")).alias("sum_value"),
        ).select(F.lit(granularity).alias("granularity"), "*")

    hourly = tier(with_cut.where(F.col("ts") >= F.col("recent_start")), "hour", "hour")
    daily = tier(with_cut.where(F.col("ts") < F.col("recent_start")), "day", "day")
    return hourly.unionByName(daily).orderBy("granularity", "bucket_ts")


@query(
    "events_zone_map_skip",
    oracle="""
    WITH zones AS (
      SELECT CAST(event_id // 500 AS BIGINT) AS zone_id,
             MIN(ts) AS min_ts, MAX(ts) AS max_ts, COUNT(*) AS n_rows
      FROM events GROUP BY zone_id
    )
    SELECT zone_id, min_ts, max_ts, n_rows,
           NOT (min_ts < TIMESTAMP '2024-01-16'
                AND max_ts >= TIMESTAMP '2024-01-15') AS skippable
    FROM zones ORDER BY zone_id
    """,
)
def events_zone_map_skip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-level zone maps (data skipping): per 500-row zone (standing in
    for a parquet row-group/file), the min/max timestamp plus whether a
    `ts on 2024-01-15` predicate could skip the zone entirely. This is the
    statistic a 100 TB lake lives on — the maintenance job compares
    skippable-fraction before/after a layout rewrite (see
    events_zorder_layout) and the planner uses the same interval test the
    parquet reader applies to row-group stats. One partial-agg shuffle on
    the zone key; no data rows leave the executors."""
    events = load_table(spark, sf_dir, "events")
    lo = F.lit("2024-01-15").cast("timestamp")
    hi = F.lit("2024-01-16").cast("timestamp")
    return (
        # integer `div`, not double-divide-then-cast: double arithmetic
        # loses exactness above 2^53; `div` matches DuckDB's integer `//`
        # (both truncate toward zero, incl. negative ids) at any magnitude
        events.groupBy(F.expr("event_id div 500").alias("zone_id"))
        .agg(
            F.min("ts").alias("min_ts"),
            F.max("ts").alias("max_ts"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .select(
            "zone_id",
            "min_ts",
            "max_ts",
            "n_rows",
            (~((F.col("min_ts") < hi) & (F.col("max_ts") >= lo))).alias("skippable"),
        )
        .orderBy("zone_id")
    )


def _morton_terms(x: str, y: str, bits: int, spark_side: bool) -> str:
    """Emit the 2*bits-term bit-interleave sum for Morton (Z-order) codes.

    Generated as explicit text for each engine so both compute the same
    pure-integer expression: Spark via shiftright/shiftleft/& , DuckDB via
    its >> << & operators. No floats anywhere -> hash-exact."""
    terms = []
    for i in range(bits):
        if spark_side:
            terms.append(f"shiftleft(shiftright({x}, {i}) & 1, {2 * i})")
            terms.append(f"shiftleft(shiftright({y}, {i}) & 1, {2 * i + 1})")
        else:
            terms.append(f"((({x} >> {i}) & 1) << {2 * i})")
            terms.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


_ZORDER_ORACLE = f"""
    WITH keyed AS (
      SELECT event_id, user_id AS x,
             CAST(floor("value" / 2.0) AS BIGINT) AS y
      FROM events
    ), coded AS (
      SELECT event_id, x, y,
             CAST({_morton_terms('x', 'y', 9, spark_side=False)} AS BIGINT) AS zval
      FROM keyed
    ), bucketed AS (
      SELECT x, y, CAST(ntile(16) OVER (ORDER BY zval, event_id) AS BIGINT) AS zbucket
      FROM coded
    )
    SELECT zbucket, COUNT(*) AS n_rows,
           MIN(x) AS min_x, MAX(x) AS max_x, MIN(y) AS min_y, MAX(y) AS max_y,
           CAST((MAX(x) - MIN(x) + 1) * (MAX(y) - MIN(y) + 1) AS BIGINT) AS bbox_area
    FROM bucketed GROUP BY zbucket ORDER BY zbucket
"""


@query("events_zorder_layout", oracle=_ZORDER_ORACLE)
def events_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering for multi-column data skipping: interleave
    the bits of (user_id, value-band), sort into 16 equal buckets (stand-ins
    for output files), and report each bucket's bounding box. The payoff at
    100 TB: a 1-D sort gives tight zone maps on ONE column; Z-order keeps
    BOTH per-file min/max ranges narrow, so predicates on either column
    skip files (bbox_area is the figure of merit vs a linear layout).

    The Morton code is a generated 36-term integer expression (9 bits/dim:
    user_id <= 149, value/2 <= 245) — pure BIGINT ops, hash-exact vs the
    oracle. ntile's global sort is the same sort the layout rewrite itself
    needs (sinks/compact.py sort_by), so the plan cost IS the rewrite cost;
    the single-partition window is acceptable because ntile assigns file
    boundaries — production would use repartitionByRange on zval (same
    ordering, distributed) as compact.py does."""
    events = load_table(spark, sf_dir, "events")
    keyed = events.select(
        "event_id",
        F.col("user_id").alias("x"),
        F.floor(F.col("value") / 2.0).cast("long").alias("y"),
    )
    coded = keyed.withColumn(
        "zval", F.expr(_morton_terms("x", "y", 9, spark_side=True)).cast("long")
    )
    zbucket = F.ntile(16).over(W.orderBy("zval", "event_id")).cast("long")
    return (
        coded.select("x", "y", zbucket.alias("zbucket"))
        .groupBy("zbucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("x").alias("min_x"),
            F.max("x").alias("max_x"),
            F.min("y").alias("min_y"),
            F.max("y").alias("max_y"),
        )
        .withColumn(
            "bbox_area",
            ((F.col("max_x") - F.col("min_x") + 1) * (F.col("max_y") - F.col("min_y") + 1)).cast(
                "long"
            ),
        )
        .orderBy("zbucket")
    )


__all__ += [
    "docs_repeated_spans",
    "split_leakage_scan",
    "split_leakage_scan_exact",
    "split_leakage_recall_gate",
    "tokens_heavy_hitters_gate",
]


@query(
    "docs_repeated_spans",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t FROM documents
    ), g AS (
      SELECT doc_id, j AS pos, md5(array_to_string(t[j:j+7], ' ')) AS gm
      FROM toks, LATERAL (SELECT UNNEST(generate_series(1, len(t) - 7)) AS j)
      WHERE len(t) >= 8
    ), dup AS (
      SELECT gm FROM g GROUP BY gm HAVING COUNT(DISTINCT doc_id) >= 2
    ), hits AS (
      SELECT doc_id, pos FROM g WHERE gm IN (SELECT gm FROM dup)
    ), isl AS (
      SELECT doc_id, pos,
             pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      FROM hits
    )
    SELECT doc_id, MIN(pos) AS span_start,
           MAX(pos) - MIN(pos) + 8 AS span_tokens,
           COUNT(*) AS n_dup_grams
    FROM isl GROUP BY doc_id, grp
    ORDER BY doc_id, span_start
    """,
)
def docs_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr-style repeated-span detection (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better") at token
    granularity: find every maximal token span whose 8-gram windows all
    occur in at least one OTHER document. Downstream either trims the span
    or drops the doc — this is the operator behind "remove any substring
    repeated verbatim across the corpus".

    Spark shape: position-indexed 8-grams via one anchored-lookahead
    regexp_extract_all (codegen; no UDF, no HOF), 8-byte xxhash64 gram
    keys, one window over the gram key for the cross-doc test, one window
    to merge adjacent hits into maximal spans (islands: pos -
    row_number). Grams shuffle once; documents never shuffle whole. At
    500k docs the ~100M-row gram shuffle+window IS the cost (~440 s,
    ratio ~110 at 100x data = linear); sub-linear ExactSubstr needs
    suffix-array machinery outside a shuffle engine's vocabulary.

    Reference scope note: the reference pipeline has no dedup at all
    (etl_pipeline.py drops exact-duplicate rows only via pandas
    drop_duplicates, line ~430); this is north-star E1 surface."""
    docs = load_table(spark, sf_dir, "documents", parallel=True)
    n = 8
    # Positioned 8-grams via ONE anchored-lookahead regexp_extract_all
    # over lowercased whitespace-normalized text (the shingles_col trick,
    # functions/text.py): the pattern consumes a token boundary and
    # captures the next 8 tokens, so array index == token position and
    # the md5 runs as a plain codegen projection AFTER the explode. The
    # previous transform(sequence)+slice+concat form was an interpreted
    # HOF eval per position — the measured bulk of this query's 418 s at
    # 500k docs. Gram strings are byte-identical (space-joined lowercase
    # tokens; lowercasing whole text == lowercasing per token because the
    # preserved spaces give Java's context-sensitive case rules the same
    # word boundaries), so the oracle is unchanged.
    norm = F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " "))
    pat = r"(?:^| )(?=(\S+" + r" \S+" * (n - 1) + r"))"
    gram_strs = F.when(
        F.length(norm) > 0, F.regexp_extract_all(norm, F.lit(pat), F.lit(1))
    ).otherwise(F.array().cast("array<string>"))
    # 8-byte xxhash64 gram keys, not md5 strings: the key is INTERNAL
    # (output never exposes it), the gram shuffle is this query's dominant
    # cost (~100M rows at 500k docs), and the narrow key cuts both the
    # hash compute and the shuffle width ~2.5x. Same mod-2^-64 collision
    # stance as dedup_exact_hashed; the oracle keys grams by their string
    # value, so results agree except under a 64-bit collision (expected
    # <<1 even at the 500k-doc stress scale).
    #
    # posexplode the EXPRESSION, not a projected alias (r12): with the
    # alias form, InferFiltersFromGenerate + pushdown rewrote the plan to
    # evaluate the regex chain 4x per row (size>=1 from the old explicit
    # where, inferred size>0 + isnotnull, then the projection itself);
    # explode drops empty/null arrays anyway, and the direct form plans
    # exactly ONE regexp_extract_all per row (plans/r12 before/after).
    grams = docs.select(
        "doc_id", F.posexplode(gram_strs).alias("pos0", "gs")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), F.xxhash64("gs").alias("gm"))
    # Cross-doc test as a whole-partition window over the gram key
    # (min(doc_id) != max(doc_id)  <=>  >=2 distinct docs): the gram
    # explode materializes ONCE and shuffles once, instead of the
    # groupBy-then-rejoin form that scans and explodes the corpus twice.
    wg = W.partitionBy("gm")
    hits = (
        grams.withColumn(
            "is_dup", F.min("doc_id").over(wg) != F.max("doc_id").over(wg)
        )
        .where(F.col("is_dup"))
        .select("doc_id", "pos")
    )
    grp = F.col("pos") - F.row_number().over(W.partitionBy("doc_id").orderBy("pos"))
    return (
        hits.withColumn("grp", grp)
        .groupBy("doc_id", "grp")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") - F.min("pos") + n).alias("span_tokens"),
            F.count(F.lit(1)).alias("n_dup_grams"),
        )
        .select("doc_id", "span_start", "span_tokens", "n_dup_grams")
        .orderBy("doc_id", "span_start")
    )


def _leakage_centroids(n_lists: int = 16, dim: int = 64, seed: int = 7) -> list[list[int]]:
    """Seeded INTEGER coarse-quantizer centroids for the leakage scan's IVF
    blocking. Integers in the int8 range make list assignment pure BIGINT
    arithmetic — bit-identical in Spark and DuckDB, so the oracle can
    replicate the blocking exactly (no float-argmin tie hazard). Random
    centroids (vs fitted k-means) keep the artifact static at import time,
    which is what lets the DuckDB oracle inline them; swap in
    operators/similarity.py::fit_ivf_centroids output for a production
    corpus where list balance matters."""
    import numpy as np

    rng = np.random.default_rng(seed)
    return [[int(x) for x in row] for row in rng.integers(-127, 128, size=(n_lists, dim))]


_LEAK_CENTROIDS = _leakage_centroids()
_LEAK_N_PROBE = 4

# Shared oracle CTE prefix: per-vector int8 quantization + BIGINT self-dot.
_LEAK_Q_SQL = """
    WITH m AS (
      SELECT vec_id,
             list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS max_abs
      FROM embeddings
    ), q8 AS (
      SELECT e.vec_id,
             substring(md5(CAST(e.vec_id AS VARCHAR)), 1, 1) IN ('0', '1') AS is_holdout,
             list_transform(e.embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * (127.0 / m.max_abs) + 0.5) AS BIGINT)) AS q
      FROM embeddings e JOIN m USING (vec_id) WHERE m.max_abs > 0
    ), n AS (
      SELECT vec_id, is_holdout, q,
             CAST(list_dot_product(q, q) AS BIGINT) AS nrm FROM q8
    )"""


def _leak_lists_sql() -> str:
    """CTE extending ``n`` with the sorted (d2, lid) centroid-distance list.
    d2 = |q|^2 - 2<q,c> + |c|^2 with |c|^2 precomputed per centroid — all
    BIGINT, so list_sort's (d2, lid) lexicographic order is exact."""
    structs = []
    for i, c in enumerate(_LEAK_CENTROIDS):
        lits = "[" + ", ".join(str(v) for v in c) + "]::BIGINT[]"
        cc = sum(v * v for v in c)
        structs.append(
            f"struct_pack(d2 := CAST(nrm - 2 * list_dot_product(q, {lits}) + {cc} AS BIGINT), "
            f"lid := {i})"
        )
    return (
        ", d AS (SELECT vec_id, is_holdout, q, nrm, list_sort(["
        + ", ".join(structs)
        + "]) AS dl FROM n)"
    )


_LEAK_BLOCKED_ORACLE = (
    _LEAK_Q_SQL
    + _leak_lists_sql()
    + f"""
    , t AS (
      SELECT vec_id AS train_id, q AS qt, nrm AS nt, dl[1].lid AS list_id
      FROM d WHERE NOT is_holdout
    ), h AS (
      SELECT vec_id AS holdout_id, q AS qh, nrm AS nh,
             UNNEST(list_transform(dl[1:{_LEAK_N_PROBE}], s -> s.lid)) AS list_id
      FROM d WHERE is_holdout
    ), p AS (
      SELECT holdout_id, train_id,
             CAST(list_dot_product(qh, qt) AS BIGINT) AS int_dot,
             CAST(list_dot_product(qh, qt) AS DOUBLE)
               / sqrt(CAST(nh * nt AS DOUBLE)) AS cos_q
      FROM h JOIN t USING (list_id)
    )
    SELECT holdout_id, train_id, int_dot, ROUND(cos_q, 6) AS cos_q
    FROM p WHERE cos_q >= 0.40
    ORDER BY holdout_id, train_id
    """
)

_LEAK_EXACT_ORACLE = (
    _LEAK_Q_SQL
    + """
    , p AS (
      SELECT h.vec_id AS holdout_id, t.vec_id AS train_id,
             CAST(list_dot_product(h.q, t.q) AS BIGINT) AS int_dot,
             CAST(list_dot_product(h.q, t.q) AS DOUBLE)
               / sqrt(CAST(h.nrm * t.nrm AS DOUBLE)) AS cos_q
      FROM n h JOIN n t ON h.is_holdout AND NOT t.is_holdout
    )
    SELECT holdout_id, train_id, int_dot, ROUND(cos_q, 6) AS cos_q
    FROM p WHERE cos_q >= 0.40
    ORDER BY holdout_id, train_id
    """
)


def _leakage_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of the ``n`` CTE: (vec_id, is_holdout, q: array<long>,
    nrm: long). One Arrow-batched mapInPandas pass (operators/intquant.py
    — the HOF expression form is interpreted, not codegen'd, and became
    the measured bottleneck at 200k vectors); arithmetic is bit-identical
    and the oracle is unchanged. No shuffle."""
    from etl_from_s3_to_postgresql_template_spark.operators.intquant import quantize_int8

    emb = load_table(spark, sf_dir, "embeddings")
    return quantize_int8(emb).select(
        "vec_id",
        F.substring(F.md5(F.col("vec_id").cast("string")), 1, 1)
        .isin("0", "1")
        .alias("is_holdout"),
        "q",
        "nrm",
    )


def _leak_assigned(
    spark: SparkSession, sf_dir: str, centroids: list[list[int]] | None = None
) -> DataFrame:
    """Quantize + centroid-list assignment in ONE vectorized pass: the
    Spark twin of the ``d`` CTE with ``lids[i]`` standing in for
    ``dl[i+1].lid`` (same (d2, lid) lexicographic order — stable argsort
    over the BIGINT |q|^2 - 2<q,c> + |c|^2 distances). ``centroids``
    defaults to the static oracle artifact; the scale path passes fitted
    centroids with k ~ n/target_cell."""
    from etl_from_s3_to_postgresql_template_spark.operators.intquant import quantize_int8

    emb = load_table(spark, sf_dir, "embeddings")
    return quantize_int8(emb, centroids=centroids or _LEAK_CENTROIDS).select(
        "vec_id",
        F.substring(F.md5(F.col("vec_id").cast("string")), 1, 1)
        .isin("0", "1")
        .alias("is_holdout"),
        "q",
        "nrm",
        "lids",
    )


def _leak_blocked_pairs(
    spark: SparkSession, sf_dir: str, centroids: list[list[int]] | None = None
) -> DataFrame:
    """IVF-blocked candidate generation + exact int8 rescore (shared by the
    registered scan and the recall gate). Train vectors land in exactly one
    list; holdout probes the nearest _LEAK_N_PROBE lists, so each pair is
    produced at most once — no dropDuplicates needed. The pair join is an
    equi-join on list_id: shuffle-partitioned, no cross join anywhere.
    ``centroids`` defaults to the static oracle artifact; the scale path
    passes k ~ n/target_cell centroids."""
    from etl_from_s3_to_postgresql_template_spark.operators.intquant import cogroup_pair_scores

    # localCheckpoint (lazy): hold and train both derive from the same
    # quantize+assign mapInPandas — one materialization instead of one
    # per branch (the kernel is the expensive pass at scaled k).
    d = _leak_assigned(spark, sf_dir, centroids=centroids).transform(shared_subtree)
    train = d.where(~F.col("is_holdout")).select(
        F.col("vec_id").alias("train_id"),
        F.col("q").alias("qt"),
        F.col("nrm").alias("nt"),
        F.element_at("lids", 1).cast("int").alias("list_id"),
    )
    hold = d.where(F.col("is_holdout")).select(
        F.col("vec_id").alias("holdout_id"),
        F.col("q").alias("qh"),
        F.col("nrm").alias("nh"),
        F.explode(F.slice("lids", 1, _LEAK_N_PROBE)).alias("list_id"),
    )
    # Cogrouped blocked gemm on the list key: each vector crosses the wire
    # once per probed list, not once per candidate PAIR (the equi-join
    # form shipped both q arrays through the shuffle per candidate —
    # ~11M pair rows at 200k vectors, k=1600; bit-identical rescore, see
    # cogroup_pair_scores).
    return cogroup_pair_scores(
        hold, train, "list_id", "holdout_id", "train_id", min_cos=0.40
    ).select("holdout_id", "train_id", "int_dot", F.round("cos", 6).alias("cos_q"))


def _leak_exact_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs exact form — the fixture-scale oracle twin and the recall
    gate's ground truth. Deliberately NOT the registered production plan:
    O(|holdout| * |train|)."""
    from etl_from_s3_to_postgresql_template_spark.operators.intquant import dot_long

    normed = _leakage_quantized(spark, sf_dir)
    hold = normed.where(F.col("is_holdout")).select(
        F.col("vec_id").alias("holdout_id"), F.col("q").alias("qh"), F.col("nrm").alias("nh")
    )
    train = normed.where(~F.col("is_holdout")).select(
        F.col("vec_id").alias("train_id"), F.col("q").alias("qt"), F.col("nrm").alias("nt")
    )
    return (
        hold.crossJoin(train)
        .withColumn("int_dot", dot_long("qh", "qt"))
        .withColumn(
            "cos_q",
            F.col("int_dot").cast("double") / F.sqrt((F.col("nh") * F.col("nt")).cast("double")),
        )
        .where(F.col("cos_q") >= 0.40)
        .select("holdout_id", "train_id", "int_dot", F.round("cos_q", 6).alias("cos_q"))
    )


@query("split_leakage_scan", oracle=_LEAK_BLOCKED_ORACLE)
def split_leakage_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/holdout LEAKAGE audit, production form: (holdout, train)
    embedding pairs whose int8-quantized cosine >= 0.40 — near-duplicates
    that straddle the split boundary and would inflate eval scores.
    (Production gates at ~0.9; the fixture's random embeddings top out near
    0.47 cross-split, so the registered threshold is 0.40 to exercise a
    non-empty report.) Split membership is the same md5 rule as
    split_train_holdout, so this composes with the corpus splitter.

    Scale shape — BLOCKED, not all-pairs: an integer IVF coarse quantizer
    (seeded centroids inlined as literals, assignment = BIGINT argmin)
    assigns every train vector to one inverted list; each holdout vector
    probes its nearest 4 of 16 lists; the exact int8 BIGINT dot runs only
    inside shared lists. Cost drops from O(H*T) to ~n_probe/n_lists of it,
    and every step is an equi-join/projection — no crossJoin in the plan
    (tests/test_plans.py asserts this). The oracle SQL replicates the
    blocking with the same centroid literals, so the entry stays
    hash-exact; what the blocking is allowed to miss vs all-pairs is
    quantified by split_leakage_recall_gate, and the all-pairs form
    remains registered as split_leakage_scan_exact. At 100 TB, n_lists
    grows ~sqrt(N) (fitted centroids via fit_ivf_centroids) so list
    volumes stay bounded."""
    return _leak_blocked_pairs(spark, sf_dir).orderBy("holdout_id", "train_id")


@query("split_leakage_scan_exact", oracle=_LEAK_EXACT_ORACLE)
def split_leakage_scan_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixture-scale oracle twin of split_leakage_scan: the same audit as an
    exact all-pairs scan. Quadratic by construction — kept registered as the
    ground-truth baseline the blocked plan's recall gate measures against,
    NOT as the production path — a fail-fast guard (operators/guards.py)
    raises on corpus-scale input before any pair is enumerated. The holdout
    side (~1/8) is the smaller side; no broadcast HINT — it grows with
    corpus size, so the choice belongs to AQE (the no-hinted-broadcast
    guard in tests/test_plans.py)."""
    from etl_from_s3_to_postgresql_template_spark.operators.guards import assert_fixture_scale

    assert_fixture_scale(
        load_table(spark, sf_dir, "embeddings"), "split_leakage_scan_exact"
    )
    return _leak_exact_pairs(spark, sf_dir).orderBy("holdout_id", "train_id")


@query(
    "split_leakage_recall_gate",
    oracle=(
        _LEAK_Q_SQL
        + _leak_lists_sql()
        + f"""
    , t AS (
      SELECT vec_id AS train_id, q AS qt, nrm AS nt, dl[1].lid AS list_id
      FROM d WHERE NOT is_holdout
    ), h AS (
      SELECT vec_id AS holdout_id, q AS qh, nrm AS nh,
             UNNEST(list_transform(dl[1:{_LEAK_N_PROBE}], s -> s.lid)) AS list_id
      FROM d WHERE is_holdout
    ), blocked AS (
      SELECT holdout_id, train_id
      FROM h JOIN t USING (list_id)
      WHERE CAST(list_dot_product(qh, qt) AS DOUBLE)
              / sqrt(CAST(nh * nt AS DOUBLE)) >= 0.40
    ), exact AS (
      SELECT a.vec_id AS holdout_id, b.vec_id AS train_id
      FROM d a JOIN d b ON a.is_holdout AND NOT b.is_holdout
      WHERE CAST(list_dot_product(a.q, b.q) AS DOUBLE)
              / sqrt(CAST(a.nrm * b.nrm AS DOUBLE)) >= 0.40
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM exact) AS n_exact,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM blocked) AS n_blocked,
           (SELECT CAST(COUNT(*) AS BIGINT)
              FROM blocked JOIN exact USING (holdout_id, train_id)) AS n_found
    """
    ),
)
def split_leakage_recall_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantifies exactly what split_leakage_scan's IVF blocking misses vs
    the all-pairs ground truth, as hash-exact COUNTS (not a boolean): the
    oracle replicates both sides with the same centroid literals, so
    n_exact / n_blocked / n_found must match to the row. n_blocked ==
    n_found always (blocking only drops pairs, never invents them — the
    rescore is the same exact scorer); recall = n_found / n_exact is the
    honest blocking-loss number a production run would monitor before
    raising n_probe."""
    blocked = _leak_blocked_pairs(spark, sf_dir).select(
        "holdout_id", "train_id", F.lit(1).alias("__b")
    )
    exact = _leak_exact_pairs(spark, sf_dir).select(
        "holdout_id", "train_id", F.lit(1).alias("__e")
    )
    return exact.join(blocked, ["holdout_id", "train_id"], "full").agg(
        F.count("__e").alias("n_exact"),
        F.count("__b").alias("n_blocked"),
        F.count(F.when(F.col("__e").isNotNull() & F.col("__b").isNotNull(), 1)).alias("n_found"),
    )


def _mg_fold(counters: dict, tokens, k: int) -> dict:
    """One Misra-Gries fold step over a token sequence with capacity ``k``
    (classic decrement-all on overflow). Guarantee (the property
    tests/test_properties.py checks on random streams): after folding any
    stream of length n, every item with true frequency > n/k is a key of
    ``counters``; and summing per-partition folds keeps that guarantee
    globally by pigeonhole. Mutates and returns ``counters``."""
    for t in tokens:
        if t in counters:
            counters[t] += 1
        elif len(counters) < k:
            counters[t] = 1
        else:
            dead = [key for key in counters if counters[key] == 1]
            for key in counters:
                counters[key] -= 1
            for key in dead:
                del counters[key]
    return counters


@query(
    "tokens_heavy_hitters_gate",
    oracle=r"""
    WITH tok AS (
      SELECT UNNEST(string_split_regex(lower(trim(text)), '\s+')) AS t FROM documents
    ), tot AS (SELECT COUNT(*) AS n FROM tok),
    cnt AS (SELECT t, COUNT(*) AS c FROM tok GROUP BY t)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_heavy, TRUE AS all_heavy_found
    FROM cnt, tot WHERE c > n / 50.0
    """,
)
def tokens_heavy_hitters_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Misra-Gries heavy hitters as a single-pass sketch, certified by its
    own guarantee: any token with global frequency > N/k must survive in
    the union of per-partition MG(k) summaries (pigeonhole over partitions).
    The mapInPandas stage streams each partition's token batches through a
    k=50-counter MG dict (bounded memory regardless of vocabulary size —
    the reason to use MG instead of a groupBy at 100 TB: no shuffle of the
    long-tail vocabulary, only <= k*partitions candidate rows leave the
    executors). The gate then computes the EXACT heavy set with a normal
    aggregate and asserts candidate-superset, reducing the partition-
    dependent sketch to a deterministic one-row verdict the driver can
    hash-match (same pattern as the ANN recall gates above).

    Tokenization happens Spark-side (functions/text.py tokens_col) BEFORE
    the sketch, so the sketch and the exact side see byte-identical
    tokens."""
    from etl_from_s3_to_postgresql_template_spark.functions.text import tokens_col

    k = 50
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        F.explode(F.transform(tokens_col(F.col("text")), lambda t: F.lower(t))).alias("t")
    )

    def mg_partition(batches):
        import pandas as pd

        counters: dict = {}
        for pdf in batches:
            _mg_fold(counters, pdf["t"], k)
        yield pd.DataFrame({"t": list(counters), "lb": list(counters.values())})

    candidates = tok.mapInPandas(mg_partition, schema="t string, lb long").select("t").distinct()
    total = tok.count()
    exact_heavy = (
        tok.groupBy("t").agg(F.count(F.lit(1)).alias("c")).where(F.col("c") > total / 50.0)
    )
    missed = exact_heavy.join(candidates, "t", "left_anti")
    return exact_heavy.agg(
        F.count(F.lit(1)).cast("long").alias("n_heavy"),
    ).crossJoin(missed.agg((F.count(F.lit(1)) == 0).alias("all_heavy_found")))


__all__ += [
    "events_wau_rolling",
    "events_user_paths",
    "join_skew_diagnosis",
]


@query(
    "events_wau_rolling",
    oracle="""
    WITH du AS (
      SELECT DISTINCT date_trunc('day', ts) AS d, user_id FROM events
    ), days AS (SELECT DISTINCT d FROM du)
    SELECT a.d AS day, CAST(COUNT(DISTINCT b.user_id) AS BIGINT) AS wau
    FROM days a JOIN du b ON b.d >= a.d - INTERVAL 6 DAY AND b.d <= a.d
    GROUP BY a.d ORDER BY a.d
    """,
)
def events_wau_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct active users per day (WAU curve). DISTINCT
    inside a sliding window has no window-function form in either engine,
    so the standard distributed shape is used: dedup to (day, user) pairs
    first (collapses the raw event volume by the per-day event rate — the
    only pass over full data), then EXPLODE each pair into the 7 window
    days it contributes to and count distinct per day with a plain
    equi-shuffle. The explode form is O(7 * active_pairs) — linear; the
    tempting alternative (range-join the pairs against a day spine) is a
    non-equi join that Spark executes as a nested loop, O(days * pairs),
    and measured 13x on a 10x fixture before this rewrite. The final
    equi-join back to the distinct-day spine keeps the output to days
    that actually had events (spine is tiny; AQE broadcasts it)."""
    events = load_table(spark, sf_dir, "events")
    du = events.select(
        F.date_trunc("day", "ts").alias("d"), "user_id"
    ).distinct()
    days = du.select(F.col("d").alias("day")).distinct()
    contrib = du.select(
        F.explode(
            F.expr("sequence(d, d + INTERVAL 6 DAYS, INTERVAL 1 DAY)")
        ).alias("day"),
        "user_id",
    )
    return (
        contrib.join(days, "day")
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("wau"))
        .orderBy("day")
    )


@query(
    "events_user_paths",
    oracle="""
    WITH seq AS (
      SELECT user_id, list(event_type ORDER BY ts, event_id) AS l FROM events GROUP BY user_id
    ), tri AS (
      SELECT array_to_string(l[j:j+2], '>') AS path
      FROM seq, LATERAL (SELECT UNNEST(generate_series(1, len(l) - 2)) AS j)
      WHERE len(l) >= 3
    )
    SELECT path, CAST(COUNT(*) AS BIGINT) AS n
    FROM tri GROUP BY path
    ORDER BY n DESC, path LIMIT 10
    """,
)
def events_user_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence mining: the 10 most common 3-step event-type journeys.
    Per-user ordered reconstruction via sort_array over (ts, event_id,
    type) structs — one shuffle on user_id, state bounded by the per-user
    event count (the same bound any sessionization already accepts);
    trigrams come from a transform(sequence) slice (no UDF, no second
    shuffle — the trigram counts partial-aggregate map-side). Final top-10
    is a TakeOrdered, deterministic via the (n DESC, path) tiebreak."""
    events = load_table(spark, sf_dir, "events")
    seq = events.groupBy("user_id").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("ts", "event_id", "event_type"))),
            lambda s: s["event_type"],
        ).alias("l")
    )
    tri = (
        seq.where(F.size("l") >= 3)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("l") - 2),
                    lambda j: F.concat_ws(">", F.slice(F.col("l"), j, 3)),
                )
            ).alias("path")
        )
    )
    return (
        tri.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "path")
        .limit(10)
    )


@query(
    "join_skew_diagnosis",
    oracle="""
    WITH c AS (
      SELECT o_custkey AS key, COUNT(*) AS cnt FROM orders GROUP BY o_custkey
    ), stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
             CAST(SUM(cnt) AS BIGINT) AS total_rows,
             CAST(MAX(cnt) AS BIGINT) AS max_per_key,
             ROUND(quantile_cont(cnt, 0.5), 4) AS p50,
             ROUND(quantile_cont(cnt, 0.99), 4) AS p99,
             ROUND(CAST(MAX(cnt) AS DOUBLE) * COUNT(*) / SUM(cnt), 4) AS skew_ratio
      FROM c
    ), top AS (SELECT key AS top_key FROM c ORDER BY cnt DESC, key LIMIT 1)
    SELECT * FROM stats, top
    """,
)
def join_skew_diagnosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-join skew report for the orders->customer join key: key count,
    max/median/p99 per-key cardinality, skew ratio (max/mean), and the
    heaviest key. This is the measurement that decides between a plain
    shuffle join, AQE skew splitting, and explicit salting
    (operators/skew.py) — run it BEFORE burning a 100 TB shuffle, since a
    single hot key determines the join's straggler tail. One partial-agg
    shuffle over the key; the report itself is a 1-row reduce."""
    orders = load_table(spark, sf_dir, "orders")
    c = orders.groupBy(F.col("o_custkey").alias("key")).agg(F.count(F.lit(1)).alias("cnt"))
    stats = c.agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum("cnt").cast("long").alias("total_rows"),
        F.max("cnt").cast("long").alias("max_per_key"),
        F.round(F.expr("percentile(cnt, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(cnt, 0.99)"), 4).alias("p99"),
        F.round(
            F.max("cnt").cast("double") * F.count(F.lit(1)) / F.sum("cnt"), 4
        ).alias("skew_ratio"),
    )
    top = c.orderBy(F.desc("cnt"), "key").limit(1).select(F.col("key").alias("top_key"))
    return stats.crossJoin(top)


__all__ += [
    "text_langid_confusion",
    "join_null_safe",
]


@query(
    "text_langid_confusion",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, lang, string_split_regex(lower(trim(text)), '\s+') AS tk FROM documents
    ), hits AS (
      SELECT doc_id, lang,
        len(list_filter(tk, x -> x IN ('der','die','und','das','von','zu','mit','den'))) AS de,
        len(list_filter(tk, x -> x IN ('the','and','of','to','in','is','a','that'))) AS en,
        len(list_filter(tk, x -> x IN ('el','la','de','que','y','en','un','los'))) AS es,
        len(list_filter(tk, x -> x IN ('le','la','de','et','les','des','en','un'))) AS fr,
        len(list_filter(tk, x -> x IN ('的','是','在','了','和','有','我','不'))) AS zh
      FROM toks
    ), pred AS (
      SELECT lang,
             CASE WHEN greatest(de,en,es,fr,zh) = 0 THEN 'und'
                  WHEN de = greatest(de,en,es,fr,zh) THEN 'de'
                  WHEN en = greatest(de,en,es,fr,zh) THEN 'en'
                  WHEN es = greatest(de,en,es,fr,zh) THEN 'es'
                  WHEN fr = greatest(de,en,es,fr,zh) THEN 'fr'
                  ELSE 'zh' END AS lang_guess
      FROM hits
    )
    SELECT lang, lang_guess, CAST(COUNT(*) AS BIGINT) AS n
    FROM pred GROUP BY lang, lang_guess
    ORDER BY lang, lang_guess
    """,
)
def text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier evaluation as a pipeline op: the confusion matrix of the
    heuristic language-ID (functions/text.py lang_id_col) against the
    stored ``lang`` label. This is the health check a production corpus
    pipeline runs after every classifier change — per-(label, prediction)
    counts, from which precision/recall per language fall out. One
    narrow projection + one partial-agg shuffle over at most
    |langs|^2 groups."""
    from etl_from_s3_to_postgresql_template_spark.functions.text import lang_id_col

    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("lang", lang_id_col("text").alias("lang_guess"))
        .groupBy("lang", "lang_guess")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lang", "lang_guess")
    )


@query(
    "join_null_safe",
    oracle="""
    WITH a AS (
      SELECT NULLIF(user_id % 10, 0) AS k, COUNT(*) AS n_click
      FROM events WHERE event_type = 'click' GROUP BY k
    ), b AS (
      SELECT NULLIF(user_id % 10, 0) AS k, COUNT(*) AS n_view
      FROM events WHERE event_type = 'view' GROUP BY k
    )
    SELECT a.k, CAST(a.n_click AS BIGINT) AS n_click, CAST(b.n_view AS BIGINT) AS n_view
    FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
    ORDER BY a.k NULLS FIRST
    """,
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (`<=>` / IS NOT DISTINCT FROM): the NULL key
    bucket matches itself instead of silently dropping — §2.5 completion
    for the one equality semantics the pack didn't yet exercise. A plain
    `=` would lose the NULL group on both sides (a real bug class when a
    'sentinel becomes NULL' refactor meets an inner join). Null-safe
    equality still hash-partitions both sides on the key (NULLs co-locate
    in one partition), so the join stays a shuffle/broadcast hash join —
    no nested-loop penalty at scale."""
    events = load_table(spark, sf_dir, "events")
    k = F.nullif(F.col("user_id") % 10, F.lit(0)).alias("k")
    a = (
        events.where(F.col("event_type") == "click")
        .groupBy(k)
        .agg(F.count(F.lit(1)).alias("n_click"))
    )
    b = (
        events.where(F.col("event_type") == "view")
        .groupBy(k)
        .agg(F.count(F.lit(1)).alias("n_view"))
    )
    return (
        a.join(b, a["k"].eqNullSafe(b["k"]))
        .select(a["k"].alias("k"), "n_click", "n_view")
        .orderBy(F.col("k").asc_nulls_first())
    )


__all__ += [
    "docs_perplexity_buckets",
    "docs_dedup_containment",
    "orders_pareto_abc",
]


def _bigram_logprob_oracle() -> str:
    from etl_from_s3_to_postgresql_template_spark.plans import registry as _reg

    return _reg.ORACLE["docs_bigram_logprob"]


@query(
    "docs_perplexity_buckets",
    oracle=f"""
    WITH base AS ({_bigram_logprob_oracle()})
    SELECT doc_id, avg_logprob,
           CASE ntile(3) OVER (ORDER BY avg_logprob DESC, doc_id)
                WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS tier
    FROM base ORDER BY doc_id
    """,
)
def docs_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020): rank every
    document by its LM score (the Laplace-smoothed bigram log-prob from
    docs_bigram_logprob — same plan, reused) and split the corpus into
    head/middle/tail terciles. Training mixes then sample tiers at
    different rates. The tercile assignment is a single global ntile —
    deterministic via the (score, doc_id) tiebreak; at corpus scale the
    same assignment comes from approx score quantiles + a per-row CASE
    (no global sort), the trade documented for the equi-depth histogram."""
    from etl_from_s3_to_postgresql_template_spark.plans.llm_ops2 import docs_bigram_logprob

    scored = docs_bigram_logprob(spark, sf_dir)
    tier = F.ntile(3).over(W.orderBy(F.desc("avg_logprob"), "doc_id"))
    return (
        scored.withColumn(
            "tier",
            F.when(tier == 1, "head").when(tier == 2, "middle").otherwise("tail"),
        )
        .select("doc_id", "avg_logprob", "tier")
        .orderBy("doc_id")
    )


@query(
    "docs_dedup_containment",
    oracle=rf"""
    WITH {SHINGLES_SQL}
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           ROUND(len(list_intersect(a.s, b.s)) * 1.0 / len(a.s), 4) AS contain_a_in_b,
           ROUND(len(list_intersect(a.s, b.s)) * 1.0 / len(b.s), 4) AS contain_b_in_a,
           ROUND(len(list_intersect(a.s, b.s)) * 1.0
                 / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 4) AS jaccard
    FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
    WHERE len(list_intersect(a.s, b.s)) * 1.0 / least(len(a.s), len(b.s)) >= 0.5
    ORDER BY id_a, id_b
    """,
)
def docs_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1 containment near-dup (Broder's containment coefficient,
    |A∩B| / |A|): catches SUBSET duplicates — a short doc fully embedded
    in a longer one — which symmetric Jaccard dilutes below any workable
    threshold. This is the right detector for quote-expansion and
    boilerplate-wrapped copies. Same source-blocked pair generation as
    dedup_ngram_jaccard_exact (blocking keeps the pair count quadratic
    only within blocks; the MinHash tier generates candidates at scale);
    gate fires when the smaller side is >=50% contained.

    Physical shape: id-only pair enumeration first, then shingle arrays
    join back by id (operators/dedup.py blocked_pair_ids) — the scoring
    runs at full parallelism instead of |distinct sources| tasks."""
    docs = load_table(spark, sf_dir, "documents")
    pairs, inter, na, nb = shingle_overlap(shingle_sets(docs, "source"))
    return (
        pairs.where(inter * 1.0 / F.least(na, nb) >= 0.5)
        .select(
            "id_a",
            "id_b",
            F.round(inter * 1.0 / na, 4).alias("contain_a_in_b"),
            F.round(inter * 1.0 / nb, 4).alias("contain_b_in_a"),
            F.round(inter * 1.0 / (na + nb - inter), 4).alias("jaccard"),
        )
        .orderBy("id_a", "id_b")
    )


@query(
    "orders_pareto_abc",
    oracle="""
    WITH r AS (
      SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS rev
      FROM orders GROUP BY o_custkey
    ), tot AS (SELECT SUM(rev) AS t FROM r),
    ranked AS (
      SELECT o_custkey, rev,
             CAST(SUM(rev) OVER (ORDER BY rev DESC, o_custkey) AS DOUBLE)
               / CAST(t AS DOUBLE) AS cum_share
      FROM r, tot
    )
    SELECT CASE WHEN cum_share <= 0.5 THEN 'A'
                WHEN cum_share <= 0.8 THEN 'B' ELSE 'C' END AS abc_class,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(ROUND(SUM(rev), 2) AS DOUBLE) AS class_revenue
    FROM ranked GROUP BY abc_class ORDER BY abc_class
    """,
)
def orders_pareto_abc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / ABC segmentation: customers ranked by exact-decimal
    revenue, classified by cumulative revenue share (A: first 50%, B: to
    80%, C: rest). The running share is a window cumsum over DECIMAL
    (order-independent exactness -> the class boundary can't flip between
    engines), divided once into double. The global-order window runs over
    the per-customer AGGREGATE (|customers| rows, not |orders|) — the
    volume reduction is what makes a total-order window acceptable; at
    larger scale the same curve uses repartitionByRange + per-partition
    prefix sums."""
    orders = load_table(spark, sf_dir, "orders")
    r = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,6)")).alias("rev")
    )
    tot = r.agg(F.sum("rev").alias("t"))
    ranked = r.crossJoin(F.broadcast(tot)).withColumn(
        "cum_share",
        F.sum("rev").over(W.orderBy(F.desc("rev"), "o_custkey")).cast("double")
        / F.col("t").cast("double"),
    )
    cls = (
        F.when(F.col("cum_share") <= 0.5, "A")
        .when(F.col("cum_share") <= 0.8, "B")
        .otherwise("C")
    )
    return (
        ranked.groupBy(cls.alias("abc_class"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("rev"), 2).cast("double").alias("class_revenue"),
        )
        .orderBy("abc_class")
    )


__all__ += [
    "orders_mom_growth",
    "window_topk_with_ties",
]


@query(
    "orders_mom_growth",
    oracle="""
    WITH m AS (
      SELECT date_trunc('month', o_orderdate) AS month,
             SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS rev
      FROM orders GROUP BY month
    )
    SELECT strftime(month, '%Y-%m') AS month,
           CAST(ROUND(rev, 2) AS DOUBLE) AS revenue,
           ROUND((CAST(rev AS DOUBLE) - CAST(lag(rev) OVER w AS DOUBLE))
                 / CAST(lag(rev) OVER w AS DOUBLE), 4) AS mom_growth
    FROM m WINDOW w AS (ORDER BY month)
    ORDER BY month
    """,
)
def orders_mom_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Period-over-period reporting: monthly revenue with month-over-month
    growth rate. Aggregates to |months| rows first (the only full-data
    pass), then a lag window over the tiny aggregate — a global-order
    window over dozens of rows is free; the growth division happens once
    per row on DECIMAL-exact sums cast to double in the same order in
    both engines. Month is emitted as a string (date objects never hash
    equal cross-engine; repo-wide convention)."""
    orders = load_table(spark, sf_dir, "orders")
    m = orders.groupBy(F.date_trunc("month", "o_orderdate").alias("month")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,6)")).alias("rev")
    )
    w = W.orderBy("month")
    prev = F.lag("rev").over(w)
    return (
        m.select(
            F.date_format("month", "yyyy-MM").alias("month"),
            F.round("rev", 2).cast("double").alias("revenue"),
            F.round(
                (F.col("rev").cast("double") - prev.cast("double")) / prev.cast("double"), 4
            ).alias("mom_growth"),
        )
        .orderBy("month")
    )


@query(
    "window_topk_with_ties",
    oracle="""
    WITH r AS (
      SELECT o_custkey, o_orderkey, o_totalprice,
             rank() OVER (PARTITION BY o_custkey ORDER BY ROUND(o_totalprice, 0) DESC) AS rnk
      FROM orders
    )
    SELECT o_custkey, o_orderkey, o_totalprice, CAST(rnk AS INTEGER) AS rnk
    FROM r WHERE rnk <= 2 AND o_custkey < 100
    ORDER BY o_custkey, rnk, o_orderkey
    """,
)
def window_topk_with_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k WITH TIES per group (rank(), not row_number()): the SQL
    `FETCH FIRST k ROWS WITH TIES` semantic — equal-valued rows all
    surface instead of an arbitrary winner being picked. The tie surface
    is forced by ranking on the price rounded to whole units. Same
    single Window node / one shuffle as the row_number top-k
    (window_topk_per_group); only the rank function differs, and rank()
    needs no unique tiebreak to stay deterministic because ties share a
    rank by construction."""
    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.desc(F.round("o_totalprice", 0)))
    return (
        orders.where(F.col("o_custkey") < 100)
        .select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.rank().over(w).alias("rnk"),
        )
        .where(F.col("rnk") <= 2)
        .orderBy("o_custkey", "rnk", "o_orderkey")
    )


__all__ += ["basket_part_pairs_lift"]


@query(
    "basket_part_pairs_lift",
    oracle="""
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM op),
    pc AS (SELECT l_partkey, COUNT(*) AS c FROM op GROUP BY l_partkey),
    pp AS (
      SELECT a.l_partkey AS p1, b.l_partkey AS p2, COUNT(*) AS n_both
      FROM op a JOIN op b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY p1, p2 HAVING COUNT(*) >= 2
    )
    SELECT p1, p2, CAST(n_both AS BIGINT) AS n_both,
           ROUND(CAST(n_both AS DOUBLE) * n.n_orders / (ca.c * cb.c), 4) AS lift
    FROM pp JOIN pc ca ON pp.p1 = ca.l_partkey
            JOIN pc cb ON pp.p2 = cb.l_partkey, n
    ORDER BY lift DESC, p1, p2 LIMIT 20
    """,
)
def basket_part_pairs_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket affinity: top part pairs by lift (co-occurrence over
    independence) across order baskets, min support 2 — the association-
    rule primitive behind recommenders and assortment analysis. The
    within-basket pair join is an equi self-join on the order key
    (quadratic only in the per-basket item count, ~4 here — the same
    bound a priori accepts); part marginals join back by part key; lift
    arithmetic is one double expression over integer counts, written in
    the same operation order in both engines. Final top-20 is
    TakeOrdered with a full (lift, p1, p2) tiebreak."""
    li = load_table(spark, sf_dir, "lineitem")
    op = li.select("l_orderkey", "l_partkey").distinct()
    n_orders = op.select("l_orderkey").distinct().count()
    pc = op.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("c"))
    a = op.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p1"))
    b = op.select(F.col("l_orderkey").alias("o_b"), F.col("l_partkey").alias("p2"))
    pp = (
        a.join(b, (F.col("o") == F.col("o_b")) & (F.col("p1") < F.col("p2")))
        .groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).alias("n_both"))
        .where(F.col("n_both") >= 2)
    )
    ca = pc.select(F.col("l_partkey").alias("p1"), F.col("c").alias("c1"))
    cb = pc.select(F.col("l_partkey").alias("p2"), F.col("c").alias("c2"))
    return (
        pp.join(ca, "p1")
        .join(cb, "p2")
        .select(
            "p1",
            "p2",
            "n_both",
            F.round(
                F.col("n_both").cast("double") * F.lit(n_orders) / (F.col("c1") * F.col("c2")),
                4,
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), "p1", "p2")
        .limit(20)
    )


__all__ += ["corpus_prep_funnel2"]


@query(
    "corpus_prep_funnel2",
    oracle=f"""
    WITH lp AS ({_bigram_logprob_oracle()}),
    tier AS (
      SELECT doc_id,
             ntile(3) OVER (ORDER BY avg_logprob DESC, doc_id) <= 2 AS ok_ppl
      FROM lp
    ),
    toks AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t FROM documents
    ),
    g AS (
      SELECT doc_id, md5(array_to_string(t[j:j+7], ' ')) AS gm
      FROM toks, LATERAL (SELECT UNNEST(generate_series(1, len(t) - 7)) AS j)
      WHERE len(t) >= 8
    ),
    dupg AS (SELECT gm FROM g GROUP BY gm HAVING COUNT(DISTINCT doc_id) >= 2),
    exposure AS (
      SELECT doc_id, COUNT(*) AS n_grams,
             SUM(CASE WHEN gm IN (SELECT gm FROM dupg) THEN 1 ELSE 0 END) AS n_dup
      FROM g GROUP BY doc_id
    ),
    {SHINGLES_SQL},
    losers AS (
      SELECT DISTINCT b.doc_id AS doc_id
      FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
      WHERE len(list_intersect(a.s, b.s)) * 1.0 / least(len(a.s), len(b.s)) >= 0.5
    ),
    flags AS (
      SELECT d.doc_id,
             COALESCE(t.ok_ppl, FALSE) AS ok_ppl,
             COALESCE(e.n_dup * 1.0 / e.n_grams, 0) < 0.3 AS ok_span,
             l.doc_id IS NULL AS ok_cont
      FROM documents d
      LEFT JOIN tier t USING (doc_id)
      LEFT JOIN exposure e USING (doc_id)
      LEFT JOIN losers l USING (doc_id)
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS input_docs,
           CAST(SUM(CASE WHEN ok_ppl THEN 1 ELSE 0 END) AS BIGINT) AS after_perplexity,
           CAST(SUM(CASE WHEN ok_ppl AND ok_span THEN 1 ELSE 0 END) AS BIGINT) AS after_span_gate,
           CAST(SUM(CASE WHEN ok_ppl AND ok_span AND ok_cont THEN 1 ELSE 0 END) AS BIGINT)
             AS after_containment
    FROM flags
    """,
)
def corpus_prep_funnel2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wave-2 corpus-governance funnel, the capstone composition of the
    round's new operators: CCNet perplexity terciles (keep head+middle)
    -> repeated-span exposure gate (drop docs where >=30% of 8-grams are
    verbatim cross-doc duplicates, the ExactSubstr exposure measure) ->
    containment dedup (drop the larger doc of any >=50%-contained pair).
    One hash-checked row of cumulative survivor counts; the oracle
    re-derives every stage independently, so drift in ANY composed
    operator (LM scoring, tercile ntile, gram semantics, containment
    blocking) breaks the match — the integration test for the wave-2
    surface, mirroring corpus_prep_funnel for wave 1.

    Flags are computed corpus-wide and conjoined (not re-staged): each
    stage's statistic is defined on the full corpus, which keeps every
    stage one independent pass over the same scan."""
    from etl_from_s3_to_postgresql_template_spark.functions.text import tokens_col
    from etl_from_s3_to_postgresql_template_spark.plans.llm_ops2 import docs_bigram_logprob

    docs = load_table(spark, sf_dir, "documents")

    tier_ok = docs_bigram_logprob(spark, sf_dir).select(
        "doc_id",
        (F.ntile(3).over(W.orderBy(F.desc("avg_logprob"), "doc_id")) <= 2).alias("ok_ppl"),
    )

    n = 8
    toks = F.transform(tokens_col(F.col("text")), lambda t: F.lower(t))
    grams = (
        docs.select("doc_id", toks.alias("t"))
        .where(F.size("t") >= n)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("t") - (n - 1)),
                    lambda j: F.md5(F.concat_ws(" ", F.slice(F.col("t"), j, n))),
                )
            ).alias("gm"),
        )
    )
    wg = W.partitionBy("gm")
    exposure = (
        grams.withColumn("is_dup", F.min("doc_id").over(wg) != F.max("doc_id").over(wg))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.col("is_dup").cast("long")).alias("n_dup"),
        )
        .select(
            "doc_id", ((F.col("n_dup") * 1.0 / F.col("n_grams")) < 0.3).alias("ok_span")
        )
    )

    pairs, inter, na, nb = shingle_overlap(shingle_sets(docs, "source"))
    losers = (
        pairs.where(inter * 1.0 / F.least(na, nb) >= 0.5)
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
        .withColumn("is_loser", F.lit(True))
    )

    flags = (
        docs.select("doc_id")
        .join(tier_ok, "doc_id", "left")
        .join(exposure, "doc_id", "left")
        .join(losers, "doc_id", "left")
        .select(
            F.coalesce("ok_ppl", F.lit(False)).alias("ok_ppl"),
            F.coalesce("ok_span", F.lit(True)).alias("ok_span"),
            F.col("is_loser").isNull().alias("ok_cont"),
        )
    )
    return flags.agg(
        F.count(F.lit(1)).alias("input_docs"),
        F.sum(F.col("ok_ppl").cast("long")).alias("after_perplexity"),
        F.sum((F.col("ok_ppl") & F.col("ok_span")).cast("long")).alias("after_span_gate"),
        F.sum(
            (F.col("ok_ppl") & F.col("ok_span") & F.col("ok_cont")).cast("long")
        ).alias("after_containment"),
    )


__all__ += ["corpus_shard_balance"]


@query(
    "corpus_shard_balance",
    oracle=r"""
    WITH d AS (
      SELECT doc_id,
             CAST(
               (instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 268435456
             + (instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 16777216
             + (instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 1048576
             + (instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 4, 1)) - 1) * 65536
             + (instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 5, 1)) - 1) * 4096
             + (instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 6, 1)) - 1) * 256
             + (instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 7, 1)) - 1) * 16
             + (instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 8, 1)) - 1)
             AS BIGINT) % 8
               AS shard_id,
             CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
      FROM documents
    ), s AS (
      SELECT shard_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_tokens) AS BIGINT) AS tokens
      FROM d GROUP BY shard_id
    ), tot AS (SELECT SUM(tokens) AS t, MAX(tokens) AS mx, MIN(tokens) AS mn FROM s)
    SELECT s.shard_id, s.n_docs, s.tokens,
           ROUND(CAST(s.tokens AS DOUBLE) / t, 4) AS token_share,
           ROUND(CAST(mx AS DOUBLE) / mn, 4) AS balance_ratio
    FROM s, tot ORDER BY s.shard_id
    """,
)
def corpus_shard_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed-training shard assignment + balance audit: docs map to
    8 shards by content-hash (32-bit md5-prefix hash mod 8 —
    deterministic, engine-neutral, stable under corpus growth like the
    split/sample rules, and uniform for ANY shard count, sinks/shards.py
    ``shard_hash_col``), and the report gives per-shard doc/token totals
    plus the max/min token ratio — the number that predicts straggler
    epochs in a data-parallel training job. One projection + one 8-group
    aggregate; the balance scalar rides along as a 1-row broadcast."""
    from etl_from_s3_to_postgresql_template_spark.functions.text import token_count_col
    from etl_from_s3_to_postgresql_template_spark.sinks.shards import shard_assignment_col

    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        shard_assignment_col("doc_id", 8).alias("shard_id"),
        token_count_col(F.col("text")).alias("n_tokens"),
    )
    s = d.groupBy("shard_id").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("n_tokens").alias("tokens")
    )
    tot = s.agg(
        F.sum("tokens").alias("t"), F.max("tokens").alias("mx"), F.min("tokens").alias("mn")
    )
    return (
        s.crossJoin(F.broadcast(tot))
        .select(
            "shard_id",
            "n_docs",
            "tokens",
            F.round(F.col("tokens").cast("double") / F.col("t"), 4).alias("token_share"),
            F.round(F.col("mx").cast("double") / F.col("mn"), 4).alias("balance_ratio"),
        )
        .orderBy("shard_id")
    )


__all__ += ["scan_rowgroup_stats"]


# rows-only in the driver gate BY NECESSITY, not by weakness: the oracle
# contract passes table VIEWS, and parquet_metadata() needs the file PATH,
# which the oracle SQL cannot receive. The full DuckDB cross-check runs in
# tests/test_stats_pushdown.py instead (same comparison, path known).
@query("scan_rowgroup_stats")
def scan_rowgroup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real parquet footer introspection, distributed: per-(row_group,
    column) min/max/count read executor-side with pyarrow (footer only,
    zero data pages) — the actual zone maps the scan planner prunes
    with, exposed as a queryable table and cross-checked against
    DuckDB's parquet_metadata(). See operators/stats.py for the scale
    shape (O(files) distributed map)."""
    from etl_from_s3_to_postgresql_template_spark.operators.stats import (
        parquet_rowgroup_stats,
    )

    return parquet_rowgroup_stats(spark, [f"{sf_dir}/orders.parquet"]).orderBy(
        "path", "row_group_id", "column_name"
    )


__all__ += ["scan_python_datasource"]


@query(
    "scan_python_datasource",
    oracle="""
    SELECT CAST(i AS BIGINT) AS event_id,
           CAST(i % 150 AS BIGINT) AS user_id,
           ['click','view','purchase','scroll','login'][(i % 5) + 1] AS event_type,
           (i % 9973) / 100.0 AS value
    FROM range(10000) t(i) ORDER BY event_id
    """,
)
def scan_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom-connector scan via the Spark 4 Python DataSource API
    (sources/pyds.py): register a pure-Python source, read it like any
    format, and hash-verify every generated row against the closed-form
    oracle — proving partition planning + per-partition reads end to end.
    This is the extension seam that replaces the reference's boto3
    download loop with a real partitioned source."""
    from etl_from_s3_to_postgresql_template_spark.sources.pyds import (
        SyntheticEventsDataSource,
    )

    try:
        spark.dataSource.register(SyntheticEventsDataSource)
    except Exception:
        pass  # already registered in this session
    return (
        spark.read.format("synthetic_events")
        .option("n_rows", 10000)
        .option("partitions", 8)
        .load()
        .orderBy("event_id")
    )
