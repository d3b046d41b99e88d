"""Analytic query pack: joins, windows, grouping — SURVEY.md §2.5/2.8/2.9.

The reference computes zero joins; this surface comes from the north star
("same query capabilities ... design every operator for 100 TB"). Plans are
declared, not scheduled: Catalyst/AQE picks broadcast vs sort-merge, and the
explicit ``F.broadcast`` hints mark the dims that are *always* small
(region=5, nation=25 rows — at any scale factor).

Float discipline: money sums accumulate as DECIMAL(18,6) on BOTH sides
(see ``_dec``) so pre-round values are exact and order-independent; rounding
then behaves identically in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_from_s3_to_postgresql_template_spark.plans.money import _davg, _dec, _dsum  # noqa: F401
from etl_from_s3_to_postgresql_template_spark.plans.registry import query
from etl_from_s3_to_postgresql_template_spark.sources.registry import load_table
from etl_from_s3_to_postgresql_template_spark.streaming.ingest import tumbling_counts


@query(
    "join_broadcast_dim",
    oracle="""
    SELECT r_name, CAST(COUNT(*) AS BIGINT) AS nation_count
    FROM nation JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    ORDER BY r_name
    """,
)
def join_broadcast_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast equi-join onto a tiny dim: zero shuffle for the join (the
    5-row region ships to every executor); only the final agg shuffles."""
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(F.count(F.lit(1)).alias("nation_count"))
        .orderBy("r_name")
    )


@query(
    "join_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS): customers with at least one order."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


@query(
    "join_anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (
      SELECT 1 FROM orders
      WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT'
    )
    """,
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (NOT EXISTS): customers with no urgent order (the
    priority filter keeps the result non-empty at every scale factor)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@query(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_qty,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_base_price,
           CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_disc_price,
           CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_charge,
           CAST(ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 2) AS DOUBLE) AS avg_qty,
           CAST(ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 2) AS DOUBLE) AS avg_price,
           CAST(ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 4) AS DOUBLE) AS avg_disc,
           CAST(COUNT(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-heavy grouped aggregation, the flagship query.
    One shuffle (map-side partial agg on 6 groups), filter pushed to parquet."""
    li = load_table(spark, sf_dir, "lineitem", parallel=True)
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum(F.col("l_quantity")).alias("sum_qty"),
            _dsum(F.col("l_extendedprice")).alias("sum_base_price"),
            _dsum(disc_price).alias("sum_disc_price"),
            _dsum(disc_price * (1 + F.col("l_tax"))).alias("sum_charge"),
            _davg(F.col("l_quantity")).alias("avg_qty"),
            _davg(F.col("l_extendedprice")).alias("avg_price"),
            _davg(F.col("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query(
    "q3_shipping_priority",
    oracle="""
    SELECT l_orderkey,
           CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
           o_orderpriority
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY l_orderkey, strftime(o_orderdate, '%Y-%m-%d'), o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join + grouped agg + top-10. customer filter
    applies before the join (Catalyst pushes it); orders⋈lineitem is the big
    sort-merge pair, AQE converts to broadcast when the filtered side fits."""
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15 00:00:00").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15 00:00:00").cast("timestamp")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("l_orderkey", F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"), "o_orderpriority")
        .agg(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .select("l_orderkey", "revenue", "orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


@query(
    "q5_region_revenue",
    oracle="""
    SELECT n_name, CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
    FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation   ON c_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
)
def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way join with two broadcast dims. Join order is
    Catalyst's call; nation/region are hinted broadcast (always tiny)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .join(s, (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .orderBy(F.desc("revenue"), "n_name")
    )


@query(
    "window_topk_per_group",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS BIGINT) AS rn
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    )
    WHERE rn <= 3
    """,
)
def window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer: the canonical window top-k. One shuffle on
    the partition key; deterministic tie-break on o_orderkey."""
    o = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), "o_orderkey")
    return (
        o.select("o_custkey", "o_orderkey", "o_totalprice", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 3)
        .withColumn("rn", F.col("rn").cast("long"))
    )


@query(
    "window_running_sum",
    oracle="""
    SELECT o_custkey, o_orderkey,
           ROUND(SUM(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
    FROM orders
    """,
)
def window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running revenue per customer: ROWS frame with a unique order key makes
    the accumulation order — and therefore the float result — deterministic."""
    o = load_table(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return o.select(
        "o_custkey", "o_orderkey", F.round(F.sum("o_totalprice").over(w), 2).alias("running_total")
    )


@query(
    "join_asof",
    oracle="""
    WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
         e AS (SELECT * FROM events WHERE event_type = 'error'),
         j AS (
           SELECT p.event_id, e.ts AS error_ts,
                  ROW_NUMBER() OVER (PARTITION BY p.event_id ORDER BY e.ts DESC, e.event_id DESC) AS rn
           FROM p JOIN e ON p.user_id = e.user_id AND e.ts <= p.ts
         )
    SELECT p.event_id, p.user_id,
           strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f') AS ts,
           strftime(j.error_ts, '%Y-%m-%d %H:%M:%S.%f') AS last_error_ts
    FROM p LEFT JOIN (SELECT event_id, error_ts FROM j WHERE rn = 1) j USING (event_id)
    """,
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each purchase, the most recent error at-or-before it
    for the same user (SURVEY §2.5 — Spark has no native as-of; this is the
    window-based composition; operators/asof.py generalizes it)."""
    from etl_from_s3_to_postgresql_template_spark.operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    e = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_event_id"), F.col("user_id").alias("e_user_id"), F.col("ts").alias("error_ts")
    )
    out = asof_join(
        p, e,
        left_on="ts", right_on="error_ts",
        left_by="user_id", right_by="e_user_id",
        tolerance=None,
        right_tiebreak="error_event_id",
        left_id="event_id",
    )
    return out.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts"),
        F.date_format("error_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("last_error_ts"),
    )


@query(
    "agg_rollup",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_qty,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals — subtotal rows carry NULL group keys in both
    engines."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        _dsum(F.col("l_quantity")).alias("sum_qty"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@query(
    "q10_returned_items",
    oracle="""
    SELECT c_custkey, c_name,
           CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue,
           n_name
    FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: returned-item revenue per customer, top 20."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01 00:00:00").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "n_name")
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@query(
    "q14_promo_revenue",
    oracle="""
    SELECT CAST(ROUND(100.0 * CAST(SUM(CAST(CASE WHEN p_type = 'PROMO'
                                  THEN l_extendedprice * (1 - l_discount) END AS DECIMAL(18,6))) AS DOUBLE)
                 / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE), 4) AS DOUBLE) AS promo_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1996-02-01 00:00:00'
    """,
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional-aggregate ratio over a dim join."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-02-01 00:00:00").cast("timestamp"))
    )
    p = load_table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .agg(
            F.round(
                100.0
                * F.sum(_dec(F.when(F.col("p_type") == "PROMO", rev))).cast("double")
                / F.sum(_dec(rev)).cast("double"),
                4,
            ).alias("promo_pct")
        )
    )


@query(
    "q19_disjunctive_filter",
    oracle="""
    SELECT CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity >= 1 AND l_quantity <= 20)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30 AND l_quantity >= 10 AND l_quantity <= 30)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50 AND l_quantity >= 20 AND l_quantity <= 40)
    """,
)
def q19_disjunctive_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunction of conjunctive brand/size/qty predicates
    across both join sides — exercises OR-predicate planning."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    j = li.join(p, li.l_partkey == p.p_partkey)
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15) & F.col("l_quantity").between(1, 20))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(10, 30) & F.col("l_quantity").between(10, 30))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(20, 50) & F.col("l_quantity").between(20, 40))
    )
    return j.filter(cond).agg(
        _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "agg_cube_grouping",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gid,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_price
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def agg_cube_grouping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE with a grouping-set indicator (grouping_id) — disambiguates
    subtotal NULLs from data NULLs identically in both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.grouping_id().cast("long").alias("gid"),
        _dsum(F.col("l_extendedprice")).alias("sum_price"),
    ).select("l_returnflag", "l_linestatus", "gid", "sum_price")


@query(
    "unpivot_lineitem_metrics",
    oracle="""
    SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, ROUND(l_quantity, 2) AS val FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_extendedprice', ROUND(l_extendedprice, 2) FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_discount', ROUND(l_discount, 2) FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_tax', ROUND(l_tax, 2) FROM lineitem
    """,
)
def unpivot_lineitem_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt) wide metric columns to long form via stack — one
    narrow projection, no shuffle; rows multiply by 4 in place."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.selectExpr(
        "l_orderkey",
        "l_linenumber",
        "stack(4, 'l_quantity', round(l_quantity, 2),"
        " 'l_extendedprice', round(l_extendedprice, 2),"
        " 'l_discount', round(l_discount, 2),"
        " 'l_tax', round(l_tax, 2)) AS (metric, val)",
    )


@query(
    "pivot_status_counts",
    oracle="""
    SELECT o_orderpriority,
           CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS BIGINT) AS F,
           CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS BIGINT) AS O,
           CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS BIGINT) AS P
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def pivot_status_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot orderstatus -> columns. Fixed pivot values keep the schema
    static (required at scale — dynamic pivot value discovery is an extra
    job over the whole input)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.sum(F.lit(1)))
    )


@query(
    "q4_order_priority",
    oracle="""
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
      )
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: correlated EXISTS (lineitem shipped after order
    date — the fixture's stand-in for commit<receipt) -> left-semi join."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    return (
        o.join(li, (o.o_orderkey == li.l_orderkey) & (li.l_shipdate > o.o_orderdate), "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


@query(
    "q6_forecast_revenue",
    oracle="""
    SELECT CAST(ROUND(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure filter+agg — every predicate must reach the
    parquet scan (PushedFilters), zero shuffles beyond the final gather."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_discount") >= 0.03)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(_dsum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"))


@query(
    "q18_large_orders",
    oracle="""
    SELECT o_orderkey, o_custkey, ROUND(o_totalprice, 2) AS o_totalprice, sum_qty
    FROM orders JOIN (
      SELECT l_orderkey, CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_qty
      FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 150
    ) big ON o_orderkey = big.l_orderkey
    ORDER BY o_totalprice DESC, o_orderkey
    """,
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: agg -> having -> join back. The HAVING side shrinks
    before the join, so AQE broadcasts it."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("raw_qty"))
        .filter(F.col("raw_qty") > 150)
        .select("l_orderkey", F.round("raw_qty", 2).alias("sum_qty"))
    )
    return (
        o.join(big, o.o_orderkey == big.l_orderkey)
        .select("o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("o_totalprice"), "sum_qty")
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
    )


@query(
    "join_range_bands",
    oracle="""
    SELECT band, CAST(COUNT(*) AS BIGINT) AS n, CAST(ROUND(SUM(CAST("value" AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_value
    FROM events
    JOIN (VALUES ('low', 0.0, 50.0), ('mid', 50.0, 150.0), ('high', 150.0, 1e9))
         AS bands(band, lo, hi)
      ON "value" >= lo AND "value" < hi
    GROUP BY band
    ORDER BY band
    """,
)
def join_range_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta/range join against a tiny banding dim: non-equi condition ->
    broadcast nested-loop with the dim side broadcast (3 rows; BNLJ cost is
    |events| * 3 comparisons — the only sane physical plan, and the hint
    guarantees it at any scale)."""
    ev = load_table(spark, sf_dir, "events")
    bands = spark.createDataFrame(
        [("low", 0.0, 50.0), ("mid", 50.0, 150.0), ("high", 150.0, 1e9)],
        "band string, lo double, hi double",
    )
    return (
        ev.join(F.broadcast(bands), (ev["value"] >= bands.lo) & (ev["value"] < bands.hi))
        .groupBy("band")
        .agg(F.count(F.lit(1)).alias("n"), _dsum(F.col("value")).alias("total_value"))
        .orderBy("band")
    )


@query(
    "join_full_outer",
    oracle="""
    WITH od AS (
      SELECT strftime(o_orderdate, '%Y-%m') AS ym, CAST(COUNT(*) AS BIGINT) AS n_orders
      FROM orders WHERE o_orderdate < TIMESTAMP '1996-01-01 00:00:00' GROUP BY 1
    ),
    sd AS (
      SELECT strftime(l_shipdate, '%Y-%m') AS ym, CAST(COUNT(*) AS BIGINT) AS n_ships
      FROM lineitem WHERE l_shipdate >= TIMESTAMP '2001-01-01 00:00:00' GROUP BY 1
    )
    SELECT COALESCE(od.ym, sd.ym) AS ym, n_orders, n_ships
    FROM od FULL OUTER JOIN sd ON od.ym = sd.ym
    """,
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join with disjoint-ish key ranges (nulls on both sides)."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    od = (
        o.filter(F.col("o_orderdate") < F.lit("1996-01-01 00:00:00").cast("timestamp"))
        .groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("ym"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    sd = (
        li.filter(F.col("l_shipdate") >= F.lit("2001-01-01 00:00:00").cast("timestamp"))
        .groupBy(F.date_format("l_shipdate", "yyyy-MM").alias("ym"))
        .agg(F.count(F.lit(1)).alias("n_ships"))
    )
    return (
        od.join(sd, od.ym == sd.ym, "full_outer")
        .select(F.coalesce(od.ym, sd.ym).alias("ym"), "n_orders", "n_ships")
    )


@query(
    "set_intersect_except",
    oracle="""
    SELECT 'both' AS which, n_nationkey FROM (
      SELECT DISTINCT c_nationkey AS n_nationkey FROM customer
      INTERSECT
      SELECT DISTINCT s_nationkey FROM supplier
    )
    UNION ALL
    SELECT 'customer_only' AS which, n_nationkey FROM (
      SELECT DISTINCT c_nationkey AS n_nationkey FROM customer
      EXCEPT
      SELECT DISTINCT s_nationkey FROM supplier
    )
    """,
)
def set_intersect_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT set operators over nation-key projections."""
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("n_nationkey")).distinct()
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("n_nationkey")).distinct()
    both = c.intersect(s).select(F.lit("both").alias("which"), "n_nationkey")
    only = c.exceptAll(s).select(F.lit("customer_only").alias("which"), "n_nationkey")
    return both.unionByName(only)


@query(
    "agg_median_percentile",
    oracle="""
    SELECT o_orderpriority,
           ROUND(quantile_cont(o_totalprice, 0.5), 2) AS median_price,
           ROUND(quantile_cont(o_totalprice, 0.9), 2) AS p90_price,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def agg_median_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (Spark `percentile` == DuckDB
    quantile_cont). The approx_percentile/HLL variants exist for the scale
    path but use engine-specific sketches — checked by tolerance in pytest,
    not by the exact-hash oracle."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.round(F.expr("percentile(o_totalprice, 0.5)"), 2).alias("median_price"),
            F.round(F.expr("percentile(o_totalprice, 0.9)"), 2).alias("p90_price"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "json_extract_props",
    oracle="""
    SELECT event_id, CAST(json_extract(props, '$.k') AS INTEGER) AS k
    FROM events
    """,
)
def json_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON field extraction from the events.props string column
    (SURVEY §2.10 extension: from_json on nested data)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select("event_id", F.from_json("props", "k INT").getField("k").alias("k"))


@query(
    "agg_event_stats",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(ROUND(SUM(CAST("value" AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_value,
           CAST(ROUND(CAST(SUM(CAST("value" AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 4) AS DOUBLE) AS avg_value,
           ROUND(MIN("value"), 2) AS min_value,
           ROUND(MAX("value"), 2) AS max_value
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def agg_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-aggregate profile per event type (count/distinct/sum/avg/min/max)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("user_id").alias("n_users"),
            _dsum(F.col("value")).alias("total_value"),
            _davg(F.col("value"), 4).alias("avg_value"),
            F.round(F.min("value"), 2).alias("min_value"),
            F.round(F.max("value"), 2).alias("max_value"),
        )
        .orderBy("event_type")
    )


#: shared with the streaming twin streaming_window_counts
WINDOW_TUMBLING_ORACLE = """
    SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS w_start, event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(ROUND(SUM(CAST("value" AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """


@query("window_tumbling_events", oracle=WINDOW_TUMBLING_ORACLE)
def window_tumbling_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time windows (batch form; streaming/ingest.py
    runs the identical aggregation as a Structured Streaming query)."""
    return tumbling_counts(load_table(spark, sf_dir, "events"), "1 hour")
