"""Second TPC-H-shape pack: Q2/Q7/Q8/Q9/Q11/Q12/Q15/Q16/Q21 adapted to the
available schema (no partsupp table, no commit/receipt dates or shipmode in
lineitem — reference surface per SURVEY §2.5/2.9).

Adaptations, chosen to preserve each query's PLAN SHAPE rather than its
literal TPC-H text:

- Q2  min-cost supplier  -> per-part min unit price from lineitem (window
      row_number over a correlated-min shape).
- Q7  volume shipping    -> unchanged shape; nation pair on synthetic names.
- Q8  market share       -> unchanged shape; PROMO part type; share is a
      ratio of two exact decimal sums (divide-after-exact, per
      driver-contract rule on rounded means).
- Q9  product profit     -> cost proxy p_retailprice * l_quantity * 0.1
      (partsupp.ps_supplycost does not exist here).
- Q11 important stock    -> per-part lineitem value vs a global-threshold
      scalar (groupBy + broadcast scalar cross-join + HAVING shape).
- Q12 shipmode priority  -> "late" = l_shipdate > o_orderdate + 45 days;
      l_linestatus stands in for l_shipmode (conditional-count shape).
- Q15 top supplier       -> unchanged shape; max-revenue scalar subquery.
- Q16 supplier count     -> distinct-supplier count per part descriptor
      with an anti-join exclusion list (negative-balance suppliers stand in
      for the comment-matched complaint suppliers).
- Q21 waiting suppliers  -> "late" as in Q12; EXISTS other-supplier line +
      NOT EXISTS other-supplier LATE line, the double semi/anti shape.

All money accumulators are DECIMAL(18,6) on both engines (_dec/_dsum),
years are BIGINT on both sides, every ordering is fully tie-broken.

Scale notes: only nation/region (fixed 25/5 rows at every SF) carry
explicit broadcast hints. supplier and part GROW with SF, so they get no
hint — AQE's size threshold still broadcasts them at small SF but falls
back to shuffle joins when they outgrow executor memory (a hard hint
would force a multi-GB broadcast at 100x and OOM; SCALING.md).
lineitem-side shuffles are on l_partkey / l_suppkey / l_orderkey — the
natural high-cardinality keys, no skew hot-spots in this generator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_from_s3_to_postgresql_template_spark.plans.money import _dec, _dsum
from etl_from_s3_to_postgresql_template_spark.plans.registry import query
from etl_from_s3_to_postgresql_template_spark.sources.registry import load_table
from etl_from_s3_to_postgresql_template_spark.util import shared_subtree


@query(
    "q2_min_cost_supplier",
    oracle="""
    SELECT l_partkey, p_name, s_name, n_name,
           unit_price AS min_unit_price
    FROM (
      SELECT l.l_partkey, p.p_name, s.s_name, n.n_name,
             l.l_extendedprice / l.l_quantity AS unit_price,
             ROW_NUMBER() OVER (
               PARTITION BY l.l_partkey
               ORDER BY l.l_extendedprice / l.l_quantity, s.s_suppkey
             ) AS rn
      FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      WHERE p.p_type = 'STANDARD' AND p.p_size <= 15 AND r.r_name = 'EUROPE'
    )
    WHERE rn = 1
    ORDER BY min_unit_price DESC, l_partkey
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: the correlated "supplier achieving the per-part
    minimum" subquery, expressed as one window row_number instead of a
    self-join against a groupBy-min — one shuffle on l_partkey instead of
    two. nation/region are hint-broadcast; part/supplier are left to AQE
    (they scale with SF); the double unit price is compared AND emitted raw — per-row
    IEEE division is bit-identical in both engines, while ROUND(double, 6)
    is not (half-boundary ties flipped at sf0.1)."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").where(
        (F.col("p_type") == "STANDARD") & (F.col("p_size") <= 15)
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    unit_price = F.col("l_extendedprice") / F.col("l_quantity")
    joined = (
        l.join(p, l.l_partkey == p.p_partkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("l_partkey", "p_name", "s_name", "n_name", "s_suppkey",
                unit_price.alias("unit_price"))
    )
    w = W.partitionBy("l_partkey").orderBy("unit_price", "s_suppkey")
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("l_partkey", "p_name", "s_name", "n_name",
                F.col("unit_price").alias("min_unit_price"))
        .orderBy(F.desc("min_unit_price"), "l_partkey")
    )


@query(
    "q7_volume_shipping",
    oracle="""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
           ROUND(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))), 2) :: DOUBLE AS revenue
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
    JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
    WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_8')
        OR (n1.n_name = 'NATION_8' AND n2.n_name = 'NATION_3'))
      AND l.l_shipdate >= TIMESTAMP '1995-01-01'
      AND l.l_shipdate < TIMESTAMP '1997-01-01'
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bilateral trade volume between a nation pair by ship
    year. The disjunctive nation-pair predicate lands AFTER both nation
    joins (each hint-broadcast; supplier is AQE's call), so the big fact
    shuffles only on its natural join keys; the ship-date range prunes at
    the parquet scan."""
    l = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    o = load_table(spark, sf_dir, "orders")
    s = load_table(spark, sf_dir, "supplier")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    n1 = n.select(F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation"))
    n2 = n.select(F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation"))
    pair = (
        (F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_8")
    ) | ((F.col("supp_nation") == "NATION_8") & (F.col("cust_nation") == "NATION_3"))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .where(pair)
        .groupBy("supp_nation", "cust_nation",
                 F.year("l_shipdate").cast("long").alias("l_year"))
        .agg(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@query(
    "q8_market_share",
    oracle="""
    SELECT o_year,
           ROUND(CAST(nation_volume AS DOUBLE) / CAST(total_volume AS DOUBLE), 6) AS mkt_share,
           ROUND(total_volume, 2) :: DOUBLE AS total_volume
    FROM (
      SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
             SUM(CASE WHEN n1.n_name = 'NATION_3'
                 THEN CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))
                 ELSE CAST(0 AS DECIMAL(18,6)) END) AS nation_volume,
             SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))) AS total_volume
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN part p ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
      JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n2.n_regionkey
      WHERE p.p_type = 'PROMO' AND r.r_name = 'ASIA'
        AND o.o_orderdate >= TIMESTAMP '1995-01-01'
        AND o.o_orderdate < TIMESTAMP '1997-01-01'
      GROUP BY o_year
    )
    ORDER BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of PROMO-part revenue into a
    region, by order year. Share = ratio of two EXACT decimal sums cast to
    double only at the end — per the driver-contract rule, the division's
    operands are bit-identical in both engines so the rounded ratio can't
    straddle a boundary. Conditional agg (no second pass) computes both
    volumes in one shuffle."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    p = load_table(spark, sf_dir, "part").where(F.col("p_type") == "PROMO")
    s = load_table(spark, sf_dir, "supplier")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    n1 = n.select(F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation"))
    n2 = n.select(F.col("n_nationkey").alias("n2_key"), F.col("n_regionkey").alias("n2_region"))
    vol = _dec(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    zero = F.lit(0).cast("decimal(18,6)")
    agg = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(p, l.l_partkey == p.p_partkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .join(F.broadcast(r), F.col("n2_region") == F.col("r_regionkey"))
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            F.sum(F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(zero)).alias("nation_volume"),
            F.sum(vol).alias("total_volume"),
        )
    )
    return agg.select(
        "o_year",
        F.round(F.col("nation_volume").cast("double") / F.col("total_volume").cast("double"), 6).alias("mkt_share"),
        F.round("total_volume", 2).cast("double").alias("total_volume"),
    ).orderBy("o_year")


@query(
    "q9_product_profit",
    oracle="""
    SELECT n.n_name AS nation, CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
           ROUND(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                          - p.p_retailprice * l.l_quantity * CAST(0.1 AS DOUBLE)
                          AS DECIMAL(18,6))), 2) :: DOUBLE AS sum_profit
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE p.p_name LIKE '%red%'
    GROUP BY nation, o_year
    ORDER BY nation, o_year DESC
    """,
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit on name-matched parts by supplier nation and
    order year. partsupp doesn't exist in this schema, so unit cost is
    proxied as p_retailprice * 0.1 (same plan: fact x part/supplier dims
    x orders join, LIKE filter pushed down to the part scan; dim join
    strategy left to AQE since part/supplier scale with SF).
    The per-row profit expression is pure double IEEE (identical both
    engines) then decimal-accumulated."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").where(F.col("p_name").like("%red%"))
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    n = load_table(spark, sf_dir, "nation")
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.col("p_retailprice") * F.col("l_quantity") * F.lit(0.1)
    )
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"),
                 F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(_dsum(profit).alias("sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )


@query(
    "q11_important_parts",
    oracle="""
    WITH nation_value AS (
      SELECT l.l_partkey,
             SUM(CAST(l.l_extendedprice AS DECIMAL(18,6))) AS part_value
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      WHERE n.n_name = 'NATION_19'
      GROUP BY l.l_partkey
    )
    SELECT l_partkey, ROUND(part_value, 2) :: DOUBLE AS part_value
    FROM nation_value
    WHERE part_value > (SELECT SUM(part_value) * CAST(0.0001 AS DECIMAL(7,4)) FROM nation_value)
    ORDER BY part_value DESC, l_partkey
    """,
)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts whose value from one nation's suppliers
    exceeds a fraction of that nation's total — the HAVING-vs-global-scalar
    pattern. The scalar total is a 1-row broadcast cross join (no second
    scan of lineitem: Spark reuses the aggregated frame). Threshold
    comparison stays in exact decimals on both engines; rounding is
    output-only."""
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_19")
    per_part = (
        l.join(s, l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("l_partkey")
        .agg(F.sum(_dec(F.col("l_extendedprice"))).alias("part_value"))
    )
    per_part = per_part.transform(shared_subtree)  # both legs below reuse it
    total = per_part.agg(
        (F.sum("part_value") * F.lit("0.0001").cast("decimal(7,4)")).alias("threshold")
    )
    return (
        per_part.join(F.broadcast(total))
        .where(F.col("part_value") > F.col("threshold"))
        .select("l_partkey", F.round("part_value", 2).cast("double").alias("part_value"))
        .orderBy(F.desc("part_value"), "l_partkey")
    )


@query(
    "q12_late_lines_priority",
    oracle="""
    SELECT l.l_linestatus,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate > o.o_orderdate + INTERVAL 45 DAY
    GROUP BY l.l_linestatus
    ORDER BY l.l_linestatus
    """,
)
def q12_late_lines_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: conditional priority counts over late shipments.
    This schema has no shipmode/commitdate, so "late" is ship > order + 45d
    and l_linestatus stands in for the mode column — the plan (fact-fact
    equi-join, residual date predicate, CASE-sum agg) is the Q12 plan."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .where(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 45 DAYS"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(is_high, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(is_high, 0).otherwise(1)).cast("long").alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


@query(
    "q15_top_supplier",
    oracle="""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name,
           ROUND(r.total_revenue, 2) :: DOUBLE AS total_revenue
    FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    ORDER BY s.s_suppkey
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) with the maximum quarterly revenue —
    aggregate, then compare against the aggregate's own max (scalar
    subquery). The max is computed from the already-aggregated frame
    (supplier-cardinality) and broadcast back; the equality compares EXACT
    decimals so ties and boundaries are engine-identical."""
    l = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    s = load_table(spark, sf_dir, "supplier")
    revenue = (
        l.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(F.sum(_dec(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("total_revenue"))
    )
    revenue = revenue.transform(shared_subtree)  # max leg + join leg reuse
    max_rev = revenue.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        revenue.join(F.broadcast(max_rev))
        .where(F.col("total_revenue") == F.col("max_revenue"))
        .join(s, F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name",
                F.round("total_revenue", 2).cast("double").alias("total_revenue"))
        .orderBy("s_suppkey")
    )


@query(
    "q16_supplier_part_counts",
    oracle="""
    SELECT p.p_brand, p.p_type, CAST(p.p_size AS BIGINT) AS p_size,
           CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand <> 'Brand#1'
      AND p.p_size IN (1, 4, 9, 16, 25, 36, 49)
      AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p.p_brand, p.p_type, p.p_size
    ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p_size
    """,
)
def q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct suppliers per part descriptor, minus an
    excluded-supplier list (negative balances proxy the comment-matched
    complaint filter). NOT IN compiles to a left-anti join (AQE picks
    broadcast while the excluded list is small); the
    COUNT(DISTINCT) is the one real shuffle, on the grouping keys with
    Spark's two-phase distinct expansion."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#1")
        & F.col("p_size").isin(1, 4, 9, 16, 25, 36, 49)
    )
    bad = load_table(spark, sf_dir, "supplier").where(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        l.join(bad, l.l_suppkey == bad.s_suppkey, "left_anti")
        .join(p, F.col("l_partkey") == p.p_partkey)
        .groupBy("p_brand", "p_type", F.col("p_size").cast("long").alias("p_size"))
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


@query(
    "q21_waiting_suppliers",
    oracle="""
    WITH late_lines AS (
      SELECT l.l_orderkey, l.l_suppkey, o.o_orderstatus
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      WHERE l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
    )
    SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM late_lines l1
    JOIN supplier s ON s.s_suppkey = l1.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE l1.o_orderstatus = 'F'
      AND n.n_name = 'NATION_19'
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
        SELECT 1 FROM late_lines l3
        WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      )
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name
    """,
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who were the SOLE late shipper on a
    finished multi-supplier order — the classic EXISTS + NOT EXISTS double
    correlated pattern, compiled here to a left-semi then left-anti join
    with a non-equi (suppkey <>) conjunct. "Late" = ship > order + 60d
    (no receipt/commit dates in this schema). late_lines is computed once
    and localCheckpoint'd: it feeds both the probe side and the anti side,
    and exchange reuse across self-join legs is not guaranteed."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_19")
    late = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .where(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .select("l_orderkey", "l_suppkey", "o_orderstatus")
    )
    late = late.transform(shared_subtree)  # probe leg + anti leg reuse
    l2 = l.select(F.col("l_orderkey").alias("l2_orderkey"), F.col("l_suppkey").alias("l2_suppkey"))
    l3 = late.select(F.col("l_orderkey").alias("l3_orderkey"), F.col("l_suppkey").alias("l3_suppkey"))
    base = late.where(F.col("o_orderstatus") == "F")
    return (
        base.join(
            l2,
            (base.l_orderkey == l2.l2_orderkey) & (base.l_suppkey != l2.l2_suppkey),
            "left_semi",
        )
        .join(
            l3,
            (F.col("l_orderkey") == l3.l3_orderkey) & (F.col("l_suppkey") != l3.l3_suppkey),
            "left_anti",
        )
        .join(s, F.col("l_suppkey") == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
    )
