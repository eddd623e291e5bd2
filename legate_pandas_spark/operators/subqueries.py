"""Subquery / semi-anti-join / disjunctive-predicate query shapes.

The reference supports none of these (joins are plain equi inner/left/outer,
SURVEY §2.3) — they are the relational extension surface Catalyst gives for free:
EXISTS → left-semi, NOT EXISTS/NOT IN → left-anti, correlated scalar aggregates →
de-correlated join against a grouped subquery (no per-row subquery execution at
scale)."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from legate_pandas_spark.operators import query
from legate_pandas_spark.sources.tables import load_table


@query(
    "q4_priority_exists",
    oracle="""
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
      )
    GROUP BY o_orderpriority
    """,
)
def q4_priority_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS → left-semi join with a non-equi residual
    (l_shipdate > o_orderdate), then aggregate."""
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem")
    semi = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey) & (li.l_shipdate > orders.o_orderdate),
        "left_semi",
    )
    return semi.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("order_count"))


@query(
    "q6_forecast_revenue",
    oracle="""
    SELECT round(sum(l_extendedprice * l_discount), 4) AS revenue,
           count(*) AS n
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1999-01-01'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure filtered scan + scalar aggregate; every predicate is
    pushable to the parquet reader."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1999-01-01").cast("timestamp"))
        & F.col("l_discount").between(0.03, 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 4).alias("revenue"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "q12_priority_case_agg",
    oracle="""
    SELECT l_linestatus,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
    GROUP BY l_linestatus
    """,
)
def q12_priority_case_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: join + conditional (CASE) aggregation."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@query(
    "q14_promo_revenue_ratio",
    oracle="""
    SELECT round(
             100.0 * sum(CASE WHEN p_type = 'PROMO'
                              THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
             / sum(l_extendedprice * (1 - l_discount)), 6) AS promo_revenue_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1998-01-01'
      AND l_shipdate <  TIMESTAMP '1999-01-01'
    """,
)
def q14_promo_revenue_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: broadcast dim join + ratio of conditional aggregates."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1999-01-01").cast("timestamp"))
    )
    part = load_table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0)))
                / F.sum(rev),
                6,
            ).alias("promo_revenue_pct")
        )
    )


@query(
    "q16_notin_count_distinct",
    oracle="""
    SELECT p_brand, p_type, count(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE p_size IN (1, 4, 7)
      AND p_brand <> 'Brand#13'
      AND l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 2000
      )
    GROUP BY p_brand, p_type
    """,
)
def q16_notin_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: NOT IN → left-anti join + count distinct per group.
    (Testdata suppliers/acctbals have no NULLs, so NOT IN ≡ anti-join.)"""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_size").isin(1, 4, 7) & (F.col("p_brand") != "Brand#13")
    )
    bad_supp = load_table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 2000).select(
        "s_suppkey"
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(bad_supp), li.l_suppkey == bad_supp.s_suppkey, "left_anti")
        .groupBy("p_brand", "p_type")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@query(
    "q17_small_quantity_avg",
    oracle="""
    SELECT floor(CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
                 / 100.0 / 7.0 * 10000 + 0.5) / 10000 AS avg_yearly
    FROM lineitem l
    JOIN (
        SELECT l_partkey AS pk, 0.5 * avg(l_quantity) AS half_avg
        FROM lineitem GROUP BY l_partkey
    ) a ON l.l_partkey = a.pk
    WHERE l.l_quantity < a.half_avg
    """,
)
def q17_small_quantity_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated scalar subquery (per-part avg) de-correlated
    into a grouped subquery join — the plan Catalyst would also rewrite to; no
    per-row subquery execution at scale."""
    from pyspark.sql.window import Window

    li = load_table(spark, sf_dir, "lineitem")
    # per-part avg as a window over the fact table: ONE lineitem scan and one
    # shuffle on l_partkey (the grouped-subquery join would scan twice)
    half_avg = 0.5 * F.avg("l_quantity").over(Window.partitionBy("l_partkey"))
    # integer-cents sum (round-9 at-scale discipline: the double sum at
    # ~1e10+ magnitude drifted its 4dp rounding between engines on the 10x
    # corpus) + deterministic floor rounding
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    return (
        li.withColumn("_half_avg", half_avg)
        .filter(F.col("l_quantity") < F.col("_half_avg"))
        .agg(
            (
                F.floor(
                    F.sum(cents).cast("double") / 100.0 / 7.0 * 10000
                    + F.lit(0.5)
                )
                / 10000
            ).alias("avg_yearly")
        )
    )


@query(
    "q19_disjunctive_predicates",
    oracle="""
    SELECT round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
           count(*) AS n
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 5  AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#19' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#2'  AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)
    """,
)
def q19_disjunctive_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR-ed multi-column predicate blocks across the join."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    j = li.join(F.broadcast(part), part.p_partkey == li.l_partkey)
    block = lambda brand, smax, qlo, qhi: (  # noqa: E731
        (F.col("p_brand") == brand)
        & F.col("p_size").between(1, smax)
        & F.col("l_quantity").between(qlo, qhi)
    )
    return j.filter(
        block("Brand#13", 5, 1, 11) | block("Brand#19", 10, 10, 20) | block("Brand#2", 15, 20, 30)
    ).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "semi_join_active_customers",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE EXISTS (
        SELECT 1 FROM orders
        WHERE o_custkey = c_custkey AND o_orderstatus = 'O' AND o_totalprice > 200000
    )
    """,
)
def semi_join_active_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS semi-join (merge how='semi' in the frontend extension)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderstatus") == "O") & (F.col("o_totalprice") > 200000)
    )
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@query(
    "anti_join_inactive_customers",
    oracle="""
    SELECT c_custkey, c_name, round(c_acctbal, 2) AS acctbal
    FROM customer
    WHERE NOT EXISTS (
        SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 100000
    )
    """,
)
def anti_join_inactive_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS anti-join (merge how='anti' in the frontend extension)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 100000)
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti").select(
        "c_custkey", "c_name", F.round("c_acctbal", 2).alias("acctbal")
    )


@query(
    "above_customer_avg_orders",
    oracle="""
    SELECT o.o_orderkey, o.o_custkey, round(o.o_totalprice, 2) AS totalprice,
           round(a.cust_sum, 2) AS cust_sum, a.n_orders
    FROM orders o
    JOIN (
        SELECT o_custkey AS ck, avg(o_totalprice) AS cust_avg,
               sum(o_totalprice) AS cust_sum, count(*) AS n_orders
        FROM orders GROUP BY o_custkey
    ) a ON o.o_custkey = a.ck
    WHERE o.o_totalprice > a.cust_avg
    """,
)
def above_customer_avg_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated comparison against a per-group aggregate (orders above their
    customer's average) — grouped-subquery join, shuffle shared on o_custkey."""
    from pyspark.sql.window import Window

    orders = load_table(spark, sf_dir, "orders")
    # per-customer stats as windows: one orders scan, one shuffle on o_custkey
    w = Window.partitionBy("o_custkey")
    return (
        orders.withColumn("cust_avg", F.avg("o_totalprice").over(w))
        .withColumn("cust_sum", F.sum("o_totalprice").over(w))
        .withColumn("n_orders", F.count(F.lit(1)).over(w))
        .filter(F.col("o_totalprice") > F.col("cust_avg"))
        .select(
            "o_orderkey",
            "o_custkey",
            F.round("o_totalprice", 2).alias("totalprice"),
            # the raw average sits on exact .xxxx5 boundaries (sum/2^k of 2dp
            # values) where engine rounding modes diverge — expose the exact-
            # decimal sum + count instead, keep the avg in the filter only
            F.round("cust_sum", 2).alias("cust_sum"),
            "n_orders",
        )
    )


@query(
    "q15_top_supplier",
    oracle="""
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               sum(l_extendedprice * (1 - l_discount)) AS total_rev
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1999-01-01'
          AND l_shipdate <  TIMESTAMP '2000-01-01'
        GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, round(r.total_rev, 4) AS total_revenue
    FROM supplier JOIN revenue r ON s_suppkey = r.supplier_no
    WHERE r.total_rev = (SELECT max(total_rev) FROM revenue)
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: derived revenue view + scalar max subquery (the view is
    computed once and reused for both the max and the join — exchange reuse)."""
    # the explicit l_suppkey IS NOT NULL matters: the supplier join infers it
    # on its branch only, which would de-canonicalize the two revenue subtrees
    # and defeat exchange reuse (two fact scans instead of one)
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1999-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("2000-01-01").cast("timestamp"))
        & F.col("l_suppkey").isNotNull()
    )
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("total_rev")
    )
    # The global max is a 1-row aggregate broadcast cross-joined back into the
    # revenue view — never an unpartitioned window over the supplier-cardinality
    # aggregate (10k rows/SF: at 100 TB that window is a real shuffle-to-one).
    # Catalyst's ReusedExchange keeps the revenue view a single pass.
    mx = revenue.agg(F.max("total_rev").alias("_m"))
    top = revenue.crossJoin(F.broadcast(mx)).filter(
        F.col("total_rev") == F.col("_m")
    )
    supp = load_table(spark, sf_dir, "supplier")
    return (
        supp.join(F.broadcast(top), supp.s_suppkey == top.supplier_no)
        .select("s_suppkey", "s_name", F.round("total_rev", 4).alias("total_revenue"))
    )


@query(
    "q22_global_sales_opportunity",
    oracle="""
    WITH avg_bal AS (
        SELECT avg(c_acctbal) AS ab FROM customer WHERE c_acctbal > 0.0
    )
    SELECT substr(c_name, 10, 2) AS cntrycode,
           count(*) AS numcust,
           round(sum(c_acctbal), 2) AS totacctbal
    FROM customer, avg_bal
    WHERE c_acctbal > ab
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_totalprice > 400000)
    GROUP BY substr(c_name, 10, 2)
    """,
)
def q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: scalar avg subquery (broadcast) + NOT EXISTS anti-join +
    substring group key."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    avg_bal = cust.filter(F.col("c_acctbal") > 0.0).agg(F.avg("c_acctbal").alias("ab"))
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("ab"))
        .join(
            orders.filter(F.col("o_totalprice") > 400000),
            cust.c_custkey == orders.o_custkey,
            "left_anti",
        )
        .groupBy(F.substring("c_name", 10, 2).alias("cntrycode"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


@query(
    "q11_important_stock",
    oracle="""
    WITH sup_val AS (
        SELECT l_suppkey, sum(l_quantity * p_retailprice) AS inv_value
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY l_suppkey
    ),
    total AS (SELECT sum(inv_value) AS t FROM sup_val)
    SELECT s.l_suppkey AS suppkey, round(s.inv_value, 4) AS inv_value
    FROM sup_val s, total
    WHERE s.inv_value > 0.011 * total.t
    """,
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: groups whose aggregate exceeds a fraction of the GLOBAL
    aggregate. The global total is a 1-row aggregate broadcast cross-joined back
    into the grouped view (ReusedExchange → one fact scan) — never an
    unpartitioned window over the supplier-cardinality aggregate, which grows
    with SF and becomes a shuffle-to-one at 100 TB."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    sup_val = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("l_suppkey")
        .agg(F.sum(F.col("l_quantity") * F.col("p_retailprice")).alias("inv_value"))
    )
    total = sup_val.agg(F.sum("inv_value").alias("_t"))
    return (
        sup_val.crossJoin(F.broadcast(total))
        .filter(F.col("inv_value") > 0.011 * F.col("_t"))
        .select(F.col("l_suppkey").alias("suppkey"), F.round("inv_value", 4).alias("inv_value"))
    )


@query(
    "q13_customer_order_distribution",
    oracle="""
    WITH per_cust AS (
        SELECT c_custkey, count(o_orderkey) AS c_count
        FROM customer
        LEFT JOIN orders ON c_custkey = o_custkey
                         AND o_orderpriority <> '1-URGENT'
        GROUP BY c_custkey
    )
    SELECT c_count, count(*) AS custdist
    FROM per_cust
    GROUP BY c_count
    """,
)
def q13_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: double aggregation — orders per customer (LEFT join so
    zero-order customers count), then the distribution of those counts. The
    second groupBy runs over customer-cardinality rows, the first is the only
    fact-sized shuffle."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@query(
    "q8_market_share",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INT) AS o_year,
           round(sum(CASE WHEN n.n_name = 'NATION_1'
                          THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
                 / sum(l_extendedprice * (1 - l_discount)), 6) AS mkt_share
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation n ON s_nationkey = n.n_nationkey
    GROUP BY year(o_orderdate)
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of total revenue per order year —
    ratio of conditional aggregates over a multi-join (single pass; the CASE
    splits the numerator, no second scan)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("n_name") == "NATION_1", rev).otherwise(F.lit(0.0)))
                / F.sum(rev),
                6,
            ).alias("mkt_share")
        )
    )


@query(
    "q9_product_profit",
    oracle="""
    SELECT n_name, CAST(year(o_orderdate) AS INT) AS o_year,
           round(sum(l_extendedprice * (1 - l_discount)
                     - p_retailprice * l_quantity * 0.1), 4) AS profit
    FROM lineitem
    JOIN part     ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN nation   ON s_nationkey = n_nationkey
    WHERE contains(p_name, 'widget')
    GROUP BY n_name, year(o_orderdate)
    """,
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit by supplier-nation and order year over a 5-way
    join with a substring predicate on the part dim (filter applied before the
    broadcast, so the build side shrinks first)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_name").contains("widget"))
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    nation = load_table(spark, sf_dir, "nation")
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.col(
        "p_retailprice"
    ) * F.col("l_quantity") * 0.1
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy("n_name", F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(F.round(F.sum(profit), 4).alias("profit"))
    )


@query(
    "q21_sole_late_supplier",
    oracle="""
    WITH flagged AS (
        SELECT l.l_orderkey, l.l_suppkey,
               l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY AS is_late
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    per_order AS (
        SELECT l_orderkey,
               count(DISTINCT l_suppkey) AS n_supp,
               count(DISTINCT CASE WHEN is_late THEN l_suppkey END) AS n_late_supp
        FROM flagged GROUP BY l_orderkey
    )
    SELECT s.s_name, count(*) AS numwait
    FROM flagged f
    JOIN per_order p ON f.l_orderkey = p.l_orderkey
    JOIN supplier s  ON f.l_suppkey = s.s_suppkey
    WHERE f.is_late AND p.n_supp > 1 AND p.n_late_supp = 1
    GROUP BY s.s_name
    """,
)
def q21_sole_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (EXISTS + NOT EXISTS self-joins) rewritten as ONE pass:
    per-order distinct-supplier and distinct-late-supplier counts are window
    aggregates (collect_set size over the l_orderkey partition — countDistinct
    is illegal in a window), replacing both correlated subqueries AND the
    aggregate join-back. One shuffle on orderkey total; distinct sets are
    bounded by suppliers-per-order (≤7), so collect_set state is tiny."""
    from pyspark.sql.window import Window

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supp = load_table(spark, sf_dir, "supplier")
    flagged = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        "l_orderkey",
        "l_suppkey",
        (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")).alias(
            "is_late"
        ),
    )
    w = Window.partitionBy("l_orderkey")
    enriched = flagged.withColumn(
        "n_supp", F.size(F.collect_set("l_suppkey").over(w))
    ).withColumn(
        "n_late_supp",
        F.size(F.collect_set(F.when(F.col("is_late"), F.col("l_suppkey"))).over(w)),
    )
    return (
        enriched.filter(
            F.col("is_late") & (F.col("n_supp") > 1) & (F.col("n_late_supp") == 1)
        )
        .join(F.broadcast(supp), F.col("l_suppkey") == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


@query(
    "nation_pair_volume",
    oracle="""
    SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS volume,
           count(*) AS n
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey  = c_custkey
    JOIN supplier ON l_suppkey  = s_suppkey
    JOIN nation cn ON c_nationkey = cn.n_nationkey
    JOIN nation sn ON s_nationkey = sn.n_nationkey
    WHERE cn.n_name < sn.n_name
    GROUP BY cn.n_name, sn.n_name
    """,
)
def nation_pair_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: nation-pair trade volume — two broadcast joins against the
    same dim table under different aliases."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    cn = nation.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    sn = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(cn), cust.c_nationkey == F.col("cn_key"))
        .join(F.broadcast(sn), supp.s_nationkey == F.col("sn_key"))
        .filter(F.col("cust_nation") < F.col("supp_nation"))
        .groupBy("cust_nation", "supp_nation")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
                "volume"
            ),
            F.count(F.lit(1)).alias("n"),
        )
    )


@query(
    "q18_large_volume_customers",
    oracle="""
    WITH big AS (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey HAVING sum(l_quantity) > 250
    )
    SELECT c.c_name, o.o_custkey, o.o_orderkey,
           CAST(o.o_orderdate AS DATE) AS o_orderdate,
           round(o.o_totalprice, 2) AS o_totalprice,
           round(sum(l.l_quantity), 2) AS total_qty
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (SELECT l_orderkey FROM big)
    GROUP BY c.c_name, o.o_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
    """,
)
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume customers): the IN-subquery over a HAVING
    aggregate becomes a semi-join against the per-order quantity aggregate —
    one lineitem aggregation reused as the filter, then fact joins and the
    top-100 TakeOrdered. All shuffles on join/group keys."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 250)
        .select("l_orderkey")
    )
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey, "left_semi")
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("c_name", "o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .select(
            "c_name",
            "o_custkey",
            "o_orderkey",
            F.to_date("o_orderdate").alias("o_orderdate"),
            F.round("o_totalprice", 2).alias("o_totalprice"),
            "total_qty",
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(100)
    )


@query(
    "window_topk_per_day",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, user_id,
             round(CAST(sum(value) AS DOUBLE), 4) AS day_value
      FROM events GROUP BY 1, 2
    ),
    ranked AS (
      SELECT day, user_id, day_value,
             row_number() OVER (PARTITION BY day
                                ORDER BY day_value DESC, user_id) AS rn
      FROM daily
    )
    SELECT day, user_id, day_value, CAST(rn AS BIGINT) AS rn
    FROM ranked WHERE rn <= 3
    """,
)
def window_topk_per_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 users by spend per day: aggregate first (shrinks the window input
    to one row per (day, user)), then rank PARTITIONED by day with a total-
    order tiebreak. Ranking raw events instead of the aggregate would sort
    1000× more rows — aggregate-then-rank is the 100 TB ordering."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.to_date("ts").alias("day"), "user_id"
    ).agg(F.round(F.sum("value").cast("double"), 4).alias("day_value"))
    w = Window.partitionBy("day").orderBy(F.desc("day_value"), "user_id")
    return (
        daily.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 3)
        .select("day", "user_id", "day_value", "rn")
    )
