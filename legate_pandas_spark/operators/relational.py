"""Relational operator catalog: scans, filters, projections, joins, aggregations,
sorts, set ops, scalar functions — the SURVEY §2.2-§2.8 inventory re-expressed as
idiomatic lazy Spark DataFrame plans.

Scale notes (100 TB design intent, verified on local plans via .explain):
* Filters/projections are plain Catalyst expressions → parquet pushdown + pruning.
* Fact⋈fact joins shuffle on keys (SMJ/SHJ picked by Catalyst+AQE); dim tables
  (region/nation/supplier/part at TPC-H ratios) are explicitly broadcast.
* Aggregations rely on partial+final HashAggregate (map-side combine), mirroring
  the reference's tree/hash groupby strategies (reference core/groupby.py:159-231).
* No collect()-driven logic anywhere; every query is a single lazy plan.

Float outputs are rounded (4-6 dp) in BOTH the Spark plan and the DuckDB oracle so
the driver's value-hash is robust to summation-order differences.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from legate_pandas_spark.operators import query
from legate_pandas_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# TPC-H-shaped analytics (scan → filter → join → groupBy → sort → limit)
# ---------------------------------------------------------------------------

@query(
    "q1_pricing_summary",
    oracle="""
    WITH s AS (
      SELECT l_returnflag, l_linestatus,
             CAST(round(l_quantity * 100) AS BIGINT)      AS q100,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS p100,
             CAST(round(l_discount * 100) AS BIGINT)      AS d100,
             CAST(round(l_tax * 100) AS BIGINT)           AS t100
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '2000-12-01'
    )
    SELECT l_returnflag, l_linestatus,
           CAST(sum(q100) AS DOUBLE) / 100.0                    AS sum_qty,
           CAST(sum(p100) AS DOUBLE) / 100.0                    AS sum_base_price,
           CAST(sum(p100 * (100 - d100)) AS DOUBLE) / 10000.0   AS sum_disc_price,
           CAST(sum(p100 * (100 - d100) * (100 + t100)) AS DOUBLE)
               / 1000000.0                                      AS sum_charge,
           floor(CAST(sum(q100) AS DOUBLE) / 100.0 / count(*) * 10000 + 0.5)
               / 10000                                          AS avg_qty,
           floor(CAST(sum(p100) AS DOUBLE) / 100.0 / count(*) * 10000 + 0.5)
               / 10000                                          AS avg_price,
           floor(CAST(sum(d100) AS DOUBLE) / 100.0 / count(*) * 10000 + 0.5)
               / 10000                                          AS avg_disc,
           count(*)                                             AS count_order
    FROM s
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: filtered scan + hash aggregate.

    Reference parity: groupby reductions sum/mean/count (frontend/groupby.py:88-270,
    core/groupby.py:201-242) — here a single partial+final HashAggregate; the filter
    is pushed to the parquet scan.

    Numeric discipline (round-9, found by the first sf0.1 full gate): a
    double sum of 600k items at 4.5e9 magnitude sits AT its 6dp rounding
    ulp, and summation order drifted the last digit between engines. The
    2dp inputs are EXACT when scaled to integer cents/basis points, so every
    measure sums in int64 (order-independent, exact; qty/base ≲1e15 even at
    sf1000; disc_price scale 1e4 ≲1e17 at sf100) except the 1e6-scaled
    charge, which sums as DECIMAL(20,0) to keep int64 headroom at any SF.
    The final doubles come from casting the identical exact integer, so both
    engines agree bit-for-bit; averages round via floor(x*1e4+0.5)/1e4 (pure
    IEEE, immune to the engines' differing round() tie behavior). Measured:
    0.61s vs 0.37s for the drifting double form and 1.2s for all-decimal —
    the integer-scaled hybrid keeps whole-stage-codegen long arithmetic in
    the hot path."""
    li = load_table(spark, sf_dir, "lineitem")
    q100 = F.round(F.col("l_quantity") * 100).cast("long")
    p100 = F.round(F.col("l_extendedprice") * 100).cast("long")
    d100 = F.round(F.col("l_discount") * 100).cast("long")
    t100 = F.round(F.col("l_tax") * 100).cast("long")
    disc4 = p100 * (100 - d100)            # exact, scale 1e4
    charge6 = disc4 * (100 + t100)         # exact, scale 1e6
    cnt = F.count(F.lit(1))

    def det_round4(x):  # deterministic cross-engine 4dp rounding
        return F.floor(x * 10000 + F.lit(0.5)) / 10000

    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-12-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            (F.sum(q100).cast("double") / 100.0).alias("sum_qty"),
            (F.sum(p100).cast("double") / 100.0).alias("sum_base_price"),
            (F.sum(disc4).cast("double") / 10000.0).alias("sum_disc_price"),
            (
                F.sum(charge6.cast("decimal(20,0)")).cast("double") / 1000000.0
            ).alias("sum_charge"),
            det_round4(F.sum(q100).cast("double") / 100.0 / cnt).alias("avg_qty"),
            det_round4(F.sum(p100).cast("double") / 100.0 / cnt).alias("avg_price"),
            det_round4(F.sum(d100).cast("double") / 100.0 / cnt).alias("avg_disc"),
            cnt.alias("count_order"),
        )
    )


@query(
    "q3_shipping_priority",
    oracle="""
    SELECT l_orderkey,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
           strftime(o_orderdate, '%Y-%m-%d')                 AS orderdate
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '2000-01-01'
      AND l_shipdate  > TIMESTAMP '1998-01-01'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join, agg, top-k (TakeOrderedAndProject)."""
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("2000-01-01").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    )
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue")
        )
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@query(
    "q5_local_supplier_volume",
    oracle="""
    SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
    FROM customer
    JOIN orders   ON c_custkey  = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey  = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name
    """,
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way join with broadcast dims (region/nation/supplier)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .join(
            F.broadcast(supp),
            (li.l_suppkey == supp.s_suppkey) & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue")
        )
    )


@query(
    "q10_returned_items",
    oracle="""
    SELECT c_custkey, c_name,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(round(l_discount * 100) AS BIGINT)))
                AS DOUBLE) / 10000.0 AS revenue,
           round(c_acctbal, 2) AS acctbal, n_name
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: returned-item revenue ranking, broadcast nation dim.

    Revenue sums cents × (100 − discount-bp) in exact int64 (the q1 numeric
    discipline): the plain double sum drifted its 4dp last digit on the
    round-10 SKEW corpus, where 2/3 of orders land on one customer and the
    hot group's revenue reaches 6.7e9 — summation order then flips the ulp
    at the rounding quantum. Scaled magnitude ≈ 6.7e13 at this corpus; int64
    holds to ~1e5× more before DECIMAL would be needed (the q1 charge
    precedent)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = load_table(spark, sf_dir, "nation")
    p100 = F.round(F.col("l_extendedprice") * 100).cast("long")
    d100 = F.round(F.col("l_discount") * 100).cast("long")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg((F.sum(p100 * (100 - d100)).cast("double") / 10000.0).alias("revenue"))
        .select(
            "c_custkey",
            "c_name",
            "revenue",
            F.round("c_acctbal", 2).alias("acctbal"),
            "n_name",
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@query(
    "having_big_orders",
    oracle="""
    SELECT o.o_orderkey, o.o_orderstatus, g.sum_qty
    FROM orders o
    JOIN (
        SELECT l_orderkey, round(sum(l_quantity), 4) AS sum_qty
        FROM lineitem
        GROUP BY l_orderkey
        HAVING sum(l_quantity) > 150
    ) g ON o.o_orderkey = g.l_orderkey
    """,
)
def having_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: groupBy + HAVING filter + join back to the fact table."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("_raw_qty"))
        .filter(F.col("_raw_qty") > 150)
        .select("l_orderkey", F.round("_raw_qty", 4).alias("sum_qty"))
    )
    return orders.join(big, orders.o_orderkey == big.l_orderkey).select(
        "o_orderkey", "o_orderstatus", "sum_qty"
    )


# ---------------------------------------------------------------------------
# Joins (SURVEY §2.3: inner/left/outer merge semantics, broadcast variant)
# ---------------------------------------------------------------------------

@query(
    "join_inner_basic",
    oracle="""
    SELECT o_orderkey, o_custkey, c_name, c_mktsegment,
           round(o_totalprice, 2) AS totalprice
    FROM orders JOIN customer ON o_custkey = c_custkey
    """,
)
def join_inner_basic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner equi-join (reference merge how='inner': frontend/merge.py:20-130)."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    return orders.join(cust, orders.o_custkey == cust.c_custkey).select(
        "o_orderkey", "o_custkey", "c_name", "c_mktsegment",
        F.round("o_totalprice", 2).alias("totalprice"),
    )


@query(
    "join_left_with_nulls",
    oracle="""
    SELECT c_custkey, c_name, o_orderkey, round(o_totalprice, 2) AS totalprice
    FROM customer
    LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 300000) o
           ON c_custkey = o.o_custkey
    """,
)
def join_left_with_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left join producing unmatched-side NULLs (reference how='left')."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left").select(
        "c_custkey", "c_name", "o_orderkey", F.round("o_totalprice", 2).alias("totalprice")
    )


@query(
    "join_outer_coalesce",
    oracle="""
    SELECT coalesce(a.o_orderkey, b.l_orderkey) AS orderkey,
           round(a.o_totalprice, 2)             AS totalprice,
           round(b.revenue, 2)                  AS revenue
    FROM (SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 2 = 0) a
    FULL OUTER JOIN (
        SELECT l_orderkey, sum(l_extendedprice) AS revenue
        FROM lineitem WHERE l_orderkey % 3 = 0 GROUP BY l_orderkey
    ) b ON a.o_orderkey = b.l_orderkey
    """,
)
def join_outer_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join with pandas-merge key coalescing (reference
    src/merge/merge.cu:144-152 fills the common key from both sides)."""
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_totalprice"
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 3 == 0)
        .groupBy("l_orderkey")
        .agg(F.sum("l_extendedprice").alias("revenue"))
    )
    return orders.join(li, orders.o_orderkey == li.l_orderkey, "full_outer").select(
        F.coalesce("o_orderkey", "l_orderkey").alias("orderkey"),
        F.round("o_totalprice", 2).alias("totalprice"),
        F.round("revenue", 2).alias("revenue"),
    )


@query(
    "join_broadcast_dims",
    oracle="""
    SELECT p_brand, s_name,
           round(sum(l_quantity), 4) AS sum_qty,
           count(*)                  AS n
    FROM lineitem
    JOIN part     ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    GROUP BY p_brand, s_name
    """,
)
def join_broadcast_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast join of small dims (reference method='broadcast',
    core/merge.py:639-643) — explicit F.broadcast hints; no shuffle of lineitem."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    supp = load_table(spark, sf_dir, "supplier")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .groupBy("p_brand", "s_name")
        .agg(F.round(F.sum("l_quantity"), 4).alias("sum_qty"), F.count(F.lit(1)).alias("n"))
    )


@query(
    "join_multikey",
    oracle="""
    SELECT l.l_orderkey, l.l_partkey, l.l_linenumber,
           round(r.max_price, 2) AS max_price
    FROM lineitem l
    JOIN (
        SELECT l_partkey, l_suppkey, max(l_extendedprice) AS max_price
        FROM lineitem GROUP BY l_partkey, l_suppkey
    ) r ON l.l_partkey = r.l_partkey AND l.l_suppkey = r.l_suppkey
    WHERE l.l_extendedprice = r.max_price
    """,
)
def join_multikey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite-key equi-join (reference multicolumn merge,
    tests/pandas/df_merge_multicolumn.py)."""
    li = load_table(spark, sf_dir, "lineitem")
    mx = li.groupBy("l_partkey", "l_suppkey").agg(F.max("l_extendedprice").alias("max_price"))
    return (
        li.alias("l")
        .join(
            mx.alias("r"),
            (F.col("l.l_partkey") == F.col("r.l_partkey"))
            & (F.col("l.l_suppkey") == F.col("r.l_suppkey")),
        )
        .filter(F.col("l.l_extendedprice") == F.col("r.max_price"))
        .select(
            F.col("l.l_orderkey").alias("l_orderkey"),
            F.col("l.l_partkey").alias("l_partkey"),
            F.col("l.l_linenumber").alias("l_linenumber"),
            F.round("r.max_price", 2).alias("max_price"),
        )
    )


# ---------------------------------------------------------------------------
# Filters / projections / row selection (SURVEY §2.2)
# ---------------------------------------------------------------------------

@query(
    "filter_project_pushdown",
    oracle="""
    SELECT l_orderkey, l_linenumber, round(l_extendedprice, 2) AS price
    FROM lineitem
    WHERE l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 25
    """,
)
def filter_project_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean-mask filter + column projection (reference COMPACT task,
    core/table.py:1033-1101). Predicates and 3-column pruning reach the scan."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        F.col("l_discount").between(0.05, 0.07) & (F.col("l_quantity") < 25)
    ).select("l_orderkey", "l_linenumber", F.round("l_extendedprice", 2).alias("price"))


@query(
    "isin_filter",
    oracle="""
    SELECT n_nationkey, n_name, r_name
    FROM nation JOIN region ON n_regionkey = r_regionkey
    WHERE n_name IN ('NATION_1', 'NATION_5', 'NATION_13', 'NATION_21')
    """,
)
def isin_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """isin-style row selection (reference boolean select with null care,
    tests/pandas/df_select_with_null.py)."""
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        nation.filter(F.col("n_name").isin("NATION_1", "NATION_5", "NATION_13", "NATION_21"))
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("n_nationkey", "n_name", "r_name")
    )


@query(
    "where_mask_conditional",
    oracle="""
    SELECT o_orderkey,
           round(CASE WHEN o_totalprice > 200000 THEN 200000.0 ELSE o_totalprice END, 2)
               AS capped_price,
           CASE WHEN o_totalprice > 300000 THEN 'high'
                WHEN o_totalprice > 100000 THEN 'mid'
                ELSE 'low' END AS band
    FROM orders
    """,
)
def where_mask_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """where/mask conditional replace (reference copy_if_else task,
    src/copy/tasks/copy_if_else.cc; frontend/frame.py:218-277)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.round(
            F.when(F.col("o_totalprice") > 200000, F.lit(200000.0)).otherwise(
                F.col("o_totalprice")
            ),
            2,
        ).alias("capped_price"),
        F.when(F.col("o_totalprice") > 300000, "high")
        .when(F.col("o_totalprice") > 100000, "mid")
        .otherwise("low")
        .alias("band"),
    )


@query(
    "slice_loc_range",
    oracle="""
    SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS totalprice
    FROM orders WHERE o_orderkey BETWEEN 100 AND 299
    """,
)
def slice_loc_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """loc-style label-range slice on the index column (reference FIND_BOUNDS +
    slice_by_range, core/index.py:385-417) → a pushed-down range filter."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.filter(F.col("o_orderkey").between(100, 299)).select(
        "o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("totalprice")
    )


# ---------------------------------------------------------------------------
# Aggregations (SURVEY §2.4)
# ---------------------------------------------------------------------------

@query(
    "global_agg_reduce",
    oracle="""
    WITH s AS (
      SELECT CAST(round(l_quantity * 100) AS BIGINT)      AS q100,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS p100,
             CAST(round(l_discount * 100) AS BIGINT)      AS d100,
             l_quantity
      FROM lineitem
    )
    SELECT CAST(sum(q100) AS DOUBLE) / 100.0 AS sum_qty,
           floor(CAST(sum(q100) AS DOUBLE) / 100.0 / count(*) * 10000 + 0.5)
               / 10000 AS mean_qty,
           round(min(l_quantity), 4) AS min_qty,
           round(max(l_quantity), 4) AS max_qty,
           count(l_quantity) AS count_qty,
           floor((CAST(sum(q100 * q100) AS DOUBLE)
                  - CAST(sum(q100) AS DOUBLE) * CAST(sum(q100) AS DOUBLE)
                    / count(*))
                 / 10000.0 / (count(*) - 1) * 10000 + 0.5) / 10000 AS var_qty,
           floor(sqrt((CAST(sum(q100 * q100) AS DOUBLE)
                       - CAST(sum(q100) AS DOUBLE) * CAST(sum(q100) AS DOUBLE)
                         / count(*))
                      / 10000.0 / (count(*) - 1)) * 10000 + 0.5) / 10000
               AS std_qty,
           CAST(sum(p100) AS DOUBLE) / 100.0 AS sum_price,
           floor(CAST(sum(d100) AS DOUBLE) / 100.0 / count(*) * 1000000 + 0.5)
               / 1000000 AS mean_disc
    FROM s
    """,
)
def global_agg_reduce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-wide reductions (reference UNARY_REDUCTION + SCALAR_REDUCTION tree,
    core/column.py:558-597) — one partial+final agg, no driver-side loop.
    var/std are sample (ddof=1), matching pandas defaults.

    Numeric discipline (round-12, found by the 100x relational gate): the
    double sum of l_extendedprice at 3.2e12 magnitude drifted its 2dp last
    digit by summation order at 60M rows (same class as q1 round-9). All
    sums now run in exact integer cents (q1 discipline; q100² sums stay
    under int64 even at sf1000); mean/var/std derive from the exact integer
    sums with identical IEEE expressions on both engines (multiply/divide/
    sqrt are correctly rounded, so identical inputs give identical bits),
    rounding via floor(x·10^d + 0.5)."""
    li = load_table(spark, sf_dir, "lineitem")
    q100 = F.round(F.col("l_quantity") * 100).cast("long")
    p100 = F.round(F.col("l_extendedprice") * 100).cast("long")
    d100 = F.round(F.col("l_discount") * 100).cast("long")
    s = li.select(
        q100.alias("q100"), p100.alias("p100"), d100.alias("d100"), "l_quantity"
    )
    sum_q = F.sum("q100").cast("double")
    sum_q2 = F.sum(F.col("q100") * F.col("q100")).cast("double")
    n = F.count(F.lit(1))
    var_expr = (sum_q2 - sum_q * sum_q / n) / F.lit(10000.0) / (n - F.lit(1))
    return s.agg(
        (sum_q / 100.0).alias("sum_qty"),
        (F.floor(sum_q / 100.0 / n * 10000 + 0.5) / 10000).alias("mean_qty"),
        F.round(F.min("l_quantity"), 4).alias("min_qty"),
        F.round(F.max("l_quantity"), 4).alias("max_qty"),
        F.count("l_quantity").alias("count_qty"),
        (F.floor(var_expr * 10000 + 0.5) / 10000).alias("var_qty"),
        (F.floor(F.sqrt(var_expr) * 10000 + 0.5) / 10000).alias("std_qty"),
        (F.sum("p100").cast("double") / 100.0).alias("sum_price"),
        (F.floor(F.sum("d100").cast("double") / 100.0 / n * 1000000 + 0.5) / 1000000).alias(
            "mean_disc"
        ),
    )


@query(
    "groupby_multi_agg",
    oracle="""
    SELECT l_returnflag,
           round(sum(l_quantity), 4)         AS sum_qty,
           round(avg(l_extendedprice), 4)    AS avg_price,
           round(stddev_samp(l_discount), 6) AS std_disc,
           strftime(min(l_shipdate), '%Y-%m-%d') AS min_ship,
           strftime(max(l_shipdate), '%Y-%m-%d') AS max_ship,
           count(DISTINCT l_partkey)         AS distinct_parts,
           count(*)                          AS n
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def groupby_multi_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-agg dict per column incl. string/timestamp min-max and nunique
    (reference frontend/groupby.py:142-270; MinMax string specializations
    src/groupby/groupby_reduce.cc:298-399)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
        F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
        F.round(F.stddev_samp("l_discount"), 6).alias("std_disc"),
        F.date_format(F.min("l_shipdate"), "yyyy-MM-dd").alias("min_ship"),
        F.date_format(F.max("l_shipdate"), "yyyy-MM-dd").alias("max_ship"),
        F.countDistinct("l_partkey").alias("distinct_parts"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "groupby_any_all_prod",
    oracle="""
    SELECT o_orderstatus,
           bool_or(o_totalprice > 400000)  AS any_big,
           bool_and(o_totalprice > 1000)   AS all_over_1k,
           CAST(round(sum(CAST(ln(1.0 + o_totalprice * 0.0000000001)
                               AS DECIMAL(38,18))), 8) AS DOUBLE)
               AS log_prod_factor,
           count(*) AS n
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def groupby_any_all_prod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """any/all/prod groupby reductions (reference core/groupby.py:85-92 output
    rules; src/reduction/reduction_op.h:29-165 op defs).

    Precision contract (round-12, found by the 100x relational gate): a raw
    double product over 100x-bigger groups drifted at the 13th significant
    digit by multiplication order (the multiplicative twin of the q1 sum-ulp
    class), and NO fixed rounding width survives corpus growth for a value
    whose magnitude grows with n — so, per the cumprod_log_trick precedent,
    the cross-engine contract is the LOG of the product. The log summands
    are cast to DECIMAL(38,18) so the SUM itself is exact and order-
    independent; the only residual cross-engine term is the per-element
    ln() last-ulp difference between the JVM and libm (≤ ~4e-21 absolute
    per element at these magnitudes — 10^6 under the 8dp quantum even at
    1000x). Consumers exponentiate locally for the raw product; the
    facade's pandas-exact prod (frontend/groupby.py) is unaffected."""
    orders = load_table(spark, sf_dir, "orders")
    log_factor = F.log(F.lit(1.0) + F.col("o_totalprice") * 1e-10)
    return orders.groupBy("o_orderstatus").agg(
        F.bool_or(F.col("o_totalprice") > 400000).alias("any_big"),
        F.bool_and(F.col("o_totalprice") > 1000).alias("all_over_1k"),
        F.round(F.sum(log_factor.cast("decimal(38,18)")), 8)
        .cast("double")
        .alias("log_prod_factor"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "groupby_size_value_counts",
    oracle="""
    SELECT event_type, count(*) AS size
    FROM events GROUP BY event_type
    """,
)
def groupby_size_value_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """groupby.size() / value_counts (reference SIZE agg, frontend/groupby.py)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("size"))


@query(
    "rollup_extension",
    oracle="""
    SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
           coalesce(l_linestatus, 'ALL') AS linestatus,
           round(sum(l_quantity), 4)     AS sum_qty,
           count(*)                      AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def rollup_extension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical rollup — absent in the reference (SURVEY §2.4 'absent' row);
    free Spark extension surface."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
        F.count(F.lit(1)).alias("n"),
    ).select(
        F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
        F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
        "sum_qty",
        "n",
    )


# ---------------------------------------------------------------------------
# Sorts / top-k / dedup / set ops (SURVEY §2.4, §2.5, §2.7)
# ---------------------------------------------------------------------------

@query(
    "sort_topk_nlargest",
    oracle="""
    SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
    """,
)
def sort_topk_nlargest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nlargest/top-k: orderBy+limit compiles to TakeOrderedAndProject — no global
    sort materialization (reference runs a full distributed sample sort,
    core/sort.py:24-236; top-k is strictly cheaper)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
        .select("o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("totalprice"))
    )


@query(
    "distinct_flags",
    oracle="""
    SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
    """,
)
def distinct_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """drop_duplicates full-row (reference core/drop_duplicates.py:24-103)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select("l_returnflag", "l_linestatus").distinct()


@query(
    "dedup_keep_first",
    oracle="""
    SELECT l_orderkey, l_partkey, l_linenumber, round(l_quantity, 4) AS quantity
    FROM lineitem
    QUALIFY row_number() OVER (
        PARTITION BY l_orderkey
        ORDER BY l_linenumber, l_partkey, l_suppkey, l_quantity, l_extendedprice
    ) = 1
    """,
)
def dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """drop_duplicates(subset, keep='first') with deterministic ordering — the
    reference's keep-method enum (config.py:152-155) keyed on row order; here the
    order key is explicit (l_linenumber) via a row_number window."""
    from pyspark.sql.window import Window

    li = load_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey").orderBy(
        "l_linenumber", "l_partkey", "l_suppkey", "l_quantity", "l_extendedprice"
    )
    return (
        li.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("l_orderkey", "l_partkey", "l_linenumber", F.round("l_quantity", 4).alias("quantity"))
    )


@query(
    "dedup_keep_none",
    oracle="""
    SELECT l_orderkey, count(*) AS n
    FROM lineitem
    GROUP BY l_orderkey
    HAVING count(*) = 1
    """,
)
def dedup_keep_none(spark: SparkSession, sf_dir: str) -> DataFrame:
    """drop_duplicates(keep=False): retain only keys appearing exactly once."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("n")).filter(F.col("n") == 1)


@query(
    "union_concat_rows",
    oracle="""
    SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS totalprice
    FROM orders WHERE o_orderstatus = 'F'
    UNION ALL
    SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS totalprice
    FROM orders WHERE o_totalprice > 350000
    """,
)
def union_concat_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """concat(axis=0) = unionByName (reference CONCATENATE task,
    core/table.py:365-476; union-of-frames contract per README.md:194-196)."""
    orders = load_table(spark, sf_dir, "orders")
    cols = ["o_orderkey", "o_orderstatus"]
    a = orders.filter(F.col("o_orderstatus") == "F").select(
        *cols, F.round("o_totalprice", 2).alias("totalprice")
    )
    b = orders.filter(F.col("o_totalprice") > 350000).select(
        *cols, F.round("o_totalprice", 2).alias("totalprice")
    )
    return a.unionByName(b)


@query(
    "except_intersect_ext",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_totalprice > 250000
    """,
)
def except_intersect_ext(spark: SparkSession, sf_dir: str) -> DataFrame:
    """intersect — absent in the reference (SURVEY §2.7), free Spark extension."""
    orders = load_table(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    b = orders.filter(F.col("o_totalprice") > 250000).select("o_custkey")
    return a.intersect(b)


# ---------------------------------------------------------------------------
# Scalar functions (SURVEY §2.8): arithmetic, casts, string, datetime, nulls
# ---------------------------------------------------------------------------

@query(
    "melt_unpivot_measures",
    oracle="""
    SELECT l_orderkey, l_linenumber, measure, round(val, 4) AS val
    FROM (
        SELECT l_orderkey, l_linenumber,
               l_quantity AS quantity, l_discount AS discount, l_tax AS tax
        FROM lineitem WHERE l_orderkey < 100
    ) UNPIVOT (val FOR measure IN (quantity, discount, tax))
    """,
)
def melt_unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long unpivot (pandas melt / SQL UNPIVOT) via a stack expression —
    row count triples but stays a narrow, pipelined transform."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 100)
    stacked = F.expr(
        "stack(3, 'quantity', l_quantity, 'discount', l_discount, 'tax', l_tax) "
        "as (measure, val)"
    )
    return li.select("l_orderkey", "l_linenumber", stacked).select(
        "l_orderkey", "l_linenumber", "measure", F.round("val", 4).alias("val")
    )


@query(
    "skew_salted_join",
    oracle="""
    SELECT o.k AS k,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0
               AS total_price,
           CAST(max(r.revenue_c) AS DOUBLE) / 100.0 AS key_revenue,
           count(*) AS n
    FROM (
        SELECT CASE WHEN o_orderkey % 10 < 7 THEN 0 ELSE o_orderkey % 100 END AS k,
               o_totalprice
        FROM orders
    ) o
    JOIN (
        SELECT CASE WHEN l_orderkey % 10 < 7 THEN 0 ELSE l_orderkey % 100 END AS k,
               CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
                   AS revenue_c
        FROM lineitem GROUP BY 1
    ) r ON o.k = r.k
    GROUP BY o.k
    """,
)
def skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigated join via key salting: ~70% of left rows share key 0, which
    would hot-spot one reducer in a plain shuffle join. The left side appends a
    salt (hash-derived, deterministic), the small right side is replicated across
    all salt values (explode), and the join key becomes (k, salt) — spreading the
    hot key over N_SALT reducers. Result is identical to the unsalted join (the
    oracle). AQE skew-join handles moderate skew automatically; explicit salting
    is the heavy-artillery variant for extreme single-key skew at 100 TB."""
    N_SALT = 8
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    skew_key = lambda c: F.when(c % 10 < 7, F.lit(0)).otherwise(c % 100)  # noqa: E731
    left = orders.select(
        skew_key(F.col("o_orderkey")).alias("k"),
        "o_totalprice",
        (F.crc32(F.col("o_orderkey").cast("string")) % N_SALT).alias("salt"),
    )
    # integer-cents sums (round-9 at-scale discipline: 2.6e11-magnitude
    # double sums drifted their 2dp rounding between engines on the 10x
    # corpus); revenue stays exact through the max
    right = (
        li.select(skew_key(F.col("l_orderkey")).alias("k"), "l_extendedprice")
        .groupBy("k")
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias(
                "revenue_c"
            )
        )
        .withColumn("salt", F.explode(F.sequence(F.lit(0), F.lit(N_SALT - 1))))
        .withColumn("salt", F.col("salt").cast("long"))
    )
    joined = left.join(right, ["k", "salt"])
    return joined.groupBy("k").agg(
        (
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).cast("double")
            / 100.0
        ).alias("total_price"),
        (F.max("revenue_c").cast("double") / 100.0).alias("key_revenue"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "arith_promotion",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           round(l_quantity + 1, 4)            AS qty_plus,
           round(l_quantity / 7, 6)            AS true_div,
           CAST(floor(l_quantity / 7) AS DOUBLE) AS floor_div,
           round(l_quantity % 7, 4)            AS mod7,
           round(power(1 + l_discount, 2), 6)  AS pow2,
           round(-l_quantity, 4)               AS neg_qty,
           round(abs(l_quantity - 25), 4)      AS abs_dev,
           floor(CAST(l_orderkey AS DOUBLE) / CAST(l_partkey + 1 AS DOUBLE)
                 * 1000000 + 0.5) / 1000000 AS int_div
    FROM lineitem
    """,
)
def arith_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary arithmetic with pandas promotion: int/int division yields float
    (reference op table core/runtime.py:122-141; promotion via empty-Series probe,
    common/types.py:432-442). mod/pow/floordiv/abs/neg per src/binaryop, src/unaryop."""
    li = load_table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(q + 1, 4).alias("qty_plus"),
        F.round(q / 7, 6).alias("true_div"),
        F.floor(q / 7).cast("double").alias("floor_div"),
        F.round(q % 7, 4).alias("mod7"),
        F.round(F.pow(1 + F.col("l_discount"), 2), 6).alias("pow2"),
        F.round(-q, 4).alias("neg_qty"),
        F.round(F.abs(q - 25), 4).alias("abs_dev"),
        # deterministic 6dp rounding (round-9, first sf0.1 gate finding):
        # integer/integer quotients can be exactly dyadic and land ON a 6dp
        # half boundary (2.0109375), where Spark's BigDecimal HALF_UP and
        # DuckDB's scaled-multiply round() disagree — floor(x*1e6+0.5)/1e6 is
        # pure IEEE arithmetic, bit-identical on both engines
        (
            F.floor(
                F.col("l_orderkey").cast("double")
                / (F.col("l_partkey") + 1).cast("double")
                * 1000000
                + F.lit(0.5)
            )
            / 1000000
        ).alias("int_div"),
    )


@query(
    "astype_casts",
    oracle="""
    SELECT o_orderkey,
           CAST(floor(o_totalprice) AS BIGINT)        AS price_int,
           CAST(o_orderkey AS VARCHAR)                AS key_str,
           CAST(o_custkey AS DOUBLE)                  AS cust_dbl,
           CAST(substr(o_orderpriority, 1, 1) AS INT) AS prio_int,
           strftime(o_orderdate, '%Y-%m-%d')          AS date_str,
           CAST(strftime(o_orderdate, '%Y-%m-%d') AS TIMESTAMP) = o_orderdate AS roundtrip_ok
    FROM orders
    """,
)
def astype_casts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """astype conversions: float→int (truncating, pandas semantics — NOT SQL
    rounding), int→string, string→int, string→timestamp round-trip (reference
    core/column.py:334-388, src/transform/tasks/astype.cc)."""
    orders = load_table(spark, sf_dir, "orders")
    date_str = F.date_format("o_orderdate", "yyyy-MM-dd")
    return orders.select(
        "o_orderkey",
        F.floor("o_totalprice").cast("long").alias("price_int"),
        F.col("o_orderkey").cast("string").alias("key_str"),
        F.col("o_custkey").cast("double").alias("cust_dbl"),
        F.substring("o_orderpriority", 1, 1).cast("int").alias("prio_int"),
        date_str.alias("date_str"),
        (F.to_timestamp(date_str, "yyyy-MM-dd") == F.col("o_orderdate")).alias("roundtrip_ok"),
    )


@query(
    "string_functions",
    oracle="""
    SELECT p_partkey,
           lower(p_name)                              AS lower_name,
           upper(p_name)                              AS upper_name,
           translate(p_name,
             'abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ',
             'ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz') AS swapcase_name,
           contains(p_name, 'widget')                 AS has_widget,
           lpad(p_name, 20, '*')                      AS padded_l,
           rpad(p_name, 20, '*')                      AS padded_r,
           lpad(CAST(p_partkey AS VARCHAR), 8, '0')   AS zfilled,
           trim(p_name, 'deglt ')                     AS stripped,
           length(p_name)                             AS name_len,
           substr(p_name, 1, 5)                       AS prefix5
    FROM part
    """,
)
def string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """str accessor surface: lower/upper/swapcase/contains/pad/strip/zfill
    (reference frontend/accessors.py:80-114, src/string/tasks/).
    swapcase = translate over the ASCII alphabet (pure Catalyst, no UDF)."""
    part = load_table(spark, sf_dir, "part")
    lo = "abcdefghijklmnopqrstuvwxyz"
    hi = lo.upper()
    return part.select(
        "p_partkey",
        F.lower("p_name").alias("lower_name"),
        F.upper("p_name").alias("upper_name"),
        F.translate(F.col("p_name"), lo + hi, hi + lo).alias("swapcase_name"),
        F.col("p_name").contains("widget").alias("has_widget"),
        F.lpad("p_name", 20, "*").alias("padded_l"),
        F.rpad("p_name", 20, "*").alias("padded_r"),
        F.lpad(F.col("p_partkey").cast("string"), 8, "0").alias("zfilled"),
        F.expr("trim(BOTH 'deglt ' FROM p_name)").alias("stripped"),
        F.length("p_name").cast("long").alias("name_len"),
        F.substring("p_name", 1, 5).alias("prefix5"),
    )


@query(
    "datetime_extract",
    oracle="""
    SELECT event_id,
           CAST(year(ts)   AS INT) AS y,
           CAST(month(ts)  AS INT) AS mo,
           CAST(day(ts)    AS INT) AS d,
           CAST(hour(ts)   AS INT) AS h,
           CAST(minute(ts) AS INT) AS mi,
           CAST(second(ts) AS INT) AS s,
           CAST(isodow(ts) - 1 AS INT) AS weekday
    FROM events
    """,
)
def datetime_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dt accessor: year/month/day/hour/minute/second/weekday with pandas
    Monday=0 convention (reference EXTRACT_FIELD task,
    src/datetime/tasks/extract_field.cc; weekday shift per SURVEY §2.8)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.year("ts").alias("y"),
        F.month("ts").alias("mo"),
        F.dayofmonth("ts").alias("d"),
        F.hour("ts").alias("h"),
        F.minute("ts").alias("mi"),
        F.second("ts").alias("s"),
        ((F.dayofweek("ts") + 5) % 7).cast("int").alias("weekday"),
    )


@query(
    "null_handling_fillna",
    oracle="""
    SELECT event_id,
           CASE WHEN value < 50 THEN NULL ELSE value END IS NULL AS was_null,
           round(coalesce(CASE WHEN value < 50 THEN NULL ELSE value END, -1.0), 2)
               AS filled
    FROM events
    WHERE CASE WHEN event_type = 'error' THEN NULL ELSE event_type END IS NOT NULL
    """,
)
def null_handling_fillna(spark: SparkSession, sf_dir: str) -> DataFrame:
    """isna/fillna/dropna (reference src/transform isna/notna/broadcast_fillna,
    src/copy/tasks/dropna.cc). Testdata has no NULLs, so they are synthesized
    with nullif-style CASE, then filled/dropped."""
    ev = load_table(spark, sf_dir, "events")
    v_null = F.when(F.col("value") < 50, F.lit(None).cast("double")).otherwise(F.col("value"))
    t_null = F.when(F.col("event_type") == "error", F.lit(None).cast("string")).otherwise(
        F.col("event_type")
    )
    return (
        ev.filter(t_null.isNotNull())
        .select(
            "event_id",
            v_null.isNull().alias("was_null"),
            F.round(F.coalesce(v_null, F.lit(-1.0)), 2).alias("filled"),
        )
    )


@query(
    "query_expr_translation",
    oracle="""
    SELECT l_orderkey, l_linenumber, round(l_extendedprice, 2) AS price
    FROM lineitem
    WHERE l_quantity > 30 AND (l_returnflag = 'R' OR l_discount < 0.02)
    """,
)
def query_expr_translation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """df.query(expr) → Catalyst expression translation (reference JITs the expr
    with numba, core/query.py:33-311; Spark's codegen makes that free — the
    frontend translates pandas expr syntax to a SQL condition, see
    frontend/query.py)."""
    from legate_pandas_spark.frontend.query import translate_query_expr

    li = load_table(spark, sf_dir, "lineitem")
    cond = translate_query_expr("l_quantity > 30 and (l_returnflag == 'R' or l_discount < 0.02)")
    return li.filter(cond).select(
        "l_orderkey", "l_linenumber", F.round("l_extendedprice", 2).alias("price")
    )


@query(
    "merge_micro_padded_strings",
    oracle="""
    WITH lhs AS (
        SELECT lpad(CAST(l_orderkey % 100000 AS VARCHAR), 10, '0') AS k,
               l_quantity
        FROM lineitem
    ),
    rhs AS (
        SELECT lpad(CAST(o_orderkey % 100000 AS VARCHAR), 10, '0') AS k,
               o_totalprice
        FROM orders WHERE o_orderkey % 3 = 0
    )
    SELECT CAST(count(*) AS BIGINT) AS n_matches,
           CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100.0
               AS sum_qty,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0
               AS sum_price
    FROM lhs JOIN rhs USING (k)
    """,
)
def merge_micro_padded_strings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's join microbenchmark shape (benchmarks/micro/merge.py:
    89-121 — the workload behind BASELINE.md's weak-scaling chart): LHS at
    fact size, RHS ≈ 1/3 of it (`scale_lhs_only`), STRING keys zero-padded to
    width 10, partial match rate. A padded-string shuffle join is the
    reference's hardest-published case (string gather + hash); here it is one
    Spark shuffle join whose key is a computed column — Catalyst pushes the
    projection into the scan and AQE sizes the shuffle."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.lpad((F.col("l_orderkey") % 100000).cast("string"), 10, "0").alias("k"),
        "l_quantity",
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 3 == 0)
        .select(
            F.lpad((F.col("o_orderkey") % 100000).cast("string"), 10, "0").alias(
                "k"
            ),
            "o_totalprice",
        )
    )
    # integer-cents sums (round-9 at-scale discipline: the 7.5e12-magnitude
    # double sum drifted its 2dp rounding between engines on the 10x corpus)
    return li.join(orders, "k").agg(
        F.count(F.lit(1)).alias("n_matches"),
        (
            F.sum(F.round(F.col("l_quantity") * 100).cast("long")).cast("double")
            / 100.0
        ).alias("sum_qty"),
        (
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).cast("double")
            / 100.0
        ).alias("sum_price"),
    )


@query(
    "sort_micro_checksum",
    oracle="""
    WITH ranked AS (
        SELECT l_orderkey,
               row_number() OVER (ORDER BY l_extendedprice, l_orderkey, l_linenumber)
                   - 1 AS rn
        FROM lineitem
    )
    SELECT CAST(sum((rn % 97) * (l_orderkey % 89)) AS BIGINT) AS order_checksum,
           CAST(count(*) AS BIGINT) AS n
    FROM ranked
    """,
)
def sort_micro_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's sort microbenchmark shape (benchmarks/micro/sort.py:
    80-100) with a verifiable output: a GLOBAL total-order rank of the fact
    table (price, then unique key tiebreak — total order, so both engines
    agree on every position), folded into a modular checksum that pins the
    entire permutation.

    The Spark side ranks through the distributed sample-sort row number
    (scan.ordered_row_number: range partition + per-partition offset carry —
    the reference's splitter-histogram design, core/sort.py:93-174), NOT a
    single-partition window; the oracle uses DuckDB's native global sort."""
    from legate_pandas_spark.frontend.scan import ordered_row_number

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    ranked = ordered_row_number(
        li,
        [F.asc("l_extendedprice"), F.asc("l_orderkey"), F.asc("l_linenumber")],
        "rn",
    )
    return ranked.agg(
        F.sum((F.col("rn") % 97) * (F.col("l_orderkey") % 89))
        .cast("bigint")
        .alias("order_checksum"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "snapshot_diff_cdf",
    oracle="""
    WITH base AS (
        SELECT event_id,
               CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        FROM events
    ),
    snap_a AS (
        SELECT event_id,
               CASE WHEN event_id % 5 = 0 THEN cents - 7 ELSE cents END AS cents
        FROM base WHERE event_id % 3 <> 0
    ),
    snap_b AS (
        SELECT event_id, cents FROM base WHERE event_id % 7 <> 0
    )
    SELECT COALESCE(a.event_id, b.event_id) AS event_id,
           CASE WHEN a.event_id IS NULL THEN 'insert'
                WHEN b.event_id IS NULL THEN 'delete'
                ELSE 'update' END AS change_type,
           a.cents AS old_cents,
           b.cents AS new_cents
    FROM snap_a a FULL OUTER JOIN snap_b b ON a.event_id = b.event_id
    WHERE a.event_id IS NULL OR b.event_id IS NULL OR a.cents <> b.cents
    """,
)
def snapshot_diff_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-feed derivation by snapshot reconciliation (the Delta CDF /
    Iceberg changelog primitive): diff two keyed snapshots into insert /
    update / delete rows, dropping unchanged keys — what an incremental
    consumer replays instead of re-reading the full table.

    The two snapshots here are derived cuts of the events table (prior cut
    misses event_id%3==0 -> inserts; current cut misses %7==0 -> deletes;
    %5==0 rows carry a shifted measure -> updates), so the diff is fully
    deterministic: measures compare as exact integer cents, never doubles.
    Plan: ONE full outer hash join on the key (both sides shuffle once;
    with bucketed snapshot storage the exchange disappears entirely) and the
    classification is a null-pattern CASE in-plan — no driver logic, no
    second pass. At 100 TB this is the reconciliation shape that replaces
    re-scanning: cost is the two snapshot scans + one co-partitioned join."""
    base = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("cents"),
    )
    snap_a = base.filter(F.col("event_id") % 3 != 0).select(
        "event_id",
        F.when(F.col("event_id") % 5 == 0, F.col("cents") - 7)
        .otherwise(F.col("cents"))
        .alias("cents"),
    )
    snap_b = base.filter(F.col("event_id") % 7 != 0)
    a, b = snap_a.alias("a"), snap_b.alias("b")
    joined = a.join(b, F.col("a.event_id") == F.col("b.event_id"), "full_outer")
    change = (
        F.when(F.col("a.event_id").isNull(), F.lit("insert"))
        .when(F.col("b.event_id").isNull(), F.lit("delete"))
        .otherwise(F.lit("update"))
    )
    changed = joined.filter(
        F.col("a.event_id").isNull()
        | F.col("b.event_id").isNull()
        | (F.col("a.cents") != F.col("b.cents"))
    )
    return changed.select(
        F.coalesce(F.col("a.event_id"), F.col("b.event_id")).alias("event_id"),
        change.alias("change_type"),
        F.col("a.cents").alias("old_cents"),
        F.col("b.cents").alias("new_cents"),
    )
