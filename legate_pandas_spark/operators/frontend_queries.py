"""Queries executed THROUGH the pandas-compatible frontend facade.

These prove the frontend (legate_pandas_spark.frontend — the legate.pandas API
surface) produces correct Spark plans end-to-end: each query here is written in
pandas idiom (merge/groupby/sort_values/query/str accessor) and hash-checked
against the same DuckDB oracle machinery as the native-DataFrame catalog.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from legate_pandas_spark.operators import query


def _read(spark: SparkSession, sf_dir: str, name: str):
    import os

    from legate_pandas_spark.frontend import read_parquet

    return read_parquet(os.path.join(sf_dir, f"{name}.parquet"), spark=spark)


@query(
    "pd_merge_groupby",
    oracle="""
    SELECT c_mktsegment AS segment,
           round(sum(o_totalprice), 2) AS total_sales,
           count(*) AS n_orders
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def pd_merge_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pandas idiom: merge + groupby.agg + rename (reference
    frontend/dataframe.py:1168-1231 merge, frontend/groupby.py:88-270 agg)."""
    orders = _read(spark, sf_dir, "orders")
    cust = _read(spark, sf_dir, "customer")
    merged = orders.merge(cust, left_on="o_custkey", right_on="c_custkey")
    g = merged.groupby("c_mktsegment").agg({"o_totalprice": ["sum", "size"]})
    out = g.reset_index()
    sdf = out.to_spark()
    return sdf.select(
        F.col("c_mktsegment").alias("segment"),
        F.round(F.col("o_totalprice_sum"), 2).alias("total_sales"),
        F.col("o_totalprice_size").alias("n_orders"),
    )


@query(
    "pd_filter_sort_head",
    oracle="""
    SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS o_totalprice
    FROM orders
    WHERE o_orderstatus = 'F'
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 25
    """,
)
def pd_filter_sort_head(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pandas idiom: boolean-mask filter + sort_values + head (reference
    core/table.py:1033-1101 compact; core/sort.py sample sort; head limit)."""
    orders = _read(spark, sf_dir, "orders")
    flt = orders[orders["o_orderstatus"] == "F"]
    top = flt.sort_values(["o_totalprice", "o_orderkey"], ascending=[False, True]).head(25)
    sdf = top.to_spark()
    return sdf.select(
        "o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("o_totalprice")
    )


@query(
    "pd_query_assign",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           round(l_extendedprice * (1 - l_discount), 4) AS net_price
    FROM lineitem
    WHERE l_quantity > 40 AND l_discount < 0.05
    """,
)
def pd_query_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pandas idiom: df.query(expr) + column assign (reference query JIT
    core/query.py:33-311 → translated to Catalyst; __setitem__
    core/table.py:277-300)."""
    li = _read(spark, sf_dir, "lineitem")
    flt = li.query("l_quantity > 40 and l_discount < 0.05")
    flt["net_price"] = (flt["l_extendedprice"] * (1 - flt["l_discount"])).round(4)
    sdf = flt[["l_orderkey", "l_linenumber", "net_price"]].to_spark()
    return sdf


@query(
    "pd_str_dt_accessors",
    oracle="""
    SELECT o_orderkey,
           upper(o_orderpriority)                   AS prio_upper,
           contains(o_orderpriority, 'HIGH')        AS is_high,
           CAST(year(o_orderdate) AS INT)           AS order_year,
           CAST(month(o_orderdate) AS INT)          AS order_month,
           CAST(isodow(o_orderdate) - 1 AS INT)     AS order_weekday
    FROM orders
    """,
)
def pd_str_dt_accessors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pandas idiom: .str and .dt accessors (reference frontend/accessors.py)."""
    orders = _read(spark, sf_dir, "orders")
    orders["prio_upper"] = orders["o_orderpriority"].str.upper()
    orders["is_high"] = orders["o_orderpriority"].str.contains("HIGH")
    orders["order_year"] = orders["o_orderdate"].dt.year
    orders["order_month"] = orders["o_orderdate"].dt.month
    orders["order_weekday"] = orders["o_orderdate"].dt.weekday
    out = orders[
        ["o_orderkey", "prio_upper", "is_high", "order_year", "order_month", "order_weekday"]
    ]
    return out.to_spark()


@query(
    "pd_mortgage_style_pipeline",
    oracle="""
    WITH enriched AS (
        SELECT o.o_orderkey, o.o_totalprice, o.o_orderpriority,
               CAST(year(o.o_orderdate) AS INT)  AS order_year,
               CAST(month(o.o_orderdate) AS INT) AS order_month,
               coalesce(CASE WHEN o.o_totalprice < 50000 THEN NULL
                             ELSE o.o_totalprice END, -1.0) AS price_filled,
               n.n_name
        FROM orders o
        LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        LEFT JOIN nation  n ON c.c_nationkey = n.n_nationkey
    )
    SELECT n_name, order_year,
           round(sum(price_filled), 2) AS total_filled,
           count(*) AS n_orders,
           CAST(max(CASE o_orderpriority
                    WHEN '1-URGENT' THEN 0 WHEN '2-HIGH' THEN 1 WHEN '3-MEDIUM' THEN 2
                    WHEN '4-NOT SPECIFIED' THEN 3 WHEN '5-LOW' THEN 4 ELSE -1 END) AS INT)
               AS max_prio_code
    FROM enriched
    GROUP BY n_name, order_year
    """,
)
def pd_mortgage_style_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mortgage-workflow shape through the facade (reference
    benchmarks/mortgage/mortgage.py:53-238; FIXTURES.md F6): chained left merges
    on keys, datetime feature extraction, mask→fillna(-1), categorical codes,
    multi-key groupby aggregation — the reference's flagship E2E benchmark
    re-expressed in ~10 facade calls."""
    orders = _read(spark, sf_dir, "orders")
    cust = _read(spark, sf_dir, "customer")
    nation = _read(spark, sf_dir, "nation")
    m = orders.merge(cust, left_on="o_custkey", right_on="c_custkey", how="left")
    m = m.merge(nation, left_on="c_nationkey", right_on="n_nationkey", how="left", broadcast=True)
    m["order_year"] = m["o_orderdate"].dt.year
    m["order_month"] = m["o_orderdate"].dt.month
    m["price_filled"] = m["o_totalprice"].mask(m["o_totalprice"] < 50000).fillna(-1.0)
    m["prio_code"] = m["o_orderpriority"].cat.codes
    g = m.groupby(["n_name", "order_year"]).agg(
        {"price_filled": "sum", "o_orderkey": "size", "prio_code": "max"}
    )
    out = g.reset_index().to_spark()
    return out.select(
        "n_name",
        "order_year",
        F.round("price_filled", 2).alias("total_filled"),
        F.col("o_orderkey").alias("n_orders"),
        F.col("prio_code").cast("int").alias("max_prio_code"),
    )


@query(
    "pd_categorical_key_merge",
    oracle="""
    WITH o AS (
        SELECT o_orderkey, o_totalprice,
               CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH','3-MEDIUM')
                    THEN o_orderpriority END AS prio
        FROM orders
    ), dim AS (
        SELECT '1-URGENT' AS prio, CAST(10 AS BIGINT) AS weight
        UNION ALL SELECT '2-HIGH', 20
        UNION ALL SELECT '3-MEDIUM', 30
    )
    SELECT d.prio AS prio, d.weight AS weight,
           count(*) AS n_orders,
           round(sum(o.o_totalprice), 2) AS total_price,
           CAST(max(CASE o.prio WHEN '1-URGENT' THEN 0 WHEN '2-HIGH' THEN 1
                    WHEN '3-MEDIUM' THEN 2 ELSE -1 END) AS INT) AS prio_code
    FROM o JOIN dim d ON o.prio = d.prio
    GROUP BY d.prio, d.weight
    """,
)
def pd_categorical_key_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical-dtype join key through the facade (reference
    df_merge_category.py; CategoryColumn merge, core/merge.py:256-294): an
    explicit CategoricalDtype restricting the key domain (out-of-dictionary
    values → null, dropped by the inner join), declared-dictionary codes (pure
    expression, no collect), and a broadcast dim keyed on the categorical."""
    import pandas as pd

    import legate_pandas_spark as lps

    cat = pd.CategoricalDtype(["1-URGENT", "2-HIGH", "3-MEDIUM"])
    orders = _read(spark, sf_dir, "orders")
    orders["prio"] = orders["o_orderpriority"].astype(cat)
    orders["prio_code"] = orders["prio"].cat.codes
    dim = lps.from_pandas(
        pd.DataFrame(
            {
                "prio": pd.Series(["1-URGENT", "2-HIGH", "3-MEDIUM"], dtype=cat),
                "weight": pd.Series([10, 20, 30], dtype="int64"),
            }
        ),
        spark=spark,
    )
    merged = orders.merge(dim, on="prio", broadcast=True)
    g = merged.groupby(["prio", "weight"]).agg(
        {"o_orderkey": "size", "o_totalprice": "sum", "prio_code": "max"}
    )
    out = g.reset_index().to_spark()
    return out.select(
        "prio",
        "weight",
        F.col("o_orderkey").alias("n_orders"),
        F.round("o_totalprice", 2).alias("total_price"),
        F.col("prio_code").cast("int").alias("prio_code"),
    )


@query(
    "pd_fillna_astype_concat",
    oracle="""
    WITH base AS (
        SELECT event_id,
               coalesce(CASE WHEN value < 100 THEN NULL ELSE value END, 0.0) AS filled,
               CAST(floor(value) AS BIGINT) AS value_int
        FROM events
    )
    SELECT event_id, round(filled, 2) AS filled, value_int FROM base
    WHERE value_int >= 150
    UNION ALL
    SELECT event_id, round(filled, 2) AS filled, value_int FROM base
    WHERE value_int < 10
    """,
)
def pd_fillna_astype_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pandas idiom: mask→fillna→astype→concat (reference where/fillna/astype/
    concat per SURVEY §2.2, §2.7, §2.8)."""
    import legate_pandas_spark as lps

    ev = _read(spark, sf_dir, "events")
    ev["filled"] = ev["value"].mask(ev["value"] < 100).fillna(0.0).round(2)
    ev["value_int"] = ev["value"].floor().astype("int64")
    hi = ev[ev["value_int"] >= 150][["event_id", "filled", "value_int"]]
    lo = ev[ev["value_int"] < 10][["event_id", "filled", "value_int"]]
    return lps.concat([hi, lo]).to_spark()


@query(
    "pd_transform_share",
    oracle="""
    SELECT o_orderkey,
           o_custkey,
           round(o_totalprice / sum(o_totalprice) OVER (PARTITION BY o_custkey), 6)
               AS share_of_customer
    FROM orders
    WHERE o_orderstatus = 'O'
    """,
)
def pd_transform_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pandas idiom: groupby(...).transform('sum') broadcast back onto rows
    (round-2 facade surface). Compiles to an unbounded window over the group
    key — one shuffle on o_custkey, no UDF, no join back (the naive
    agg-then-rejoin plan would shuffle twice)."""
    orders = _read(spark, sf_dir, "orders")
    filtered = orders[orders["o_orderstatus"] == "O"]
    totals = filtered.groupby("o_custkey")["o_totalprice"].transform("sum")
    share = filtered["o_totalprice"] / totals
    filtered["share_of_customer"] = share.round(6)
    return filtered.to_spark().select("o_orderkey", "o_custkey", "share_of_customer")


@query(
    "pd_unstack_status_matrix",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) FILTER (o_orderstatus = 'F') AS BIGINT) AS "F",
           CAST(count(*) FILTER (o_orderstatus = 'O') AS BIGINT) AS "O",
           CAST(count(*) FILTER (o_orderstatus = 'P') AS BIGINT) AS "P"
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def pd_unstack_status_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pandas idiom: groupby(two keys).size() then unstack the inner level
    into columns (round-2 facade surface). Executes as ONE hash aggregate +
    pivot — the level dictionary (order statuses) is collected to name the
    columns, the data never is."""
    orders = _read(spark, sf_dir, "orders")
    g = (
        orders.groupby(["o_orderpriority", "o_orderstatus"])
        .agg({"o_orderkey": "count"})
        .reset_index()
        .set_index(["o_orderpriority", "o_orderstatus"])
    )
    mat = g.unstack().reset_index()
    sdf = mat.to_spark()
    return sdf.select(
        F.col("o_orderpriority"),
        F.coalesce(F.col("F"), F.lit(0)).cast("bigint").alias("F"),
        F.coalesce(F.col("O"), F.lit(0)).cast("bigint").alias("O"),
        F.coalesce(F.col("P"), F.lit(0)).cast("bigint").alias("P"),
    )


@query(
    "pd_crosstab_counts",
    oracle="""
    SELECT o_orderpriority AS prio,
           CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS F,
           CAST(count(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS O,
           CAST(count(*) FILTER (WHERE o_orderstatus = 'P') AS BIGINT) AS P
    FROM orders GROUP BY o_orderpriority
    """,
)
def pd_crosstab_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pandas idiom: pd.crosstab(priority, status) — one hash aggregate +
    pivot with a collected column dictionary (small by contract: it becomes
    the schema)."""
    from legate_pandas_spark.frontend import crosstab

    orders = _read(spark, sf_dir, "orders")
    ct = crosstab(orders["o_orderpriority"], orders["o_orderstatus"])
    sdf = ct.reset_index().to_spark()
    return sdf.select(F.col("o_orderpriority").alias("prio"), "F", "O", "P")


@query(
    "pd_groupby_head_per_group",
    oracle="""
    WITH ranked AS (
      SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey) AS rn
      FROM orders
    )
    SELECT o_custkey, o_orderkey, o_totalprice
    FROM ranked WHERE rn <= 2
    """,
)
def pd_groupby_head_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pandas idiom: df.sort_values(...).groupby(k).head(2) — first orders per
    customer. The facade compiles it to a row_number window PARTITIONED by the
    group key (parallel per customer, never a global window)."""
    orders = _read(spark, sf_dir, "orders")
    ordered = orders.sort_values(["o_orderdate", "o_orderkey"])
    top = ordered.groupby("o_custkey").head(2)
    sdf = top.to_spark()
    return sdf.select(
        "o_custkey", "o_orderkey", F.round("o_totalprice", 2).alias("o_totalprice")
    )


@query(
    "pd_groupby_ffill_locf",
    oracle="""
    SELECT event_id, user_id,
           round(last_value(CASE WHEN event_type = 'click' THEN NULL ELSE value END
                            IGNORE NULLS)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
             AS value_filled
    FROM events
    """,
)
def pd_groupby_ffill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pandas idiom: mask + groupby(user).ffill() — clicks carry no reading and
    inherit the user's previous value (facade twin of locf_gap_fill; the
    grouped ffill is the partitioned-window scale path)."""
    ev = _read(spark, sf_dir, "events")
    ordered = ev.sort_values(["ts", "event_id"])
    masked = ordered.assign(
        value_filled=ordered["value"].mask(ordered["event_type"] == "click")
    )[["event_id", "user_id", "value_filled"]]
    filled = masked.groupby("user_id").ffill()
    sdf = filled.to_spark()
    return sdf.select(
        "event_id", "user_id", F.round("value_filled", 4).alias("value_filled")
    )


@query(
    "pd_global_cumsum_scan",
    oracle="""
    WITH s AS (
        SELECT l_orderkey, l_linenumber, l_quantity
        FROM lineitem WHERE l_orderkey <= 1000
    )
    SELECT l_orderkey, l_linenumber,
           round(sum(l_quantity) OVER w, 4) AS running_qty,
           round(max(l_quantity) OVER w, 4) AS running_max
    FROM s
    WINDOW w AS (ORDER BY l_orderkey, l_linenumber, l_quantity
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def pd_global_cumsum_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pandas idiom: sort_values + GLOBAL Series.cumsum/cummax — driver-pins the
    round-3 two-phase distributed scan (frontend/scan.py: partition-local scan +
    broadcast exclusive-scan carry, reference core/column.py:644-687). The sort
    gives the scan a deterministic global order, so the oracle is a plain
    global window; the Spark plan still contains NO unpartitioned window
    (plan-audited in tests/test_plans.py).

    Ordering contract (round-10, found by the skew-corpus gate): (l_orderkey,
    l_linenumber) is NOT unique in this corpus (830 duplicate pairs in the
    probe range), so the sort key also carries l_quantity — every column the
    scan outputs — making the output MULTISET tie-invariant. Without it both
    engines silently leaned on physical file order for ties (green only by
    layout luck; the DuckDB-written skew file reordered ties and 283 rows
    drifted)."""
    li = _read(spark, sf_dir, "lineitem")
    sub = li[li["l_orderkey"] <= 1000][["l_orderkey", "l_linenumber", "l_quantity"]]
    srt = sub.sort_values(["l_orderkey", "l_linenumber", "l_quantity"])
    srt["running_qty"] = srt["l_quantity"].cumsum()
    srt["running_max"] = srt["l_quantity"].cummax()
    sdf = srt.to_spark()
    return sdf.select(
        "l_orderkey",
        "l_linenumber",
        F.round("running_qty", 4).alias("running_qty"),
        F.round("running_max", 4).alias("running_max"),
    )


@query(
    "pd_global_shift_ffill",
    oracle="""
    WITH s AS (
        SELECT l_orderkey, l_linenumber, l_quantity
        FROM lineitem WHERE l_orderkey <= 1000
    )
    SELECT l_orderkey, l_linenumber,
           round(lag(l_quantity) OVER (ORDER BY l_orderkey, l_linenumber, l_quantity), 4)
             AS prev_qty,
           round(last_value(CASE WHEN l_quantity >= 10 THEN l_quantity END IGNORE NULLS)
                 OVER (ORDER BY l_orderkey, l_linenumber, l_quantity
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
             AS qty_locf
    FROM s
    """,
)
def pd_global_shift_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pandas idiom: global Series.shift (position equi-join, window-free) and
    Series.where + GLOBAL ffill (two-phase directional fill: partition-local
    fill + nearest preceding partition edge value as broadcast carry) — the
    other half of the round-3 scan family, driver-verified. Sort key carries
    l_quantity for tie-invariance (same round-10 skew finding as
    pd_global_cumsum_scan: the key pair alone is not unique)."""
    li = _read(spark, sf_dir, "lineitem")
    sub = li[li["l_orderkey"] <= 1000][["l_orderkey", "l_linenumber", "l_quantity"]]
    srt = sub.sort_values(["l_orderkey", "l_linenumber", "l_quantity"])
    srt["prev_qty"] = srt["l_quantity"].shift(1)
    srt["qty_locf"] = srt["l_quantity"].where(srt["l_quantity"] >= 10).ffill()
    sdf = srt.to_spark()
    return sdf.select(
        "l_orderkey",
        "l_linenumber",
        F.round("prev_qty", 4).alias("prev_qty"),
        F.round("qty_locf", 4).alias("qty_locf"),
    )


@query(
    "pd_global_rank_rolling",
    oracle="""
    WITH s AS (
        SELECT o_orderkey, o_totalprice
        FROM orders WHERE o_orderkey <= 5000
    )
    SELECT o_orderkey,
           CAST(rank() OVER (ORDER BY o_totalprice) AS DOUBLE) AS price_rank,
           CASE WHEN count(o_totalprice) OVER w >= 3
                THEN round(avg(o_totalprice) OVER w, 4) END AS rolling_avg
    FROM s
    WINDOW w AS (ORDER BY o_orderkey
                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
    """,
)
def pd_global_rank_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pandas idiom: global Series.rank (round-4 two-phase range-bucketed
    rank — splitter boundaries + per-bucket count carries) and a global
    Series.rolling mean (boundary-ghost partitioned window). Ordered by the
    UNIQUE o_orderkey so the rolling frame is a total order (window-dedup
    gotcha: ties would make neighbor choice engine-dependent). The oracle is
    a plain global window; the Spark plan contains NO unpartitioned window
    (plan-audited in tests/test_plans.py)."""
    ords = _read(spark, sf_dir, "orders")
    sub = ords[ords["o_orderkey"] <= 5000][["o_orderkey", "o_totalprice"]]
    srt = sub.sort_values(["o_orderkey"])
    srt["price_rank"] = srt["o_totalprice"].rank(method="min")
    srt["rolling_avg"] = srt["o_totalprice"].rolling(3).mean()
    sdf = srt.to_spark()
    return sdf.select(
        "o_orderkey",
        F.col("price_rank"),
        F.round("rolling_avg", 4).alias("rolling_avg"),
    )


@query(
    "pd_rolling_median_quantile",
    oracle="""
    WITH s AS (
        SELECT o_orderkey, o_totalprice
        FROM orders WHERE o_orderkey <= 4000
    )
    SELECT o_orderkey,
           CASE WHEN count(o_totalprice) OVER w >= 5
                THEN round(median(o_totalprice) OVER w, 4) END AS med5,
           CASE WHEN count(o_totalprice) OVER w >= 5
                THEN round(quantile_cont(o_totalprice, 0.25) OVER w, 4) END AS q25
    FROM s
    WINDOW w AS (ORDER BY o_orderkey
                 ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
    """,
)
def pd_rolling_median_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pandas idiom: global rolling median/quantile (round-4
    scan._sorted_quantile — sorted k-sized frame list + linear interpolation,
    over the boundary-ghost partitioned window; Spark's own median/percentile
    refuse window frames). Ordered by the unique o_orderkey (total order).
    DuckDB twin: median / quantile_cont window aggregates."""
    ords = _read(spark, sf_dir, "orders")
    sub = ords[ords["o_orderkey"] <= 4000][["o_orderkey", "o_totalprice"]]
    srt = sub.sort_values(["o_orderkey"])
    srt["med5"] = srt["o_totalprice"].rolling(5).median()
    srt["q25"] = srt["o_totalprice"].rolling(5).quantile(0.25)
    sdf = srt.to_spark()
    return sdf.select(
        "o_orderkey",
        F.round("med5", 4).alias("med5"),
        F.round("q25", 4).alias("q25"),
    )


@query(
    "pd_global_interpolate",
    oracle="""
    WITH s AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 7 IN (1, 2) THEN NULL
                    ELSE round(o_totalprice, 2) END AS v
        FROM orders WHERE o_orderkey <= 4000
    ),
    pos AS (
        SELECT o_orderkey, v,
               row_number() OVER (ORDER BY o_orderkey) AS p
        FROM s
    ),
    ctx AS (
        SELECT o_orderkey, v, p,
               last_value(v IGNORE NULLS) OVER wp AS pv,
               last_value(CASE WHEN v IS NOT NULL THEN p END IGNORE NULLS) OVER wp AS pp,
               first_value(v IGNORE NULLS) OVER wn AS nv,
               first_value(CASE WHEN v IS NOT NULL THEN p END IGNORE NULLS) OVER wn AS np
        FROM pos
        WINDOW wp AS (ORDER BY p ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               wn AS (ORDER BY p ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT o_orderkey,
           round(CASE WHEN v IS NOT NULL THEN v
                      WHEN pv IS NULL THEN NULL
                      WHEN nv IS NULL THEN pv
                      ELSE pv + (nv - pv) * (p - pp) * 1.0 / (np - pp)
                 END, 4) AS interp
    FROM ctx
    """,
)
def pd_global_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pandas idiom: mask + GLOBAL Series.interpolate — driver-pins the
    round-4 two-phase interpolation (positions from partition-offset
    arithmetic, bracketing (value, pos) pairs from one forward and one
    backward carry pass; scan.interpolate_columns). The oracle spells the identical
    blend with DuckDB ignore-nulls windows."""
    ords = _read(spark, sf_dir, "orders")
    sub = ords[ords["o_orderkey"] <= 4000][["o_orderkey", "o_totalprice"]]
    srt = sub.sort_values(["o_orderkey"])
    masked = srt["o_totalprice"].round(2).mask((srt["o_orderkey"] % 7).isin([1, 2]))
    srt["v"] = masked
    srt["interp"] = srt["v"].interpolate()
    sdf = srt.to_spark()
    return sdf.select("o_orderkey", F.round("interp", 4).alias("interp"))


@query(
    "pd_pivot_table_status",
    oracle="""
    WITH d AS (SELECT DISTINCT o_orderpriority FROM orders)
    SELECT o_orderstatus,
           round(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN o_totalprice END), 2) AS "1-URGENT",
           round(sum(CASE WHEN o_orderpriority = '2-HIGH' THEN o_totalprice END), 2) AS "2-HIGH",
           round(sum(CASE WHEN o_orderpriority = '3-MEDIUM' THEN o_totalprice END), 2) AS "3-MEDIUM",
           round(sum(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN o_totalprice END), 2) AS "4-NOT SPECIFIED",
           round(sum(CASE WHEN o_orderpriority = '5-LOW' THEN o_totalprice END), 2) AS "5-LOW"
    FROM orders GROUP BY o_orderstatus
    """,
)
def pd_pivot_table_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pandas idiom: pivot_table(values, index, columns, aggfunc='sum') —
    the facade reshape added this round (one hash aggregate + pivot; the
    pivoted dictionary is one bounded distinct aggregate). Totals rounded at
    the oracle side too; 2dp sums of 2dp values are exact-width-safe."""
    orders = _read(spark, sf_dir, "orders")
    pt = orders.pivot_table(
        values="o_totalprice",
        index="o_orderstatus",
        columns="o_orderpriority",
        aggfunc="sum",
    )
    sdf = pt.reset_index().to_spark()
    val_cols = [c for c in sdf.columns if c != "o_orderstatus"]
    return sdf.select(
        "o_orderstatus",
        *[F.round(F.col(f"`{c}`"), 2).alias(c) for c in val_cols],
    )


@query(
    "pd_factorize_priority",
    oracle="""
    WITH m AS (
        SELECT o_orderpriority AS v, min(o_orderkey) AS mo
        FROM orders GROUP BY 1
    ),
    d AS (
        SELECT v, CAST(row_number() OVER (ORDER BY mo) - 1 AS BIGINT) AS code
        FROM m
    )
    SELECT d.code, d.v AS priority, CAST(count(*) AS BIGINT) AS n
    FROM orders o JOIN d ON o.o_orderpriority = d.v
    GROUP BY d.code, d.v
    """,
)
def pd_factorize_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pandas idiom: Series.factorize first-appearance codes (facade addition;
    distributed sample-sort dictionary ranking) pinned through the driver
    gate. First appearance is made deterministic by sorting on the unique
    o_orderkey first, so the oracle can express it as row_number over
    min(o_orderkey)."""
    orders = _read(spark, sf_dir, "orders")[["o_orderkey", "o_orderpriority"]]
    srt = orders.sort_values("o_orderkey")
    codes, _uniques = srt["o_orderpriority"].factorize()
    srt["code"] = codes
    out = srt.to_spark()
    return (
        out.groupBy(F.col("code"), F.col("o_orderpriority").alias("priority"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "pd_groupby_describe",
    oracle="""
    SELECT o_orderstatus,
           CAST(count(o_totalprice) AS DOUBLE) AS o_totalprice_count,
           round(avg(o_totalprice), 4) AS o_totalprice_mean,
           round(stddev_samp(o_totalprice), 4) AS o_totalprice_std,
           CAST(min(o_totalprice) AS DOUBLE) AS o_totalprice_min,
           round(quantile_cont(o_totalprice, 0.25), 4) AS "o_totalprice_25%",
           round(quantile_cont(o_totalprice, 0.5), 4) AS "o_totalprice_50%",
           round(quantile_cont(o_totalprice, 0.75), 4) AS "o_totalprice_75%",
           CAST(max(o_totalprice) AS DOUBLE) AS o_totalprice_max
    FROM orders GROUP BY o_orderstatus
    """,
)
def pd_groupby_describe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pandas idiom: groupby.describe (facade addition — one hash aggregate,
    exact interpolated quartiles; DuckDB quantile_cont and Spark percentile
    share the linear-interpolation definition)."""
    orders = _read(spark, sf_dir, "orders")[["o_orderstatus", "o_totalprice"]]
    desc = orders.groupby("o_orderstatus").describe()
    sdf = desc.reset_index().to_spark()
    return sdf.select(
        "o_orderstatus",
        F.col("o_totalprice_count"),
        F.round("o_totalprice_mean", 4).alias("o_totalprice_mean"),
        F.round("o_totalprice_std", 4).alias("o_totalprice_std"),
        F.col("o_totalprice_min"),
        F.round("o_totalprice_25%", 4).alias("o_totalprice_25%"),
        F.round("o_totalprice_50%", 4).alias("o_totalprice_50%"),
        F.round("o_totalprice_75%", 4).alias("o_totalprice_75%"),
        F.col("o_totalprice_max"),
    )


@query(
    "pd_value_counts_priority",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, CAST(count(*) AS BIGINT) AS count
    FROM orders
    GROUP BY o_orderstatus, o_orderpriority
    """,
)
def pd_value_counts_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pandas idiom: DataFrame.value_counts over two columns (facade addition
    — one hash aggregate, pandas dropna default)."""
    orders = _read(spark, sf_dir, "orders")[["o_orderstatus", "o_orderpriority"]]
    vc = orders.value_counts()
    return vc.reset_index().to_spark()


def _mortgage_month_blocks() -> str:
    """Generate the 12 per-month WITH blocks of the mortgage oracle (the
    reference's create_12_mon_features loop, benchmarks/mortgage/
    mortgage.py:374-409, y = 1..12)."""
    blocks = []
    for y in range(1, 13):
        blocks.append(f"""
    m{y} AS (
        SELECT loan,
               CAST(trunc((jm_n * 12 + 24000 + {y - 1}) / 12.0) AS BIGINT) AS timestamp_year,
               CAST({y} AS BIGINT) AS timestamp_month,
               CAST(mx > 3 AS INT) + CAST(mn = 0 AS INT) AS delinquency_12,
               mn AS upb_12
        FROM (
            SELECT loan,
                   CAST(trunc((ty * 12 + tm - 24000 - {y}) / 12.0) AS BIGINT) AS jm_n,
                   max(status) AS mx, min(upb) AS mn
            FROM joined GROUP BY loan, jm_n
        )
    )""")
    return ",".join(blocks)


_MORTGAGE_ORACLE = f"""
    WITH perf AS MATERIALIZED (
        SELECT l_orderkey AS loan, l_shipdate AS ts,
               CAST(trunc(l_quantity / 10) AS BIGINT) AS status,
               l_extendedprice AS upb
        FROM lineitem
    ),
    ever AS (
        SELECT loan,
               CAST(max(status) >= 1 AS INT) AS ever_30,
               CAST(max(status) >= 3 AS INT) AS ever_90,
               CAST(max(status) >= 5 AS INT) AS ever_180
        FROM perf GROUP BY loan
    ),
    d30 AS (SELECT loan, min(ts) AS delinquency_30 FROM perf WHERE status >= 1 GROUP BY loan),
    d90 AS (SELECT loan, min(ts) AS delinquency_90 FROM perf WHERE status >= 3 GROUP BY loan),
    d180 AS (SELECT loan, min(ts) AS delinquency_180 FROM perf WHERE status >= 5 GROUP BY loan),
    delinq AS (
        SELECT d30.loan, delinquency_30,
               coalesce(delinquency_90,  TIMESTAMP '1970-01-01') AS delinquency_90,
               coalesce(delinquency_180, TIMESTAMP '1970-01-01') AS delinquency_180
        FROM d30 LEFT JOIN d90 USING (loan) LEFT JOIN d180 USING (loan)
    ),
    everdf AS MATERIALIZED (
        SELECT ever.loan, ever_30, ever_90, ever_180,
               coalesce(delinquency_30,  TIMESTAMP '1970-01-01') AS delinquency_30,
               coalesce(delinquency_90,  TIMESTAMP '1970-01-01') AS delinquency_90,
               coalesce(delinquency_180, TIMESTAMP '1970-01-01') AS delinquency_180
        FROM ever LEFT JOIN delinq USING (loan)
    ),
    -- MATERIALIZED fan-outs (round-12 100x gate: DuckDB inlines repeated CTE
    -- references — perf feeds 5 consumers and joined feeds the 12 month
    -- blocks + combined, so the inlined form recomputed the 60M-row join
    -- 13x and filled the disk with >65 GB of spill)
    joined AS MATERIALIZED (
        SELECT p.loan, p.upb, p.status,
               CAST(year(p.ts) AS BIGINT)  AS ty,
               CAST(month(p.ts) AS BIGINT) AS tm,
               coalesce(e.ever_30, -1)  AS ever_30,
               coalesce(e.ever_90, -1)  AS ever_90,
               coalesce(e.ever_180, -1) AS ever_180,
               coalesce(e.delinquency_30, TIMESTAMP '1970-01-01') AS delinquency_30
        FROM perf p LEFT JOIN everdf e ON e.loan = p.loan
    ),{_mortgage_month_blocks()},
    testdf AS MATERIALIZED ({" UNION ALL ".join(f"SELECT * FROM m{y}" for y in range(1, 13))}),
    combined AS (
        SELECT j.*, t.delinquency_12, t.upb_12
        FROM joined j LEFT JOIN testdf t
          ON t.loan = j.loan AND t.timestamp_year = j.ty AND t.timestamp_month = j.tm
    ),
    final AS (
        SELECT c.*, o.o_totalprice
        FROM combined c LEFT JOIN orders o ON o.o_orderkey = c.loan
    )
    SELECT ty AS timestamp_year, tm AS timestamp_month,
           count(*) AS n_rows,
           CAST(sum(delinquency_12) AS BIGINT) AS n_delinq,
           CAST(sum(CAST(round(coalesce(upb_12, 0) * 100) AS BIGINT)) AS DOUBLE)
               / 100.0 AS sum_upb12,
           CAST(sum(CAST(round(coalesce(o_totalprice, 0) * 100) AS BIGINT)) AS DOUBLE)
               / 100.0 AS sum_price,
           CAST(max(ever_90) AS INT) AS any_ever90,
           min(delinquency_30) AS first_delinq30
    FROM final
    GROUP BY ty, tm
"""


@query("pd_mortgage_e2e_full", oracle=_MORTGAGE_ORACLE)
def pd_mortgage_e2e_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL reference mortgage E2E shape through the facade (reference
    benchmarks/mortgage/mortgage.py:256-445 — its one published end-to-end
    benchmark, 2.4x vs Dask): ever features (groupby-max + thresholds),
    delinquency date features (3 filtered groupby-mins chained through 2 left
    merges + timestamp fillna), ever⋈delinq, the per-row joined frame with
    datetime features and fillna(-1), the josh_mody month-bucket computation
    (reference: a 12-iteration loop of groupby-aggs concat'd — here FUSED
    into one explode(y=1..12)+groupby pass), the (loan, year, month) combine
    merge, and the acquisition merge — 7 left merges, 5 groupby-aggs, all
    facade calls. lineitem plays performance (loan=l_orderkey,
    period=l_shipdate, status=quantity/10), orders plays acquisition.

    100 TB shape: every merge/groupby shuffles on loan_id or
    (loan, year, month); the month buckets are one broadcast cross-join with
    a 12-row y table + ONE groupby on (loan, josh_mody_n, y) — same shuffled
    bytes as the reference's 12 separate aggregates (partial aggregation
    compresses map-side identically) but 11 fewer stage barriers; nothing
    collects to the driver."""
    import pandas as pd

    default_ts = pd.Timestamp("1970-01-01")
    perf = _read(spark, sf_dir, "lineitem")[
        ["l_orderkey", "l_shipdate", "l_quantity", "l_extendedprice"]
    ]
    perf["status"] = (perf["l_quantity"] / 10).astype("int64")
    # perf feeds ever + 3 delinq aggregates + the joined frame: persist the
    # projected slice once (the reference's eager execution materializes it
    # implicitly; our lazy plan would re-scan lineitem 5x). Hash-partition it
    # on the loan key FIRST (the reference tracks `_partition_keys`,
    # core/table.py:222-268, and reuses them across its 7 merges /
    # 16 groupbys, core/merge.py:296-354): every downstream loan-keyed
    # groupby and merge — and, via subset-clustering, the
    # (loan, josh_mody_n, y) month aggregate and the (loan, year, month)
    # combine merge — then satisfies its distribution requirement from this
    # ONE cached exchange, so EnsureRequirements adds no further shuffle on
    # the perf lineage.
    perf.persist()

    # ever + the 3 delinquency date features, FUSED (round 12, guide §2.4):
    # the reference computes 4 separate per-loan aggregates (groupby-max +
    # three filtered groupby-mins) and chains them through 3 left merges —
    # 4 loan-keyed exchanges + 3 sort-merge joins in the round-11 plan. All
    # four are per-loan reductions of the SAME perf slice, so one masked
    # projection + ONE groupby computes them in a single exchange:
    # min(ts where status>=th) ≡ the filtered groupby-min (both engines'
    # min skips the masked-out nulls/NaT), and a loan with no qualifying row
    # aggregates to NaT exactly where the left merges produced NaT — the
    # fillna(default_ts) downstream is unchanged. Oracle-identical (gated at
    # sf0.001/sf0.01/sf0.1); plan: 9→6 Exchange, 5→2 SMJ, 7→2 Sort.
    pv = perf[["l_orderkey", "status", "l_shipdate"]]
    pv["d30"] = pv["l_shipdate"].where(pv["status"] >= 1)
    pv["d90"] = pv["l_shipdate"].where(pv["status"] >= 3)
    pv["d180"] = pv["l_shipdate"].where(pv["status"] >= 5)
    everdf = (
        pv.groupby("l_orderkey")
        .agg({"status": "max", "d30": "min", "d90": "min", "d180": "min"})
        .reset_index()
    )
    everdf["ever_30"] = (everdf["status"] >= 1).astype("int32")
    everdf["ever_90"] = (everdf["status"] >= 3).astype("int32")
    everdf["ever_180"] = (everdf["status"] >= 5).astype("int32")
    everdf = everdf.rename(
        columns={
            "d30": "delinquency_30",
            "d90": "delinquency_90",
            "d180": "delinquency_180",
        }
    )[
        [
            "l_orderkey",
            "ever_30",
            "ever_90",
            "ever_180",
            "delinquency_30",
            "delinquency_90",
            "delinquency_180",
        ]
    ]
    for c in ("delinquency_30", "delinquency_90", "delinquency_180"):
        everdf[c] = everdf[c].fillna(default_ts)

    joined = perf[["l_orderkey", "l_shipdate", "l_extendedprice", "status"]]
    joined["timestamp_year"] = joined["l_shipdate"].dt.year.astype("int64")
    joined["timestamp_month"] = joined["l_shipdate"].dt.month.astype("int64")
    joined = joined.drop(columns=["l_shipdate"])
    joined = joined.merge(everdf, on="l_orderkey", how="left", method="hash")
    for c in ("ever_30", "ever_90", "ever_180"):
        joined[c] = joined[c].fillna(-1).astype("int32")
    joined["delinquency_30"] = joined["delinquency_30"].fillna(default_ts)
    joined["delinquency_12"] = joined["status"]
    joined["upb_12"] = joined["l_extendedprice"]
    # joined feeds the 12 month-bucket aggregates AND the combine merge —
    # 13 consumers of one lineitem-sized frame. No explicit repartition: an
    # A/B at sf0.1 (SCALE.md round-7 note) measured repartition_by(loan) on
    # perf at 3.17s and on joined at 2.6-3.1s vs 2.57-2.75s baseline —
    # Catalyst already supplies the reference's `_partition_keys` reuse
    # (core/table.py:222-268): when the everdf side is too big to broadcast,
    # the SMJ output IS hash(loan) and every downstream loan-keyed
    # groupby/merge reuses it (with requireAllClusterKeysForCoPartition=false
    # in session.py, subset-key joins reuse it too); when AQE broadcasts, the
    # shuffle disappears entirely, so a forced exchange only adds cost.
    joined.persist()

    # Month-bucket loop, FUSED (round 6): the reference runs 12 iterations of
    # groupby(loan, josh_mody_n) differing only in the scalar y and concats
    # the 12 results (benchmarks/mortgage/mortgage.py:256-310). Since the
    # iterations are independent, explode y=1..12 via a broadcast cross-join
    # and run ONE groupby on (loan, josh_mody_n, y): 12 aggregate stages + a
    # 12-frame concat become a single shuffle whose partial aggregates carry
    # the same total bytes. At 1000 executors this removes 11 stage barriers.
    import legate_pandas_spark as lps

    tmp = joined[
        ["l_orderkey", "timestamp_year", "timestamp_month", "delinquency_12", "upb_12"]
    ]
    tmp["josh_months"] = tmp["timestamp_year"] * 12 + tmp["timestamp_month"]
    tmp = tmp[["l_orderkey", "josh_months", "delinquency_12", "upb_12"]]
    ydf = lps.from_pandas(
        pd.DataFrame({"y": pd.Series(range(1, 13), dtype="int64")}), spark=spark
    )
    tmp = tmp.merge(ydf, how="cross", broadcast=True)
    tmp["josh_mody_n"] = ((tmp["josh_months"] - 24000 - tmp["y"]) / 12).astype("int64")
    g = (
        tmp.groupby(["l_orderkey", "josh_mody_n", "y"])
        .agg({"delinquency_12": "max", "upb_12": "min"})
        .reset_index()
    )
    g["delinquency_12"] = (g["delinquency_12"] > 3).astype("int32") + (
        g["upb_12"] == 0
    ).astype("int32")
    g["timestamp_year"] = (
        (g["josh_mody_n"] * 12 + 24000 + (g["y"] - 1)) / 12
    ).astype("int64")
    g["timestamp_month"] = g["y"]
    testdf = g[
        ["l_orderkey", "timestamp_year", "timestamp_month", "delinquency_12", "upb_12"]
    ]

    combined = joined[
        [
            "l_orderkey",
            "timestamp_year",
            "timestamp_month",
            "ever_30",
            "ever_90",
            "ever_180",
            "delinquency_30",
        ]
    ].merge(testdf, on=["l_orderkey", "timestamp_year", "timestamp_month"], how="left")

    # dropna on the acquisition key (a no-op on this data — o_orderkey is the
    # table's key) PROVES it null-free, so the final merge compiles plain
    # equality and the big combined side reuses its hash(l_orderkey)
    # partitioning instead of re-exchanging on the null-safe key shape — the
    # "declare your keys" idiom a pandas user writes anyway before a big join
    acq = _read(spark, sf_dir, "orders")[["o_orderkey", "o_totalprice"]].dropna(
        subset=["o_orderkey"]
    )
    final = combined.merge(
        acq, left_on="l_orderkey", right_on="o_orderkey", how="left"
    )

    # integer-cents money sums (round-12, found by the 100x relational gate):
    # the raw double sums at 100x group sizes (~800k rows, 4e10 magnitude)
    # drift their 2dp last digit by summation order — the q1 class. The 2dp
    # inputs are exact in cents; fillna(0) is sum-neutral (pandas sum skips
    # NaN, SQL sum skips NULL, and 0 contributes 0), so the cents sums are
    # order-independent int64 and both engines emit the identical double.
    final["upb12_c"] = (final["upb_12"].fillna(0.0) * 100).round().astype("int64")
    final["price_c"] = (final["o_totalprice"].fillna(0.0) * 100).round().astype("int64")
    g = (
        final.groupby(["timestamp_year", "timestamp_month"])
        .agg(
            {
                "l_orderkey": "size",
                "delinquency_12": "sum",
                "upb12_c": "sum",
                "price_c": "sum",
                "ever_90": "max",
                "delinquency_30": "min",
            }
        )
        .reset_index()
    )
    out = g.to_spark()
    return out.select(
        F.col("timestamp_year"),
        F.col("timestamp_month"),
        F.col("l_orderkey").alias("n_rows"),
        F.col("delinquency_12").cast("long").alias("n_delinq"),
        (F.col("upb12_c") / 100.0).alias("sum_upb12"),
        (F.col("price_c") / 100.0).alias("sum_price"),
        F.col("ever_90").cast("int").alias("any_ever90"),
        F.col("delinquency_30").alias("first_delinq30"),
    )
