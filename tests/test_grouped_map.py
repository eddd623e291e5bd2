"""Grouped pandas maps (``scan.grouped_map``) keep Spark's group boundaries
while Python runs once per hash bucket, not once per group."""

import re

import numpy as np
import pandas as pd
import pyspark.sql.functions as F

import legate_pandas_spark.frontend as lps


def test_null_and_nan_double_keys_stay_two_groups(spark):
    """Arrow turns a null and a NaN double key alike into NaN; Spark's
    ``groupBy`` keeps them apart, and so must the pandas side."""
    nan = float("nan")
    rows = [
        (1.0, 1.0), (None, 10.0), (nan, 100.0), (1.0, 2.0),
        (None, 20.0), (nan, 200.0), (nan, 300.0), (2.0, 7.0),
    ]
    sdf = spark.createDataFrame(rows, "k double, v double")
    got = (
        lps.DataFrame(sdf)
        .groupby("k", dropna=False)
        .apply(lambda g: pd.DataFrame({"n": [len(g)], "s": [g["v"].sum()]}))
        .to_pandas()
    )
    want = sdf.groupBy("k").agg(F.count("*").alias("n"), F.sum("v").alias("s")).toPandas()
    key = ["n", "s"]
    pd.testing.assert_frame_equal(
        got[key].sort_values(key).reset_index(drop=True),
        want[key].sort_values(key).reset_index(drop=True),
        check_dtype=False,
    )
    assert len(got) == 4


def test_grouped_map_runs_per_bucket_over_one_pinned_exchange(spark):
    """1,000 groups, one ``FlatMapGroupsInPandas`` grouped on the bucket
    column (not on ``k``), above one repartition-by-number exchange — the
    exchange AQE does not coalesce into one Python-heavy task."""
    pdf = pd.DataFrame({"k": np.arange(5000) % 1000, "v": np.arange(5000.0)})
    out = lps.from_pandas(pdf, spark=spark).groupby("k").transform(lambda s: s - s.mean())
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    plan = out._sdf._jdf.queryExecution().explainString(mode)
    maps = re.findall(r"FlatMapGroupsInPandas \[([^\]]*)\]", plan)
    assert len(maps) == 1 and re.fullmatch(r"__gm_bucket_\d+__#\d+L", maps[0]), plan
    exchanges = re.findall(r"Exchange hashpartitioning\(([^,]*), \d+\), (\w+)", plan)
    assert [(c.split("#")[0], how) for c, how in exchanges] == [
        (maps[0].split("#")[0], "REPARTITION_BY_NUM")
    ], plan
    tail = plan[plan.index("FlatMapGroupsInPandas"):]
    assert tail.index("Sort [__gm_bucket_") < tail.index("Exchange hashpartitioning"), plan
    want = pdf.groupby("k")["v"].transform(lambda s: s - s.mean())
    got = out.to_pandas()["v"].reset_index(drop=True)
    pd.testing.assert_series_equal(got, want, check_names=False)


def test_keyed_ewm_keeps_null_and_nan_keys_apart(spark):
    """ewm's phases split rows into runs with pandas, where a null and a NaN
    double key are both NaN; their is-null flag keeps the two groups apart,
    within one partition and across partitions."""
    nan = float("nan")
    rows = list(zip([1.0, None, nan, 1.0, None, nan], [1.0, 10.0, 100.0, 2.0, 20.0, 200.0]))
    for parts in (1, 3):
        sdf = spark.createDataFrame(spark.sparkContext.parallelize(rows, parts), "k double, v double")
        got = lps.DataFrame(sdf).groupby("k", dropna=False).ewm(alpha=0.5).mean().to_pandas()
        np.testing.assert_allclose(
            got["v"].to_numpy(), [1.0, 10.0, 100.0, 5 / 3, 50 / 3, 500 / 3], err_msg=str(parts)
        )


def test_bucket_count_after_merge_stays_near_parallelism(spark):
    """Without CBO a join's size estimate is the product of its sides', so a
    20k-row frame merged with a 97-row key table estimated gigabytes; the cap
    at the sum of the plan's leaves keeps B near defaultParallelism."""
    n = 20000
    pdf = pd.DataFrame(
        {"k": np.arange(n) % 97, "v": np.arange(n, dtype=float), "x": np.ones(n), "y": np.zeros(n)}
    )
    keys = pd.DataFrame({"k": np.arange(97), "name": [f"key-{i:04d}-label" for i in range(97)]})
    merged = lps.from_pandas(pdf, spark=spark).merge(lps.from_pandas(keys, spark=spark), on="k")
    center = lambda g: g.assign(v=g["v"] - g["v"].mean())  # noqa: E731
    out = merged.groupby("k").apply(center)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    plan = out._sdf._jdf.queryExecution().explainString(mode)
    (b,) = re.findall(r"pmod\(xxhash64\([^)]*\), (\d+)\)", plan)
    assert int(b) <= 2 * spark.sparkContext.defaultParallelism, plan
    key = ["v", "x", "y", "name"]  # name stands for k, which is the index
    want = pdf.merge(keys, on="k").groupby("k", group_keys=False)[key].apply(center)
    pd.testing.assert_frame_equal(
        out.to_pandas()[key].sort_values(key).reset_index(drop=True),
        want[key].sort_values(key).reset_index(drop=True),
        check_dtype=False,
    )
