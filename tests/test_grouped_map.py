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
