"""Physical-plan inspection utilities.

The reference had no optimizer to inspect (eager per-op dispatch); on Spark the
plan IS the contract — these helpers make plan shape assertions first-class so
tests (and users debugging a slow query) can verify pushdown, pruning, broadcast
selection, and exchange reuse without scraping stdout.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def explain_text(df: DataFrame, mode: str = "formatted") -> str:
    """The explain output as a string (df.explain only prints)."""
    jdf = df._jdf
    jvm = df.sparkSession._jvm
    em = jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    return jdf.queryExecution().explainString(em)


def pushed_filters(df: DataFrame) -> list[str]:
    """PushedFilters entries of every scan in the plan."""
    out = []
    for m in re.finditer(r"PushedFilters: \[(.*?)\]", explain_text(df)):
        out.extend(f.strip() for f in m.group(1).split(",") if f.strip())
    return out


def scan_read_schema(df: DataFrame) -> list[str]:
    """Column names read by the parquet scans (pruning check)."""
    cols = []
    for m in re.finditer(r"ReadSchema: struct<(.*?)>", explain_text(df)):
        cols.extend(part.split(":")[0].strip() for part in m.group(1).split(",") if part)
    return cols


def assert_no_cartesian(df: DataFrame) -> None:
    plan = explain_text(df, mode="simple")
    if "CartesianProduct" in plan:
        raise AssertionError("plan contains a cartesian product")

