"""Parquet sources for the synthetic TPC-H-ish testdata tables.

Parity note (SURVEY §2.1): the reference's parallel parquet reader
(core/io.py:29-157) maps to ``spark.read.parquet`` — column pruning and predicate
pushdown are native. The only custom handling here is the ``events.ts`` column:
the driver writes it as parquet TIMESTAMP(NANOS), which Spark cannot represent;
with ``spark.sql.legacy.parquet.nanosAsLong`` we read the raw int64 nanos and
truncate to a microsecond TimestampType (documented ns→µs divergence, SURVEY §1.2 —
the reference truncates datetime64[ns] the other way, keeping ns).
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Tables small enough (at any SF) to be broadcast-join candidates.
BROADCAST_DIMS = {"region", "nation", "supplier"}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table, normalizing the events ns-timestamp column."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name != "events":
        return spark.read.parquet(path)

    # runtime-modifiable SQL conf: also holds on a driver-supplied session
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    if dict(df.dtypes).get("ts") == "bigint":
        # integer div, NOT float division: epoch-ns (~1.7e18) exceeds double's
        # 53-bit mantissa, so ts/1000.0 would drift by up to ~1µs
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif dict(df.dtypes).get("ts") == "timestamp_ntz":
        # tz-naive parquet timestamps infer as TIMESTAMP_NTZ in Spark 4; the
        # session runs UTC so the cast is exact, and downstream epoch/interval
        # functions (unix_micros, range windows) require TIMESTAMP
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register all tables as temp views (mirrors the DuckDB oracle environment)."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
