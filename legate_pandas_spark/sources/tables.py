"""Parquet sources for the synthetic TPC-H-ish testdata tables.

Parity note (SURVEY §2.1): the reference's parallel parquet reader
(core/io.py:29-157) maps to ``spark.read.parquet`` — column pruning and predicate
pushdown are native. The only custom handling here is the ``events.ts`` column:
the driver writes it as parquet TIMESTAMP(NANOS), which Spark cannot represent;
with ``spark.sql.legacy.parquet.nanosAsLong`` we read the raw int64 nanos and
truncate to a microsecond TimestampType (documented ns→µs divergence, SURVEY §1.2 —
the reference truncates datetime64[ns] the other way, keeping ns).

It also holds the one session memo (``memo``, ``clear_memos``, ``memo_stats``)
for values derived from the files at a path: probe verdicts, persisted stage
frames, and the schema catalog. ``parquet_schema`` is that catalog: each
session infers a path's parquet schema once (inference is one Spark job) and
again only when the path's files or the session's inference confs change.
Both parquet readers, ``load_table`` and ``frontend.read_parquet``, load with
``spark.read.schema(parquet_schema(spark, path)).parquet(path)``, so a warm
load runs no Spark job. Each load is still a fresh relation with fresh
expression ids (self-joins stay safe); only the schema is memoized, never the
DataFrame.
"""

from __future__ import annotations

import os
from collections import Counter
from types import SimpleNamespace

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

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


def table_path(sf_dir: str, name: str) -> str:
    """Where testdata table ``name`` lives under ``sf_dir``."""
    return os.path.join(sf_dir, f"{name}.parquet")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table, normalizing the events ns-timestamp column."""
    path = table_path(sf_dir, name)
    if name == "events":
        # runtime-modifiable SQL conf: also holds on a driver-supplied
        # session; set before the schema resolves, since it changes it
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = parquet_schema(spark, path)
    df = spark.read.schema(schema).parquet(path)
    if name != "events" or "ts" not in schema.names:
        return df
    ts = schema["ts"].dataType.simpleString()
    if ts == "bigint":
        # integer div, NOT float division: epoch-ns (~1.7e18) exceeds double's
        # 53-bit mantissa, so ts/1000.0 would drift by up to ~1µs
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts == "timestamp_ntz":
        # tz-naive parquet timestamps infer as TIMESTAMP_NTZ in Spark 4; the
        # session runs UTC so the cast is exact, and downstream epoch/interval
        # functions (unix_micros, range windows) require TIMESTAMP
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


# Session SQL confs that change what parquet schema inference returns.
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
)


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """The schema ``spark.read.parquet(path)`` infers, memoized per session,
    inference conf and snapshot of ``path``'s files. Inference is a Spark
    job; reading with the known schema runs none."""
    key = (
        spark._jsparkSession.sessionUUID(),
        *(spark.conf.get(k) for k in _SCHEMA_CONFS),
    )
    return memo(
        spark, "parquet_schema", path, lambda: spark.read.parquet(path).schema, key=key
    )


def snapshot_token(path: str) -> tuple | None:
    """(name, mtime_ns, size) of every file at ``path``: cheap driver-side
    stat calls that change when the table is rewritten. None when nothing
    local exists there (a glob, a remote URI, a missing table) or a file
    cannot be stat'ed (a racing rewrite)."""
    entries = []
    try:
        if os.path.isdir(path):
            for root, _, files in os.walk(path):
                for fn in sorted(files):
                    st = os.stat(os.path.join(root, fn))
                    entries.append((fn, st.st_mtime_ns, st.st_size))
        elif os.path.exists(path):
            st = os.stat(path)
            entries.append((os.path.basename(path), st.st_mtime_ns, st.st_size))
        else:
            return None
    except OSError:
        return None
    return tuple(entries)


# entries[(applicationId, name, path, *key)] = (token, value, release).
# Invariants:
#   * the snapshot token of ``path`` invalidates an entry; a None token
#     (nothing stattable there) never hits, so such a value is rebuilt on
#     every call;
#   * replacement, not accumulation: one live entry per key;
#   * the replaced value is released (``release(value)``, e.g. unpersist)
#     before its successor is built, and ``clear_memos`` releases them all.
_MEMO = SimpleNamespace(entries={}, hits=Counter(), misses=Counter())


def memo(
    spark: SparkSession,
    name: str,
    path: str,
    build,
    *,
    key: tuple = (),
    refresh: bool = False,
    release=None,
):
    """Return ``build()``, a value derived from the files at ``path``,
    memoized per session and ``(name, path, *key)``; rebuilt when ``path``'s
    snapshot token changes or on ``refresh``."""
    k = (spark.sparkContext.applicationId, name, path, *key)
    token = snapshot_token(path)
    old = _MEMO.entries.get(k)
    if old is not None and not refresh and token is not None and old[0] == token:
        _MEMO.hits[name] += 1
        return old[1]
    _MEMO.misses[name] += 1
    if old is not None:
        del _MEMO.entries[k]
        if old[2] is not None:
            old[2](old[1])
    value = build()
    _MEMO.entries[k] = (token, value, release)
    return value


def clear_memos() -> None:
    """Release and drop every memo entry."""
    while _MEMO.entries:
        _, value, release = _MEMO.entries.popitem()[1]
        if release is not None:
            release(value)


def memo_stats(name: str) -> dict:
    """Hits and misses of memo ``name`` so far, and its live entries now."""
    live = sum(k[1] == name for k in _MEMO.entries)
    return {"hits": _MEMO.hits[name], "misses": _MEMO.misses[name], "live": live}
