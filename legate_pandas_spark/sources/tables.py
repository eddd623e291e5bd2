"""Parquet sources for the synthetic TPC-H-ish testdata tables.

Parity note (SURVEY §2.1): the reference's parallel parquet reader
(core/io.py:29-157) maps to ``spark.read.parquet`` — column pruning and predicate
pushdown are native. The only custom handling here is the ``events.ts`` column:
the driver writes it as parquet TIMESTAMP(NANOS), which Spark cannot represent;
with ``spark.sql.legacy.parquet.nanosAsLong`` we read the raw int64 nanos and
truncate to a microsecond TimestampType (documented ns→µs divergence, SURVEY §1.2 —
the reference truncates datetime64[ns] the other way, keeping ns).

It also holds the one session memo (``memo``, ``clear_memos``, ``memo_stats``)
for values derived from a table: probe verdicts, persisted stage frames.
"""

from __future__ import annotations

import os
from collections import Counter
from types import SimpleNamespace

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


def snapshot_token(sf_dir: str, table: str) -> tuple | None:
    """(name, mtime_ns, size) of every file under ``<table>.parquet``: cheap
    driver-side stat calls that change when the table is rewritten. None when
    a file cannot be stat'ed (a racing rewrite)."""
    path = os.path.join(sf_dir, f"{table}.parquet")
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
    except OSError:
        return None
    return tuple(entries)


# entries[(applicationId, name, sf_dir, *key)] = (token, value, release).
# Invariants:
#   * the table's snapshot token invalidates an entry; a None token (table
#     not stattable) never hits, so such a value is rebuilt on every call;
#   * replacement, not accumulation: one live entry per key;
#   * the replaced value is released (``release(value)``, e.g. unpersist)
#     before its successor is built, and ``clear_memos`` releases them all.
_MEMO = SimpleNamespace(entries={}, hits=Counter(), misses=Counter())


def memo(
    spark: SparkSession,
    name: str,
    sf_dir: str,
    table: str,
    build,
    *,
    key: tuple = (),
    refresh: bool = False,
    release=None,
):
    """Return ``build()``, memoized per session and ``(name, sf_dir, *key)``;
    rebuilt when ``table``'s snapshot token changes or on ``refresh``."""
    k = (spark.sparkContext.applicationId, name, sf_dir, *key)
    token = snapshot_token(sf_dir, table)
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
