"""SparkSession bootstrap tuned for the engine.

``_CONF`` is the one conf table; it is what we would ship as
``spark-defaults`` on a real cluster:

* AQE on (runtime re-plan, partition coalescing, skew-join splitting) — replaces the
  reference's weighted-partition rebalancing (core/runtime.py:1001-1008).
* Arrow on for any pandas interchange (Pandas UDFs, toPandas).
* ``nanosAsLong`` so parquet TIMESTAMP(NANOS) columns (events.ts) are readable;
  sources.tables converts them to microsecond timestamps (documented ns→µs
  truncation, SURVEY §1.2).
* No Python call-site capture (``dataFrameDebugging``): it costs py4j round
  trips on every column expression an op builds.

Shuffle partitions are one per core (AQE coalesces below that when stages are
tiny; on a cluster this should be 2-3x total cores).

``get_spark`` builds a local session on ``local[$SPARK_GRAFT_CPUS]`` (default
32) with the whole table. ``ensure_runtime_conf`` brings a session someone else
built (the correctness driver passes its own to ``queries()``) to the same
SQL conf: every key of the table that is runtime-modifiable (the
``spark.sql.*`` keys), plus one shuffle partition per core of that session.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    # Round-12 (guide §3.1/§9): allow shuffled-hash joins. Sort-merge pays a
    # per-side sort the hash join skips; SHJ is picked statically when the
    # planner's size conditions hold, and AQE additionally rewrites SMJ→SHJ
    # at runtime when every post-shuffle partition is under the local-map
    # threshold (sized = advisory partition size, the guide's pairing), so
    # partitions that outgrow the threshold at cluster scale keep the
    # sort-merge spill path.
    "spark.sql.join.preferSortMergeJoin": "false",
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold": "64m",
    "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
    # let a join reuse children already hash-partitioned on a SUBSET of its
    # keys (e.g. the mortgage combine merge on (loan, year, month) over two
    # frames both hash(loan)) instead of re-exchanging both sides — the
    # Catalyst analog of the reference's tracked `_partition_keys` reuse
    # (reference core/table.py:222-268, core/merge.py:296-354)
    "spark.sql.requireAllClusterKeysForCoPartition": "false",
    # timestamps in the testdata are naive wall times stored as UTC-epoch
    # nanos; rendering/extraction must not shift with the host timezone
    "spark.sql.session.timeZone": "UTC",
    "spark.ui.enabled": "false",
    "spark.driver.memory": "16g",
    # The oracle gate collects FULL pair-granular results for the
    # differential compare — 51M rows (~1.5 GB Arrow) at the 100×-docs
    # corpus (round-11: the clone-collapsed oracles made that compare
    # feasible; the default 1g cap was the last blocker). Production paths
    # never collect unbounded results (VERDICT-audited every round), so the
    # cap is not load-bearing there.
    "spark.driver.maxResultSize": "8g",
    # PySpark 4.1 records the Python call site of every pyspark.sql.functions
    # call and Column method in the JVM (about 8 py4j round trips each), for
    # file:line context in error messages. Errors keep their class without
    # it. Not runtime-modifiable: a session built elsewhere keeps its value.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}


def get_spark(app_name: str = "legate_pandas_spark", cpus: int | None = None) -> SparkSession:
    """Create (or reuse) a tuned local SparkSession."""
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = SparkSession.builder.master(f"local[{cpus}]").appName(app_name)
    for k, v in _CONF.items():
        builder = builder.config(k, v)
    # sized from the same ``cpus`` as the master string (ADVICE r12: an
    # explicit get_spark(cpus=N) caller gets N partitions)
    builder = builder.config("spark.sql.shuffle.partitions", str(cpus))
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def ensure_runtime_conf(spark: SparkSession) -> None:
    """Apply the runtime-modifiable part of ``_CONF`` to an externally created
    session, plus one shuffle partition per core of that session."""
    conf = spark.conf
    for k, v in _CONF.items():
        if conf.isModifiable(k):
            conf.set(k, v)
    conf.set(
        "spark.sql.shuffle.partitions", str(spark.sparkContext.defaultParallelism)
    )
