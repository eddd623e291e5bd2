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
* Streaming checkpoints (offsets/commits WAL, file-source log, state-store
  deltas and their checksum files) go through
  ``FileSystemBasedCheckpointFileManager``. Spark's default FileContext
  manager forks ``readlink`` for every status check of a local rename, which
  makes each atomic write about three times slower. The no-overwrite rename
  is no weaker: on ``file:`` both managers check the destination and then
  ``rename(2)``, on ``hdfs:`` the NameNode refuses an existing destination
  atomically, and on object stores both copy.
* Python workers fork from ``legate_pandas_spark.pyworker``, a daemon that
  keeps ``pyspark.zip``'s import directory across tasks. Each Python task
  calls ``importlib.invalidate_caches()``, and on Python 3.11 that re-reads
  the zip's central directory (1,328 entries) once per ``zipimporter`` on
  it, 14-16 in a warm worker: 57-90 ms per task on a 4-vCPU host and
  130-150 ms on another, before any user code. On interactive_small (seed
  1, 20 s, 4 vCPU; two sets of 11 alternated pairs on two days)
  ``op_p90_s`` fell from 0.43 to 0.29 s and from 0.34 to 0.25 s (medians;
  better in 22 of 22 pairs), ``multimodal_jpeg_decode`` from 0.30-0.46 s to
  0.16-0.25 s, and the executor's non-CPU run time from 0.09-0.16 to
  0.04-0.05 s per op at unchanged executor CPU time. Why a daemon module and
  not a path change: Spark fixes the worker path with the zip first. Python
  3.12 made the invalidation lazy; there the module is plain
  ``pyspark.daemon``.

Shuffle partitions are one per core (AQE coalesces below that when stages are
tiny; on a cluster this should be 2-3x total cores).

``get_spark`` builds a local session on ``local[$SPARK_GRAFT_CPUS]`` (default
32) with the whole table. ``ensure_runtime_conf`` brings a session someone else
built (the correctness driver passes its own to ``queries()``) to the same
SQL conf: every ``spark.sql.*`` key of the table, plus one shuffle partition
per core of that session. The other keys configure the context and are fixed
once it runs.
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
    # Commit every streaming checkpoint file (offsets/commits WAL, file-source
    # seen-files log, state-store N.delta and Spark's checksum files) with a
    # plain FileSystem.create + rename.
    # Cause: the default FileContextBasedCheckpointFileManager renames through
    # AbstractFileSystem.renameInternal, whose status checks on the local fs
    # go through FileUtil.readLink, which in hadoop 3.4.2 forks `readlink`:
    # 8 forks per atomic write (4 per rename, for the file and its .crc), none
    # through FileSystem. One atomic write took 34-57 ms that way against
    # 11-17 ms through FileSystem (4-vCPU VM); on ingest_stream the state
    # commit fell from 0.36-0.41 s to about 0.02 s per batch.
    # Atomicity of the no-overwrite rename, per scheme:
    #  - file: FileContext's rename (hadoop-client-api 3.4.2 classes) is
    #    getFileLinkStatus(dst), throw if present, then File.renameTo, i.e.
    #    rename(2); FileSystem's is exists(dst), throw if present, then the
    #    same rename(2). Same check-then-rename, nothing lost.
    #  - hdfs: FileSystem.rename onto an existing file fails atomically at the
    #    NameNode and the manager then raises FileAlreadyExists, which is what
    #    the WAL's overwriteIfPossible=false write relies on.
    #  - object stores: rename is a copy under either manager.
    # Not done, on purpose: turning off
    # spark.sql.streaming.checkpoint.fileChecksum.enabled (halved the commit
    # in a probe, but drops an integrity check), and fs.file.impl =
    # RawLocalFileSystem (drops .crc verification on every local parquet
    # read).
    "spark.sql.streaming.checkpointFileManagerClass": (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    ),
    # Fork Python workers from a daemon that re-reads a zip on the import
    # path only when its (mtime, size) changed. Cause: every task's
    # setup_spark_files ends in importlib.invalidate_caches(), which on
    # Python < 3.12 eagerly re-parses the central directory of every
    # zipimporter's archive; Spark puts pyspark.zip first on the worker path
    # and a warm worker holds 14-16 zipimporters on it, so each task paid
    # 57-150 ms to re-read an unchanged file. A daemon module, not a path
    # change: Spark fixes the worker path (zip first), and `python -m` of the
    # module also preloads the package (pandas, pyarrow, pyspark.sql) before
    # forking (interactive_small warm-up, medians of two sets of 11 runs:
    # 14.0 -> 13.3 s and 11.8 -> 11.1 s). A context key: a session not built
    # by get_spark keeps pyspark.daemon and only misses the speedup.
    "spark.python.daemon.module": "legate_pandas_spark.pyworker",
    # `python -m` of that module runs before any task adds its files, so the
    # daemon imports the package from the worker path: add the directory
    # that holds the package. Spark appends it after its own zips, so
    # pyspark.zip stays first. Without it, a session started outside that
    # directory with the package on sys.path only failed every Python task
    # ("No module named 'legate_pandas_spark'").
    "spark.executorEnv.PYTHONPATH": os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))
    ),
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
    """Apply the ``spark.sql.*`` part of ``_CONF`` to an externally created
    session, plus one shuffle partition per core of that session.

    The SQL keys are selected by prefix, not by ``conf.isModifiable``: Spark
    never registers an entry for ``checkpointFileManagerClass`` (an internal
    key read straight from the hadoop conf), so ``isModifiable`` is False for
    it, yet the session's value is what the next ``writeStream.start()`` uses.
    """
    conf = spark.conf
    for k, v in _CONF.items():
        if k.startswith("spark.sql."):
            conf.set(k, v)
    conf.set(
        "spark.sql.shuffle.partitions", str(spark.sparkContext.defaultParallelism)
    )
