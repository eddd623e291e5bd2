"""The session schema catalog (sources.tables.parquet_schema) behind both
parquet readers: a rewritten table is picked up mid-session, warm loads run
no Spark job, each session infers for itself, a path with nothing local to
stat is inferred on every read, and the inference confs are part of the key."""

import contextlib
import os
import shutil

import pandas as pd
import pytest

from legate_pandas_spark.frontend import read_parquet
from legate_pandas_spark.sources.tables import (
    TABLES,
    load_table,
    memo,
    memo_stats,
    parquet_schema,
    snapshot_token,
    table_path,
)


@contextlib.contextmanager
def _jobs(spark, group: str):
    """Collect the ids of the Spark jobs the block launches."""
    sc = spark.sparkContext
    ids = []
    sc.setJobGroup(group, group)
    try:
        yield ids
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))


def _read_both(spark, d):
    a = load_table(spark, d, "orders")
    b = read_parquet(table_path(d, "orders"), spark=spark)
    return [(a.columns, a.count()), (b.columns, len(b))]


@pytest.mark.parametrize("writer", ["spark_directory", "pandas_file"])
def test_rewrite_mid_session_is_picked_up(spark, sf_dir, tmp_path, writer):
    d = str(tmp_path)
    path = table_path(d, "orders")
    shutil.copyfile(table_path(sf_dir, "orders"), path)
    old = pd.read_parquet(path)
    assert _read_both(spark, d) == [(list(old.columns), len(old))] * 2

    # rewritten at once, no sleep: one more column, half the rows
    new = old.iloc[: len(old) // 2].assign(o_flag=1)
    if writer == "spark_directory":
        spark.createDataFrame(new).write.mode("overwrite").parquet(path)
        assert os.path.isdir(path)
    else:
        new.to_parquet(path, index=False)
    assert _read_both(spark, d) == [(list(new.columns), len(new))] * 2


def test_warm_loads_run_no_spark_job(spark, sf_dir):
    ns = spark.newSession()  # its own catalog entries: every table starts cold
    misses = memo_stats("parquet_schema")["misses"]
    with _jobs(ns, "catalog_cold") as cold:
        load_table(ns, sf_dir, "orders")
    assert cold and memo_stats("parquet_schema")["misses"] == misses + 1

    for name in TABLES:
        load_table(ns, sf_dir, name)
        with _jobs(ns, f"catalog_warm_{name}") as warm:
            load_table(ns, sf_dir, name)
            read_parquet(table_path(sf_dir, name), spark=ns)
        assert warm == [], name


def test_path_without_local_files_is_never_served(spark, tmp_path):
    glob = str(tmp_path / "*.parquet")
    assert snapshot_token(glob) is None
    built = []
    for _ in range(2):
        memo(spark, "t_glob", glob, lambda: built.append(1))
    assert len(built) == 2

    pd.DataFrame({"a": [1, 2]}).to_parquet(tmp_path / "p1.parquet", index=False)
    assert read_parquet(glob, spark=spark).columns == ["a"]
    os.remove(tmp_path / "p1.parquet")
    pd.DataFrame({"a": [3], "b": [4]}).to_parquet(tmp_path / "p2.parquet", index=False)
    assert read_parquet(glob, spark=spark).columns == ["a", "b"]


def test_inference_conf_is_part_of_the_key(spark, tmp_path):
    path = str(tmp_path / "blobs.parquet")
    pd.DataFrame({"b": [b"x", b"y"]}).to_parquet(path, index=False)
    ns = spark.newSession()
    assert parquet_schema(ns, path)["b"].dataType.simpleString() == "binary"
    ns.conf.set("spark.sql.parquet.binaryAsString", "true")
    assert parquet_schema(ns, path)["b"].dataType.simpleString() == "string"
    assert read_parquet(path, spark=ns)._sdf.dtypes == [("b", "string")]
