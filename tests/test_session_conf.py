"""The session conf table and the driver contract on an untuned session.

``session._CONF`` is the only conf table: ``get_spark`` applies all of it,
``ensure_runtime_conf`` the runtime-modifiable part of it. Operator code has
no env-selected variants, and the session reads only ``SPARK_GRAFT_CPUS``.
A ``get_spark`` session records no Python call sites; errors keep their class.
"""

import os
import re

import pytest

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "legate_pandas_spark"
)


def test_ensure_runtime_conf_on_untuned_session(spark, sf_dir):
    from legate_pandas_spark.session import _CONF, ensure_runtime_conf
    from legate_pandas_spark.sources.tables import load_table

    ns = spark.newSession()
    for k, v in {
        "spark.sql.shuffle.partitions": "200",
        "spark.sql.legacy.parquet.nanosAsLong": "false",
        "spark.sql.session.timeZone": "America/Los_Angeles",
        "spark.sql.parquet.aggregatePushdown": "false",
    }.items():
        ns.conf.set(k, v)

    ensure_runtime_conf(ns)

    modifiable = {k: v for k, v in _CONF.items() if ns.conf.isModifiable(k)}
    assert "spark.sql.parquet.aggregatePushdown" in modifiable
    assert {k: ns.conf.get(k) for k in modifiable} == modifiable
    assert ns.conf.get("spark.sql.shuffle.partitions") == str(
        ns.sparkContext.defaultParallelism
    )
    assert dict(load_table(ns, sf_dir, "events").dtypes)["ts"] == "timestamp"


DEBUGGING = "spark.python.sql.dataFrameDebugging.enabled"


def test_get_spark_session_records_no_call_sites(spark):
    from legate_pandas_spark.session import ensure_runtime_conf

    assert spark.conf.get(DEBUGGING) == "false"
    ns = spark.newSession()
    before = ns.conf.get(DEBUGGING)
    assert not ns.conf.isModifiable(DEBUGGING)
    ensure_runtime_conf(ns)
    assert ns.conf.get(DEBUGGING) == before


def test_ansi_error_keeps_its_class_without_call_sites(spark, monkeypatch):
    import pyspark.errors.utils as errutils
    import pyspark.sql.functions as F
    from pyspark.errors import ArrayIndexOutOfBoundsException

    def raised(debugging: bool) -> type:
        # PySpark reads the conf once per process into this cache
        monkeypatch.setattr(errutils, "_enable_debugging_cache", debugging)
        with pytest.raises(ArrayIndexOutOfBoundsException) as info:
            spark.range(3).select(F.element_at(F.array("id"), (F.col("id") + 5).cast("int"))).collect()
        return type(info.value)

    assert raised(False) is raised(True)


def _env_refs(src: str) -> int:
    return len(re.findall(r"\b(?:environ|getenv)\b", src))


def test_env_reads_only_cpus_in_session():
    ops = os.path.join(PKG, "operators")
    offenders = []
    for root, _, files in os.walk(ops):
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(root, f)
                with open(path) as fh:
                    if _env_refs(fh.read()):
                        offenders.append(os.path.relpath(path, PKG))
    assert offenders == []

    with open(os.path.join(PKG, "session.py")) as fh:
        src = fh.read()
    names = re.findall(
        r"""(?:environ\.get\(|environ\[|getenv\()\s*["']([A-Za-z0-9_]+)["']""", src
    )
    # every env reference is a literal-keyed read of SPARK_GRAFT_CPUS
    assert _env_refs(src) == len(names)
    assert set(names) <= {"SPARK_GRAFT_CPUS"}
