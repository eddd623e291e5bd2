"""Adaptive in-plan exclusive prefix — both branches must agree.

indexing.exclusive_prefix picks a single-level broadcast self-join at
P <= 1024 (minimal plan stages, A/B-measured faster at local scale) and the
two-level bucketed prefix above (scales to 800k-partition scans without a
driver collect). Pin both branches to identical positions/offsets and scan
carries on the same input, and pin that building the two-phase scans runs no
Spark job.
"""

import itertools

import pytest
from pyspark.sql import functions as F


def _make_sdf(spark, n, parts):
    from legate_pandas_spark.frontend.frame import ROW_ORDER

    return (
        spark.range(n)
        .select(F.col("id").alias("v"))
        .repartition(parts)
        .withColumn(ROW_ORDER, F.monotonically_increasing_id())
    )


@pytest.mark.parametrize("two_level", [False, True])
def test_lazy_prefix_branches_agree(spark, two_level):
    from legate_pandas_spark.frontend import indexing
    from legate_pandas_spark.frontend.frame import ROW_ORDER

    sdf = _make_sdf(spark, 173, 7)

    with_pos, offsets = indexing._attach_positions(
        sdf, fresh=True, pos_name="__tp__", force_two_level=two_level
    )
    off_rows = offsets.collect()
    # offsets: starts are the exclusive prefix of counts in pid order
    off_rows.sort(key=lambda r: r["pid"])
    running = 0
    for r in off_rows:
        assert r["start"] == running
        running += r["cnt"]
    assert running == 173

    rows = with_pos.select(ROW_ORDER, "__tp__").collect()
    rows.sort(key=lambda r: r[0])
    positions = [r[1] for r in rows]
    # positions are a permutation of 0..n-1, increasing in ROW_ORDER order
    assert sorted(positions) == list(range(173))
    assert positions == sorted(positions)


@pytest.mark.parametrize("two_level", [False, True])
def test_lazy_prefix_nonfresh(spark, two_level):
    """fresh=False path: local position from a per-pid window (row order has
    gaps, e.g. after a filter)."""
    from legate_pandas_spark.frontend import indexing
    from legate_pandas_spark.frontend.frame import ROW_ORDER

    sdf = _make_sdf(spark, 100, 5).filter(F.col("v") % 3 != 0)
    n = sdf.count()

    with_pos, offsets = indexing._attach_positions(
        sdf, fresh=False, pos_name="__tp__", force_two_level=two_level
    )
    rows = with_pos.select(ROW_ORDER, "__tp__").collect()
    rows.sort(key=lambda r: r[0])
    positions = [r[1] for r in rows]
    assert sorted(positions) == list(range(n))
    assert positions == sorted(positions)
    assert offsets.agg(F.sum("cnt")).collect()[0][0] == n


# partition ids 0, 400, ..., 2400: three buckets of the two-level prefix
# (pid >> 10), so its cross-bucket merge runs, not only the bucket-local join
_SPREAD = 400


def _spread_sdf(spark, n=211, parts=7):
    """Rows whose row-order key carries partition ids (id % parts) * 400;
    ``v`` has nulls, and partition id 800 has no non-null value at all."""
    from legate_pandas_spark.frontend.frame import ROW_ORDER

    pid = (F.col("id") % parts) * _SPREAD
    v = F.when((F.col("id") % 5 == 0) | (pid == 2 * _SPREAD), None).otherwise(
        (F.col("id") * 7) % 11 - 3
    )
    return spark.range(n).select(
        v.alias("v"), (F.shiftleft(pid, 33) + F.col("id")).alias(ROW_ORDER)
    )


_FOLD = {"sum": lambda a, b: a + b, "max": max, "min": min, "last": lambda a, b: b}


@pytest.mark.parametrize("two_level", [False, True])
@pytest.mark.parametrize("reverse", [False, True])
@pytest.mark.parametrize("combine", ["sum", "max", "min", "last"])
def test_carries_match_python_fold(spark, combine, reverse, two_level):
    """attach_carries: each partition's carry is the Python fold of the
    per-pid partials of every preceding (following, when ``reverse``) pid,
    skipping nulls; null when there is nothing to fold."""
    from legate_pandas_spark.frontend import scan
    from legate_pandas_spark.frontend.frame import ROW_ORDER

    sdf = _spread_sdf(spark)
    v, order = F.col("v"), F.when(F.col("v").isNotNull(), F.col(ROW_ORDER))
    partial = {
        "sum": F.sum(v),
        "max": F.max(v),
        "min": F.min(v),
        "last": F.min_by(v, order) if reverse else F.max_by(v, order),
    }[combine]
    pid = F.shiftright(F.col(ROW_ORDER), 33).alias("pid")
    parts = sorted(
        (r["pid"], r["p"]) for r in sdf.groupBy(pid).agg(partial.alias("p")).collect()
    )
    assert len(parts) == 7 and any(p is None for _, p in parts)
    want, acc = {}, None
    for k, p in reversed(parts) if reverse else parts:
        want[k] = acc
        if p is not None:
            acc = p if acc is None else _FOLD[combine](acc, p)

    out = scan.attach_carries(
        sdf, {"__c__": (partial, combine)}, reverse=reverse, force_two_level=two_level
    )
    got = {r["pid"]: r["__c__"] for r in out.select(pid, "__c__").distinct().collect()}
    assert got == want
    assert out.count() == sdf.count()


def _build_jobs(spark, build):
    """Spark jobs launched while ``build()`` runs (its own job group)."""
    sc = spark.sparkContext
    group = f"build_{next(_groups)}"
    sc.setJobGroup(group, group)
    try:
        build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


_groups = itertools.count()


def test_building_scans_runs_no_job(spark):
    """On a shuffle-free multi-partition input, building the two-phase scans
    (cumulative sum/max/min/prod, forward and backward fill, shift,
    positions, grouped ewm) launches no Spark job: the exclusive prefix is
    in the plan."""
    from legate_pandas_spark.frontend import indexing, scan
    from legate_pandas_spark.frontend.frame import ROW_ORDER

    sdf = spark.range(500, numPartitions=7).select(
        F.when(F.col("id") % 4 == 0, None).otherwise(F.col("id") % 9 - 4).alias("v"),
        (F.col("id") % 3).alias("k"),
        F.monotonically_increasing_id().alias(ROW_ORDER),
    )
    v = F.col("v")
    builds = {
        **{
            f"cum_{kind}": (lambda kind=kind: scan.cum_columns(sdf, {"o": v}, kind))
            for kind in ("sum", "max", "min", "prod")
        },
        "ffill": lambda: scan.fill_columns(sdf, {"o": v}, forward=True),
        "bfill": lambda: scan.fill_columns(sdf, {"o": v}, forward=False),
        "shift": lambda: scan.shift_columns(sdf, {"o": v}, 1, fresh=True),
        "positions": lambda: indexing._attach_positions(sdf, fresh=True),
        **{
            f"grouped_ewm_{stat}": (
                lambda stat=stat: scan.ewm_columns(sdf, ["k"], {"o": "v"}, 0.4, stat)
            )
            for stat in ("mean", "var", "std")
        },
    }
    jobs = {name: _build_jobs(spark, build) for name, build in builds.items()}
    assert jobs == {name: [] for name in builds}
