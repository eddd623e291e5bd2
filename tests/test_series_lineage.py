"""A Series never rewrites the frame it came from.

Ordered Series ops (and the ``.cat`` accessor and groupby transforms) return
Series on derived frames — the parent's plan plus a hidden column — and every
read of a Series against another frame or Series goes through
``DataFrame._resolve``. These tests pin that the parent's plan object and
columns survive every such op, that operands of one lineage meet without an
extra join, and that the ordered ops still match pandas.
"""

import ast
import itertools
import pathlib

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pytest

import legate_pandas_spark.frontend as lps
from legate_pandas_spark.frontend.accessors import CategoricalMethods

FRONTEND = pathlib.Path(__file__).resolve().parents[1] / "legate_pandas_spark" / "frontend"

N = 41
RNG = np.random.default_rng(11)
PDF = pd.DataFrame(
    {
        "v": np.where(np.arange(N) % 5 == 1, np.nan, RNG.normal(10.0, 3.0, N).round(3)),
        "w": RNG.normal(0.0, 1.0, N).round(3),
        "k": np.arange(N) % 4,
        "c": np.array(["x", "y", "z"])[np.arange(N) % 3],
    }
)


def _series(p):
    return p.reset_index(drop=True)


# id -> (facade op on the frame, the pandas op on PDF)
SITES = {
    "cumsum": (lambda f: f["v"].cumsum(), lambda p: p["v"].cumsum()),
    "cummax": (lambda f: f["v"].cummax(), lambda p: p["v"].cummax()),
    "cummin": (lambda f: f["v"].cummin(), lambda p: p["v"].cummin()),
    "cumprod": (lambda f: (f["w"] / 4 + 1).cumprod(), lambda p: (p["w"] / 4 + 1).cumprod()),
    "ffill": (lambda f: f["v"].ffill(), lambda p: p["v"].ffill()),
    "bfill": (lambda f: f["v"].bfill(), lambda p: p["v"].bfill()),
    "rank": (lambda f: f["v"].rank(), lambda p: p["v"].rank(method="min")),
    "shift": (lambda f: f["v"].shift(2), lambda p: p["v"].shift(2)),
    "shift_fill": (
        lambda f: f["v"].shift(1, fill_value=-1.0),
        lambda p: p["v"].shift(1, fill_value=-1.0),
    ),
    "diff": (lambda f: f["v"].diff(), lambda p: p["v"].diff()),
    "pct_change": (lambda f: f["w"].pct_change(), lambda p: p["w"].pct_change()),
    "interpolate": (lambda f: f["v"].interpolate(), lambda p: p["v"].interpolate()),
    **{
        f"rolling_{stat}": (
            lambda f, stat=stat, a=args: getattr(f["v"].rolling(3), stat)(*a),
            lambda p, stat=stat, a=args: getattr(p["v"].rolling(3), stat)(*a),
        )
        for stat, args in [
            ("sum", ()), ("mean", ()), ("max", ()), ("min", ()), ("count", ()),
            ("std", ()), ("var", ()), ("median", ()), ("quantile", (0.25,)),
            ("apply", (lambda x: x.max() - x.min(),)),
        ]
    },
    "rolling_corr": (
        lambda f: f["v"].rolling(4).corr(f["w"]),
        lambda p: p["v"].rolling(4).corr(p["w"]),
    ),
    "rolling_cov": (
        lambda f: f["v"].rolling(4).cov(f["w"]),
        lambda p: p["v"].rolling(4).cov(p["w"]),
    ),
    **{
        f"expanding_{stat}": (
            lambda f, stat=stat: getattr(f["w"].expanding(2), stat)(),
            lambda p, stat=stat: getattr(p["w"].expanding(2), stat)(),
        )
        for stat in ("sum", "mean", "max", "min", "count", "std", "var")
    },
    "expanding_corr": (
        lambda f: f["v"].expanding(3).corr(f["w"]),
        lambda p: p["v"].expanding(3).corr(p["w"]),
    ),
    **{
        f"ewm_{stat}": (
            lambda f, stat=stat: getattr(f["v"].ewm(alpha=0.3), stat)(),
            lambda p, stat=stat: getattr(p["v"].ewm(alpha=0.3), stat)(),
        )
        for stat in ("mean", "var", "std")
    },
    "cat_codes": (
        lambda f: f["c"].astype("category").cat.codes,
        lambda p: p["c"].astype("category").cat.codes,
    ),
    "gb_cumcount": (
        lambda f: f.groupby("k").cumcount(),
        lambda p: p.groupby("k").cumcount(),
    ),
    "gb_transform": (
        lambda f: f.groupby("k")["w"].transform("sum"),
        lambda p: p.groupby("k")["w"].transform("sum"),
    ),
    "gb_rank": (
        lambda f: f.groupby("k")["w"].rank(),
        lambda p: p.groupby("k")["w"].rank(method="min"),
    ),
    "gb_cumsum": (
        lambda f: f.groupby("k")["w"].cumsum(),
        lambda p: p.groupby("k")["w"].cumsum(),
    ),
    "gb_cummax": (
        lambda f: f.groupby("k")["w"].cummax(),
        lambda p: p.groupby("k")["w"].cummax(),
    ),
    "gb_cummin": (
        lambda f: f.groupby("k")["w"].cummin(),
        lambda p: p.groupby("k")["w"].cummin(),
    ),
    "gb_diff": (
        lambda f: f.groupby("k")["w"].diff(),
        lambda p: p.groupby("k")["w"].diff(),
    ),
}


@pytest.fixture
def frame(spark):
    return lps.from_pandas(PDF, spark=spark)


@pytest.mark.parametrize("site", list(SITES))
def test_op_leaves_parent_frame_unchanged(spark, frame, site, monkeypatch):
    """The parent's plan object and columns are the same after the op, and
    the op still matches pandas."""
    # a zero-size small dictionary sends cat.codes down its broadcast-join path
    monkeypatch.setattr(CategoricalMethods, "_SMALL_DICT_MAX", 0)
    ours, theirs = SITES[site]
    before, cols = frame._sdf, list(frame._sdf.columns)
    got = ours(frame)
    assert frame._sdf is before
    assert list(frame._sdf.columns) == cols
    want = _series(theirs(PDF))
    pd.testing.assert_series_equal(
        _series(got.to_pandas()), want, check_names=False, check_dtype=False,
        atol=1e-9, rtol=1e-7,
    )


def test_no_source_frame_assignment_in_series_accessors_groupby():
    """No op on a Series, an accessor or a GroupBy assigns its source
    frame's plan: derived Series own derived frames."""
    found = []
    for name in ("series.py", "accessors.py", "groupby.py"):
        path = FRONTEND / name
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Assign):
                targets = node.targets
            elif isinstance(node, (ast.AugAssign, ast.AnnAssign)):
                targets = [node.target]
            else:
                continue
            for t in targets:
                for sub in ast.walk(t):
                    if (
                        isinstance(sub, ast.Attribute)
                        and sub.attr == "_sdf"
                        and isinstance(sub.value, ast.Attribute)
                        and sub.value.attr in ("_frame", "_src")
                    ):
                        found.append(f"{name}:{node.lineno} {ast.unparse(t)}")
    assert not found, f"source-frame plan assignments: {found}"


_groups = itertools.count()


def _jobs(spark, action):
    """Spark jobs launched while ``action()`` runs (its own job group)."""
    sc = spark.sparkContext
    group = f"lineage_{next(_groups)}"
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_unused_series_ops_do_not_change_parent_actions(spark):
    """Five unused shifts and a cumsum leave ``f.sum()`` as cheap as on a
    fresh frame."""
    f = lps.DataFrame(
        spark.range(20_000, numPartitions=4).select(
            (F.col("id") % 97).cast("double").alias("v")
        )
    )
    fresh = _jobs(spark, f.sum)
    for _ in range(5):
        f["v"].shift(1)
    f["v"].cumsum()
    assert _jobs(spark, f.sum) == fresh


def _joins(series):
    plan = series.to_frame("x")._sdf._jdf.queryExecution().optimizedPlan().toString()
    return plan.count("Join ")


def test_shared_lineage_adds_no_join(frame):
    """``df.a + df.b.shift()`` reads the shift's own frame: no join beyond
    the shift's."""
    shifted = frame["w"].shift()
    total = frame["v"] + shifted
    assert total._frame is shifted._frame
    assert _joins(total) == _joins(shifted) > 0


def test_sibling_and_chained_lineages_match_pandas(frame):
    got = (frame["v"].shift() + frame["w"].cumsum()).to_pandas()
    want = PDF["v"].shift() + PDF["w"].cumsum()
    pd.testing.assert_series_equal(_series(got), _series(want), check_names=False)
    s, ps = frame["v"].shift(), PDF["v"].shift()
    got = (s + s.cumsum()).to_pandas()
    pd.testing.assert_series_equal(_series(got), _series(ps + ps.cumsum()), check_names=False)


def test_assignment_of_derived_series_matches_pandas(frame):
    early = frame["v"].shift()  # derived before the frame is reassigned
    frame["r"] = frame["v"].rank()
    frame["s"] = frame["w"].shift() - frame["r"]
    frame["e"] = early
    p = PDF.copy()
    p["r"] = p["v"].rank(method="min")
    p["s"] = p["w"].shift() - p["r"]
    p["e"] = p["v"].shift()
    got = frame.to_pandas()
    pd.testing.assert_frame_equal(got[["r", "s", "e"]], p[["r", "s", "e"]])


def test_series_derived_before_an_overwrite_keeps_its_values(frame):
    """A column overwritten in place after a Series was derived from it: the
    Series keeps the values it was derived from, as in pandas."""
    prev = frame["v"].shift()
    frame["v"] = frame["v"].fillna(0)
    frame["prev"] = prev
    frame["z"] = prev + frame["v"].cumsum()
    p = PDF.copy()
    pprev = p["v"].shift()
    p["v"] = p["v"].fillna(0)
    p["prev"] = pprev
    p["z"] = pprev + p["v"].cumsum()
    got = frame.to_pandas()
    pd.testing.assert_frame_equal(got[["v", "prev", "z"]], p[["v", "prev", "z"]])


def test_popped_series_keeps_its_column(frame):
    popped = frame.pop("w")
    assert "w" not in frame.columns
    pd.testing.assert_series_equal(_series(popped.to_pandas()), PDF["w"])


def test_corrwith_and_window_corr_read_derived_series(frame):
    got = frame.corrwith(frame["w"].shift())
    want = PDF[["v", "w", "k"]].corrwith(PDF["w"].shift())
    pd.testing.assert_series_equal(got, want, check_names=False, atol=1e-12)
    got = frame["v"].rolling(5).corr(frame["w"].shift()).to_pandas()
    want = PDF["v"].rolling(5).corr(PDF["w"].shift())
    pd.testing.assert_series_equal(_series(got), _series(want), check_names=False, atol=1e-9)


def test_series_of_unrelated_frame_raises(spark, frame):
    other = lps.from_pandas(PDF, spark=spark)
    with pytest.raises(ValueError, match="same frame"):
        frame["v"] + other["w"]
    with pytest.raises(ValueError, match="same frame"):
        frame["v"].shift() + other["w"].cumsum()
    with pytest.raises(ValueError, match="same frame"):
        frame["v"].rolling(3).corr(other["w"])


DOTTED = pd.DataFrame({"a.b": [1.0, 4.0, np.nan, 2.0, 8.0, 5.0, 3.0], "k": [1, 2, 1, 2, 1, 2, 1]})


def test_rolling_apply_with_dotted_column(spark):
    ldf = lps.from_pandas(DOTTED, spark=spark)
    got = ldf.rolling(2).apply(lambda x: x.max() - x.min()).to_pandas()
    want = DOTTED.rolling(2).apply(lambda x: x.max() - x.min())
    pd.testing.assert_frame_equal(got.reset_index(drop=True), want, check_dtype=False)


def test_ewm_mean_with_dotted_column(spark):
    ldf = lps.from_pandas(DOTTED, spark=spark)
    got = ldf.ewm(alpha=0.5).mean().to_pandas()
    want = DOTTED.ewm(alpha=0.5).mean()
    pd.testing.assert_frame_equal(got.reset_index(drop=True), want, check_dtype=False)
    got = ldf.groupby("k").ewm(alpha=0.5).mean().to_pandas()["a.b"]
    want = DOTTED.groupby("k")["a.b"].transform(lambda x: x.ewm(alpha=0.5).mean())
    pd.testing.assert_series_equal(_series(got), _series(want), check_names=False)


GROUPED_MAPS = {
    "filter": lambda g: g.filter(lambda f: f["a.b"].sum() > 11.5),
    "apply": lambda g: g.apply(lambda f: pd.DataFrame({"a.b": [f["a.b"].sum()], "n": [len(f)]})),
    "transform": lambda g: g.transform(lambda s: s - s.mean()),
}


@pytest.mark.parametrize("op", sorted(GROUPED_MAPS))
def test_groupby_map_with_dotted_column(spark, op):
    """Every grouped pandas map crosses to pandas under safe names, so a
    dotted value column resolves as itself, not as a struct field."""
    got = GROUPED_MAPS[op](lps.from_pandas(DOTTED, spark=spark).groupby("k")).to_pandas()
    want = GROUPED_MAPS[op](DOTTED.groupby("k"))
    if op == "apply":
        got = got.reset_index().sort_values("k")
        want = want.reset_index(level=0).sort_values("k")
    cols = list(want.columns)
    pd.testing.assert_frame_equal(
        _series(got[cols]), _series(want), check_dtype=False
    )
