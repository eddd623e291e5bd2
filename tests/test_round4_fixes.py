"""Round-4 punch-list regression tests: ADVICE r3 items (type-agnostic
DataFrame.shift, iloc out-of-bounds IndexError, bounded transform/apply
schema-inference sample) and judge VERDICT r3 items."""

import pandas as pd
import pytest

import legate_pandas_spark as lps


# --------------------------------------------------------------- ADVICE items
def test_shift_moves_every_column(spark):
    """shift(1) must move string/date columns alongside numerics — leaving
    them in place silently misaligns rows (ADVICE r3 medium)."""
    pdf = pd.DataFrame(
        {
            "n": [1, 2, 3, 4],
            "s": ["a", "b", "c", "d"],
            "d": pd.to_datetime(["2024-01-01", "2024-01-02", "2024-01-03", "2024-01-04"]),
        }
    )
    ldf = lps.from_pandas(pdf, spark=spark)
    got = ldf.shift(1).to_pandas().reset_index(drop=True)
    want = pdf.shift(1)
    pd.testing.assert_frame_equal(got[list(want.columns)], want, check_dtype=False)


def test_shift_negative_periods_all_columns(spark):
    pdf = pd.DataFrame({"n": [1.0, 2.0, 3.0], "s": ["x", "y", "z"]})
    ldf = lps.from_pandas(pdf, spark=spark)
    got = ldf.shift(-1).to_pandas().reset_index(drop=True)
    want = pdf.shift(-1)
    pd.testing.assert_frame_equal(got[list(want.columns)], want, check_dtype=False)


def test_diff_still_numeric_only(spark):
    """diff stays numeric-only (pandas raises on strings; we pass them
    through untouched as documented)."""
    pdf = pd.DataFrame({"n": [1, 4, 9], "s": ["a", "b", "c"]})
    ldf = lps.from_pandas(pdf, spark=spark)
    got = ldf.diff(1).to_pandas().reset_index(drop=True)
    assert got["s"].tolist() == ["a", "b", "c"]
    assert got["n"].tolist()[1:] == [3, 5]


def test_iloc_list_out_of_bounds_raises(spark):
    pdf = pd.DataFrame({"a": range(5)})
    ldf = lps.from_pandas(pdf, spark=spark)
    with pytest.raises(IndexError):
        ldf.iloc[[0, 5]]
    with pytest.raises(IndexError):
        ldf.iloc[[-6]]
    with pytest.raises(IndexError):
        ldf.take([2, 17])


def test_iloc_scalar_out_of_bounds_raises(spark):
    pdf = pd.DataFrame({"a": range(3)})
    ldf = lps.from_pandas(pdf, spark=spark)
    with pytest.raises(IndexError):
        ldf.iloc[3]
    with pytest.raises(IndexError):
        ldf.iloc[-4]


def test_transform_dominant_group_bounded_sample(spark):
    """transform(callable) with one group holding ~all rows: the driver-side
    schema-inference sample is .limit()-bounded, and results stay correct."""
    pdf = pd.DataFrame(
        {"k": ["big"] * 400 + ["small"] * 4, "v": [float(i) for i in range(404)]}
    )
    ldf = lps.from_pandas(pdf, spark=spark)
    got = (
        ldf.groupby("k")
        .transform(lambda s: s - s.mean())
        .to_pandas()
        .reset_index(drop=True)
    )
    want = pdf.groupby("k").transform(lambda s: s - s.mean())
    pd.testing.assert_frame_equal(got[["v"]], want, check_dtype=False)


def test_distributed_rank_matches_pandas(spark):
    """Range-bucketed two-phase rank vs pandas across methods, directions,
    pct, ties, and nulls — on a frame wide enough to span many partitions."""
    import numpy as np

    rng = np.random.RandomState(7)
    vals = rng.randint(0, 40, 600).astype(float)
    vals[rng.rand(600) < 0.1] = np.nan
    pdf = pd.DataFrame({"v": vals})
    for method in ("min", "dense", "first", "average"):
        for asc in (True, False):
            ldf = lps.from_pandas(pdf, spark=spark)
            got = ldf["v"].rank(method=method, ascending=asc).to_pandas()
            want = pdf["v"].rank(method=method, ascending=asc)
            pd.testing.assert_series_equal(
                got.reset_index(drop=True), want, check_names=False
            )
    ldf = lps.from_pandas(pdf, spark=spark)
    got = ldf["v"].rank(pct=True).to_pandas().reset_index(drop=True)
    want = pdf["v"].rank(method="min", pct=True)
    pd.testing.assert_series_equal(got, want, check_names=False)


def test_distributed_rank_strings(spark):
    pdf = pd.DataFrame({"s": [f"w{i % 23:03d}" for i in range(200)]})
    ldf = lps.from_pandas(pdf, spark=spark)
    got = ldf["s"].rank(method="dense").to_pandas().reset_index(drop=True)
    want = pdf["s"].rank(method="dense")
    pd.testing.assert_series_equal(got, want, check_names=False)


def test_dataframe_rank_matches_pandas(spark):
    """DataFrame.rank: per-column two-phase rank, non-numerics pass through."""
    import numpy as np

    rng = np.random.RandomState(5)
    pdf = pd.DataFrame(
        {
            "a": rng.randint(0, 9, 300).astype(float),
            "b": rng.randn(300),
            "s": [f"x{i % 4}" for i in range(300)],
        }
    )
    pdf.loc[rng.rand(300) < 0.1, "a"] = None
    ldf = lps.from_pandas(pdf, spark=spark)
    got = ldf.rank(method="average").to_pandas().reset_index(drop=True)
    want = pdf.rank(method="average", numeric_only=True)
    pd.testing.assert_frame_equal(got[["a", "b"]], want, check_dtype=False)
    assert got["s"].tolist() == pdf["s"].tolist()
    ldf = lps.from_pandas(pdf, spark=spark)
    got_pct = ldf.rank(pct=True).to_pandas().reset_index(drop=True)
    want_pct = pdf.rank(method="min", pct=True, numeric_only=True)
    pd.testing.assert_frame_equal(got_pct[["a", "b"]], want_pct, check_dtype=False)


def test_series_rolling_expanding_matches_pandas(spark):
    import numpy as np

    rng = np.random.RandomState(23)
    v = rng.randn(500)
    v[rng.rand(500) < 0.08] = np.nan
    pdf = pd.DataFrame({"v": v})
    for fn in ("sum", "mean", "std"):
        ldf = lps.from_pandas(pdf, spark=spark)
        got = getattr(ldf["v"].rolling(4), fn)().to_pandas().reset_index(drop=True)
        want = getattr(pdf["v"].rolling(4), fn)()
        pd.testing.assert_series_equal(got, want, check_names=False)
        ldf = lps.from_pandas(pdf, spark=spark)
        got = getattr(ldf["v"].expanding(), fn)().to_pandas().reset_index(drop=True)
        want = getattr(pdf["v"].expanding(), fn)()
        pd.testing.assert_series_equal(got, want, check_names=False)


def test_rolling_ghost_boundaries_large(spark):
    """Rolling over a frame spanning many ingest partitions: every partition
    boundary exercises the ghost-row exchange; compare all stats to pandas."""
    import numpy as np

    rng = np.random.RandomState(11)
    vals = rng.randn(1000)
    vals[rng.rand(1000) < 0.05] = np.nan
    pdf = pd.DataFrame({"v": vals})
    ldf = lps.from_pandas(pdf, spark=spark)
    for fn in ("sum", "mean", "max", "min", "std", "var"):
        got = getattr(ldf.rolling(7), fn)().to_pandas().reset_index(drop=True)
        want = getattr(pdf.rolling(7), fn)()
        pd.testing.assert_frame_equal(got[["v"]], want, check_dtype=False)
    got = ldf.rolling(3, min_periods=1).mean().to_pandas().reset_index(drop=True)
    want = pdf.rolling(3, min_periods=1).mean()
    pd.testing.assert_frame_equal(got[["v"]], want, check_dtype=False)


def test_expanding_carry_large(spark):
    import numpy as np

    rng = np.random.RandomState(13)
    vals = rng.randn(800)
    vals[rng.rand(800) < 0.05] = np.nan
    pdf = pd.DataFrame({"v": vals})
    ldf = lps.from_pandas(pdf, spark=spark)
    for fn in ("sum", "mean", "max", "min", "std", "var", "count"):
        got = getattr(ldf.expanding(), fn)().to_pandas().reset_index(drop=True)
        want = getattr(pdf.expanding(), fn)()
        pd.testing.assert_frame_equal(got[["v"]], want, check_dtype=False)
    got = ldf.expanding(min_periods=5).var().to_pandas().reset_index(drop=True)
    want = pdf.expanding(min_periods=5).var()
    pd.testing.assert_frame_equal(got[["v"]], want, check_dtype=False)


def test_ordered_row_number_unit(spark):
    """Distributed sample-sort row number == sorted enumerate, with ties on
    the primary key broken by the secondary."""
    import pyspark.sql.functions as F

    from legate_pandas_spark.frontend.scan import ordered_row_number

    rows = [(i % 7, f"w{i % 13:02d}") for i in range(500)]
    sdf = spark.createDataFrame(rows, schema="n int, w string").repartition(11)
    out = ordered_row_number(sdf, [F.desc("n"), F.asc("w")], "rid")
    got = [(r["n"], r["w"], r["rid"]) for r in out.orderBy("rid").collect()]
    want = sorted(rows, key=lambda t: (-t[0], t[1]))
    assert [t[:2] for t in got] == want
    assert [t[2] for t in got] == list(range(500))


def test_merge_validate(spark):
    """merge(validate=): pandas key-uniqueness audits (MergeError twin)."""
    from legate_pandas_spark.frontend.merge import MergeError

    left = lps.from_pandas(pd.DataFrame({"k": [1, 2, 2], "a": [1, 2, 3]}), spark=spark)
    right = lps.from_pandas(pd.DataFrame({"k": [1, 2], "b": [10, 20]}), spark=spark)
    assert len(left.merge(right, on="k", validate="many_to_one").to_pandas()) == 3
    assert len(right.merge(left, on="k", validate="one_to_many").to_pandas()) == 3
    with pytest.raises(MergeError):
        left.merge(right, on="k", validate="one_to_one")
    with pytest.raises(MergeError):
        right.merge(left, on="k", validate="1:1")
    with pytest.raises(ValueError):
        left.merge(right, on="k", validate="bogus")


def test_rolling_apply_matches_pandas(spark):
    """rolling.apply (UDF path): ghost-augmented Arrow batches per partition;
    ghosts give left context then drop."""
    import numpy as np

    rng = np.random.RandomState(61)
    v = rng.randn(400)
    v[rng.rand(400) < 0.05] = np.nan
    pdf = pd.DataFrame({"v": v})
    f = lambda x: x.max() - x.min()  # noqa: E731
    got = (
        lps.from_pandas(pdf, spark=spark)
        .rolling(6, min_periods=2)
        .apply(f)
        .to_pandas()
        .reset_index(drop=True)
    )
    want = pdf.rolling(6, min_periods=2).apply(f)
    pd.testing.assert_frame_equal(got[["v"]], want, check_dtype=False)


def test_grouped_rolling_apply_matches_pandas(spark):
    import numpy as np

    rng = np.random.RandomState(67)
    pdf = pd.DataFrame({"g": [f"g{i % 4}" for i in range(200)], "v": rng.randn(200)})
    got = (
        lps.from_pandas(pdf, spark=spark)
        .groupby("g")
        .rolling(3, min_periods=1)
        .apply(lambda x: x.sum(), raw=True)
        .to_pandas()["v"]
        .reset_index(drop=True)
    )
    want = (
        pdf.groupby("g")["v"]
        .rolling(3, min_periods=1)
        .apply(lambda x: x.sum(), raw=True)
        .reset_index(level=0)
        .sort_index()["v"]
        .reset_index(drop=True)
    )
    pd.testing.assert_series_equal(got, want, check_names=False)


def test_rank_axis1_rowwise(spark):
    """DataFrame.rank(axis=1): pure array expression, all methods, nulls."""
    import numpy as np

    rng = np.random.RandomState(53)
    pdf = pd.DataFrame(
        {
            "a": rng.randint(0, 5, 40).astype(float),
            "b": rng.randint(0, 5, 40).astype(float),
            "c": rng.randint(0, 5, 40).astype(float),
        }
    )
    pdf.loc[rng.rand(40) < 0.2, "b"] = None
    for m in ("min", "average", "dense", "first"):
        for asc in (True, False):
            ldf = lps.from_pandas(pdf, spark=spark)
            got = ldf.rank(method=m, ascending=asc, axis=1).to_pandas().reset_index(drop=True)
            want = pdf.rank(method=m, ascending=asc, axis=1)
            pd.testing.assert_frame_equal(got, want, check_dtype=False)
    ldf = lps.from_pandas(pdf, spark=spark)
    got = ldf.rank(axis=1, pct=True).to_pandas().reset_index(drop=True)
    want = pdf.rank(method="min", axis=1, pct=True)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_series_ewm_matches_pandas(spark):
    import numpy as np

    rng = np.random.RandomState(59)
    v = rng.randn(300)
    v[rng.rand(300) < 0.1] = np.nan
    pdf = pd.DataFrame({"v": v})
    ldf = lps.from_pandas(pdf, spark=spark)
    got = ldf["v"].ewm(alpha=0.4).mean().to_pandas().reset_index(drop=True)
    want = pdf["v"].ewm(alpha=0.4, adjust=True).mean()
    pd.testing.assert_series_equal(got, want, check_names=False)


def test_facade_extras_round4(spark):
    """dropna(axis=1), DataFrame.idxmax/idxmin, Series.duplicated."""
    pdf = pd.DataFrame(
        {
            "a": [1.0, 9.0, 3.0, None],
            "b": [None, None, None, None],
            "c": [5, 1, 7, 2],
            "s": ["x", "y", "x", "z"],
        }
    )
    ldf = lps.from_pandas(pdf, spark=spark)
    for kw in ({}, {"how": "all"}, {"thresh": 3}):
        got = ldf.dropna(axis=1, **kw).to_pandas()
        want = pdf.dropna(axis=1, **kw)
        assert list(got.columns) == list(want.columns), kw
    assert dict(ldf.idxmax()) == dict(pdf[["a", "c"]].idxmax())
    assert dict(ldf.idxmin()) == dict(pdf[["a", "c"]].idxmin())
    for keep in ("first", "last", False):
        got = ldf["s"].duplicated(keep=keep).to_pandas().tolist()
        assert got == pdf["s"].duplicated(keep=keep).tolist(), keep


def test_rolling_median_quantile_matches_pandas(spark):
    import numpy as np

    rng = np.random.RandomState(41)
    v = rng.randn(400)
    v[rng.rand(400) < 0.07] = np.nan
    pdf = pd.DataFrame({"v": v})
    ldf = lps.from_pandas(pdf, spark=spark)
    got = ldf.rolling(5).median().to_pandas().reset_index(drop=True)
    want = pdf.rolling(5).median()
    pd.testing.assert_frame_equal(got[["v"]], want, check_dtype=False)
    ldf = lps.from_pandas(pdf, spark=spark)
    got = ldf.rolling(7, min_periods=2).quantile(0.25).to_pandas().reset_index(drop=True)
    want = pdf.rolling(7, min_periods=2).quantile(0.25)
    pd.testing.assert_frame_equal(got[["v"]], want, check_dtype=False)
    ldf = lps.from_pandas(pdf, spark=spark)
    got_s = ldf["v"].rolling(4).median().to_pandas().reset_index(drop=True)
    want_s = pdf["v"].rolling(4).median()
    pd.testing.assert_series_equal(got_s, want_s, check_names=False)


def test_grouped_rolling_median(spark):
    import numpy as np

    rng = np.random.RandomState(43)
    pdf = pd.DataFrame(
        {"g": [f"g{i % 5}" for i in range(200)], "v": rng.randn(200)}
    )
    ldf = lps.from_pandas(pdf, spark=spark)
    got = (
        ldf.groupby("g").rolling(3, min_periods=1).median().to_pandas()["v"]
        .reset_index(drop=True)
    )
    want = (
        pdf.groupby("g")["v"].rolling(3, min_periods=1).median()
        .reset_index(level=0).sort_index()["v"].reset_index(drop=True)
    )
    pd.testing.assert_series_equal(got, want, check_names=False)


def test_rank_na_option_top_bottom(spark):
    import numpy as np

    rng = np.random.RandomState(47)
    v = rng.randint(0, 15, 250).astype(float)
    v[rng.rand(250) < 0.15] = np.nan
    pdf = pd.DataFrame({"v": v})
    for na in ("top", "bottom"):
        for method in ("min", "dense", "first", "average"):
            ldf = lps.from_pandas(pdf, spark=spark)
            got = ldf["v"].rank(method=method, na_option=na).to_pandas()
            want = pdf["v"].rank(method=method, na_option=na)
            pd.testing.assert_series_equal(
                got.reset_index(drop=True), want, check_names=False
            )
        ldf = lps.from_pandas(pdf, spark=spark)
        got = ldf["v"].rank(na_option=na, pct=True).to_pandas()
        want = pdf["v"].rank(method="min", na_option=na, pct=True)
        pd.testing.assert_series_equal(
            got.reset_index(drop=True), want, check_names=False
        )


def test_ewm_distributed_matches_pandas(spark):
    """Two-phase distributed EWM (num/den recurrences + geometric-decay
    carries) vs pandas, across alphas, nulls, and leading-null runs."""
    import numpy as np

    rng = np.random.RandomState(29)
    v = rng.randn(700)
    v[rng.rand(700) < 0.12] = np.nan
    v[:5] = np.nan
    pdf = pd.DataFrame({"v": v, "w": rng.randn(700)})
    for alpha in (0.1, 0.5, 0.97):
        ldf = lps.from_pandas(pdf, spark=spark)
        got = ldf.ewm(alpha=alpha).mean().to_pandas().reset_index(drop=True)
        want = pdf.ewm(alpha=alpha, adjust=True).mean()
        pd.testing.assert_frame_equal(got[["v", "w"]], want, check_dtype=False)


def test_frame_interpolate_matches_pandas(spark):
    import numpy as np

    rng = np.random.RandomState(31)
    a = rng.randn(300)
    a[rng.rand(300) < 0.25] = np.nan
    b = rng.randn(300)
    b[rng.rand(300) < 0.4] = np.nan
    pdf = pd.DataFrame({"a": a, "b": b, "s": [f"t{i}" for i in range(300)]})
    ldf = lps.from_pandas(pdf, spark=spark)
    got = ldf.interpolate().to_pandas().reset_index(drop=True)
    want = pdf[["a", "b"]].interpolate(limit_direction="forward")
    pd.testing.assert_frame_equal(got[["a", "b"]], want, check_dtype=False)
    assert got["s"].tolist() == pdf["s"].tolist()


def test_interpolate_two_phase_large(spark):
    import numpy as np

    rng = np.random.RandomState(17)
    vals = rng.randn(500)
    vals[rng.rand(500) < 0.3] = np.nan
    vals[:3] = np.nan  # leading nulls stay null
    vals[-4:] = np.nan  # trailing nulls carry last valid forward
    pdf = pd.DataFrame({"v": vals})
    ldf = lps.from_pandas(pdf, spark=spark)
    got = ldf["v"].interpolate().to_pandas().reset_index(drop=True)
    want = pdf["v"].interpolate(limit_direction="forward")
    pd.testing.assert_series_equal(got, want, check_names=False)


def test_apply_dominant_group_bounded_sample(spark):
    pdf = pd.DataFrame(
        {"k": ["big"] * 300 + ["small"] * 3, "v": [float(i) for i in range(303)]}
    )
    ldf = lps.from_pandas(pdf, spark=spark)
    got = (
        ldf.groupby("k")
        .apply(lambda g: g.nlargest(2, "v"))
        .to_pandas()
        .sort_values("v", ascending=False)
        .reset_index(drop=True)
    )
    want = (
        pdf.groupby("k")[["v"]]
        .apply(lambda g: g.nlargest(2, "v"))
        .reset_index(drop=True)
        .sort_values("v", ascending=False)
        .reset_index(drop=True)
    )
    assert got["v"].tolist() == want["v"].tolist()


def test_grouped_ewm_distributed_skewed_group(spark):
    """One giant group spanning many partitions + nulls: the keyed two-phase
    carry must stitch partition-local EWM states exactly (no per-group
    sequential task)."""
    import numpy as np

    rng = np.random.RandomState(23)
    n = 4000
    keys = np.where(rng.rand(n) < 0.9, "big", rng.choice(["s1", "s2"], n))
    vals = rng.randn(n) * 10
    vals[rng.rand(n) < 0.15] = np.nan
    pdf = pd.DataFrame({"k": keys, "v": vals})
    ldf = lps.from_pandas(pdf, spark=spark)
    got = ldf.groupby("k").ewm(alpha=0.25).mean().to_pandas()
    want = pdf.groupby("k")["v"].transform(
        lambda s: s.ewm(alpha=0.25, adjust=True).mean()
    )
    np.testing.assert_allclose(
        got["v"].to_numpy(), want.to_numpy(), rtol=1e-9, equal_nan=True
    )


@pytest.mark.parametrize("stat", ["mean", "var", "std"])
def test_grouped_ewm_multikey_and_null_keys(spark, stat):
    """Composite keys incl. null keys: null-key rows are EXCLUDED (pandas
    dropna=True groupby contract, matching the reference's cudf EXCLUDE);
    surviving groups match pandas exactly across partition boundaries."""
    import numpy as np

    pdf = pd.DataFrame(
        {
            "k1": ["a", "a", None, "b", None, "a", "b", None] * 30,
            "k2": [1, 2, 1, 1, 1, 2, 1, 1] * 30,
            "v": [float(i % 17) for i in range(240)],
        }
    )
    ldf = lps.from_pandas(pdf, spark=spark)
    got = getattr(ldf.groupby(["k1", "k2"]).ewm(alpha=0.4), stat)().to_pandas()
    keep = pdf["k1"].notna()
    assert len(got) == int(keep.sum())
    want = (
        pdf[keep]
        .groupby(["k1", "k2"])["v"]
        .transform(lambda s: getattr(s.ewm(alpha=0.4, adjust=True), stat)())
    )
    np.testing.assert_allclose(
        got["v"].to_numpy(), want.to_numpy(), rtol=1e-9, equal_nan=True
    )


def test_pivot_table_matches_pandas(spark):
    pdf = pd.DataFrame(
        {
            "k": ["a", "a", "b", "b", "a", "b", "c"],
            "col": ["x", "y", "x", "y", "x", "x", "y"],
            "v": [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0],
        }
    )
    ldf = lps.from_pandas(pdf, spark=spark)
    for aggfunc in ("mean", "sum", "min", "max"):
        got = lps.pivot_table(
            ldf, values="v", index="k", columns="col", aggfunc=aggfunc
        ).to_pandas()
        want = pd.pivot_table(
            pdf, values="v", index="k", columns="col", aggfunc=aggfunc
        ).reset_index()
        want.columns.name = None
        got = got.reset_index() if "k" not in got.columns else got
        pd.testing.assert_frame_equal(
            got.reset_index(drop=True)[["k", "x", "y"]],
            want[["k", "x", "y"]],
            check_dtype=False,
        )


def test_pivot_table_fill_value_and_method(spark):
    pdf = pd.DataFrame(
        {"k": ["a", "b"], "col": ["x", "y"], "v": [1.0, 2.0]}
    )
    ldf = lps.from_pandas(pdf, spark=spark)
    got = ldf.pivot_table(
        values="v", index="k", columns="col", aggfunc="sum", fill_value=0.0
    ).to_pandas()
    want = pd.pivot_table(
        pdf, values="v", index="k", columns="col", aggfunc="sum", fill_value=0.0
    ).reset_index()
    want.columns.name = None
    pd.testing.assert_frame_equal(
        got.reset_index() if "k" not in got.columns else got,
        want,
        check_dtype=False,
    )


def test_pivot_raises_on_duplicates(spark):
    pdf = pd.DataFrame(
        {"k": ["a", "a"], "col": ["x", "x"], "v": [1.0, 2.0]}
    )
    ldf = lps.from_pandas(pdf, spark=spark)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="duplicate"):
        ldf.pivot(index="k", columns="col", values="v")
    # non-duplicate case reshapes like pandas
    pdf2 = pd.DataFrame(
        {"k": ["a", "a", "b"], "col": ["x", "y", "x"], "v": [1.0, 2.0, 3.0]}
    )
    got = lps.from_pandas(pdf2, spark=spark).pivot(
        index="k", columns="col", values="v"
    ).to_pandas()
    want = pdf2.pivot(index="k", columns="col", values="v").reset_index()
    want.columns.name = None
    pd.testing.assert_frame_equal(
        got.reset_index() if "k" not in got.columns else got, want, check_dtype=False
    )


def test_factorize_first_appearance_and_sorted(spark):
    pdf = pd.DataFrame({"s": ["b", "a", None, "b", "c", "a", "c", "c"]})
    ldf = lps.from_pandas(pdf, spark=spark)
    codes, uniques = ldf["s"].factorize()
    want_codes, want_uniques = pd.factorize(pdf["s"])
    assert codes.to_pandas().tolist() == list(want_codes)
    assert uniques == list(want_uniques)

    ldf2 = lps.from_pandas(pdf, spark=spark)
    codes_s, uniques_s = lps.factorize(ldf2["s"], sort=True)
    want_codes_s, want_uniques_s = pd.factorize(pdf["s"], sort=True)
    assert codes_s.to_pandas().tolist() == list(want_codes_s)
    assert uniques_s == list(want_uniques_s)


def test_factorize_large_first_appearance(spark):
    import numpy as np

    rng = np.random.RandomState(5)
    pdf = pd.DataFrame({"s": rng.randint(0, 500, 5000).astype(str)})
    ldf = lps.from_pandas(pdf, spark=spark)
    codes, uniques = ldf["s"].factorize()
    want_codes, want_uniques = pd.factorize(pdf["s"])
    assert codes.to_pandas().tolist() == list(want_codes)
    assert uniques == list(want_uniques)


def test_rolling_corr_cov_matches_pandas(spark):
    import numpy as np

    rng = np.random.RandomState(31)
    a = rng.randn(400)
    b = 0.6 * a + rng.randn(400)
    a[rng.rand(400) < 0.07] = np.nan
    b[rng.rand(400) < 0.07] = np.nan
    pdf = pd.DataFrame({"a": a, "b": b})

    ldf = lps.from_pandas(pdf, spark=spark)
    got = ldf["a"].rolling(6).corr(ldf["b"]).to_pandas().reset_index(drop=True)
    want = pdf["a"].rolling(6).corr(pdf["b"])
    pd.testing.assert_series_equal(got, want, check_names=False, atol=1e-9)

    ldf = lps.from_pandas(pdf, spark=spark)
    got = ldf["a"].rolling(6).cov(ldf["b"]).to_pandas().reset_index(drop=True)
    want = pdf["a"].rolling(6).cov(pdf["b"])
    pd.testing.assert_series_equal(got, want, check_names=False, atol=1e-9)

    ldf = lps.from_pandas(pdf, spark=spark)
    got = (
        ldf["a"].rolling(10, min_periods=4).corr(ldf["b"])
        .to_pandas().reset_index(drop=True)
    )
    want = pdf["a"].rolling(10, min_periods=4).corr(pdf["b"])
    pd.testing.assert_series_equal(got, want, check_names=False, atol=1e-9)


def test_expanding_corr_cov_matches_pandas(spark):
    import numpy as np

    rng = np.random.RandomState(37)
    a = rng.randn(350)
    b = -0.4 * a + rng.randn(350)
    a[rng.rand(350) < 0.06] = np.nan
    b[rng.rand(350) < 0.06] = np.nan
    pdf = pd.DataFrame({"a": a, "b": b})

    ldf = lps.from_pandas(pdf, spark=spark)
    got = ldf["a"].expanding().corr(ldf["b"]).to_pandas().reset_index(drop=True)
    want = pdf["a"].expanding().corr(pdf["b"])
    pd.testing.assert_series_equal(got, want, check_names=False, atol=1e-9)

    ldf = lps.from_pandas(pdf, spark=spark)
    got = ldf["a"].expanding().cov(ldf["b"]).to_pandas().reset_index(drop=True)
    want = pdf["a"].expanding().cov(pdf["b"])
    pd.testing.assert_series_equal(got, want, check_names=False, atol=1e-9)

    ldf = lps.from_pandas(pdf, spark=spark)
    got = (
        ldf["a"].expanding(min_periods=10).corr(ldf["b"])
        .to_pandas().reset_index(drop=True)
    )
    want = pdf["a"].expanding(min_periods=10).corr(pdf["b"])
    pd.testing.assert_series_equal(got, want, check_names=False, atol=1e-9)


def test_grouped_rolling_corr_matches_pandas(spark):
    import numpy as np

    rng = np.random.RandomState(41)
    n = 300
    pdf = pd.DataFrame(
        {
            "k": rng.choice(["p", "q", "r"], n),
            "a": rng.randn(n),
            "b": rng.randn(n),
        }
    )
    ldf = lps.from_pandas(pdf, spark=spark)
    got = ldf.groupby("k").rolling(5).corr("a", "b").to_pandas()
    want = pdf.groupby("k", group_keys=False).apply(
        lambda g: g["a"].rolling(5).corr(g["b"])
    )
    import numpy.testing as npt

    npt.assert_allclose(
        got["a_b_corr"].to_numpy(),
        want.sort_index().to_numpy(),
        rtol=1e-9,
        equal_nan=True,
    )

    ldf = lps.from_pandas(pdf, spark=spark)
    got = ldf.groupby("k").rolling(5).cov("a", "b").to_pandas()
    want = pdf.groupby("k", group_keys=False).apply(
        lambda g: g["a"].rolling(5).cov(g["b"])
    )
    npt.assert_allclose(
        got["a_b_cov"].to_numpy(),
        want.sort_index().to_numpy(),
        rtol=1e-9,
        equal_nan=True,
    )


def test_grouped_expanding_corr_matches_pandas(spark):
    import numpy as np
    import numpy.testing as npt

    rng = np.random.RandomState(43)
    n = 200
    pdf = pd.DataFrame(
        {
            "k": rng.choice(["p", "q"], n),
            "a": rng.randn(n),
            "b": rng.randn(n),
        }
    )
    ldf = lps.from_pandas(pdf, spark=spark)
    got = ldf.groupby("k").expanding().corr("a", "b").to_pandas()
    want = pdf.groupby("k", group_keys=False).apply(
        lambda g: g["a"].expanding().corr(g["b"])
    )
    npt.assert_allclose(
        got["a_b_corr"].to_numpy(),
        want.sort_index().to_numpy(),
        rtol=1e-9,
        equal_nan=True,
    )


def test_ewm_span_com_halflife_params(spark):
    import numpy as np
    import pytest as _pytest

    pdf = pd.DataFrame({"v": [1.0, 4.0, 2.0, 8.0, 5.0, 3.0]})
    for kwargs in ({"span": 5}, {"com": 2.0}, {"halflife": 3.0}):
        ldf = lps.from_pandas(pdf, spark=spark)
        got = ldf["v"].ewm(**kwargs).mean().to_pandas().reset_index(drop=True)
        want = pdf["v"].ewm(adjust=True, **kwargs).mean()
        pd.testing.assert_series_equal(got, want, check_names=False, atol=1e-12)
    ldf = lps.from_pandas(pdf, spark=spark)
    with _pytest.raises(ValueError, match="exactly one"):
        ldf["v"].ewm()
    with _pytest.raises(ValueError, match="exactly one"):
        ldf["v"].ewm(alpha=0.5, span=3)
    # grouped path accepts the same parameters
    pdf2 = pdf.assign(k=["a", "b", "a", "b", "a", "b"])
    ldf2 = lps.from_pandas(pdf2, spark=spark)
    got = ldf2.groupby("k").ewm(span=4).mean().to_pandas()
    want = pdf2.groupby("k")["v"].transform(
        lambda s: s.ewm(span=4, adjust=True).mean()
    )
    import numpy.testing as npt

    npt.assert_allclose(got["v"].to_numpy(), want.to_numpy(), rtol=1e-12)


def test_ewm_var_std_matches_pandas(spark):
    import numpy as np

    rng = np.random.RandomState(47)
    v = rng.randn(500) * 3
    v[rng.rand(500) < 0.1] = np.nan
    v[0] = np.nan  # leading null: var must stay null until two observations
    pdf = pd.DataFrame({"v": v})

    ldf = lps.from_pandas(pdf, spark=spark)
    got = ldf["v"].ewm(alpha=0.3).var().to_pandas().reset_index(drop=True)
    want = pdf["v"].ewm(alpha=0.3, adjust=True).var(bias=False)
    pd.testing.assert_series_equal(got, want, check_names=False, atol=1e-9)

    ldf = lps.from_pandas(pdf, spark=spark)
    got = ldf["v"].ewm(alpha=0.55).std().to_pandas().reset_index(drop=True)
    want = pdf["v"].ewm(alpha=0.55, adjust=True).std(bias=False)
    pd.testing.assert_series_equal(got, want, check_names=False, atol=1e-9)

    pdf2 = pd.DataFrame({"a": rng.randn(300), "b": rng.randn(300) * 10})
    ldf2 = lps.from_pandas(pdf2, spark=spark)
    got = ldf2.ewm(span=7).var().to_pandas().reset_index(drop=True)
    want = pdf2.ewm(span=7, adjust=True).var(bias=False)
    pd.testing.assert_frame_equal(got[["a", "b"]], want, check_dtype=False, atol=1e-9)


@pytest.mark.parametrize("stat", ["mean", "var", "std"])
def test_series_ewm_on_derived_series(spark, stat):
    """A derived Series keeps its parent's name; its ewm must read the
    derived values, not the stored column of that name."""
    import numpy as np

    pdf = pd.DataFrame({"v": [1.0, 2.0, 3.0, np.nan, 5.0, 4.0, 7.0, 6.0] * 40})
    for derive in (lambda s: s * 10, lambda s: s.cumsum()):
        ldf = lps.from_pandas(pdf, spark=spark)
        got = getattr(derive(ldf["v"]).ewm(alpha=0.5), stat)().to_pandas()
        want = getattr(derive(pdf["v"]).ewm(alpha=0.5, adjust=True), stat)()
        np.testing.assert_allclose(
            got.to_numpy(), want.to_numpy(), rtol=1e-9, equal_nan=True
        )


def test_melt_default_value_vars(spark):
    pdf = pd.DataFrame({"id": [1, 2], "a": [3.0, 4.0], "b": [5.0, 6.0]})
    ldf = lps.from_pandas(pdf, spark=spark)
    got = (
        ldf.melt("id")
        .to_pandas()
        .sort_values(["id", "variable"])
        .reset_index(drop=True)
    )
    want = (
        pdf.melt("id")
        .sort_values(["id", "variable"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got[want.columns.tolist()], want, check_dtype=False)


def test_str_title_capitalize_predicates(spark):
    pdf = pd.DataFrame(
        {
            "s": [
                "hello world",
                "ALL CAPS",
                "123",
                "abc",
                "MiXeD",
                "",
                None,
                "lower case words",
            ]
        }
    )
    ldf = lps.from_pandas(pdf, spark=spark)
    got_title = ldf["s"].str.title().to_pandas().tolist()
    want_title = pdf["s"].str.title().tolist()
    assert got_title == want_title

    ldf = lps.from_pandas(pdf, spark=spark)
    got_cap = ldf["s"].str.capitalize().to_pandas().tolist()
    want_cap = pdf["s"].str.capitalize().tolist()
    assert got_cap == want_cap

    for meth in ("isdigit", "isalpha", "isupper", "islower"):
        ldf = lps.from_pandas(pdf, spark=spark)
        got = getattr(ldf["s"].str, meth)().to_pandas().tolist()
        # null-compare-false engine contract: nulls come back False, pandas
        # propagates None — align on the non-null entries
        want = [
            bool(v) if v is not None and not pd.isna(v) else False
            for v in getattr(pdf["s"].str, meth)()
        ]
        assert got == want, meth


def test_api_gap_batch_round4c(spark):
    """Small parity adds: frame.value_counts, shift(fill_value),
    assign(callable), positional idxmax/idxmin, first/last_valid_index."""
    pdf = pd.DataFrame(
        {"a": [1, 2, 2, 3], "b": ["x", "y", "y", "z"], "c": [None, 2.0, 3.0, None]}
    )

    ldf = lps.from_pandas(pdf, spark=spark)
    got = ldf.value_counts().to_pandas().reset_index()
    # our dropna contract excludes null-c rows like pandas' default
    want = pdf.dropna().value_counts().reset_index(name="count")
    got_sorted = got.sort_values(["a", "b", "c"]).reset_index(drop=True)
    want_sorted = want.sort_values(["a", "b", "c"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(
        got_sorted[["a", "b", "c", "count"]], want_sorted[["a", "b", "c", "count"]],
        check_dtype=False,
    )

    ldf = lps.from_pandas(pdf, spark=spark)
    got = ldf["c"].shift(1, fill_value=-1.0).to_pandas().reset_index(drop=True)
    want = pdf["c"].shift(1, fill_value=-1.0)
    # row0 -> -1.0 (vacated slot filled); row1 takes row0's genuine None,
    # which must STAY null
    pd.testing.assert_series_equal(got, want, check_names=False)

    ldf = lps.from_pandas(pdf, spark=spark)
    got = ldf.assign(d=lambda df: df["a"] + 1).to_pandas()
    want = pdf.assign(d=lambda df: df["a"] + 1)
    assert got["d"].tolist() == want["d"].tolist()

    ldf = lps.from_pandas(pdf, spark=spark)
    assert ldf["c"].idxmax() == pdf["c"].idxmax()
    ldf = lps.from_pandas(pdf, spark=spark)
    assert ldf["c"].idxmin() == pdf["c"].idxmin()
    ldf = lps.from_pandas(pdf, spark=spark)
    assert ldf["c"].first_valid_index() == pdf["c"].first_valid_index()
    ldf = lps.from_pandas(pdf, spark=spark)
    assert ldf["c"].last_valid_index() == pdf["c"].last_valid_index()


def test_api_gap_batch2_round4c(spark):
    """select_dtypes, eval, sem, str.slice_replace, dt.month_name/day_name/
    normalize — differential vs pandas."""
    pdf = pd.DataFrame(
        {
            "a": [1, 2, 3],
            "b": ["xy", "yz", "zz"],
            "c": [1.5, 2.5, None],
            "t": pd.to_datetime(["2024-01-05", "2024-02-10", "2024-03-15"]),
        }
    )

    ldf = lps.from_pandas(pdf, spark=spark)
    assert ldf.select_dtypes("number").columns == ["a", "c"]
    assert ldf.select_dtypes(include="object").columns == ["b"]
    assert ldf.select_dtypes(exclude=["number", "datetime"]).columns == ["b"]

    ldf = lps.from_pandas(pdf, spark=spark)
    got = ldf.eval("d = a + c").to_pandas()
    want = pdf.eval("d = a + c")
    pd.testing.assert_series_equal(got["d"], want["d"], check_dtype=False)

    ldf = lps.from_pandas(pdf, spark=spark)
    got = ldf.eval("a * 2 + 1").to_pandas().reset_index(drop=True)
    want = pdf.eval("a * 2 + 1")
    pd.testing.assert_series_equal(got, want, check_names=False, check_dtype=False)

    ldf = lps.from_pandas(pdf, spark=spark)
    got = ldf[["a", "c"]].sem()
    want = pdf[["a", "c"]].sem()
    import numpy.testing as npt

    npt.assert_allclose(sorted(got), sorted(want), rtol=1e-9)

    ldf = lps.from_pandas(pdf, spark=spark)
    assert (
        ldf["b"].str.slice_replace(0, 1, "Q").to_pandas().tolist()
        == pdf["b"].str.slice_replace(0, 1, "Q").tolist()
    )
    ldf = lps.from_pandas(pdf, spark=spark)
    assert (
        ldf["t"].dt.month_name().to_pandas().tolist()
        == pdf["t"].dt.month_name().tolist()
    )
    ldf = lps.from_pandas(pdf, spark=spark)
    assert (
        ldf["t"].dt.day_name().to_pandas().tolist()
        == pdf["t"].dt.day_name().tolist()
    )
    ldf = lps.from_pandas(pdf, spark=spark)
    got = ldf["t"].dt.normalize().to_pandas().tolist()
    want = pdf["t"].dt.normalize().tolist()
    assert got == want


def test_grouped_ewm_var_std_matches_pandas(spark):
    import numpy as np
    import numpy.testing as npt

    rng = np.random.RandomState(53)
    n = 600
    pdf = pd.DataFrame(
        {
            "k": np.where(rng.rand(n) < 0.8, "big", rng.choice(["s1", "s2"], n)),
            "v": rng.randn(n) * 4,
        }
    )
    pdf.loc[rng.rand(n) < 0.1, "v"] = np.nan
    ldf = lps.from_pandas(pdf, spark=spark)
    got = ldf.groupby("k").ewm(alpha=0.3).var().to_pandas()
    want = pdf.groupby("k")["v"].transform(
        lambda s: s.ewm(alpha=0.3, adjust=True).var(bias=False)
    )
    npt.assert_allclose(
        got["v"].to_numpy(), want.to_numpy(), rtol=1e-8, equal_nan=True
    )

    ldf = lps.from_pandas(pdf, spark=spark)
    got = ldf.groupby("k").ewm(alpha=0.6).std().to_pandas()
    want = pdf.groupby("k")["v"].transform(
        lambda s: s.ewm(alpha=0.6, adjust=True).std(bias=False)
    )
    npt.assert_allclose(
        got["v"].to_numpy(), want.to_numpy(), rtol=1e-8, equal_nan=True
    )


def test_api_gap_batch3_groupby(spark):
    """SeriesGroupBy cummax/cummin/diff/idxmax/idxmin/ohlc, GroupBy sample/
    describe, Series.map(callable)/dtype, frame size/empty/ndim."""
    import numpy as np

    pdf = pd.DataFrame(
        {
            "k": ["a", "a", "b", "b", "a"],
            "v": [3.0, 1.0, 4.0, None, 5.0],
        }
    )
    ldf = lps.from_pandas(pdf, spark=spark)
    got = ldf.groupby("k")["v"].cummax().to_pandas().reset_index(drop=True)
    want = pdf.groupby("k")["v"].cummax()
    pd.testing.assert_series_equal(got, want, check_names=False)

    ldf = lps.from_pandas(pdf, spark=spark)
    got = ldf.groupby("k")["v"].diff().to_pandas().reset_index(drop=True)
    want = pdf.groupby("k")["v"].diff()
    pd.testing.assert_series_equal(got, want, check_names=False)

    ldf = lps.from_pandas(pdf, spark=spark)
    got = ldf.groupby("k")["v"].idxmax().to_pandas().sort_index()
    want = pdf.groupby("k")["v"].idxmax()
    assert got["v"].tolist() == want.tolist()

    ldf = lps.from_pandas(pdf, spark=spark)
    got = ldf.groupby("k")["v"].ohlc().to_pandas().sort_index()
    want = pdf.groupby("k")["v"].ohlc()
    pd.testing.assert_frame_equal(got, want, check_dtype=False)

    ldf = lps.from_pandas(pdf, spark=spark)
    sampled = ldf.groupby("k").sample(n=1, random_state=7).to_pandas()
    assert len(sampled) == 2 and set(sampled["k"]) == {"a", "b"}

    ldf = lps.from_pandas(pdf, spark=spark)
    got = ldf.groupby("k").describe().to_pandas().sort_index()
    want = pdf.groupby("k")["v"].describe()
    np.testing.assert_allclose(got["v_mean"], want["mean"], rtol=1e-9)
    np.testing.assert_allclose(got["v_50%"], want["50%"], rtol=1e-9)
    np.testing.assert_allclose(got["v_count"], want["count"], rtol=1e-9)

    ldf = lps.from_pandas(pdf, spark=spark)
    got = ldf["v"].map(lambda x: x * 2 if x == x else x).to_pandas().reset_index(drop=True)
    want = pdf["v"].map(lambda x: x * 2 if x == x else x)
    pd.testing.assert_series_equal(got, want, check_names=False, check_dtype=False)

    ldf = lps.from_pandas(pdf, spark=spark)
    assert ldf["v"].dtype == "float64"
    assert ldf.size == pdf.size
    assert ldf.ndim == 2
    assert not ldf.empty


def test_api_gap_batch4(spark):
    """frame shift(fill_value)/quantile(list)/isin/apply(axis=1);
    str removeprefix/removesuffix/casefold/center; Series hasnans/is_unique/
    items/argsort."""
    import numpy as np

    pdf = pd.DataFrame(
        {"a": [3, 1, 2, 4], "b": ["xab", "yz", "xq", "zz"], "c": [1.0, None, 3.0, 4.0]}
    )

    ldf = lps.from_pandas(pdf, spark=spark)
    got = ldf[["a", "c"]].shift(1, fill_value=0.0).to_pandas()
    want = pdf[["a", "c"]].shift(1, fill_value=0.0)
    pd.testing.assert_frame_equal(got[["a", "c"]], want, check_dtype=False)

    ldf = lps.from_pandas(pdf, spark=spark)
    got = ldf[["a", "c"]].quantile([0.25, 0.75])
    want = pdf[["a", "c"]].quantile([0.25, 0.75])
    pd.testing.assert_frame_equal(got, want, check_dtype=False)

    ldf = lps.from_pandas(pdf, spark=spark)
    got = ldf[["a"]].isin([1, 2]).to_pandas()
    want = pdf[["a"]].isin([1, 2])
    pd.testing.assert_frame_equal(got[["a"]], want, check_dtype=False)

    ldf = lps.from_pandas(pdf, spark=spark)
    got = ldf[["a", "c"]].apply(lambda r: r["a"] + (r["c"] if r["c"] == r["c"] else 0), axis=1)
    got = got.to_pandas().reset_index(drop=True)
    want = pdf[["a", "c"]].apply(
        lambda r: r["a"] + (r["c"] if r["c"] == r["c"] else 0), axis=1
    )
    pd.testing.assert_series_equal(got, want, check_names=False, check_dtype=False)

    ldf = lps.from_pandas(pdf, spark=spark)
    assert (
        ldf["b"].str.removeprefix("x").to_pandas().tolist()
        == pdf["b"].str.removeprefix("x").tolist()
    )
    ldf = lps.from_pandas(pdf, spark=spark)
    assert (
        ldf["b"].str.removesuffix("z").to_pandas().tolist()
        == pdf["b"].str.removesuffix("z").tolist()
    )
    ldf = lps.from_pandas(pdf, spark=spark)
    assert (
        ldf["b"].str.casefold().to_pandas().tolist()
        == pdf["b"].str.casefold().tolist()
    )
    ldf = lps.from_pandas(pdf, spark=spark)
    assert (
        ldf["b"].str.center(6, "*").to_pandas().tolist()
        == pdf["b"].str.center(6, "*").tolist()
    )

    ldf = lps.from_pandas(pdf, spark=spark)
    assert ldf["c"].hasnans is True
    assert ldf["a"].hasnans is False
    assert ldf["a"].is_unique is True
    ldf2 = lps.from_pandas(pd.DataFrame({"x": [1, 1, 2]}), spark=spark)
    assert ldf2["x"].is_unique is False

    ldf = lps.from_pandas(pdf, spark=spark)
    items = list(ldf["a"].items())
    assert [v for _, v in items] == pdf["a"].tolist()

    ldf = lps.from_pandas(pdf, spark=spark)
    got = ldf["c"].argsort().to_pandas().reset_index(drop=True)
    want = pdf["c"].argsort()
    assert got.tolist() == want.tolist()
    pdf2 = pd.DataFrame({"c": [3.0, None, 1.0, 4.0, 0.5]})
    ldf2 = lps.from_pandas(pdf2, spark=spark)
    got2 = ldf2["c"].argsort().to_pandas().reset_index(drop=True)
    assert got2.tolist() == pdf2["c"].argsort().tolist()


def test_api_gap_batch5(spark):
    pdf = pd.DataFrame({"a": [1, 2, 3, 4], "c": [1.0, None, 3.0, 4.0]})
    ldf = lps.from_pandas(pdf, spark=spark)
    sampled = ldf.sample(frac=0.5, random_state=3).to_pandas()
    assert set(sampled["a"]).issubset(set(pdf["a"]))

    ldf = lps.from_pandas(pdf, spark=spark)
    approx_n = ldf.sample(n=2, random_state=3).to_pandas()
    assert len(approx_n) <= 4

    ldf = lps.from_pandas(pdf, spark=spark)
    got = lps.isna(ldf["c"]).to_pandas().tolist()
    assert got == pdf["c"].isna().tolist()

    days = lps.date_range("2024-01-01", periods=4)
    assert len(days) == 4 and str(days[0].date()) == "2024-01-01"


def test_series_map_callable_string_output(spark):
    pdf = pd.DataFrame({"a": [1, 2, 3]})
    ldf = lps.from_pandas(pdf, spark=spark)
    got = ldf["a"].map(lambda x: f"v{x}").to_pandas().tolist()
    assert got == ["v1", "v2", "v3"]


def test_str_extractall_matches_pandas(spark):
    pdf = pd.DataFrame(
        {"s": ["a1b22", "no digits", "x3 y44 z5", None, "9"]}
    )
    ldf = lps.from_pandas(pdf, spark=spark)
    got = (
        ldf["s"].str.extractall(r"([0-9]+)")
        .to_pandas()
        .reset_index()
        .sort_values(["index", "match"])
        .reset_index(drop=True)
    )
    want = (
        pdf["s"].str.extractall(r"([0-9]+)")
        .reset_index()
        .rename(columns={"level_0": "index", 0: "0", 1: "1"})
        .sort_values(["index", "match"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        got[["index", "match", "0"]], want[["index", "match", "0"]],
        check_dtype=False,
    )

    # two capture groups
    ldf = lps.from_pandas(pdf, spark=spark)
    got2 = (
        ldf["s"].str.extractall(r"([a-z])([0-9]+)")
        .to_pandas()
        .reset_index()
        .sort_values(["index", "match"])
        .reset_index(drop=True)
    )
    want2 = (
        pdf["s"].str.extractall(r"([a-z])([0-9]+)")
        .reset_index()
        .rename(columns={"level_0": "index", 0: "0", 1: "1"})
        .sort_values(["index", "match"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        got2[["index", "match", "0", "1"]],
        want2[["index", "match", "0", "1"]],
        check_dtype=False,
    )


def test_review_fixes_batch(spark):
    """Regression pins for the self-review findings: map(str) keeps strings,
    idxmin skips nulls on stored indexes, grouped diff masks null keys,
    str.center odd/odd rule, isin dict form, slice_replace negatives,
    is_unique on empty, extractall 'index'-collision."""
    import numpy as np

    # map(str) on numeric input must stay strings
    pdf = pd.DataFrame({"a": [1, 2, 3]})
    ldf = lps.from_pandas(pdf, spark=spark)
    got = ldf["a"].map(lambda x: f"{x:05d}").to_pandas().tolist()
    assert got == ["00001", "00002", "00003"]

    # idxmin/idxmax with nulls on a stored index
    pdf = pd.DataFrame({"k": ["a", "b", "c"], "v": [None, 2.0, 1.0]})
    ldf = lps.from_pandas(pdf, spark=spark).set_index("k")
    assert ldf["v"].idxmin() == "c"
    ldf = lps.from_pandas(pdf, spark=spark).set_index("k")
    assert ldf["v"].idxmax() == "b"

    # grouped diff: null-key rows yield null, like pandas' excluded group
    pdf = pd.DataFrame({"k": ["a", None, "a", None], "v": [1.0, 2.0, 4.0, 8.0]})
    ldf = lps.from_pandas(pdf, spark=spark)
    got = ldf.groupby("k")["v"].diff().to_pandas().reset_index(drop=True)
    want = pdf.groupby("k")["v"].diff()
    pd.testing.assert_series_equal(got, want, check_names=False)

    # str.center: both-odd margin/width puts the extra char LEFT
    pdf = pd.DataFrame({"s": ["ab", "abc", ""]})
    for w in (5, 6, 7):
        ldf = lps.from_pandas(pdf, spark=spark)
        got = ldf["s"].str.center(w, "*").to_pandas().tolist()
        want = pdf["s"].str.center(w, "*").tolist()
        assert got == want, (w, got, want)

    # isin dict form
    pdf = pd.DataFrame({"a": [1, 2], "b": ["x", "y"]})
    ldf = lps.from_pandas(pdf, spark=spark)
    got = ldf.isin({"a": [1]}).to_pandas()
    want = pdf.isin({"a": [1]})
    pd.testing.assert_frame_equal(got[["a", "b"]], want, check_dtype=False)

    # slice_replace with negative bounds
    pdf = pd.DataFrame({"s": ["abc", "a", ""]})
    ldf = lps.from_pandas(pdf, spark=spark)
    got = ldf["s"].str.slice_replace(-1, None, "X").to_pandas().tolist()
    want = pdf["s"].str.slice_replace(-1, None, "X").tolist()
    assert got == want
    ldf = lps.from_pandas(pdf, spark=spark)
    got = ldf["s"].str.slice_replace(0, -1, "Y").to_pandas().tolist()
    want = pdf["s"].str.slice_replace(0, -1, "Y").tolist()
    assert got == want

    # is_unique on an empty series
    pdf0 = pd.DataFrame({"x": pd.Series(dtype="float64")})
    ldf0 = lps.from_pandas(pdf0, spark=spark)
    assert ldf0["x"].is_unique is True

    # extractall with a user column literally named 'index'
    pdf = pd.DataFrame({"index": [10, 20], "s": ["a1", "b2c3"]})
    ldf = lps.from_pandas(pdf, spark=spark)
    out = ldf["s"].str.extractall(r"([0-9])").to_pandas().reset_index()
    assert "level_0" in out.columns
    assert out["0"].tolist() == ["1", "2", "3"]
