"""Round-2 facade breadth — differential vs real pandas.

GroupBy first/last/median/nth/cumcount/head/tail/ffill/bfill, SeriesGroupBy
rank/cumsum/named-reductions, frame ffill/bfill/skew/kurt/corr/cov/take/
truncate/pipe/update/align/applymap, module crosstab.
"""

import numpy as np
import pandas as pd
import pytest

import legate_pandas_spark as lps


def _pdf():
    return pd.DataFrame(
        {
            "g": ["a", "a", "b", "b", "b", "c", "a"],
            "x": [1.0, None, 3.0, 4.0, None, 6.0, 7.0],
            "y": [10, 20, 30, 40, 50, 60, 70],
        }
    )


def _sorted(df, by):
    return df.sort_values(by).reset_index(drop=True)


def test_groupby_first_last(spark):
    pdf = _pdf()
    ldf = lps.from_pandas(pdf, spark=spark)
    got = _sorted(ldf.groupby("g").first().reset_index().to_pandas(), "g")
    want = _sorted(pdf.groupby("g").first().reset_index(), "g")
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    got = _sorted(ldf.groupby("g").last().reset_index().to_pandas(), "g")
    want = _sorted(pdf.groupby("g").last().reset_index(), "g")
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_groupby_median(spark):
    pdf = _pdf()
    ldf = lps.from_pandas(pdf, spark=spark)
    got = _sorted(ldf.groupby("g").median().reset_index().to_pandas(), "g")
    want = _sorted(pdf.groupby("g").median(numeric_only=True).reset_index(), "g")
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_groupby_nth(spark):
    pdf = _pdf()
    ldf = lps.from_pandas(pdf, spark=spark)
    got = _sorted(ldf.groupby("g").nth(1).to_pandas(), ["g", "y"])
    want = _sorted(pdf.groupby("g").nth(1).reset_index(drop=True), ["g", "y"])
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    got_neg = _sorted(ldf.groupby("g").nth(-1).to_pandas(), ["g", "y"])
    want_neg = _sorted(pdf.groupby("g").nth(-1).reset_index(drop=True), ["g", "y"])
    pd.testing.assert_frame_equal(got_neg, want_neg, check_dtype=False)


def test_groupby_cumcount(spark):
    pdf = _pdf()
    ldf = lps.from_pandas(pdf, spark=spark)
    got = ldf.groupby("g").cumcount().to_pandas()
    want = pdf.groupby("g").cumcount()
    pd.testing.assert_series_equal(got, want, check_names=False, check_dtype=False)


def test_groupby_head_tail(spark):
    pdf = _pdf()
    ldf = lps.from_pandas(pdf, spark=spark)
    got = _sorted(ldf.groupby("g").head(2).to_pandas(), ["g", "y"])
    want = _sorted(pdf.groupby("g").head(2), ["g", "y"])
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    got = _sorted(ldf.groupby("g").tail(1).to_pandas(), ["g", "y"])
    want = _sorted(pdf.groupby("g").tail(1), ["g", "y"])
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_groupby_ffill_bfill(spark):
    pdf = _pdf()
    ldf = lps.from_pandas(pdf, spark=spark)
    got = ldf.groupby("g").ffill().to_pandas()[["x", "y"]]
    want = pdf.groupby("g").ffill()
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    got = ldf.groupby("g").bfill().to_pandas()[["x", "y"]]
    want = pdf.groupby("g").bfill()
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_seriesgroupby_rank_cumsum(spark):
    pdf = pd.DataFrame(
        {"g": ["a", "a", "a", "b", "b"], "x": [3.0, 1.0, 3.0, 5.0, 2.0]}
    )
    ldf = lps.from_pandas(pdf, spark=spark)
    for method in ("min", "dense", "first", "average"):
        got = ldf.groupby("g")["x"].rank(method=method).to_pandas()
        want = pdf.groupby("g")["x"].rank(method=method)
        pd.testing.assert_series_equal(got, want, check_names=False)
    got = ldf.groupby("g")["x"].cumsum().to_pandas()
    want = pdf.groupby("g")["x"].cumsum()
    pd.testing.assert_series_equal(got, want, check_names=False)
    got = _sorted(ldf.groupby("g")["x"].sum().reset_index().to_pandas(), "g")
    want = _sorted(pdf.groupby("g")["x"].sum().reset_index(), "g")
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_frame_ffill_bfill(spark):
    pdf = pd.DataFrame({"x": [None, 1.0, None, 3.0, None], "s": ["a", None, "c", None, None]})
    ldf = lps.from_pandas(pdf, spark=spark)
    pd.testing.assert_frame_equal(ldf.ffill().to_pandas(), pdf.ffill(), check_dtype=False)
    pd.testing.assert_frame_equal(ldf.bfill().to_pandas(), pdf.bfill(), check_dtype=False)


def test_series_ffill_bfill(spark):
    pdf = pd.DataFrame({"x": [None, 1.0, None, 3.0, None]})
    ldf = lps.from_pandas(pdf, spark=spark)
    pd.testing.assert_series_equal(
        ldf["x"].ffill().to_pandas(), pdf["x"].ffill(), check_names=False
    )
    pd.testing.assert_series_equal(
        ldf["x"].bfill().to_pandas(), pdf["x"].bfill(), check_names=False
    )


def test_frame_skew_kurt(spark):
    rng = np.random.default_rng(7)
    pdf = pd.DataFrame({"x": rng.exponential(2.0, 200), "y": rng.normal(0, 1, 200)})
    ldf = lps.from_pandas(pdf, spark=spark)
    pd.testing.assert_series_equal(ldf.skew(), pdf.skew(), rtol=1e-9)
    pd.testing.assert_series_equal(ldf.kurt(), pdf.kurt(), rtol=1e-9)


def test_frame_corr_cov(spark):
    rng = np.random.default_rng(11)
    pdf = pd.DataFrame(
        {"a": rng.normal(size=100), "b": rng.normal(size=100), "c": rng.normal(size=100)}
    )
    pdf["b"] = pdf["b"] + 0.5 * pdf["a"]
    ldf = lps.from_pandas(pdf, spark=spark)
    pd.testing.assert_frame_equal(ldf.corr(), pdf.corr(), rtol=1e-9)
    pd.testing.assert_frame_equal(ldf.cov(), pdf.cov(), rtol=1e-9)


def test_take_truncate(spark):
    pdf = pd.DataFrame({"x": range(10), "y": list("abcdefghij")})
    ldf = lps.from_pandas(pdf, spark=spark)
    # take now honors requested order AND repeats (9 and -1 are the same row —
    # both come back), full pandas parity since round 3
    got = ldf.take([0, 3, 9, -1]).to_pandas().reset_index(drop=True)
    want = pdf.take([0, 3, 9, -1]).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    ldf2 = ldf.set_index("x")
    got = ldf2.truncate(before=3, after=7).to_pandas()
    want = pdf.set_index("x").truncate(before=3, after=7)
    pd.testing.assert_frame_equal(got.sort_index(), want.sort_index(), check_dtype=False)


def test_pipe_update(spark):
    pdf = pd.DataFrame({"x": [1.0, 2.0, 3.0]})
    ldf = lps.from_pandas(pdf, spark=spark)
    out = ldf.pipe(lambda d, k: d.assign(y=d["x"] * k), 2)
    assert out.to_pandas()["y"].tolist() == [2.0, 4.0, 6.0]

    # update: non-null cells of a lineage-derived frame overwrite
    pdf2 = pd.DataFrame({"x": [1.0, None, 3.0], "y": [1.0, 1.0, 1.0]})
    ldf2 = lps.from_pandas(pdf2, spark=spark)
    other = ldf2 * 10
    ldf2.update(other)
    want = pdf2.copy()
    other_p = pdf2 * 10
    want.update(other_p)
    pd.testing.assert_frame_equal(ldf2.to_pandas(), want, check_dtype=False)


def test_align(spark):
    a = pd.DataFrame({"k": [1, 2, 3], "x": [1.0, 2.0, 3.0]}).set_index("k")
    b = pd.DataFrame({"k": [2, 3, 4], "y": [20.0, 30.0, 40.0]}).set_index("k")
    la = lps.from_pandas(a.reset_index(), spark=spark).set_index("k")
    lb = lps.from_pandas(b.reset_index(), spark=spark).set_index("k")
    gl, gr = la.align(lb, join="outer")
    wl, wr = a.align(b, join="outer")
    pd.testing.assert_frame_equal(gl.to_pandas().sort_index(), wl, check_dtype=False)
    pd.testing.assert_frame_equal(gr.to_pandas().sort_index(), wr, check_dtype=False)


def test_applymap(spark):
    pdf = pd.DataFrame({"x": [1.0, 2.0], "y": [3.0, 4.0]})
    ldf = lps.from_pandas(pdf, spark=spark)
    got = ldf.applymap(lambda v: v * 2 + 1).to_pandas()
    want = pdf.map(lambda v: v * 2 + 1)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_to_dict_items_iterrows(spark):
    pdf = pd.DataFrame({"x": [1, 2], "y": ["a", "b"]})
    ldf = lps.from_pandas(pdf, spark=spark)
    assert ldf.to_dict() == pdf.to_dict(orient="records")
    names = [n for n, _ in ldf.items()]
    assert names == ["x", "y"]
    rows = list(ldf.iterrows())
    assert len(rows) == 2 and rows[0][1]["y"] == "a"


def test_crosstab(spark):
    pdf = pd.DataFrame(
        {"r": ["u", "u", "v", "v", "v", "w"], "c": ["x", "y", "x", "x", "y", "y"]}
    )
    ldf = lps.from_pandas(pdf, spark=spark)
    got = lps.crosstab(ldf["r"], ldf["c"]).to_pandas()
    want = pd.crosstab(pdf["r"], pdf["c"])
    want.index.name = "r"
    want.columns = [str(c) for c in want.columns]
    want.columns.name = None
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_series_rank_methods_with_nulls(spark):
    pdf = pd.DataFrame({"v": [3.0, 1.0, None, 3.0, 2.0]})
    ldf = lps.from_pandas(pdf, spark=spark)
    for m in ("min", "dense", "first", "average"):
        got = ldf["v"].rank(method=m).to_pandas()
        want = pdf["v"].rank(method=m)
        pd.testing.assert_series_equal(got, want, check_names=False)
    got_desc = ldf["v"].rank(ascending=False).to_pandas()
    want_desc = pdf["v"].rank(method="min", ascending=False)
    pd.testing.assert_series_equal(got_desc, want_desc, check_names=False)


def test_series_conveniences(spark):
    pdf = pd.DataFrame({"x": [3.0, 1.0, 3.0, 2.0], "y": [1.0, 2.0, 3.0, 4.0]})
    ldf = lps.from_pandas(pdf, spark=spark)
    # to_frame / rename
    fr = ldf["x"].to_frame("z").to_pandas()
    pd.testing.assert_frame_equal(fr, pdf[["x"]].rename(columns={"x": "z"}))
    assert ldf["x"].rename("w").name == "w"
    # drop_duplicates keeps first occurrences
    got = ldf["x"].drop_duplicates().to_pandas().tolist()
    assert got == pdf["x"].drop_duplicates().tolist()
    # one-pass agg
    got_agg = ldf["x"].agg(["sum", "min", "max"])
    want_agg = pdf["x"].agg(["sum", "min", "max"])
    pd.testing.assert_series_equal(got_agg, want_agg, check_names=False)
    assert ldf["x"].agg("sum") == pdf["x"].agg("sum")
    # corr / cov / autocorr
    assert abs(ldf["x"].corr(ldf["y"]) - pdf["x"].corr(pdf["y"])) < 1e-9
    assert abs(ldf["x"].cov(ldf["y"]) - pdf["x"].cov(pdf["y"])) < 1e-9
    assert abs(ldf["x"].autocorr(1) - pdf["x"].autocorr(1)) < 1e-9
    # item
    assert ldf[ldf["y"] == 4.0]["x"].item() == 2.0
    with pytest.raises(ValueError):
        ldf["x"].item()


def test_series_indexers(spark):
    pdf = pd.DataFrame({"k": [10, 20, 30], "v": [1.0, 2.0, 3.0]})
    ldf = lps.from_pandas(pdf, spark=spark)
    s = ldf["v"]
    # boolean mask
    got = s[s > 1.5].to_pandas().tolist()
    assert sorted(got) == [2.0, 3.0]
    # positional
    assert s.iloc[1] == 2.0
    assert s.iat[-1] == 3.0
    assert s.iloc[0:2].to_pandas().tolist() == [1.0, 2.0]
    # label (stored index)
    li = ldf.set_index("k")["v"]
    assert li.loc[20] == 2.0
    assert li.at[30] == 3.0


@pytest.mark.parametrize("op", ["shift", "diff", "cumsum", "cummax", "ffill", "bfill"])
def test_groupby_row_ops_keep_index_and_null_cells(spark, op):
    """Per-row group ops move values, not index labels, and a running
    aggregate leaves a null cell null (pandas skipna)."""
    pdf = _pdf().set_index("y")
    ldf = lps.from_pandas(_pdf(), spark=spark).set_index("y")
    got = getattr(ldf.groupby("g"), op)().to_pandas()["x"]
    want = getattr(pdf.groupby("g"), op)()["x"]
    pd.testing.assert_series_equal(got, want, check_dtype=False, check_index_type=False)
