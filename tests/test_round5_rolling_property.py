"""Round-5: hypothesis fuzz of the distributed rolling/expanding/cumulative
machinery (frontend/scan.py two-phase carries, boundary ghost rows) — random
window sizes, min_periods, agg functions, null patterns vs real pandas."""

import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

import legate_pandas_spark as lps


def _pdf(seed, n=60):
    rng = np.random.RandomState(seed)
    pdf = pd.DataFrame({"v": rng.randn(n).round(3)})
    holes = rng.choice(n, max(1, n // 8), replace=False)
    pdf.loc[holes, "v"] = np.nan
    return pdf


def _cmp(got, want):
    g = pd.Series(got).fillna(-12345.0).to_numpy()
    w = pd.Series(want).fillna(-12345.0).to_numpy()
    assert np.allclose(g, w, rtol=1e-9, atol=1e-12), (g, w)


@settings(max_examples=12, deadline=None)
@given(
    st.integers(0, 10_000),
    st.integers(2, 9),
    st.integers(1, 4),
    st.sampled_from(["sum", "mean", "min", "max", "std", "var", "count"]),
    st.sampled_from(["frame", "series", "groupby"]),
)
def test_rolling_fuzz(spark, seed, window, mp, fn, surface):
    """Every rolling surface (frame, Series accessor, groupby) against
    pandas, in original row order."""
    mp = min(mp, window)
    pdf = _pdf(seed).assign(k=[i % 3 for i in range(60)])
    ldf = lps.from_pandas(pdf, spark=spark)
    if surface == "frame":
        got = getattr(ldf.rolling(window, min_periods=mp), fn)().to_pandas()["v"]
        want = getattr(pdf["v"].rolling(window, min_periods=mp), fn)()
    elif surface == "series":
        got = getattr(ldf["v"].rolling(window, min_periods=mp), fn)().to_pandas()
        want = getattr(pdf["v"].rolling(window, min_periods=mp), fn)()
    else:
        got = getattr(ldf.groupby("k").rolling(window, min_periods=mp), fn)()
        got = got.to_pandas()["v"]
        want = getattr(pdf.groupby("k")["v"].rolling(window, min_periods=mp), fn)()
        want = want.reset_index(level=0, drop=True).sort_index()
    _cmp(got.tolist(), want.tolist())


def test_count_gate_matches_pandas(spark):
    """pandas gates rolling/expanding count on the rows in the window (null
    rows included), every other statistic on non-null observations; count is
    float64 on every surface."""
    pdf = pd.DataFrame({"v": [1.0, None, 3.0, 4.0, 5.0], "g": [0, 0, 0, 1, 1]})
    ldf = lps.from_pandas(pdf, spark=spark)
    for win, args in (("rolling", (2,)), ("expanding", (2,)), ("expanding", ())):
        want = getattr(pdf["v"], win)(*args).count().tolist()
        _cmp(getattr(ldf[["v"]], win)(*args).count().to_pandas()["v"].tolist(), want)
        _cmp(getattr(ldf["v"], win)(*args).count().to_pandas().tolist(), want)
        got = getattr(ldf.groupby("g"), win)(*args).count().to_pandas()["v"]
        want = getattr(pdf.groupby("g")["v"], win)(*args).count()
        _cmp(got.tolist(), want.reset_index(level=0, drop=True).sort_index().tolist())
        assert got.dtype == "float64"


@settings(max_examples=8, deadline=None)
@given(st.integers(0, 10_000), st.sampled_from(["sum", "mean", "var", "std", "count"]))
def test_expanding_fuzz(spark, seed, fn):
    pdf = _pdf(seed)
    ldf = lps.from_pandas(pdf, spark=spark)
    got = getattr(ldf.expanding(), fn)().to_pandas()["v"]
    want = getattr(pdf["v"].expanding(), fn)()
    _cmp(got.tolist(), want.tolist())


@settings(max_examples=8, deadline=None)
@given(st.integers(0, 10_000), st.sampled_from(["cumsum", "cummax", "cummin"]))
def test_cumulative_fuzz_with_nulls(spark, seed, fn):
    pdf = _pdf(seed)
    ldf = lps.from_pandas(pdf, spark=spark)
    got = getattr(ldf, fn)().to_pandas()["v"]
    want = getattr(pdf["v"], fn)()
    _cmp(got.tolist(), want.tolist())


@settings(max_examples=8, deadline=None)
@given(st.integers(0, 10_000), st.integers(2, 6))
def test_grouped_rolling_sum_fuzz(spark, seed, window):
    pdf = _pdf(seed).assign(k=[i % 3 for i in range(60)])
    ldf = lps.from_pandas(pdf, spark=spark)
    got = (
        ldf.groupby("k")
        .rolling(window, min_periods=1)
        .sum()
        .to_pandas()
        .sort_values(["k", "v"], na_position="first")["v"]
        .tolist()
    )
    want = (
        pdf.groupby("k")["v"]
        .rolling(window, min_periods=1)
        .sum()
        .reset_index()
        .sort_values(["k", "v"], na_position="first")["v"]
        .tolist()
    )
    _cmp(got, want)
