"""Second facade differential batch: frame-wide reductions, cumulative ops,
sort options, frame where/mask, dedup keep variants, concat axis=1, accessor
breadth — mirroring more of the reference's tests/pandas scripts."""

import numpy as np
import pandas as pd
import pytest

import legate_pandas_spark as lps


@pytest.fixture(scope="module")
def pdf():
    rng = np.random.RandomState(7)
    return pd.DataFrame(
        {
            "g": rng.randint(0, 4, 30),
            "x": rng.randint(-50, 50, 30).astype("int64"),
            "y": rng.randn(30).round(6),
            "s": [f"w{i % 7:02d}" for i in range(30)],
        }
    )


@pytest.fixture(scope="module")
def ldf(pdf, spark):
    return lps.from_pandas(pdf, spark=spark)


def _match(lps_df, pandas_df, sort=True):
    got = lps_df.to_pandas().reset_index(drop=True)
    want = pandas_df.reset_index(drop=True)
    if sort:
        got = got.sort_values(list(got.columns)).reset_index(drop=True)
        want = want.sort_values(list(want.columns)).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want, check_dtype=False, rtol=1e-9)


def test_frame_reductions(ldf, pdf):
    got_sum = ldf.sum()
    want_sum = pdf[["g", "x", "y"]].sum()
    for c in want_sum.index:
        assert abs(got_sum[c] - want_sum[c]) < 1e-6
    got_mean = ldf.mean()
    want_mean = pdf[["g", "x", "y"]].mean()
    for c in want_mean.index:
        assert abs(got_mean[c] - want_mean[c]) < 1e-9
    got_std = ldf.std()
    want_std = pdf[["g", "x", "y"]].std()
    for c in want_std.index:
        assert abs(got_std[c] - want_std[c]) < 1e-9


def test_frame_cumsum_global(spark):
    p = pd.DataFrame({"a": [1.0, 2.0, 3.0, 4.0], "b": [10, 20, 30, 40]})
    l = lps.from_pandas(p, spark=spark)
    got = l.cumsum().to_pandas()
    want = p.cumsum()
    # global cumsum preserves row order via the partition-stable key
    pd.testing.assert_frame_equal(
        got.reset_index(drop=True), want.reset_index(drop=True), check_dtype=False
    )


def test_frame_cummax_cumprod(spark):
    p = pd.DataFrame({"a": [2.0, -1.0, 3.0, 0.5]})
    l = lps.from_pandas(p, spark=spark)
    pd.testing.assert_frame_equal(
        l.cummax().to_pandas(), p.cummax(), check_dtype=False
    )
    got = l.cumprod().to_pandas()
    want = p.cumprod()
    assert np.allclose(got["a"], want["a"])


def test_sort_na_position(spark):
    p = pd.DataFrame({"a": [3.0, None, 1.0, None, 2.0], "b": list("abcde")})
    l = lps.from_pandas(p, spark=spark)
    for na_pos in ("first", "last"):
        got = l.sort_values("a", na_position=na_pos).to_pandas()
        want = p.sort_values("a", na_position=na_pos)
        assert list(got["b"]) == list(want["b"])


def test_sort_stability(spark):
    p = pd.DataFrame({"k": [1, 1, 0, 0, 1], "v": list("abcde")})
    l = lps.from_pandas(p, spark=spark)
    got = l.sort_values("k").to_pandas()
    want = p.sort_values("k", kind="stable")
    assert list(got["v"]) == list(want["v"])


def test_frame_where_mask(ldf, pdf):
    cond_l = ldf["x"] > 0
    cond_p = pdf["x"] > 0
    _match(ldf[["g", "x"]].where(cond_l, -999), pdf[["g", "x"]].where(cond_p, -999))
    _match(ldf[["g", "x"]].mask(cond_l, -999), pdf[["g", "x"]].mask(cond_p, -999))


def test_drop_duplicates_keep_last_and_false(spark):
    p = pd.DataFrame({"k": [1, 1, 2, 3, 3, 3], "v": [10, 11, 20, 30, 31, 32]})
    l = lps.from_pandas(p, spark=spark)
    got_last = l.drop_duplicates(subset=["k"], keep="last").to_pandas()
    want_last = p.drop_duplicates(subset=["k"], keep="last")
    assert sorted(got_last["v"]) == sorted(want_last["v"])
    got_none = l.drop_duplicates(subset=["k"], keep=False).to_pandas()
    want_none = p.drop_duplicates(subset=["k"], keep=False)
    assert sorted(got_none["v"]) == sorted(want_none["v"])


def test_concat_axis1(spark):
    a = pd.DataFrame({"k": [1, 2, 3], "x": [10.0, 20.0, 30.0]})
    b = pd.DataFrame({"k": [1, 2, 3], "y": ["a", "b", "c"]})
    la = lps.from_pandas(a, spark=spark).set_index("k")
    lb = lps.from_pandas(b, spark=spark).set_index("k")
    got = lps.concat([la, lb], axis=1).to_pandas().reset_index()
    want = pd.concat([a.set_index("k"), b.set_index("k")], axis=1).reset_index()
    _match_df = got.sort_values("k").reset_index(drop=True)
    pd.testing.assert_frame_equal(
        _match_df, want.sort_values("k").reset_index(drop=True), check_dtype=False
    )


def test_query_in_list(ldf, pdf):
    got = ldf.query("g in [1, 3] and x > 0").to_pandas()
    want = pdf.query("g in [1, 3] and x > 0")
    assert len(got) == len(want)
    assert sorted(got["x"]) == sorted(want["x"])


def test_str_methods_breadth(spark):
    p = pd.DataFrame({"s": ["  Hello ", "WORLD", "MiXeD", "a-b-c", ""]})
    l = lps.from_pandas(p, spark=spark)
    got = l.copy()
    got["swap"] = got["s"].str.swapcase()
    got["strip"] = got["s"].str.strip()
    got["startswith"] = got["s"].str.startswith("W")
    got["lens"] = got["s"].str.len()
    got["repl"] = got["s"].str.replace("-", "_")
    got["sl"] = got["s"].str.slice(0, 3)
    want = p.copy()
    want["swap"] = want["s"].str.swapcase()
    want["strip"] = want["s"].str.strip()
    want["startswith"] = want["s"].str.startswith("W")
    want["lens"] = want["s"].str.len()
    want["repl"] = want["s"].str.replace("-", "_")
    want["sl"] = want["s"].str.slice(0, 3)
    _match(got, want)


def test_series_clip_between(ldf, pdf):
    got = ldf.copy()
    got["c"] = got["x"].clip(-10, 10)
    got["b"] = got["x"].between(-10, 10)
    want = pdf.copy()
    want["c"] = want["x"].clip(-10, 10)
    want["b"] = want["x"].between(-10, 10)
    _match(got, want)


def test_series_value_counts(ldf, pdf):
    got = ldf["s"].value_counts().to_pandas()
    want = pdf["s"].value_counts().rename_axis("s").reset_index(name="count")
    got = got.sort_values(["count", "s"], ascending=[False, True]).reset_index(drop=True)
    want = want.sort_values(["count", "s"], ascending=[False, True]).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_dt_date_and_to_datetime(spark):
    p = pd.DataFrame({"s": ["2024-01-15 10:30:00", "2023-06-01 00:00:00"]})
    l = lps.from_pandas(p, spark=spark)
    got = l.copy()
    got["ts"] = got["s"].to_datetime("%Y-%m-%d %H:%M:%S")
    gp = got.to_pandas()
    want = pd.to_datetime(p["s"], format="%Y-%m-%d %H:%M:%S")
    assert list(gp["ts"]) == list(want)


def test_groupby_sort_flag(ldf, pdf):
    got = ldf.groupby("g", sort=True).agg({"x": "sum"}).reset_index().to_pandas()
    want = pdf.groupby("g")["x"].sum().reset_index()
    # sort=True orders output by keys; verify order AND values
    assert list(got["g"]) == list(want["g"])
    assert list(got["x"]) == list(want["x"])


def test_nlargest_nsmallest(ldf, pdf):
    got = ldf.nlargest(5, "x").to_pandas()
    want = pdf.nlargest(5, "x")
    assert sorted(got["x"]) == sorted(want["x"])
    got = ldf.nsmallest(3, "y").to_pandas()
    want = pdf.nsmallest(3, "y")
    assert sorted(got["y"].round(6)) == sorted(want["y"].round(6))


def test_groupby_shift_diff(spark):
    p = pd.DataFrame({"g": [0, 0, 0, 1, 1], "v": [1.0, 3.0, 6.0, 10.0, 14.0]})
    l = lps.from_pandas(p, spark=spark)
    got = l.groupby("g").shift(1).to_pandas()
    want_shift = p.groupby("g")["v"].shift(1)
    assert sorted(got["v"].fillna(-1)) == sorted(want_shift.fillna(-1))
    got_d = l.groupby("g").diff(1).to_pandas()
    want_d = p.groupby("g")["v"].diff(1)
    assert sorted(got_d["v"].fillna(-1)) == sorted(want_d.fillna(-1))


def test_groupby_rolling(spark):
    p = pd.DataFrame({"g": [0, 0, 0, 0, 1, 1], "v": [1.0, 2.0, 3.0, 4.0, 10.0, 20.0]})
    l = lps.from_pandas(p, spark=spark)
    got = l.groupby("g").rolling(2, min_periods=1).sum().to_pandas()
    want = p.groupby("g")["v"].rolling(2, min_periods=1).sum().reset_index(drop=True)
    assert sorted(got["v"]) == sorted(want)
    got_m = l.groupby("g").rolling(3, min_periods=1).mean().to_pandas()
    want_m = p.groupby("g")["v"].rolling(3, min_periods=1).mean().reset_index(drop=True)
    assert sorted(got_m["v"]) == sorted(want_m)


def test_series_map_dict(spark):
    p = pd.DataFrame({"c": ["a", "b", "c", "a"]})
    l = lps.from_pandas(p, spark=spark)
    got = l.copy()
    got["m"] = got["c"].map({"a": 1, "b": 2}, default=-1)
    gp = got.to_pandas()
    want = p["c"].map({"a": 1, "b": 2}).fillna(-1)
    assert list(gp["m"]) == list(want)


def test_apply_batches_mapinpandas(spark):
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    p = pd.DataFrame({"x": [1, 2, 3, 4]})
    l = lps.from_pandas(p, spark=spark)

    def double_it(pdf):
        return pd.DataFrame({"x": pdf["x"], "y": pdf["x"] * 2.5})

    schema = StructType([StructField("x", LongType()), StructField("y", DoubleType())])
    got = l.apply_batches(double_it, schema).to_pandas()
    assert sorted(got["y"]) == [2.5, 5.0, 7.5, 10.0]


def test_series_cumsum_shift_rank(spark):
    # id column: window sorts may reorder returned rows; compare row-matched
    p = pd.DataFrame({"id": [0, 1, 2, 3, 4], "v": [3.0, 1.0, 4.0, 1.0, 5.0]})
    l = lps.from_pandas(p, spark=spark)
    got = l.copy()
    got["cs"] = got["v"].cumsum()
    got["cm"] = got["v"].cummax()
    got["sh"] = got["v"].shift(1)
    got["df_"] = got["v"].diff(1)
    got["rk"] = got["v"].rank(method="min")
    gp = got.to_pandas().sort_values("id").reset_index(drop=True)
    assert list(gp["cs"]) == list(p["v"].cumsum())
    assert list(gp["cm"]) == list(p["v"].cummax())
    assert list(gp["sh"].fillna(-9)) == list(p["v"].shift(1).fillna(-9))
    assert list(gp["df_"].fillna(-9)) == list(p["v"].diff(1).fillna(-9))
    assert list(gp["rk"]) == list(p["v"].rank(method="min"))


def test_describe(spark):
    p = pd.DataFrame({"a": [1.0, 2.0, 3.0, 4.0], "b": [10, 20, 30, 40]})
    l = lps.from_pandas(p, spark=spark)
    got = l.describe()
    want = p.describe()
    for c in ["a", "b"]:
        for s in ["count", "mean", "std", "min", "25%", "50%", "75%", "max"]:
            assert abs(got.loc[s, c] - want.loc[s, c]) < 1e-9, (c, s)


def test_read_csv_true_false_values(tmp_path, spark):
    f = tmp_path / "tf.csv"
    f.write_text("a,b\nthis is true,1\nthis is false,2\nthis is true,3\n")
    got = lps.read_csv(
        str(f), true_values=["this is true"], false_values=["this is false"], spark=spark
    )
    want = pd.read_csv(
        str(f), true_values=["this is true"], false_values=["this is false"]
    )
    gp = got.to_pandas()
    assert gp["a"].dtype.kind == "b"
    assert list(gp["a"]) == list(want["a"])


def test_groupby_pivot(spark):
    p = pd.DataFrame(
        {"g": [0, 0, 1, 1, 1], "c": ["a", "b", "a", "a", "b"], "v": [1.0, 2.0, 3.0, 4.0, 5.0]}
    )
    l = lps.from_pandas(p, spark=spark)
    got = l.groupby("g").pivot("c", ["a", "b"]).agg({"v": "sum"}).reset_index().to_pandas()
    want = p.pivot_table(index="g", columns="c", values="v", aggfunc="sum").reset_index()
    want.columns = ["g", "a", "b"]
    got = got.sort_values("g").reset_index(drop=True)[["g", "a", "b"]]
    pd.testing.assert_frame_equal(got, want.sort_values("g").reset_index(drop=True), check_dtype=False)


def test_frame_replace(spark):
    p = pd.DataFrame({"s": ["a", "b", "a"], "n": [1, 2, 3]})
    l = lps.from_pandas(p, spark=spark)
    got = l.replace({"a": "z"}).to_pandas()
    want = p.replace({"a": "z"})
    assert sorted(got["s"]) == sorted(want["s"])
    got2 = l.replace({1: 100}).to_pandas()
    want2 = p.replace({1: 100})
    assert sorted(got2["n"]) == sorted(want2["n"])


def test_frame_sample(spark):
    p = pd.DataFrame({"x": range(100)})
    l = lps.from_pandas(p, spark=spark)
    s1 = l.sample(0.3, seed=42).to_pandas()
    s2 = l.sample(0.3, seed=42).to_pandas()
    assert list(s1["x"]) == list(s2["x"])  # deterministic under a seed
    assert 5 < len(s1) < 60


def test_merge_asof_vs_pandas(spark):
    left = pd.DataFrame(
        {
            "t": pd.to_datetime(
                ["2024-01-01 10:00", "2024-01-01 10:05", "2024-01-01 10:30",
                 "2024-01-01 09:00", "2024-01-01 11:00"]
            ),
            "g": [1, 1, 1, 2, 2],
            "lv": [100.0, 101.0, 102.0, 200.0, 201.0],
        }
    ).sort_values("t")
    right = pd.DataFrame(
        {
            "t": pd.to_datetime(
                ["2024-01-01 09:58", "2024-01-01 10:20", "2024-01-01 10:50"]
            ),
            "g": [1, 1, 2],
            "rv": [7.0, 8.0, 9.0],
        }
    ).sort_values("t")
    got = (
        lps.merge_asof(
            lps.from_pandas(left, spark=spark), lps.from_pandas(right, spark=spark),
            on="t", by="g",
        )
        .to_pandas()
        .sort_values(["g", "t"])
        .reset_index(drop=True)
    )
    want = (
        pd.merge_asof(left, right, on="t", by="g")
        .sort_values(["g", "t"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got[want.columns.tolist()], want, check_dtype=False)


def test_merge_asof_tolerance(spark):
    left = pd.DataFrame(
        {"t": pd.to_datetime(["2024-01-01 10:00", "2024-01-01 12:00"]), "g": [1, 1],
         "lv": [1.0, 2.0]}
    )
    right = pd.DataFrame(
        {"t": pd.to_datetime(["2024-01-01 09:59"]), "g": [1], "rv": [5.0]}
    )
    got = (
        lps.merge_asof(
            lps.from_pandas(left, spark=spark), lps.from_pandas(right, spark=spark),
            on="t", by="g", tolerance_seconds=300,
        )
        .to_pandas()
        .sort_values("t")
        .reset_index(drop=True)
    )
    want = pd.merge_asof(
        left, right, on="t", by="g", tolerance=pd.Timedelta(seconds=300)
    ).sort_values("t").reset_index(drop=True)
    pd.testing.assert_frame_equal(got[want.columns.tolist()], want, check_dtype=False)


def test_groupby_dropna_null_keys(spark):
    """pandas excludes null group keys by default (reference cudf
    null_policy::EXCLUDE); dropna=False keeps them."""
    p = pd.DataFrame({"k": ["a", None, "a", None, "b"], "v": [1, 2, 3, 4, 5]})
    l = lps.from_pandas(p, spark=spark)
    got = l.groupby("k").agg({"v": "sum"}).reset_index().to_pandas()
    want = p.groupby("k")["v"].sum().reset_index()
    got = got.sort_values("k").reset_index(drop=True)
    want = want.sort_values("k").reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    got_keep = l.groupby("k", dropna=False).agg({"v": "sum"}).reset_index().to_pandas()
    want_keep = p.groupby("k", dropna=False)["v"].sum().reset_index()
    assert len(got_keep) == len(want_keep) == 3


def test_str_extract_count_find(spark):
    p = pd.DataFrame({"s": ["abc123def", "xy99", "nodigits", "7a8b9"]})
    l = lps.from_pandas(p, spark=spark)
    got = l.copy()
    got["num"] = got["s"].str.extract(r"([0-9]+)")
    got["ndig"] = got["s"].str.count(r"[0-9]")
    got["pos"] = got["s"].str.find("b")
    gp = got.to_pandas()
    want_num = p["s"].str.extract(r"([0-9]+)")[0]
    want_cnt = p["s"].str.count(r"[0-9]")
    want_pos = p["s"].str.find("b")
    assert list(gp["num"].fillna("~")) == list(want_num.fillna("~"))
    assert list(gp["ndig"]) == list(want_cnt)
    assert list(gp["pos"]) == list(want_pos)


def test_idxmax_idxmin(spark):
    p = pd.DataFrame({"k": [10, 20, 30], "v": [5.0, 9.0, 1.0]})
    l = lps.from_pandas(p, spark=spark).set_index("k")
    assert l["v"].idxmax() == p.set_index("k")["v"].idxmax()
    assert l["v"].idxmin() == p.set_index("k")["v"].idxmin()


def test_melt_unpivot(spark):
    p = pd.DataFrame({"id": [1, 2], "a": [10.0, 20.0], "b": [0.1, 0.2]})
    l = lps.from_pandas(p, spark=spark)
    got = l.melt(id_vars="id", value_vars=["a", "b"]).to_pandas()
    want = p.melt(id_vars="id", value_vars=["a", "b"])
    key = ["id", "variable"]
    got = got.sort_values(key).reset_index(drop=True)[want.columns.tolist()]
    want = want.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_duplicated_flags(spark):
    p = pd.DataFrame({"k": [1, 1, 2, 3, 3, 3], "v": range(6)})
    l = lps.from_pandas(p, spark=spark)
    for keep in ["first", "last", False]:
        got = l.duplicated(subset=["k"], keep=keep)
        n_dups = int(got._frame._sdf.filter(got._col).count())
        want = int(p.duplicated(subset=["k"], keep=keep).sum())
        assert n_dups == want, keep


def test_resample_sum(spark):
    p = pd.DataFrame(
        {
            "ts": pd.to_datetime(
                ["2024-01-01 00:10", "2024-01-01 00:50", "2024-01-01 01:10", "2024-01-01 03:59"]
            ),
            "v": [1.0, 2.0, 3.0, 4.0],
        }
    )
    l = lps.from_pandas(p, spark=spark)
    got = l.resample("1H", on="ts").sum().reset_index().to_pandas()
    want = p.resample("1h", on="ts").sum().reset_index()
    want = want[want["v"] > 0]  # Spark windows skip empty buckets; pandas keeps them
    got = got.sort_values("ts").reset_index(drop=True)[["ts", "v"]]
    want = want.sort_values("ts").reset_index(drop=True)[["ts", "v"]]
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_rolling_object(spark):
    p = pd.DataFrame({"v": [1.0, 2.0, 3.0, 4.0, 5.0]})
    l = lps.from_pandas(p, spark=spark)
    # pandas default: min_periods = window → leading rows are NaN
    pd.testing.assert_frame_equal(l.rolling(3).sum().to_pandas(), p.rolling(3).sum())
    pd.testing.assert_frame_equal(
        l.rolling(3, min_periods=1).sum().to_pandas(), p.rolling(3, min_periods=1).sum()
    )
    pd.testing.assert_frame_equal(
        l.rolling(2).mean().to_pandas(), p.rolling(2).mean()
    )
    pd.testing.assert_frame_equal(l.rolling(3).std().to_pandas(), p.rolling(3).std())
    pd.testing.assert_frame_equal(l.rolling(3).var().to_pandas(), p.rolling(3).var())
    pd.testing.assert_frame_equal(
        l.rolling(2).count().to_pandas(), p.rolling(2).count(), check_dtype=False
    )


def test_expanding_object(spark):
    p = pd.DataFrame({"v": [1.0, 2.0, None, 4.0, 5.0]})
    l = lps.from_pandas(p, spark=spark)
    pd.testing.assert_frame_equal(l.expanding().sum().to_pandas(), p.expanding().sum())
    pd.testing.assert_frame_equal(
        l.expanding(min_periods=3).mean().to_pandas(), p.expanding(min_periods=3).mean()
    )


def test_series_cumprod(spark):
    p = pd.DataFrame({"v": [2.0, -3.0, None, 0.5, 0.0, 4.0]})
    l = lps.from_pandas(p, spark=spark)
    got = l["v"].cumprod().to_pandas()
    want = p["v"].cumprod()
    pd.testing.assert_series_equal(got, want, check_names=False, rtol=1e-12)


def test_dt_extras(spark):
    p = pd.DataFrame(
        {"ts": pd.to_datetime(["2024-01-01", "2024-02-29", "2024-03-31", "2024-12-15"])}
    )
    l = lps.from_pandas(p, spark=spark)
    got = l.copy()
    got["q"] = got["ts"].dt.quarter
    got["doy"] = got["ts"].dt.dayofyear
    got["ms"] = got["ts"].dt.is_month_start
    got["me"] = got["ts"].dt.is_month_end
    got["dim"] = got["ts"].dt.days_in_month
    gp = got.to_pandas()
    assert list(gp["q"]) == list(p["ts"].dt.quarter)
    assert list(gp["doy"]) == list(p["ts"].dt.dayofyear)
    assert list(gp["ms"]) == list(p["ts"].dt.is_month_start)
    assert list(gp["me"]) == list(p["ts"].dt.is_month_end)
    assert list(gp["dim"]) == list(p["ts"].dt.days_in_month)


def test_explode_and_value_counts_normalize(spark):
    p = pd.DataFrame({"id": [1, 2, 3], "arr": [[1, 2], [3], []]})
    l = lps.from_pandas(p, spark=spark)
    got = l.explode("arr").to_pandas()
    want = p.explode("arr")
    assert sorted(got["arr"].fillna(-1)) == sorted(want["arr"].fillna(-1).astype(float))
    p2 = pd.DataFrame({"c": ["x", "x", "y", "z"]})
    l2 = lps.from_pandas(p2, spark=spark)
    got_n = l2["c"].value_counts(normalize=True).to_pandas()
    want_n = p2["c"].value_counts(normalize=True)
    assert abs(got_n.set_index("c")["proportion"]["x"] - want_n["x"]) < 1e-12


def test_random_split_and_sample_by(spark):
    p = pd.DataFrame({"cls": ["a"] * 80 + ["b"] * 20, "v": range(100)})
    l = lps.from_pandas(p, spark=spark)
    train, test = l.random_split([0.75, 0.25], seed=7)
    n_train, n_test = len(train), len(test)
    assert n_train + n_test == 100
    assert 50 < n_train < 95  # probabilistic split around 75
    # no overlap, union covers everything
    overlap = train.to_spark().intersect(test.to_spark()).count()
    assert overlap == 0
    # stratified downsampling of the majority class
    balanced = l.sample_by("cls", {"a": 0.25, "b": 1.0}, seed=7)
    counts = (
        balanced.groupby("cls").size().reset_index().to_pandas().set_index("cls")["size"]
    )
    assert counts.get("b", 0) == 20  # fraction 1.0 keeps all
    assert 5 <= counts.get("a", 0) <= 40  # ~20 expected


def test_series_unique_dropna_sort_head(spark):
    p = pd.DataFrame({"v": [3.0, 1.0, None, 3.0, 2.0]})
    l = lps.from_pandas(p, spark=spark)
    assert sorted(x for x in l["v"].unique() if pd.notna(x)) == [1.0, 2.0, 3.0]
    assert sorted(l["v"].dropna().tolist()) == [1.0, 2.0, 3.0, 3.0]
    assert l["v"].nlargest(2).tolist() == [3.0, 3.0]
    assert l["v"].nsmallest(1).tolist() == [1.0]
