"""Round-9 ADVICE fixes, each regression-tested:

1. convert_dtypes integral probe: the upper bound is now EXCLUSIVE at 2^63
   (float(2**63-1) rounds up to exactly 2^63, so a double equal to
   9223372036854775808.0 used to pass the probe and overflow the bigint cast
   under ANSI). Values at/above 2^63 keep the column float.
2. Series mask `!=` now follows pandas NaN semantics (NaN != 1 is True, rows
   KEPT), matching query()'s total-atom compilation — and emits no non-null
   proof (kept rows can hold nulls).
3. at_time/between_time match sub-second instants exactly ('9:30:15.5' no
   longer truncates to the whole second).
4. The dedup session memos (clone-mass verdict / pair list) carry a data
   snapshot token: rewriting the corpus under sf_dir invalidates the cached
   clone-mass verdict / pair list instead of silently reusing stale results.
"""
import numpy as np
import pandas as pd
import pytest

from legate_pandas_spark.frontend.frame import DataFrame, from_pandas


def test_convert_dtypes_two_pow_63_stays_float(spark):
    two63 = float(2**63)  # == 9223372036854775808.0 exactly
    sdf = spark.createDataFrame(
        [(1.0, 1.0), (two63, 2.0), (float(2**63 - 1), 3.0)],
        "at_bound double, clean double",
    )
    ldf = DataFrame(sdf).convert_dtypes()
    dt = ldf.dtypes
    # float(2**63-1) IS 2^63 after rounding -> both rows hold 2^63 -> float
    assert dt["at_bound"] == "double"
    assert dt["clean"] == "bigint"
    got = ldf.to_pandas().sort_values("clean").reset_index(drop=True)
    assert got["at_bound"][1] == two63  # value preserved, no Long.MAX clamp


def test_convert_dtypes_min_long_still_integral(spark):
    # -(2^63) is exactly representable AND a valid bigint -> still converts
    sdf = spark.createDataFrame(
        [(float(-(2**63)), 1.0), (0.0, 2.0)], "lo double, clean double"
    )
    ldf = DataFrame(sdf).convert_dtypes()
    assert ldf.dtypes["lo"] == "bigint"
    got = ldf.to_pandas().sort_values("clean").reset_index(drop=True)
    assert int(got["lo"][0]) == -(2**63)


def test_series_ne_mask_keeps_nan_like_pandas(spark):
    pdf = pd.DataFrame({"k": [1.0, np.nan, 2.0], "v": [10, 20, 30]})
    ldf = from_pandas(pdf, spark=spark)
    got = ldf[ldf["k"] != 1].to_pandas().sort_values("v").reset_index(drop=True)
    exp = pdf[pdf["k"] != 1].sort_values("v").reset_index(drop=True)
    # pandas keeps the NaN row (NaN != 1 is True); so do we now
    assert got["v"].tolist() == exp["v"].tolist() == [20, 30]
    # boolean series itself matches pandas elementwise
    mvals = ldf.assign(m=ldf["k"] != 1).to_pandas()["m"].tolist()
    assert mvals == (pdf["k"] != 1).tolist() == [False, True, True]
    # and the filter APIs agree on null-bearing data
    assert (
        sorted(ldf.query("k != 1").to_pandas()["v"].tolist())
        == sorted(got["v"].tolist())
    )


def test_series_ne_nan_vs_nan_and_column(spark):
    pdf = pd.DataFrame({"a": [1.0, np.nan, 3.0], "b": [1.0, np.nan, 4.0]})
    ldf = from_pandas(pdf, spark=spark)
    got = ldf.assign(m=ldf["a"] != ldf["b"]).to_pandas()["m"].tolist()
    assert got == (pdf["a"] != pdf["b"]).tolist() == [False, True, True]


def test_at_time_subsecond_exact(spark):
    ts = pd.to_datetime(
        [
            "2024-01-01 09:30:15.500000",
            "2024-01-01 09:30:15.250000",
            "2024-01-02 09:30:15.500000",
            "2024-01-01 09:30:15.000000",
        ]
    )
    pdf = pd.DataFrame({"v": [1, 2, 3, 4]}, index=ts)
    pdf.index.name = "ts"
    ldf = from_pandas(pdf.reset_index(), spark=spark).set_index("ts")
    got = sorted(ldf.at_time("9:30:15.5").to_pandas()["v"].tolist())
    exp = sorted(pdf.at_time("9:30:15.5")["v"].tolist())
    assert got == exp == [1, 3]
    # whole-second input still matches only the whole-second row
    assert ldf.at_time("9:30:15").to_pandas()["v"].tolist() == [4]


def test_between_time_subsecond_bounds(spark):
    import datetime

    ts = pd.to_datetime(
        [
            "2024-01-01 09:30:15.200000",
            "2024-01-01 09:30:15.500000",
            "2024-01-01 09:30:15.800000",
        ]
    )
    pdf = pd.DataFrame({"v": [1, 2, 3]}, index=ts)
    pdf.index.name = "ts"
    ldf = from_pandas(pdf.reset_index(), spark=spark).set_index("ts")
    # pandas only parses sub-second bounds as datetime.time objects — accept
    # both forms; differential uses the form real pandas accepts
    lo, hi = datetime.time(9, 30, 15, 300000), datetime.time(9, 30, 15, 800000)
    got = sorted(ldf.between_time(lo, hi).to_pandas()["v"].tolist())
    exp = sorted(pdf.between_time(lo, hi)["v"].tolist())
    assert got == exp == [2, 3]
    # string form with fraction is accepted by the facade too
    got2 = sorted(
        ldf.between_time("9:30:15.3", "9:30:15.8").to_pandas()["v"].tolist()
    )
    assert got2 == [2, 3]


def test_clone_mass_probe_token_invalidation(spark, tmp_path):
    from legate_pandas_spark.operators import dedup as dd

    heavy = spark.createDataFrame(
        [(i, 10) for i in range(20)], "gid long, gsize long"
    )
    clean = spark.createDataFrame(
        [(i, 1) for i in range(20)], "gid long, gsize long"
    )
    doc = tmp_path / "documents.parquet"
    doc.write_bytes(b"t1")
    d = str(tmp_path)
    assert dd._clone_mass_probe(spark, d, heavy) is True
    # same snapshot -> cached verdict (serve True even from the clean frame)
    assert dd._clone_mass_probe(spark, d, clean) is True
    # corpus rewritten (new snapshot token) -> recompute, verdict flips
    doc.write_bytes(b"t2 rewritten")
    assert dd._clone_mass_probe(spark, d, clean) is False


def test_corpus_snapshot_token_changes_on_touch(tmp_path):
    from legate_pandas_spark.sources.tables import snapshot_token

    doc = tmp_path / "documents.parquet"
    doc.write_bytes(b"abc")
    t1 = snapshot_token(str(doc))
    doc.write_bytes(b"abcd")
    t2 = snapshot_token(str(doc))
    assert t1 != t2
    missing = snapshot_token(str(tmp_path / "nope" / "documents.parquet"))
    assert missing is None
