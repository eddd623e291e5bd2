"""Feature-encoding helpers for training pipelines: one-hot (get_dummies) and
binning (cut/qcut) — pandas-compatible surface, Spark-native execution.

Extension beyond the reference (no encode surface there; its categorical
machinery is the dictionary column, reference core/column.py:831-911, which
``get_dummies`` reuses: the dictionary IS the dummy column list).

Scale notes:
* get_dummies collects only the DISTINCT value dictionary (it must become
  column names, so it is small by contract — same driver-side dictionary the
  reference replicates); the encode itself is a pure projection, no shuffle.
* cut with explicit edges is a pure projection (zero jobs). cut(int) needs
  one min/max aggregate; qcut one exact-percentile aggregate — q+1 scalars to
  the driver, never data.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from legate_pandas_spark.frontend.frame import DataFrame
from legate_pandas_spark.frontend.series import Series

# Dictionary-size fail-fast for operators whose distinct values become SCHEMA
# (dummy/pivot column names). The collect is limit-bounded, so a mistakenly
# high-cardinality column (e.g. a float or id column) raises immediately
# instead of OOMing the driver.
MAX_DICT_VALUES = 10_000


def _collect_dictionary(sdf, col_expr, what: str) -> list:
    rows = (
        sdf.select(col_expr.alias("v"))
        .distinct()
        .limit(MAX_DICT_VALUES + 1)
        .collect()
    )
    if len(rows) > MAX_DICT_VALUES:
        raise ValueError(
            f"{what}: column has more than {MAX_DICT_VALUES} distinct values; "
            "its values become column names, which only makes sense for "
            "low-cardinality keys (pass an explicit category dtype, or bin/"
            "bucket the column first)"
        )
    return sorted(r["v"] for r in rows if r["v"] is not None)


def get_dummies(data, columns=None, prefix=None, prefix_sep: str = "_", dtype: str = "tinyint"):
    """One-hot encode string/categorical columns (pandas.get_dummies).

    The value dictionary per column comes from the categorical meta when
    declared (zero jobs), else one distinct aggregate (small result by
    contract: values become column names)."""
    if isinstance(data, Series):
        frame = data._frame._replace(
            data._frame._sdf.select(data._col.alias(data.name or "0"))
        )
        frame._cat_meta = {}
        if data._cat is not None:
            frame._cat_meta = {(data.name or "0"): data._cat}
        data = frame
        columns = [data.columns[0]]
    if columns is None:
        columns = [c for c, t in data._sdf.dtypes if c in data.columns and t == "string"]
    out_sdf = data._sdf
    for c in columns:
        cat = data._cat_meta.get(c)
        if cat is not None and cat.categories is not None:
            values = list(cat.categories)
        else:
            values = _collect_dictionary(out_sdf, F.col(c), f"get_dummies({c!r})")
        pfx = (prefix or c) + prefix_sep
        for v in values:
            out_sdf = out_sdf.withColumn(
                f"{pfx}{v}", (F.col(c) == F.lit(v)).cast(dtype)
            )
        out_sdf = out_sdf.drop(c)
    out = DataFrame(out_sdf, data._index)
    return out


def _bin_expr(col, edges, right: bool = True, include_lowest: bool = True):
    """Bin code expression for sorted edges: code i covers (edges[i], edges[i+1]]
    (right=True), with the first bin optionally closed on the left. Out-of-range
    or null -> null. Pure whens over a bound column — codegen-friendly."""
    expr = F.lit(None).cast("int")
    nbins = len(edges) - 1
    for i in range(nbins - 1, -1, -1):
        lo, hi = float(edges[i]), float(edges[i + 1])
        if right:
            cond = (col > F.lit(lo)) & (col <= F.lit(hi))
            if i == 0 and include_lowest:
                cond = cond | (col == F.lit(lo))
        else:
            # pandas cut(right=False): all bins half-open [lo, hi) — the very
            # last edge is excluded
            cond = (col >= F.lit(lo)) & (col < F.lit(hi))
        expr = F.when(cond, F.lit(i)).otherwise(expr)
    return expr


def cut(series: Series, bins, labels=False, right: bool = True) -> Series:
    """pandas.cut: fixed-width or explicit-edge binning. labels=False returns
    integer bin codes (the form that feeds a model); labels=list maps codes to
    the given labels."""
    col = series._col
    if isinstance(bins, int):
        row = series._frame._sdf.agg(
            F.min(col).alias("lo"), F.max(col).alias("hi")
        ).collect()[0]
        lo, hi = float(row["lo"]), float(row["hi"])
        span = (hi - lo) or 1.0
        inner = [lo + span * (i + 1) / bins for i in range(bins - 1)]
        # pandas widens the range by 0.1% so the extreme value falls inside:
        # the LOW edge when right=True (min would fall outside (lo, e1]), the
        # HIGH edge when right=False (max would fall outside [eN-1, hi))
        if right:
            edges = [lo - span * 0.001] + inner + [hi]
        else:
            edges = [lo] + inner + [hi + span * 0.001]
        code = _bin_expr(col, edges, right=right, include_lowest=False)
    else:
        edges = [float(b) for b in bins]
        code = _bin_expr(col, edges, right=right, include_lowest=False)
    return _apply_labels(series, code, labels, len(edges) - 1, edges=edges, right=right)


def qcut(series: Series, q, labels=False) -> Series:
    """pandas.qcut: quantile binning. Edges via one exact interpolated
    percentile aggregate (q+1 scalars); swap in approx_percentile at 100 TB
    where exact cross-partition interpolation isn't worth a sort."""
    if isinstance(q, int):
        probs = [i / q for i in range(q + 1)]
    else:
        probs = list(q)
    col = series._col
    row = series._frame._sdf.agg(
        F.percentile(col, F.array(*[F.lit(p) for p in probs])).alias("e")
    ).collect()[0]
    edges = [float(e) for e in row["e"]]
    code = _bin_expr(col, edges, right=True, include_lowest=True)
    return _apply_labels(series, code, labels, len(edges) - 1, edges=edges, right=True)


def crosstab(index: Series, columns: Series) -> DataFrame:
    """pandas.crosstab for two aligned Series: counts cross-tabulation.
    One hash aggregate + pivot with an explicit value list (the column
    dictionary is one distinct aggregate — small by contract, it becomes the
    schema)."""
    frame, (col,) = index._resolve(columns)  # raises unless aligned
    sdf = frame._sdf.select(
        index._col.alias(index.name or "row"), col.alias(columns.name or "col")
    )
    rname, cname = sdf.columns
    values = _collect_dictionary(sdf, F.col(cname), f"crosstab({cname!r})")
    pivoted = (
        sdf.filter(F.col(rname).isNotNull() & F.col(cname).isNotNull())
        .groupBy(rname)
        .pivot(cname, values)
        .agg(F.count(F.lit(1)))
        .fillna(0)
        .orderBy(rname)
    )
    pivoted = pivoted.select(
        rname, *[F.col(f"`{v}`").cast("long").alias(str(v)) for v in values]
    )
    return DataFrame(pivoted, (rname,))


def _apply_labels(series: Series, code, labels, nbins: int, edges=None, right: bool = True) -> Series:
    if labels is False:
        return series._wrap(code, series.name)
    if labels is None:
        # interval labels (pandas labels=None default): the bin edges are
        # driver-resident, so delegate the interval FORMATTING to pandas itself
        # (IntervalIndex string forms, exact pandas spelling) and emit them as
        # a string column — the string-schema spelling of pandas' categorical
        # intervals (categories are string-only in this engine, SURVEY §1.2)
        import pandas as pd

        ivs = pd.IntervalIndex.from_breaks(edges, closed="right" if right else "left")
        labels = [str(iv) for iv in ivs]
    expr = F.lit(None).cast("string")
    for i, lab in enumerate(labels):
        expr = F.when(code == F.lit(i), F.lit(str(lab))).otherwise(expr)
    return series._wrap(expr, series.name)


_PIVOT_AGGS = {
    "mean": F.avg,
    "sum": F.sum,
    "count": F.count,
    "min": F.min,
    "max": F.max,
    "first": F.first,
}


def pivot_table(
    data: DataFrame,
    values: str,
    index,
    columns: str,
    aggfunc: str = "mean",
    fill_value=None,
) -> DataFrame:
    """pandas.pivot_table: one hash aggregate + pivot.

    The pivoted column's dictionary is one distinct aggregate, bounded by
    ``MAX_DICT_VALUES`` (its values become schema — only sensible for
    low-cardinality keys, same contract as crosstab/get_dummies). The
    aggregation itself is a single groupBy over (index × columns) with
    map-side partial aggregation — fact-table sized input, dictionary-sized
    output. The reference has no reshape ops at all (SURVEY §2.7) — extension
    surface."""
    if isinstance(values, (list, tuple)):
        raise NotImplementedError(
            "pivot_table(values=list): one values column per call "
            "(pandas MultiIndex output columns are out of scope)"
        )
    if aggfunc not in _PIVOT_AGGS:
        raise ValueError(
            f"pivot_table: aggfunc {aggfunc!r} not in {sorted(_PIVOT_AGGS)}"
        )
    index = [index] if isinstance(index, str) else list(index)
    sdf = data._sdf
    vals = _collect_dictionary(sdf, F.col(columns), f"pivot_table({columns!r})")
    fn = _PIVOT_AGGS[aggfunc]
    pivoted = (
        sdf.filter(F.col(columns).isNotNull())
        .groupBy(*index)
        .pivot(columns, vals)
        .agg(fn(F.col(values)))
        .orderBy(*index)
    )
    pivoted = pivoted.select(
        *index, *[F.col(f"`{v}`").alias(str(v)) for v in vals]
    )
    if fill_value is not None:
        pivoted = pivoted.fillna(fill_value, subset=[str(v) for v in vals])
    return DataFrame(pivoted, tuple(index))
