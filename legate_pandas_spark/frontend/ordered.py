"""Ordered ops, written once for DataFrame and Series.

Each op is a column kernel from ``scan`` — ``kernel(sdf, {out: Column})``
appends one output column per entry, in global row order — run through the
object's ``_scan``: a DataFrame maps it over its value columns and puts each
result in its source column's place; a Series runs it on one hidden column
of a derived frame (``DataFrame._with_step``), so the frame it came from is
never rewritten. The keyed forms are ``groupby(...)``'s.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from legate_pandas_spark.frontend.dtypes import is_numeric_spark_type, resolve_ewm_alpha
from legate_pandas_spark.frontend.scan import (
    _ordered,
    _seq,
    cum_columns,
    ewm_columns,
    fill_columns,
    interpolate_columns,
    rank_column,
    shift_columns,
    window_columns,
)


class OrderedOps:
    """pandas' ordered ops over the global row order. A class mixing this
    in provides ``ndim`` and ``_scan(kernel, numeric=True, finish=None,
    keys=())``, where ``finish(result, source)`` shapes each result."""

    def _cum(self, kind: str):
        return self._scan(lambda sdf, cols: cum_columns(sdf, cols, kind))

    def cumsum(self):
        """Global cumulative scan — the reference's two-phase carry design
        (core/column.py:644-687): partition-local scan + in-plan carry, no
        unpartitioned window (scan.cum_columns)."""
        return self._cum("sum")

    def cummax(self):
        return self._cum("max")

    def cummin(self):
        return self._cum("min")

    def cumprod(self):
        """exp∘cumsum∘log magnitude with sign-parity and zero tracking
        (SURVEY §2.6's PROD scan without a UDAF). Nulls are skipped (pandas
        skipna) but stay null at their own position."""
        return self._cum("prod")

    def _fill(self, forward: bool):
        return self._scan(
            lambda sdf, cols: fill_columns(sdf, cols, forward=forward), numeric=False
        )

    def ffill(self):
        """Forward-fill nulls in row order — two-phase: partition-local fill
        + the nearest preceding partition's edge value as carry
        (scan.fill_columns; the keyed path is groupby(...).ffill())."""
        return self._fill(forward=True)

    def bfill(self):
        return self._fill(forward=False)

    pad = ffill
    backfill = bfill

    def interpolate(self, method: str = "linear"):
        """Linear interpolation of nulls by row position, as doubles
        (scan.interpolate_columns; pandas default: leading nulls stay null,
        trailing nulls carry the last valid value forward)."""
        if method != "linear":
            raise NotImplementedError("only method='linear'")
        return self._scan(interpolate_columns)

    def rank(self, method: str = "min", ascending: bool = True, pct: bool = False,
             na_option: str = "keep", axis: int = 0):
        """Global value rank: 'min' = SQL rank, 'max' = last-peer rank,
        'dense', 'first' = row order breaks ties, 'average' = pandas default;
        ``pct`` normalizes by the valid count (dense: by the distinct count,
        like pandas); ``na_option`` 'keep' (nulls rank null), 'top' or
        'bottom'. Each column runs the two-phase range-bucketed rank
        (scan.rank_column: splitter boundaries bucket the value range, the
        reference's sample-sort histogram, core/sort.py:113-174). A frame's
        ``axis=1`` ranks within each row — a pure array expression."""
        if axis in (1, "columns"):
            return self._rank_rowwise(method, ascending, pct)

        def kernel(sdf, cols):
            for out, c in cols.items():
                sdf = rank_column(
                    sdf, out, c, method=method, ascending=ascending, pct=pct,
                    na_option=na_option,
                )
            return sdf

        return self._scan(kernel)

    def shift(self, periods: int = 1, fill_value=None):
        """Shift by ``periods`` rows — every column of a frame, type-agnostic
        — via a global-position equi-join (scan.shift_columns), never a
        window. ``fill_value`` fills only the vacated slots, cast to each
        column's type (see ``_shift_fill``)."""
        return self._scan(
            _shifter(periods, fill_value, strict=self.ndim == 1), numeric=False
        )

    def diff(self, periods: int = 1):
        """Difference vs the value ``periods`` rows back (pandas diff)."""
        return self._scan(_shifter(periods), finish=lambda lag, c: c - lag)

    def pct_change(self, periods: int = 1):
        """Fractional change vs the value ``periods`` rows back (the keyed
        path is groupby(...).pct_change())."""

        def finish(lag, c):
            prev = lag.cast("double")
            return (c.cast("double") - prev) / prev

        return self._scan(_shifter(periods), finish=finish)

    def rolling(self, window: int, min_periods: int | None = None):
        """Rolling window over the row order (pandas ``rolling(n)``;
        ``groupby(...).rolling(n)`` is the same object per group).
        ``min_periods`` defaults to the window size (leading rows yield
        null); pass 1 for partial windows."""
        return Rolling(self, window, min_periods)

    def expanding(self, min_periods: int = 1):
        """Expanding window: every row so far (without keys: running
        partials plus the carry of all preceding partitions, not an
        unbounded global window)."""
        return Rolling(self, None, min_periods)

    def ewm(self, alpha: float = None, com=None, span=None, halflife=None):
        """Exponentially weighted window (alpha/com/span/halflife, pandas
        parameter resolution)."""
        return Ewm(self, resolve_ewm_alpha(alpha, com, span, halflife))


def _shifter(periods: int, fill_value=None, strict: bool = False):
    """The shift kernel. With ``fill_value``, a marker column shifted
    alongside tells vacated slots (marker null) from shifted-in nulls."""

    def kernel(sdf, cols):
        sdf, fresh = _ordered(sdf)
        if fill_value is None:
            return shift_columns(sdf, cols, periods, fresh)
        uniq = next(_seq)
        lags = {f"__shl_{uniq}_{i}__": c for i, c in enumerate(cols.values())}
        types = [t for _, t in sdf.select(*lags.values()).dtypes]
        mark = f"__shm_{uniq}__"
        out = shift_columns(sdf, {**lags, mark: F.lit(True)}, periods, fresh)
        fills = [
            _shift_fill(fill_value, t, mark, lag, strict).alias(o)
            for o, lag, t in zip(cols, lags, types)
        ]
        return out.select("*", *fills).drop(mark, *lags)

    return kernel


def _shift_fill(fill, col_type: str, mark: str, lag: str, strict: bool):
    """Typed fill of one shifted column: the fill literal is cast to the
    column's type family instead of leaning on Spark's CASE-WHEN coercion
    (which raises on numeric-fill-into-timestamp and silently promotes
    string columns to hold '0.0'). A float fill into an integer column
    widens it to double (pandas upcast). A fill that does not fit the
    column's type leaves a frame's column unfilled and, for a Series
    (``strict``), raises TypeError: pandas would make a mixed object column,
    which has no Spark representation."""
    import datetime as _dt

    if isinstance(fill, bool):
        ok = col_type == "boolean"
    elif isinstance(fill, (int, float)):
        ok = is_numeric_spark_type(col_type)
    elif isinstance(fill, str):
        ok = col_type == "string"
    elif isinstance(fill, (_dt.datetime, _dt.date)):
        ok = col_type.startswith("timestamp") or col_type == "date"
    else:
        ok = False
    if not ok:
        if strict:
            raise TypeError(
                f"shift: fill_value {fill!r} is incompatible with a column of "
                f"type {col_type} (pandas would produce a mixed object column, "
                "which has no Spark representation)"
            )
        return F.col(lag)
    ints = ("tinyint", "smallint", "int", "bigint")
    target = "double" if isinstance(fill, float) and col_type in ints else col_type
    return F.when(F.col(mark).isNull(), F.lit(fill).cast(target)).otherwise(
        F.col(lag).cast(target)
    )


class Rolling:
    """pandas rolling window of ``window`` rows, or expanding (``window``
    None: every row so far), over a frame's numeric value columns or a
    Series, per group of ``keys`` (``groupby(...).rolling``: key columns are
    not values) or over the whole row order — ``scan.window_columns``.
    ``min_periods`` defaults to the window size."""

    def __init__(self, obj, window, min_periods: int | None = None, keys: list = ()):
        self._obj = obj
        self._window = window
        self._mp = window if min_periods is None else min_periods
        self._keys = list(keys)

    def _kernel(self, stat: str, arg=None):
        return lambda sdf, cols: window_columns(
            sdf, self._keys, cols, self._window, self._mp, stat, arg
        )

    def _stat(self, stat: str, arg=None):
        return self._obj._scan(self._kernel(stat, arg), keys=self._keys)

    def sum(self):
        return self._stat("sum")

    def mean(self):
        return self._stat("mean")

    def max(self):
        return self._stat("max")

    def min(self):
        return self._stat("min")

    def count(self):
        return self._stat("count")

    def std(self, ddof: int = 1):
        return self._stat("std", ddof)

    def var(self, ddof: int = 1):
        return self._stat("var", ddof)

    def median(self):
        return self._stat("quantile", 0.5)

    def quantile(self, q: float):
        """Exact interpolated quantile (pandas interpolation='linear') of
        the sorted frame list — rolling only: the list is k-sized."""
        return self._stat("quantile", q)

    def apply(self, func, raw: bool = False):
        """Arbitrary Python window function (pandas rolling.apply): pandas
        computes it over each group, or each ingest partition plus its k-1
        ghost rows, as one Arrow batch — partition-parallel."""
        return self._stat("apply", (func, raw))

    def corr(self, other, b: str | None = None):
        """Pearson correlation over the window (pairwise-complete rows;
        min_periods counts pairwise observations): of a Series with
        ``other``, a Series of its lineage, or of a frame's columns
        ``other`` and ``b``, appended as ``<other>_<b>_corr``."""
        return self._pairwise("corr", other, b)

    def cov(self, other, b: str | None = None):
        """Sample covariance (ddof=1), in the same two forms as ``corr``."""
        return self._pairwise("cov", other, b)

    def _pairwise(self, stat: str, a, b):
        if b is None:
            return self._obj._scan(self._kernel(stat), other=a)
        from legate_pandas_spark.frontend.frame import _qcol

        df = self._obj
        cols = {f"{a}_{b}_{stat}": (_qcol(a), _qcol(b))}
        return df._replace(self._kernel(stat)(df._sdf, cols))


class Ewm:
    """Exponentially weighted window over a frame's numeric value columns
    or a Series, per group of ``keys`` or over the whole row order — the
    EXACT two-phase distributed recurrence (``scan.ewm_columns``)."""

    def __init__(self, obj, alpha: float, keys: list = ()):
        self._obj = obj
        self._alpha = alpha
        self._keys = list(keys)

    def mean(self):
        return self._stat("mean")

    def var(self):
        """Exact distributed ewm variance (pandas bias=False)."""
        return self._stat("var")

    def std(self):
        return self._stat("std")

    def _stat(self, stat: str):
        return self._obj._scan(
            lambda sdf, cols: ewm_columns(sdf, self._keys, cols, self._alpha, stat),
            keys=self._keys,
        )
