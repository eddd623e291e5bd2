"""GroupBy facade (reference frontend/groupby.py:22-270, core/groupby.py:27-242).

Column-naming contract: ``agg({col: op})`` keeps the column name; ``agg({col:
[ops]})`` flattens pandas' MultiIndex result columns to ``{col}_{op}`` (Spark has
no MultiIndex columns). Direct reductions (``.sum()`` etc.) apply to all
compatible value columns and keep their names.

Execution: one partial+final HashAggregate — subsumes both of the reference's
strategies (hash shuffle, core/groupby.py:201-231; radix tree, :159-199).
``sort=True`` orders the output by keys afterwards, exactly like the reference
(core/table.py:996-1000).
"""

from __future__ import annotations

import functools

import pyspark.sql.functions as F

from legate_pandas_spark.frontend.dtypes import is_numeric_spark_type

_AGG_FNS = {
    "sum": F.sum,
    "mean": F.avg,
    "avg": F.avg,
    "min": F.min,
    "max": F.max,
    "count": F.count,
    "size": lambda c: F.count(F.lit(1)),
    "var": F.var_samp,
    "std": F.stddev_samp,
    "prod": F.product,
    "product": F.product,
    "any": lambda c: F.bool_or(c.cast("boolean")),
    "all": lambda c: F.bool_and(c.cast("boolean")),
    "nunique": F.countDistinct,
    "median": F.median,
    "first": F.first,
    "last": F.last,
}

# pandas reduces with skipna and IDENTITY results for empty-after-skipna
# groups (sum(min_count=0) -> 0, prod -> 1, any -> False, all -> True);
# Spark's aggregates return NULL on all-null input. Applied AROUND the full
# aggregate/window expression (coalesce can't wrap an aggregate before
# .over()); min/max/mean/var/std stay null (pandas NaN).
_AGG_EMPTY_IDENTITY = {
    "sum": 0,
    "prod": 1.0,
    "product": 1.0,
    "any": False,
    "all": True,
}


def _with_identity(op, expr):
    iv = _AGG_EMPTY_IDENTITY.get(op) if isinstance(op, str) else None
    return F.coalesce(expr, F.lit(iv)) if iv is not None else expr

_NUMERIC_ONLY = {"sum", "mean", "avg", "var", "std", "prod", "product", "median"}


def _notnull(keys) -> "F.Column":
    """True on rows where no group key is null."""
    return functools.reduce(lambda a, b: a & b, [F.col(k).isNotNull() for k in keys])


class GroupBy:
    def __init__(
        self,
        df,
        keys: list[str],
        as_index: bool = True,
        sort: bool = False,
        dropna: bool = True,
    ):
        # original (pre-dropna) frame: the lineage anchor for column-level
        # transform, which must stay aligned with the caller's frame
        self._src = df
        # pandas semantics: rows with null group keys are EXCLUDED by default
        # (reference cudf null_policy::EXCLUDE, src/groupby/groupby_reduce_gpu.cc:76-77);
        # Spark's groupBy would emit a null group — filter first.
        if dropna:
            from legate_pandas_spark.frontend.frame import DataFrame

            df = DataFrame(df._sdf.filter(_notnull(keys)), df._index)
        self._df = df
        self._keys = keys
        self._as_index = as_index
        self._sort = sort
        self._dropna = dropna

    def _aligned(self, expr, name: str):
        """``expr`` as a Series on the caller's frame, null where a group key
        is null (pandas' excluded groups). The frame is derived, pinned to
        its row order: the window shuffles, so exports and positional ops
        restore the order from the pinned key."""
        from legate_pandas_spark.frontend.frame import row_order
        from legate_pandas_spark.frontend.series import Series

        return Series(
            self._src._with_step(row_order), F.when(_notnull(self._keys), expr), name
        )

    def _finish(self, sdf):
        from legate_pandas_spark.frontend.frame import DataFrame

        if self._sort:
            sdf = sdf.orderBy(*[F.asc(k) for k in self._keys])
        index = tuple(self._keys) if self._as_index else ()
        out = DataFrame(sdf, index)
        if self._dropna:
            # null group keys were filtered: the output key columns are
            # provably null-free — downstream merges on them can use plain
            # equality and reuse this aggregate's hash(k) exchange (see
            # DataFrame._nonnull_cols)
            out._nonnull_cols = frozenset(self._keys)
        return out

    def agg(self, spec=None, **named) -> "DataFrame":
        """dict spec ({col: op|[ops]}), a single op name, or pandas named
        aggregation: ``agg(total=("col", "sum"), n=("col", "size"))``."""
        if named and spec is None:
            exprs = []
            for out_name, (col, op) in named.items():
                exprs.append(_with_identity(op, _AGG_FNS[op](F.col(col))).alias(out_name))
            return self._finish(self._df._sdf.groupBy(*self._keys).agg(*exprs))
        if isinstance(spec, str):
            return self._apply_named(spec)
        exprs = []
        for col, ops in spec.items():
            if isinstance(ops, str):
                exprs.append(_with_identity(ops, _AGG_FNS[ops](F.col(col))).alias(col))
            else:
                for op in ops:
                    exprs.append(_with_identity(op, _AGG_FNS[op](F.col(col))).alias(f"{col}_{op}"))
        out = self._df._sdf.groupBy(*self._keys).agg(*exprs)
        return self._finish(out)

    aggregate = agg  # pandas alias

    def _apply_named(self, op: str) -> "DataFrame":
        dtypes = dict(self._df._sdf.dtypes)
        exprs = []
        for c in self._df.columns:
            if c in self._keys:
                continue
            if op in _NUMERIC_ONLY and not is_numeric_spark_type(dtypes[c]):
                continue
            exprs.append(_with_identity(op, _AGG_FNS[op](F.col(c))).alias(c))
        if op == "size":
            exprs = [F.count(F.lit(1)).alias("size")]
        if not exprs:
            raise ValueError(f"no aggregatable columns for {op!r}")
        out = self._df._sdf.groupBy(*self._keys).agg(*exprs)
        return self._finish(out)

    def sum(self):
        return self._apply_named("sum")

    def mean(self):
        return self._apply_named("mean")

    def min(self):
        return self._apply_named("min")

    def max(self):
        return self._apply_named("max")

    def count(self):
        return self._apply_named("count")

    def size(self):
        return self._apply_named("size")

    def var(self):
        return self._apply_named("var")

    def std(self):
        return self._apply_named("std")

    def prod(self):
        return self._apply_named("prod")

    def any(self):
        return self._apply_named("any")

    def all(self):
        return self._apply_named("all")

    def nunique(self):
        return self._apply_named("nunique")

    def sample(self, n: int = 1, random_state: int | None = None):
        """n rows per group (pandas groupby.sample): rank over (seeded) rand
        in a group-partitioned window. Deterministic iff random_state given.

        Documented divergence (COVERAGE.md): groups with fewer than n rows
        return ALL their rows, where pandas raises ValueError
        (replace=False). Detecting the short group would take an extra
        per-group count pass before sampling — the check is the caller's to
        make when the stricter contract matters."""
        from pyspark.sql.window import Window

        from legate_pandas_spark.frontend.frame import DataFrame

        r = F.rand(random_state) if random_state is not None else F.rand()
        w = Window.partitionBy(*self._keys).orderBy(r)
        out = (
            self._df._sdf.withColumn("__smp__", F.row_number().over(w))
            .filter(F.col("__smp__") <= n)
            .drop("__smp__")
        )
        return DataFrame(out, self._df._index)

    def describe(self):
        """Per-group numeric summary (pandas groupby.describe, columns
        flattened to ``{col}_{stat}``): one hash aggregate; the quartiles are
        exact percentiles (swap to approx_percentile at 100 TB, same trade as
        Series.quantile)."""
        dtypes = dict(self._df._sdf.dtypes)
        exprs = []
        for c in self._df.columns:
            if c in self._keys or not is_numeric_spark_type(dtypes[c]):
                continue
            col = F.col(c)
            exprs += [
                F.count(col).cast("double").alias(f"{c}_count"),
                F.avg(col).alias(f"{c}_mean"),
                F.stddev_samp(col).alias(f"{c}_std"),
                F.min(col).cast("double").alias(f"{c}_min"),
                F.percentile(col, F.lit(0.25)).alias(f"{c}_25%"),
                F.percentile(col, F.lit(0.5)).alias(f"{c}_50%"),
                F.percentile(col, F.lit(0.75)).alias(f"{c}_75%"),
                F.max(col).cast("double").alias(f"{c}_max"),
            ]
        if not exprs:
            raise ValueError("describe: no numeric columns")
        return self._finish(self._df._sdf.groupBy(*self._keys).agg(*exprs))

    def first(self):
        """First non-null value per group in row order (pandas groupby.first):
        min_by over the order key among non-null rows — one hash aggregate, no
        window."""
        return self._positional_agg(first=True)

    def last(self):
        return self._positional_agg(first=False)

    def median(self):
        """Exact median per group (pandas). F.median is a per-group sort
        internally; at 100 TB prefer agg({col: 'approx_median'}) semantics via
        percentile_approx — kept exact here for pandas/oracle parity."""
        return self._apply_named("median")

    def _positional_agg(self, first: bool) -> "DataFrame":
        from legate_pandas_spark.frontend.frame import ROW_ORDER

        sdf = self._df._ordered_sdf()
        pick = F.min_by if first else F.max_by
        exprs = []
        for c in self._df.columns:
            if c in self._keys:
                continue
            # pandas first/last skip nulls: restrict the argmin to non-null rows
            order = F.when(F.col(c).isNotNull(), F.col(ROW_ORDER))
            exprs.append(pick(F.col(c), order).alias(c))
        return self._finish(sdf.groupBy(*self._keys).agg(*exprs))

    def _window(self, *frame, ascending: bool = True):
        """The keyed row-order window (partitioned by the group keys —
        parallel per group, never a global window), framed by ``frame``'s
        rowsBetween bounds when given."""
        from pyspark.sql.window import Window

        from legate_pandas_spark.frontend.frame import ROW_ORDER

        order = F.asc(ROW_ORDER) if ascending else F.desc(ROW_ORDER)
        w = Window.partitionBy(*self._keys).orderBy(order)
        return w.rowsBetween(*frame) if frame else w

    def cumcount(self):
        """0-based position of each row within its group (pandas
        groupby.cumcount)."""
        expr = (F.row_number().over(self._window()) - 1).cast("long")
        return self._aligned(expr, "cumcount")

    def nth(self, n: int) -> "DataFrame":
        """The n-th row of each group in row order (pandas groupby.nth;
        negative n counts from the end)."""
        return self._rows(lambda rn: rn == (n + 1 if n >= 0 else -n), n >= 0)

    def head(self, n: int = 5) -> "DataFrame":
        """First n rows of each group (pandas groupby.head)."""
        return self._rows(lambda rn: rn <= n, True)

    def tail(self, n: int = 5) -> "DataFrame":
        return self._rows(lambda rn: rn <= n, False)

    def _rows(self, keep, first: bool) -> "DataFrame":
        """The rows whose keyed row_number (from the front, or the back)
        passes ``keep`` — one partitioned window and a filter."""
        from legate_pandas_spark.frontend.frame import DataFrame

        out = (
            self._df._ordered_sdf()
            .withColumn("__rn__", F.row_number().over(self._window(ascending=first)))
            .filter(keep(F.col("__rn__")))
            .drop("__rn__")
        )
        return DataFrame(out, self._df._index)

    def pivot(self, column: str, values: list) -> "PivotedGroupBy":
        """Pivot on a column with an EXPLICIT value list (stable output schema —
        at scale an implicit pivot would need a distinct-value pre-pass)."""
        return PivotedGroupBy(self, column, values)

    def shift(self, periods: int = 1):
        """Per-group shift over row order (extension; pandas groupby.shift)."""
        return self._over(lambda c, w: F.lag(c, periods).over(w))

    def diff(self, periods: int = 1):
        return self._over(lambda c, w: c - F.lag(c, periods).over(w))

    def rolling(self, window: int, min_periods: int | None = None):
        """pandas groupby.rolling: the frame-level Rolling object over a
        window PARTITIONED by the group keys — parallel per group."""
        from legate_pandas_spark.frontend.ordered import Rolling

        return Rolling(self._df, window, min_periods, self._keys)

    def expanding(self, min_periods: int = 1):
        from legate_pandas_spark.frontend.ordered import Rolling

        return Rolling(self._df, None, min_periods, self._keys)

    def _over(self, fn, numeric: bool = False, frame=()):
        """``fn(column, keyed window)`` over every value column — the one
        body of the per-row group ops (shift, diff, pct_change, cum*,
        ffill/bfill). Keys, index columns and the row-order key pass through
        unchanged (pandas moves values, not labels), and so do non-numeric
        columns when ``numeric``."""
        from legate_pandas_spark.frontend.frame import ROW_ORDER, DataFrame, _qcol

        sdf = self._df._ordered_sdf()
        w = self._window(*frame)
        fixed = {*self._keys, *self._df._index, ROW_ORDER}
        dtypes = dict(sdf.dtypes)
        sel = [
            _qcol(c)
            if c in fixed or (numeric and not is_numeric_spark_type(dtypes[c]))
            else fn(_qcol(c), w).alias(c)
            for c in sdf.columns
        ]
        return DataFrame(sdf.select(*sel), self._df._index)

    # distributed cumulative ops: partitioned by group keys → scale path
    def cumsum(self):
        return self._cum(F.sum)

    def cumprod(self):
        return self._cum(F.product)

    def pipe(self, func, *args, **kwargs):
        """pandas GroupBy.pipe: apply ``func(self, *args, **kwargs)``."""
        return func(self, *args, **kwargs)

    def ngroup(self):
        """Dense 0-based group id in SORTED key order (pandas ngroup after
        sort=True; pandas' default first-appearance order needs a global
        row-order min per group — same machinery, different rank key). The
        distinct key table is ranked by the distributed sample-sort row
        number (scan.ordered_row_number — no single-partition window even
        for a high-cardinality key domain) and broadcast-joined back."""
        from legate_pandas_spark.frontend.frame import DataFrame
        from legate_pandas_spark.frontend.scan import ordered_row_number

        from legate_pandas_spark.frontend.frame import ROW_ORDER

        keys = list(self._keys)
        distinct = self._df._sdf.select(*keys).distinct()
        ranked = ordered_row_number(distinct, keys, "__ngroup__")
        # carry ROW_ORDER so the Series stays positionally aligned with the
        # source frame (pandas ngroup is row-aligned)
        out = (
            self._df._ordered_sdf()
            .join(F.broadcast(ranked), keys, "left")
            .select(
                *self._df._index,
                F.col(ROW_ORDER),
                F.col("__ngroup__").cast("long").alias("ngroup"),
            )
        )
        return DataFrame(out, self._df._index)["ngroup"]

    def value_counts(self, normalize: bool = False):
        """pandas GroupBy.value_counts: counts per (group keys, value
        combination), descending within each group; normalize divides by the
        per-GROUP total over a keys-partitioned window (group-cardinality
        partitions, parallel)."""
        from pyspark.sql.window import Window

        from legate_pandas_spark.frontend.frame import DataFrame

        keys = list(self._keys)
        vals = [c for c in self._df.columns if c not in keys]
        out = (
            self._df._sdf.groupBy(*keys, *vals)
            .agg(F.count(F.lit(1)).alias("count"))
        )
        if normalize:
            w = Window.partitionBy(*keys)
            out = out.select(
                *keys,
                *vals,
                (F.col("count") / F.sum("count").over(w)).alias("proportion"),
            )
        measure = "proportion" if normalize else "count"
        return DataFrame(
            out.orderBy(*keys, F.desc(measure), *vals),
            tuple(keys) + tuple(vals),
        )

    def cummax(self):
        return self._cum(F.max)

    def cummin(self):
        return self._cum(F.min)

    def _cum(self, fn):
        """Running ``fn`` per group; null cells stay null (pandas skipna)."""
        from pyspark.sql.window import Window

        return self._over(
            lambda c, w: F.when(c.isNotNull(), fn(c).over(w)),
            numeric=True,
            frame=(Window.unboundedPreceding, Window.currentRow),
        )

    # -------------------------------------------------- transform / filter / apply
    def transform(self, op: str):
        """pandas groupby.transform: broadcast a per-group aggregate back onto
        every row. String ops compile to an UNBOUNDED window partitioned by the
        group keys — pure Catalyst, no UDF, parallel per group (the scale path;
        a callable takes the grouped pandas map, ``_transform_callable``).
        Result keeps the caller's row order and index; key columns are dropped
        (pandas contract)."""
        from pyspark.sql.window import Window

        from legate_pandas_spark.frontend.frame import ROW_ORDER, DataFrame

        if callable(op):
            return self._transform_callable(op)
        fn = _AGG_FNS[op]
        w = Window.partitionBy(*self._keys)
        # pandas transform is SAME-SHAPE as the caller: null-key rows are not
        # dropped, they get null output — so window over the pre-dropna frame
        # (_src) and mask the expression on key-notnull
        sdf = self._src._ordered_sdf()
        notnull = _notnull(self._keys)
        dtypes = dict(sdf.dtypes)
        sel = []
        for c in sdf.columns:
            if c == ROW_ORDER or c in self._src._index:
                sel.append(F.col(c))
            elif c in self._keys:
                continue
            elif op in _NUMERIC_ONLY and not is_numeric_spark_type(dtypes[c]):
                continue
            else:
                expr = _with_identity(op, fn(F.col(c)).over(w))
                sel.append(F.when(notnull, expr).alias(c))
        return DataFrame(sdf.select(*sel), self._src._index)

    def _sample_group(self, cols, op: str):
        """A pandas sample of the first group's ``cols`` — the group whose
        ``func`` output a grouped map infers its schema from
        (schema must be group-invariant — Spark's own applyInPandas
        contract). The sample is bounded: dtype inference does not need the
        whole group, and a skewed key could otherwise OOM the driver."""
        from legate_pandas_spark.frontend.frame import _qcol

        sdf = self._df._ordered_sdf()
        first = sdf.select(*[_qcol(k) for k in self._keys]).limit(1).collect()
        if not first:
            raise ValueError(f"{op} on empty frame")
        cond = functools.reduce(
            lambda a, b: a & b,
            [_qcol(k).eqNullSafe(F.lit(first[0][k])) for k in self._keys],
        )
        sample = sdf.filter(cond).select(*[_qcol(c) for c in cols])
        return sample.limit(10_000).toPandas()

    def _transform_callable(self, func) -> "DataFrame":
        """transform with a Python callable — the one shape built-ins can't
        express, so it takes the grouped pandas map (``scan.grouped_map``;
        the string-op overload stays pure Catalyst). func sees each group's
        column as a pandas Series and must return a same-length array-like or
        a scalar (broadcast to the group, pandas transform semantics).

        Scale: one shuffle on hash buckets of the group keys; Python runs
        once per bucket. Output dtypes are inferred by running func on a
        sample group driver-side (``_sample_group``). Null-key rows come back
        as same-shape nulls via a left join on the unique row-order key."""
        import numpy as np

        from legate_pandas_spark.frontend.frame import ROW_ORDER, DataFrame, _qcol
        from legate_pandas_spark.frontend.scan import grouped_map

        src_sdf = self._src._ordered_sdf()
        dtypes = dict(src_sdf.dtypes)
        vis = [
            c
            for c in self._src.columns
            if c not in self._keys and is_numeric_spark_type(dtypes[c])
        ]

        def per_group(pdf):
            out = pdf[[ROW_ORDER]].copy()
            for c in vis:
                r = func(pdf[c])
                scalar = np.isscalar(r) or r is None
                out[c] = [r] * len(pdf) if scalar else getattr(r, "values", r)
            return out

        sample = self._sample_group([ROW_ORDER, *vis], "transform")
        schema = src_sdf.sparkSession.createDataFrame(per_group(sample).head(1)).schema
        cols = [_qcol(c) for c in (ROW_ORDER, *self._keys, *vis)]
        rows = src_sdf.filter(_notnull(self._keys)).select(*cols)
        res = grouped_map(rows, self._keys, per_group, schema)
        base = src_sdf.select(
            *[F.col(c) for c in src_sdf.columns if c == ROW_ORDER or c in self._src._index]
        )
        return DataFrame(base.join(res, ROW_ORDER, "left"), self._src._index)

    def ffill(self) -> "DataFrame":
        """Per-group forward fill (pandas groupby.ffill) — last(ignorenulls)
        over a window PARTITIONED by the group keys: the scale path (parallel
        per group), unlike frame-level ffill's documented global-order scan."""
        return self._fill(forward=True)

    def bfill(self) -> "DataFrame":
        return self._fill(forward=False)

    def _fill(self, forward: bool) -> "DataFrame":
        from pyspark.sql.window import Window

        pick = F.last if forward else F.first
        frame = (
            (Window.unboundedPreceding, Window.currentRow)
            if forward
            else (Window.currentRow, Window.unboundedFollowing)
        )
        return self._over(lambda c, w: pick(c, ignorenulls=True).over(w), frame=frame)

    def pct_change(self, periods: int = 1):
        """Per-group fractional change vs the previous row (pandas
        groupby.pct_change): lag window partitioned by the keys."""
        return self._over(
            lambda c, w: (c.cast("double") - F.lag(c.cast("double"), periods).over(w))
            / F.lag(c.cast("double"), periods).over(w),
            numeric=True,
        )

    def _visible(self, cols):
        return [
            c
            for c in cols
            if not (c.startswith("__") and c.endswith("__"))
        ]

    def filter(self, func):
        """pandas groupby.filter: keep the ROWS of groups where ``func(group
        subframe) -> bool``. The predicate is arbitrary Python, so this is the
        grouped pandas map (``scan.grouped_map``: one Python call per hash
        bucket, ``func`` once per group); prefer ``transform`` + boolean mask
        when the predicate is an aggregate comparison."""
        from legate_pandas_spark.frontend.frame import DataFrame
        from legate_pandas_spark.frontend.scan import grouped_map

        sdf = self._df._ordered_sdf()
        vis = self._visible(sdf.columns)

        def keep(pdf):
            return pdf if bool(func(pdf[vis])) else pdf.iloc[0:0]

        out = grouped_map(sdf, self._keys, keep, sdf.schema)
        return DataFrame(out, self._df._index)

    def apply(self, func):
        """pandas groupby.apply for DataFrame-returning ``func``: the grouped
        pandas map (``scan.grouped_map``). The output schema is inferred by
        running ``func`` on one sample group driver-side
        (``_sample_group``). Result is indexed by the group keys."""
        import pandas as pd

        from legate_pandas_spark.frontend.frame import DataFrame
        from legate_pandas_spark.frontend.scan import grouped_map

        sdf = self._df._ordered_sdf()
        vis = self._visible(sdf.columns)
        keys = list(self._keys)

        def per_group(pdf):
            out = func(pdf[vis])
            if not isinstance(out, pd.DataFrame):
                raise NotImplementedError(
                    "GroupBy.apply supports DataFrame-returning func; "
                    "use agg/transform for scalar reductions"
                )
            out = out.copy()
            for k in keys:
                if k not in out.columns:
                    out.insert(0, k, [pdf[k].iloc[0]] * len(out))
            return out

        sample = self._sample_group(vis, "apply")
        schema = sdf.sparkSession.createDataFrame(per_group(sample).head(1)).schema
        res = grouped_map(sdf, keys, per_group, schema)
        return DataFrame(res, tuple(keys) if self._as_index else ())

    def ewm(self, alpha: float = None, com=None, span=None, halflife=None):
        """Per-group exponentially weighted accessor (pandas groupby.ewm;
        alpha/com/span/halflife parameter resolution).
        EXACT fully-distributed keyed two-phase recurrence
        (``scan.ewm_columns``): partition-local EWM states per
        (group, partition) + a distributed per-group prefix-combine of the
        carries — no per-group sequential task, so one giant skewed group
        still parallelizes (the reference has no ewm; nearest is the two-phase
        scan machinery, core/column.py:644-687)."""
        from legate_pandas_spark.frontend.dtypes import resolve_ewm_alpha
        from legate_pandas_spark.frontend.ordered import Ewm

        return Ewm(
            self._df, resolve_ewm_alpha(alpha, com, span, halflife), self._keys
        )

    def __getitem__(self, col: str) -> "SeriesGroupBy":
        """``df.groupby(k)[col]`` — single-column grouped view."""
        return SeriesGroupBy(self, col)


class SeriesGroupBy:
    """Single-column grouped view: ``df.groupby(k)['x']``.

    ``transform`` returns a Series ON THE CALLER'S FRAME (a window expression
    over the group keys — the aligned form pandas users chain into
    ``df['x'] / df.groupby(k)['x'].transform('sum')``). Rows with null group
    keys get null, matching pandas' excluded-group contract."""

    def __init__(self, gb: GroupBy, col: str):
        self._gb = gb
        self._col = col

    def transform(self, op: str):
        from pyspark.sql.window import Window

        gb = self._gb
        fn = _AGG_FNS[op]
        w = Window.partitionBy(*gb._keys)
        expr = _with_identity(op, fn(F.col(self._col)).over(w))
        return gb._aligned(expr, self._col)

    def agg(self, op: str):
        return self._gb.agg({self._col: op})

    aggregate = agg  # pandas alias

    def sum(self):
        return self.agg("sum")

    def mean(self):
        return self.agg("mean")

    def min(self):
        return self.agg("min")

    def max(self):
        return self.agg("max")

    def count(self):
        return self.agg("count")

    def nunique(self):
        return self.agg("nunique")

    def rank(self, method: str = "min", ascending: bool = True):
        """Rank within each group (pandas groupby.rank) — partitioned window."""
        from pyspark.sql.window import Window

        gb = self._gb
        # nulls LAST in rank order (Spark asc defaults to nulls-first, which
        # would inflate every real rank by the null count; pandas excludes them)
        order = (
            F.asc_nulls_last(F.col(self._col))
            if ascending
            else F.desc_nulls_last(F.col(self._col))
        )
        w = Window.partitionBy(*gb._keys).orderBy(order)
        fns = {"min": F.rank, "dense": F.dense_rank, "first": F.row_number}
        if method == "average":
            # pandas default: mean of the positions of tied values =
            # rank + (tie_count - 1) / 2, computed from two window exprs
            cnt = F.count(F.lit(1)).over(
                Window.partitionBy(*gb._keys, F.col(self._col))
            )
            expr = (F.rank().over(w) + (cnt - 1) / 2.0).cast("double")
        else:
            expr = fns[method]().over(w).cast("double")
        expr = F.when(F.col(self._col).isNotNull(), expr)
        return gb._aligned(expr, self._col)

    def cumsum(self):
        """Per-group running total aligned to the caller's frame."""
        return self._cum(F.sum)

    def _cum(self, fn):
        from pyspark.sql.window import Window

        w = self._gb._window(Window.unboundedPreceding, Window.currentRow)
        expr = fn(F.col(self._col)).over(w)
        return self._gb._aligned(F.when(F.col(self._col).isNotNull(), expr), self._col)

    def cummax(self):
        """Per-group running max (pandas groupby.cummax; group-key-partitioned
        window — parallel per group). Null cells stay null (pandas skipna)."""
        return self._cum(F.max)

    def cummin(self):
        return self._cum(F.min)

    def diff(self, periods: int = 1):
        """Per-group difference vs the value ``periods`` rows back
        (lag window partitioned by the group keys)."""
        expr = F.col(self._col) - F.lag(F.col(self._col), periods).over(self._gb._window())
        return self._gb._aligned(expr, self._col)

    def idxmax(self):
        """Per-group index label (stored index) or global position (virtual
        RangeIndex) of the maximum — min_by/max_by hash aggregate, no sort."""
        return self._idx_reduce(descending=True)

    def idxmin(self):
        return self._idx_reduce(descending=False)

    def _idx_reduce(self, descending: bool):
        from legate_pandas_spark.frontend.frame import ROW_ORDER, DataFrame
        from legate_pandas_spark.frontend.indexing import _attach_positions
        from legate_pandas_spark.frontend.scan import _seq

        gb = self._gb
        if gb._df._index:
            label = gb._df._index[0]
            sdf = gb._df._sdf
        else:
            pos = f"__gidx_{next(_seq)}__"
            fresh = ROW_ORDER not in gb._df._sdf.columns
            sdf, _ = _attach_positions(
                gb._df._ordered_sdf(), fresh, pos_name=pos
            )
            label = pos
        pick = F.max_by if descending else F.min_by
        out = sdf.filter(F.col(self._col).isNotNull()).groupBy(*gb._keys).agg(
            pick(F.col(label), F.col(self._col)).alias(self._col)
        )
        return DataFrame(out, tuple(gb._keys))

    def ohlc(self):
        """Open/high/low/close per group (pandas groupby.ohlc): first/max/min/
        last by row order — one hash aggregate (min_by/max_by on the order
        key), no window."""
        from legate_pandas_spark.frontend.frame import ROW_ORDER, DataFrame

        gb = self._gb
        sdf = gb._df._ordered_sdf()
        c = F.col(self._col)
        keyed = F.when(c.isNotNull(), F.col(ROW_ORDER))
        out = sdf.groupBy(*gb._keys).agg(
            F.min_by(c, keyed).alias("open"),
            F.max(c).alias("high"),
            F.min(c).alias("low"),
            F.max_by(c, keyed).alias("close"),
        )
        return DataFrame(out, tuple(gb._keys))


class PivotedGroupBy:
    def __init__(self, gb: GroupBy, column: str, values: list):
        self._gb = gb
        self._column = column
        self._values = values

    def agg(self, spec: dict):
        from legate_pandas_spark.frontend.frame import DataFrame

        (col, op), = spec.items()
        pivoted = (
            self._gb._df._sdf.groupBy(*self._gb._keys)
            .pivot(self._column, self._values)
            .agg(_with_identity(op, _AGG_FNS[op](F.col(col))).alias(col))
        )
        return DataFrame(pivoted, tuple(self._gb._keys) if self._gb._as_index else ())

    aggregate = agg  # pandas alias
