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

_NUMERIC_ONLY = {"sum", "mean", "avg", "var", "std", "prod", "product"}


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
            cond = None
            for k in keys:
                c = F.col(k).isNotNull()
                cond = c if cond is None else (cond & c)
            if cond is not None:
                from legate_pandas_spark.frontend.frame import DataFrame

                df = DataFrame(df._sdf.filter(cond), df._index)
        self._df = df
        self._keys = keys
        self._as_index = as_index
        self._sort = sort
        self._dropna = dropna

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
        dtypes = dict(self._df._sdf.dtypes)
        exprs = [
            F.median(F.col(c)).alias(c)
            for c in self._df.columns
            if c not in self._keys and is_numeric_spark_type(dtypes[c])
        ]
        if not exprs:
            raise ValueError("no numeric columns for median")
        return self._finish(self._df._sdf.groupBy(*self._keys).agg(*exprs))

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

    def cumcount(self):
        """0-based position of each row within its group (pandas
        groupby.cumcount) — row_number window partitioned by the keys (parallel
        per group, never a global window)."""
        from pyspark.sql.window import Window

        from legate_pandas_spark.frontend.frame import ROW_ORDER
        from legate_pandas_spark.frontend.series import Series

        self._src._sdf = self._src._ordered_sdf()
        w = Window.partitionBy(*self._keys).orderBy(F.asc(ROW_ORDER))
        expr = (F.row_number().over(w) - 1).cast("long")
        notnull = None
        for k in self._keys:
            c = F.col(k).isNotNull()
            notnull = c if notnull is None else (notnull & c)
        if notnull is not None:
            expr = F.when(notnull, expr)
        return Series(self._src, expr, "cumcount")

    def nth(self, n: int) -> "DataFrame":
        """The n-th row of each group in row order (pandas groupby.nth;
        negative n counts from the end). One partitioned row_number window +
        filter."""
        from pyspark.sql.window import Window

        from legate_pandas_spark.frontend.frame import ROW_ORDER, DataFrame

        sdf = self._df._ordered_sdf()
        asc = n >= 0
        target = n + 1 if asc else -n
        order = F.asc(ROW_ORDER) if asc else F.desc(ROW_ORDER)
        w = Window.partitionBy(*self._keys).orderBy(order)
        out = (
            sdf.withColumn("__nth__", F.row_number().over(w))
            .filter(F.col("__nth__") == target)
            .drop("__nth__")
        )
        return DataFrame(out, self._df._index)

    def head(self, n: int = 5) -> "DataFrame":
        """First n rows of each group (pandas groupby.head) — partitioned
        row_number, parallel per group."""
        return self._group_limit(n, first=True)

    def tail(self, n: int = 5) -> "DataFrame":
        return self._group_limit(n, first=False)

    def _group_limit(self, n: int, first: bool) -> "DataFrame":
        from pyspark.sql.window import Window

        from legate_pandas_spark.frontend.frame import ROW_ORDER, DataFrame

        sdf = self._df._ordered_sdf()
        order = F.asc(ROW_ORDER) if first else F.desc(ROW_ORDER)
        w = Window.partitionBy(*self._keys).orderBy(order)
        out = (
            sdf.withColumn("__rn__", F.row_number().over(w))
            .filter(F.col("__rn__") <= n)
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

    def rolling_sum(self, window: int):
        return self._over(
            lambda c, w: F.sum(c).over(w.rowsBetween(-(window - 1), 0)), numeric=True
        )

    def rolling_mean(self, window: int):
        return self._over(
            lambda c, w: F.avg(c).over(w.rowsBetween(-(window - 1), 0)), numeric=True
        )

    def rolling(self, window: int, min_periods: int | None = None) -> "GroupedRolling":
        """pandas groupby.rolling object API: sum/mean/min/max/std/var/count with
        min_periods semantics, over a window PARTITIONED by the group keys —
        parallel per group, the scale path (frame-level .rolling documents the
        global-order variant)."""
        return GroupedRolling(self, window, min_periods)

    def expanding(self, min_periods: int = 1) -> "GroupedExpanding":
        return GroupedExpanding(self, min_periods)

    def _over(self, fn, numeric: bool = False):
        from pyspark.sql.window import Window

        from legate_pandas_spark.frontend.frame import ROW_ORDER, DataFrame

        sdf = self._df._ordered_sdf()
        w = Window.partitionBy(*self._keys).orderBy(F.asc(ROW_ORDER))
        dtypes = dict(sdf.dtypes)
        sel = []
        for c in sdf.columns:
            if c in self._keys or c == ROW_ORDER:
                sel.append(F.col(c))
            elif not numeric or is_numeric_spark_type(dtypes[c]):
                sel.append(fn(F.col(c), w).alias(c))
            else:
                sel.append(F.col(c))
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
        from pyspark.sql.window import Window

        from legate_pandas_spark.frontend.frame import ROW_ORDER, DataFrame

        sdf = self._df._ordered_sdf()
        w = (
            Window.partitionBy(*self._keys)
            .orderBy(F.asc(ROW_ORDER))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        dtypes = dict(sdf.dtypes)
        sel = []
        for c in sdf.columns:
            if c in self._keys or c == ROW_ORDER:
                sel.append(F.col(c))
            elif is_numeric_spark_type(dtypes[c]):
                sel.append(fn(F.col(c)).over(w).alias(c))
            else:
                sel.append(F.col(c))
        return DataFrame(sdf.select(*sel), self._df._index)

    # -------------------------------------------------- transform / filter / apply
    def transform(self, op: str):
        """pandas groupby.transform: broadcast a per-group aggregate back onto
        every row. String ops compile to an UNBOUNDED window partitioned by the
        group keys — pure Catalyst, no UDF, parallel per group (the scale path;
        a callable would force the applyInPandas hop, use ``apply`` for that).
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
        notnull = None
        for k in self._keys:
            c = F.col(k).isNotNull()
            notnull = c if notnull is None else (notnull & c)
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
                if notnull is not None:
                    expr = F.when(notnull, expr)
                sel.append(expr.alias(c))
        return DataFrame(sdf.select(*sel), self._src._index)

    def _transform_callable(self, func) -> "DataFrame":
        """transform with a Python callable — the one shape built-ins can't
        express, so it takes the Arrow-batched grouped-map hop (applyInPandas;
        the string-op overload stays pure Catalyst). func sees each group's
        column as a pandas Series and must return a same-length array-like or
        a scalar (broadcast to the group, pandas transform semantics).

        Scale: one shuffle on the group keys; each group is one Arrow batch.
        Output dtypes are inferred by running func once on a sample group
        driver-side (schema must be group-invariant — Spark's own
        applyInPandas contract). Null-key rows come back as same-shape nulls
        via a left join on the unique row-order key."""
        import numpy as np
        import pandas as pd

        from legate_pandas_spark.frontend.frame import ROW_ORDER, DataFrame

        src_sdf = self._src._ordered_sdf()
        dtypes = dict(src_sdf.dtypes)
        vis = [
            c
            for c in self._src.columns
            if c not in self._keys and is_numeric_spark_type(dtypes[c])
        ]
        notnull = None
        for k in self._keys:
            c = F.col(k).isNotNull()
            notnull = c if notnull is None else (notnull & c)
        filtered = src_sdf.filter(notnull) if notnull is not None else src_sdf

        def _col_result(series: pd.Series, pdf_len: int):
            r = func(series)
            if np.isscalar(r) or r is None:
                return [r] * pdf_len
            return getattr(r, "values", r)

        first = filtered.select(*self._keys).limit(1).collect()
        if not first:
            raise ValueError("transform on empty frame")
        k0 = first[0]
        cond = None
        for k in self._keys:
            c = F.col(k) == F.lit(k0[k])
            cond = c if cond is None else (cond & c)
        # bound the driver-side sample: output DTYPE inference doesn't need
        # the whole group, and a skewed key could otherwise OOM the driver
        sample = (
            filtered.filter(cond).select(ROW_ORDER, *vis).limit(10_000).toPandas()
        )
        proto = pd.DataFrame({ROW_ORDER: sample[ROW_ORDER]})
        for c in vis:
            proto[c] = _col_result(sample[c], len(sample))
        spark = src_sdf.sparkSession
        schema = spark.createDataFrame(proto.head(1)).schema

        def wrapper(pdf):
            out = pdf[[ROW_ORDER]].copy()
            for c in vis:
                out[c] = _col_result(pdf[c], len(pdf))
            return out

        res = (
            filtered.select(ROW_ORDER, *self._keys, *vis)
            .groupBy(*self._keys)
            .applyInPandas(wrapper, schema=schema)
        )
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

        from legate_pandas_spark.frontend.frame import ROW_ORDER, DataFrame

        sdf = self._df._ordered_sdf()
        base = Window.partitionBy(*self._keys).orderBy(F.asc(ROW_ORDER))
        if forward:
            w = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        else:
            w = base.rowsBetween(Window.currentRow, Window.unboundedFollowing)
        pick = F.last if forward else F.first
        sel = []
        for c in sdf.columns:
            if c in self._keys or c == ROW_ORDER or c in self._df._index:
                sel.append(F.col(c))
            else:
                sel.append(pick(F.col(c), ignorenulls=True).over(w).alias(c))
        return DataFrame(sdf.select(*sel), self._df._index)

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
        Arrow-batched applyInPandas path (one Python hop per group); prefer
        ``transform`` + boolean mask when the predicate is an aggregate
        comparison."""
        from legate_pandas_spark.frontend.frame import DataFrame

        sdf = self._df._ordered_sdf()
        vis = self._visible(sdf.columns)

        def wrapper(pdf):
            return pdf if bool(func(pdf[vis])) else pdf.iloc[0:0]

        out = sdf.groupBy(*self._keys).applyInPandas(wrapper, schema=sdf.schema)
        return DataFrame(out, self._df._index)

    def apply(self, func):
        """pandas groupby.apply for DataFrame-returning ``func``: grouped-map
        applyInPandas. The output schema is inferred by running ``func`` on ONE
        sample group driver-side (schema must be group-invariant — same
        contract as Spark's own applyInPandas). Result is indexed by the group
        keys."""
        import pandas as pd

        from legate_pandas_spark.frontend.frame import DataFrame

        sdf = self._df._ordered_sdf()
        vis = self._visible(sdf.columns)
        first = sdf.select(*self._keys).limit(1).collect()
        if not first:
            raise ValueError("apply on empty frame")
        k0 = first[0]
        cond = None
        for k in self._keys:
            c = F.col(k) == F.lit(k0[k])
            cond = c if cond is None else (cond & c)
        # bounded sample — schema inference only; a skewed (dominant) group
        # must not be collected whole to the driver
        sample = sdf.filter(cond).select(*vis).limit(10_000).toPandas()
        out0 = func(sample)
        if not isinstance(out0, pd.DataFrame):
            raise NotImplementedError(
                "GroupBy.apply supports DataFrame-returning func; "
                "use agg/transform for scalar reductions"
            )
        spark = sdf.sparkSession
        proto = out0.head(1).copy()
        for k in self._keys:
            if k not in proto.columns:
                proto.insert(0, k, [k0[k]] * len(proto))
        schema = spark.createDataFrame(proto).schema
        keys = list(self._keys)

        def wrapper(key, pdf):
            out = func(pdf[vis].reset_index(drop=True))
            out = out.copy()
            for k, v in zip(keys, key):
                if k not in out.columns:
                    out.insert(0, k, [v] * len(out))
            return out

        res = sdf.groupBy(*self._keys).applyInPandas(wrapper, schema=schema)
        return DataFrame(res, tuple(self._keys) if self._as_index else ())

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
        from legate_pandas_spark.frontend.frame import Ewm

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

        from legate_pandas_spark.frontend.series import Series

        gb = self._gb
        fn = _AGG_FNS[op]
        # the window shuffles — pin the caller's row order first so exports
        # and positional ops restore it
        gb._src._sdf = gb._src._ordered_sdf()
        w = Window.partitionBy(*gb._keys)
        expr = _with_identity(op, fn(F.col(self._col)).over(w))
        notnull = None
        for k in gb._keys:
            c = F.col(k).isNotNull()
            notnull = c if notnull is None else (notnull & c)
        if notnull is not None:
            expr = F.when(notnull, expr)
        return Series(gb._src, expr, self._col)

    def agg(self, op: str):
        return self._gb.agg({self._col: op})

    aggregate = agg  # pandas alias

    def _named(self, op: str):
        return self._gb.agg({self._col: op})

    def sum(self):
        return self._named("sum")

    def mean(self):
        return self._named("mean")

    def min(self):
        return self._named("min")

    def max(self):
        return self._named("max")

    def count(self):
        return self._named("count")

    def nunique(self):
        return self._named("nunique")

    def rank(self, method: str = "min", ascending: bool = True):
        """Rank within each group (pandas groupby.rank) — partitioned window."""
        from pyspark.sql.window import Window

        from legate_pandas_spark.frontend.series import Series

        gb = self._gb
        gb._src._sdf = gb._src._ordered_sdf()
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
        notnull = None
        for k in gb._keys:
            c = F.col(k).isNotNull()
            notnull = c if notnull is None else (notnull & c)
        if notnull is not None:
            expr = F.when(notnull, expr)
        return Series(gb._src, expr, self._col)

    def cumsum(self):
        """Per-group running total aligned to the caller's frame."""
        from pyspark.sql.window import Window

        from legate_pandas_spark.frontend.frame import ROW_ORDER
        from legate_pandas_spark.frontend.series import Series

        gb = self._gb
        gb._src._sdf = gb._src._ordered_sdf()
        w = (
            Window.partitionBy(*gb._keys)
            .orderBy(F.asc(ROW_ORDER))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        expr = F.sum(F.col(self._col)).over(w)
        notnull = None
        for k in gb._keys:
            c = F.col(k).isNotNull()
            notnull = c if notnull is None else (notnull & c)
        if notnull is not None:
            expr = F.when(notnull, expr)
        return Series(gb._src, expr, self._col)

    def _cum(self, fn):
        from pyspark.sql.window import Window

        from legate_pandas_spark.frontend.frame import ROW_ORDER
        from legate_pandas_spark.frontend.series import Series

        gb = self._gb
        gb._src._sdf = gb._src._ordered_sdf()
        w = (
            Window.partitionBy(*gb._keys)
            .orderBy(F.asc(ROW_ORDER))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        expr = fn(F.col(self._col)).over(w)
        notnull = None
        for k in gb._keys:
            c = F.col(k).isNotNull()
            notnull = c if notnull is None else (notnull & c)
        if notnull is not None:
            expr = F.when(notnull, expr)
        return Series(gb._src, F.when(F.col(self._col).isNotNull(), expr), self._col)

    def cummax(self):
        """Per-group running max (pandas groupby.cummax; group-key-partitioned
        window — parallel per group). Null cells stay null (pandas skipna)."""
        return self._cum(F.max)

    def cummin(self):
        return self._cum(F.min)

    def diff(self, periods: int = 1):
        """Per-group difference vs the value ``periods`` rows back
        (lag window partitioned by the group keys)."""
        from pyspark.sql.window import Window

        from legate_pandas_spark.frontend.frame import ROW_ORDER
        from legate_pandas_spark.frontend.series import Series

        gb = self._gb
        gb._src._sdf = gb._src._ordered_sdf()
        w = Window.partitionBy(*gb._keys).orderBy(F.asc(ROW_ORDER))
        expr = F.col(self._col) - F.lag(F.col(self._col), periods).over(w)
        notnull = None
        for k in gb._keys:
            c = F.col(k).isNotNull()
            notnull = c if notnull is None else (notnull & c)
        if notnull is not None:
            expr = F.when(notnull, expr)
        return Series(gb._src, expr, self._col)

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


class GroupedRolling:
    """Per-group rolling windows (pandas groupby.rolling): same aggregate
    surface as the frame-level Rolling, but the window is PARTITIONED by the
    group keys — every group scans in parallel, no global ordering anywhere.
    Null-key rows are excluded (groupby dropna contract)."""

    def __init__(self, gb: GroupBy, window: int, min_periods: int | None = None):
        from pyspark.sql.window import Window

        from legate_pandas_spark.frontend.frame import ROW_ORDER

        self._gb = gb
        self._df = gb._df
        self._n = window
        self._mp = window if min_periods is None else min_periods
        self._keys = gb._keys
        self._Window, self._ROW_ORDER = Window, ROW_ORDER

    def _frame_spec(self):
        return (
            self._Window.partitionBy(*self._keys)
            .orderBy(F.asc(self._ROW_ORDER))
            .rowsBetween(-(self._n - 1), 0)
        )

    def _passthrough(self, c: str) -> bool:
        return c == self._ROW_ORDER or c in self._df._index or c in self._keys

    def _apply(self, fn):
        return self._apply_expr(lambda c, w: fn(c).over(w))

    def _apply_expr(self, make):
        """Window-spec loop over the group-key-PARTITIONED frame (already
        partition-parallel — the frame-level ghost machinery is unnecessary
        here; the group keys ARE the partitioning)."""
        from legate_pandas_spark.frontend.dtypes import is_numeric_spark_type
        from legate_pandas_spark.frontend.frame import DataFrame

        sdf = self._df._ordered_sdf()
        w = self._frame_spec()
        mp = self._mp
        dtypes = dict(sdf.dtypes)
        sel = []
        for c in sdf.columns:
            if self._passthrough(c) or not is_numeric_spark_type(dtypes[c]):
                sel.append(F.col(c))
            else:
                expr = make(F.col(c), w)
                if mp > 1:
                    expr = F.when(F.count(F.col(c)).over(w) >= mp, expr)
                sel.append(expr.alias(c))
        return DataFrame(sdf.select(*sel), self._df._index)

    def median(self):
        return self.quantile(0.5)

    def quantile(self, q: float):
        """Exact interpolated per-group rolling quantile — k-sized frame
        lists; see frame-level Rolling.quantile."""
        from legate_pandas_spark.frontend.scan import window_quantile_expr

        return self._apply_expr(lambda c, w: window_quantile_expr(c, w, q))

    def apply(self, func, raw: bool = False):
        """Arbitrary Python rolling function per group (pandas
        groupby.rolling().apply) — each group is one Arrow batch (groups ARE
        the partition unit, no boundary exchange needed)."""
        from pyspark.sql import types as T

        from legate_pandas_spark.frontend.dtypes import is_numeric_spark_type
        from legate_pandas_spark.frontend.frame import DataFrame

        sdf = self._df._ordered_sdf()
        dtypes = dict(sdf.dtypes)
        targets = [
            c
            for c in sdf.columns
            if not self._passthrough(c) and is_numeric_spark_type(dtypes[c])
        ]
        fields = [
            T.StructField(f.name, T.DoubleType()) if f.name in targets else f
            for f in sdf.schema.fields
        ]
        schema = T.StructType(fields)
        n, mp, order = self._n, self._mp, self._ROW_ORDER

        def fn(pdf):
            pdf = pdf.sort_values(order).reset_index(drop=True)
            out = pdf.copy()
            for c in targets:
                out[c] = pdf[c].rolling(n, min_periods=mp).apply(func, raw=raw)
            return out

        res = sdf.groupBy(*self._keys).applyInPandas(fn, schema=schema)
        return DataFrame(res, self._df._index)

    def sum(self):
        return self._apply(F.sum)

    def mean(self):
        return self._apply(F.avg)

    def max(self):
        return self._apply(F.max)

    def min(self):
        return self._apply(F.min)

    def std(self, ddof: int = 1):
        return self._apply(F.stddev_samp if ddof == 1 else F.stddev_pop)

    def var(self, ddof: int = 1):
        return self._apply(F.var_samp if ddof == 1 else F.var_pop)

    def count(self):
        return self._apply(F.count)

    def corr(self, a: str, b: str):
        """Per-group rolling Pearson correlation between two columns,
        appended as ``<a>_<b>_corr`` (pairwise-complete rows; min_periods
        counts pairwise observations). The window is group-key-partitioned —
        every group computes in parallel. Inherited by GroupedExpanding with
        its unbounded frame."""
        return self._pairwise(a, b, F.corr, "corr")

    def cov(self, a: str, b: str):
        """Per-group rolling sample covariance (ddof=1), appended as
        ``<a>_<b>_cov``."""
        return self._pairwise(a, b, F.covar_samp, "cov")

    def _pairwise(self, a: str, b: str, fn, suffix: str):
        from legate_pandas_spark.frontend.frame import DataFrame

        sdf = self._df._ordered_sdf()
        w = self._frame_spec()
        both = F.when(F.col(a).isNotNull() & F.col(b).isNotNull(), F.lit(1))
        expr = F.when(
            F.count(both).over(w) >= self._mp, fn(F.col(a), F.col(b)).over(w)
        )
        return DataFrame(
            sdf.withColumn(f"{a}_{b}_{suffix}", expr), self._df._index
        )


class GroupedExpanding(GroupedRolling):
    """Per-group expanding window = grouped rolling with an unbounded-preceding
    frame."""

    def __init__(self, gb: GroupBy, min_periods: int = 1):
        super().__init__(gb, window=1, min_periods=min_periods)

    def _frame_spec(self):
        return (
            self._Window.partitionBy(*self._keys)
            .orderBy(F.asc(self._ROW_ORDER))
            .rowsBetween(self._Window.unboundedPreceding, self._Window.currentRow)
        )

    def quantile(self, q: float):
        raise NotImplementedError(
            "expanding quantile would collect an O(rows²) list per group; "
            "use groupby(...).agg percentile/approx_percentile for the "
            "final-state quantile"
        )


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
