"""Series facade: a named column expression bound to a parent frame's lineage.

Mirrors the reference's ``Series`` frontend (frontend/series.py) where every
element-wise op immediately dispatched a Legion task; here each op composes a
Catalyst expression, so chains of scalar ops fuse into one whole-stage-codegen
span — zero per-op overhead.

Alignment contract: binary ops between two Series require them to share lineage
(same parent frame), matching the reference's aligned-only support
(README.md:208-218; core/index.py:87-102 raises on unaligned partitions).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column
from pyspark.sql.window import Window

from legate_pandas_spark.frontend.dtypes import (
    floordiv,
    floormod,
    null_compare_false,
    to_spark_type,
    truediv,
)


class Series:
    def __init__(self, frame, col: Column = None, name: str = None):
        """Internal form: (parent frame, column expr, name). Convenience form
        (reference sr_create): ``Series(list_or_pandas_series, name=...)``."""
        if col is None and not hasattr(frame, "_sdf"):
            import pandas as pd

            from legate_pandas_spark.frontend.frame import from_pandas

            data = frame
            name = name or (data.name if isinstance(data, pd.Series) else None) or "0"
            pdf = pd.DataFrame({name: data})
            parent = from_pandas(pdf)
            frame, col = parent, F.col(name)
        self._frame = frame  # parent DataFrame facade (lineage anchor)
        self._col = col
        self.name = name
        self._cat = None  # CatMeta when this column carries a categorical dtype
        # --- non-null provenance (frame._nonnull_cols producers) ----------
        # _strict_cols: source columns c with (c null => this expr null);
        # contrapositive: expr non-null => c non-null. Plain column refs and
        # null-propagating arithmetic carry it.
        # _nonnull_if_true: for boolean exprs — columns proven non-null on
        # rows where the expr is TRUE (null-compare-false comparisons, isin,
        # between, notna, and &/|/~ compositions). A boolean-mask filter
        # consumes (_nonnull_if_true | _strict_cols) into the output frame's
        # _nonnull_cols, so df[df.k > 0].merge(...) compiles the plain-
        # equality fast path (exchange reuse — see frame._nonnull_cols).
        self._strict_cols: frozenset = frozenset()
        self._nonnull_if_true: frozenset = frozenset()
        # IANA zone name when this column is tz-aware (dt.tz_localize):
        # values are stored as UTC instants, the pandas internal form.
        self._tz: str | None = None

    # -- plumbing ----------------------------------------------------------
    def _other_col(self, other):
        if isinstance(other, Series):
            if other._frame is not None and self._frame is not None and other._frame._sdf is not self._frame._sdf:
                raise ValueError(
                    "binary ops require Series from the same frame (aligned); "
                    "merge/join the frames first (reference README.md:208-218)"
                )
            return other._col
        return F.lit(other)

    def _wrap(
        self, col: Column, name: str | None = None, *, strict=None, proof=None
    ) -> "Series":
        out = Series(self._frame, col, name or self.name)
        if strict is not None:
            out._strict_cols = frozenset(strict)
        if proof is not None:
            out._nonnull_if_true = frozenset(proof)
        return out

    @staticmethod
    def _strict_of(other) -> frozenset:
        return other._strict_cols if isinstance(other, Series) else frozenset()

    @staticmethod
    def _proof_of(other) -> frozenset:
        """Columns proven non-null when `other` (a mask operand) is true."""
        if isinstance(other, Series):
            return other._nonnull_if_true | other._strict_cols
        return frozenset()

    def spark_col(self) -> Column:
        return self._col

    def _method_binop(self, other, op, fill_value=None):
        """pandas method-form binop: ``fill_value`` substitutes for a missing
        value in EITHER operand; both-missing stays null (pandas contract).
        Pure expression — no extra plan nodes beyond the op itself."""
        a, b = self._col, self._other_col(other)
        if fill_value is None:
            return self._wrap(op(a, b))
        fa = F.coalesce(a, F.lit(fill_value))
        fb = F.coalesce(b, F.lit(fill_value))
        return self._wrap(F.when(~(a.isNull() & b.isNull()), op(fa, fb)))

    # -- arithmetic (pandas promotion rules) -------------------------------
    def __add__(self, other):
        return self._wrap(
            self._col + self._other_col(other),
            strict=self._strict_cols | self._strict_of(other),
        )

    __radd__ = __add__

    def __sub__(self, other):
        return self._wrap(
            self._col - self._other_col(other),
            strict=self._strict_cols | self._strict_of(other),
        )

    def __rsub__(self, other):
        return self._wrap(
            self._other_col(other) - self._col,
            strict=self._strict_cols | self._strict_of(other),
        )

    def __mul__(self, other):
        return self._wrap(
            self._col * self._other_col(other),
            strict=self._strict_cols | self._strict_of(other),
        )

    __rmul__ = __mul__

    def __truediv__(self, other):
        return self._wrap(truediv(self._col, self._other_col(other)))

    def __rtruediv__(self, other):
        return self._wrap(truediv(self._other_col(other), self._col))

    def __floordiv__(self, other):
        return self._wrap(floordiv(self._col, self._other_col(other)))

    def __mod__(self, other):
        return self._wrap(floormod(self._col, self._other_col(other)))

    def __rmod__(self, other):
        return self._wrap(floormod(self._other_col(other), self._col))

    def __pow__(self, other):
        return self._wrap(F.pow(self._col, self._other_col(other)))

    def __neg__(self):
        return self._wrap(-self._col, strict=self._strict_cols)

    def __abs__(self):
        return self._wrap(F.abs(self._col), strict=self._strict_cols)

    def abs(self):
        return self.__abs__()

    def round(self, decimals: int = 0):
        return self._wrap(F.round(self._col, decimals))

    def floor(self):
        return self._wrap(F.floor(self._col))

    # -- comparisons: null-compare-false, non-nullable result --------------
    def __eq__(self, other):  # type: ignore[override]
        return self._wrap(
            null_compare_false(self._col == self._other_col(other)),
            proof=self._strict_cols | self._strict_of(other),
        )

    def __ne__(self, other):  # type: ignore[override]
        # pandas: NaN != x is TRUE (the one comparison where missing values
        # pass), matching query()'s total-atom compilation — null operands
        # coalesce to TRUE, so no non-null proof can be emitted (a kept row
        # may have a null operand).
        return self._wrap(
            F.coalesce(self._col != self._other_col(other), F.lit(True)),
        )

    def __lt__(self, other):
        return self._wrap(
            null_compare_false(self._col < self._other_col(other)),
            proof=self._strict_cols | self._strict_of(other),
        )

    def __le__(self, other):
        return self._wrap(
            null_compare_false(self._col <= self._other_col(other)),
            proof=self._strict_cols | self._strict_of(other),
        )

    def __gt__(self, other):
        return self._wrap(
            null_compare_false(self._col > self._other_col(other)),
            proof=self._strict_cols | self._strict_of(other),
        )

    def __ge__(self, other):
        return self._wrap(
            null_compare_false(self._col >= self._other_col(other)),
            proof=self._strict_cols | self._strict_of(other),
        )

    # -- boolean / bitwise --------------------------------------------------
    def __and__(self, other):
        # conjunction true => both operands true => both proofs apply
        return self._wrap(
            self._col & self._other_col(other),
            proof=self._proof_of(self) | self._proof_of(other),
        )

    def __or__(self, other):
        # disjunction true => at least one true => only the shared proof holds
        return self._wrap(
            self._col | self._other_col(other),
            proof=self._proof_of(self) & self._proof_of(other),
        )

    def __xor__(self, other):
        return self._wrap(
            F.expr("1=0") if False else (self._col.cast("boolean") != self._other_col(other).cast("boolean"))
        )

    def __invert__(self):
        # ~x true => x false (non-null) => x's strict sources are non-null;
        # x's own _nonnull_if_true does NOT survive negation (it held only
        # on the true rows, e.g. null-compare-false comparisons)
        return self._wrap(
            ~self._col, strict=self._strict_cols, proof=self._strict_cols
        )

    # -- pandas method-form binops (fill_value supported) -------------------
    def add(self, other, fill_value=None):
        return self._method_binop(other, lambda a, b: a + b, fill_value)

    def radd(self, other, fill_value=None):
        return self._method_binop(other, lambda a, b: b + a, fill_value)

    def sub(self, other, fill_value=None):
        return self._method_binop(other, lambda a, b: a - b, fill_value)

    def rsub(self, other, fill_value=None):
        return self._method_binop(other, lambda a, b: b - a, fill_value)

    def mul(self, other, fill_value=None):
        return self._method_binop(other, lambda a, b: a * b, fill_value)

    def rmul(self, other, fill_value=None):
        return self._method_binop(other, lambda a, b: b * a, fill_value)

    def div(self, other, fill_value=None):
        return self._method_binop(other, truediv, fill_value)

    truediv = div

    def rdiv(self, other, fill_value=None):
        return self._method_binop(other, lambda a, b: truediv(b, a), fill_value)

    rtruediv = rdiv

    def floordiv(self, other, fill_value=None):
        return self._method_binop(other, floordiv, fill_value)

    def rfloordiv(self, other, fill_value=None):
        return self._method_binop(other, lambda a, b: floordiv(b, a), fill_value)

    def mod(self, other, fill_value=None):
        return self._method_binop(other, floormod, fill_value)

    def pow(self, other, fill_value=None):
        return self._method_binop(other, lambda a, b: F.pow(a, b), fill_value)

    def rmod(self, other, fill_value=None):
        return self._method_binop(other, lambda a, b: floormod(b, a), fill_value)

    def rpow(self, other, fill_value=None):
        return self._method_binop(other, lambda a, b: F.pow(b, a), fill_value)

    def eq(self, other):
        return self.__eq__(other)

    def ne(self, other):
        return self.__ne__(other)

    def lt(self, other):
        return self.__lt__(other)

    def le(self, other):
        return self.__le__(other)

    def gt(self, other):
        return self.__gt__(other)

    def ge(self, other):
        return self.__ge__(other)

    def repeat(self, repeats: int):
        """pandas Series.repeat(int): each element repeated ``repeats``
        times, consecutively in row order (order key = old*repeats+i, no
        shuffle added by the explode)."""
        from legate_pandas_spark.frontend.frame import ROW_ORDER, DataFrame

        if repeats < 0:
            raise ValueError("negative dimensions are not allowed")
        name = self.name or "value"
        sdf = self._frame._ordered_sdf().select(
            F.col(ROW_ORDER), self._col.alias(name)
        )
        if repeats == 0:
            # sequence(0, -1) would emit [0, -1] (default step -1) and
            # duplicate every element; pandas returns an empty Series.
            from legate_pandas_spark.frontend.frame import DataFrame as _DF

            return _DF(sdf.filter(F.lit(False)), ())[name]
        rep = sdf.select(
            F.col(ROW_ORDER),
            name,
            F.explode(F.sequence(F.lit(0), F.lit(repeats - 1))).alias("__ri__"),
        ).select(
            (F.col(ROW_ORDER) * repeats + F.col("__ri__")).alias(ROW_ORDER),
            name,
        )
        return DataFrame(rep, ())[name]

    # -- nulls ----------------------------------------------------------------
    def __getitem__(self, key):
        """Boolean-mask selection (``sr[sr > 0]``) or positional/label lookup
        via the one-column frame (reference sr_indexing)."""
        if isinstance(key, Series):  # boolean mask
            name = self.name or "0"
            frame = self.to_frame(name)
            filtered = frame._replace(frame._sdf.filter(key._col))
            return filtered[name]
        if isinstance(key, slice):
            return self.iloc[key]
        return self.loc[key]

    def __iter__(self):
        # explicit: without this, Python's __getitem__ fallback would iterate
        # through loc lookups (one job per element)
        return iter(self.tolist())

    @property
    def loc(self):
        return _SeriesLocIndexer(self, positional=False)

    @property
    def iloc(self):
        return _SeriesLocIndexer(self, positional=True)

    @property
    def at(self):
        return _SeriesScalarIndexer(self, positional=False)

    @property
    def iat(self):
        return _SeriesScalarIndexer(self, positional=True)

    def isna(self):
        return self._wrap(self._col.isNull(), name=self.name)

    isnull = isna

    def notna(self):
        return self._wrap(
            self._col.isNotNull(), name=self.name, proof=self._strict_cols
        )

    notnull = notna

    def fillna(self, value):
        if self._cat is not None and self._cat.categories is not None:
            # pandas: categorical fill values must be existing categories
            # (reference fillna on CategoryColumn, core/column.py:530-556)
            if value not in self._cat.categories:
                raise TypeError(
                    f"Cannot setitem on a Categorical with a new category ({value!r})"
                )
        out = self._wrap(F.coalesce(self._col, F.lit(value)))
        out._cat = self._cat
        return out

    def isin(self, values):
        # a null value never matches (SQL IN with null -> null -> false),
        # so mask true proves the source non-null even if values has a None
        return self._wrap(
            null_compare_false(self._col.isin(list(values))),
            proof=self._strict_cols,
        )

    def between(self, left, right):
        return self._wrap(
            null_compare_false(self._col.between(left, right)),
            proof=self._strict_cols,
        )

    def where(self, cond, other=None):
        """Keep values where cond is True, else replace with other (pandas)."""
        cond_col = cond._col if isinstance(cond, Series) else F.lit(cond)
        other_col = self._other_col(other) if other is not None else F.lit(None)
        return self._wrap(F.when(cond_col, self._col).otherwise(other_col))

    def mask(self, cond, other=None):
        """Replace values where cond is True (inverse of where)."""
        cond_col = cond._col if isinstance(cond, Series) else F.lit(cond)
        other_col = self._other_col(other) if other is not None else F.lit(None)
        return self._wrap(F.when(cond_col, other_col).otherwise(self._col))

    def clip(self, lower=None, upper=None):
        # nulls stay null (pandas): Spark's greatest/least SKIP nulls and
        # would fill a missing value with the bound — guard on isNull
        src = self._col
        col = src
        if lower is not None:
            col = F.greatest(col, F.lit(lower))
        if upper is not None:
            col = F.least(col, F.lit(upper))
        if lower is not None or upper is not None:
            col = F.when(src.isNull(), F.lit(None)).otherwise(col)
        return self._wrap(col)

    # -- ordered ops (two-phase distributed scan over the row-order key) -----
    def _cum(self, kind: str):
        """Global cumulative scan — the reference's two-phase carry design
        (core/column.py:644-687): partition-local scan + broadcast carry,
        no unpartitioned window (scan.cum_columns). The output lands in a
        dunder column on the parent frame; the Series wraps it by name."""
        from legate_pandas_spark.frontend.scan import _seq, cum_columns

        out = f"__scum_{next(_seq)}__"
        self._frame._sdf = cum_columns(
            self._frame._ordered_sdf(), {out: self._col}, kind
        )
        return self._wrap(F.col(out))

    def cumsum(self):
        return self._cum("sum")

    def cummax(self):
        return self._cum("max")

    def cummin(self):
        return self._cum("min")

    def cumprod(self):
        """Cumulative product via exp∘cumsum∘log magnitude with sign-parity and
        zero tracking (SURVEY §2.6's PROD scan without a UDAF), distributed via
        the two-phase carry. Nulls are skipped (pandas skipna) but stay null at
        their own position."""
        return self._cum("prod")

    def rolling(self, window: int, min_periods: int | None = None):
        """Series rolling window (pandas s.rolling(k).mean() idiom) — same
        boundary-ghost distributed machinery as frame-level Rolling."""
        return SeriesRolling(self, window, min_periods)

    def ewm(self, alpha: float = None, com=None, span=None, halflife=None):
        """Series exponentially weighted accessor (alpha/com/span/halflife,
        pandas parameter resolution) — the exact two-phase distributed
        recurrence (scan.ewm_columns)."""
        from legate_pandas_spark.frontend.dtypes import resolve_ewm_alpha

        return SeriesEwm(self, resolve_ewm_alpha(alpha, com, span, halflife))

    def expanding(self, min_periods: int = 1):
        """Series expanding window — two-phase running carry, no
        unpartitioned window."""
        return SeriesExpanding(self, min_periods)

    def _fill(self, forward: bool):
        from legate_pandas_spark.frontend.scan import _seq, fill_columns

        out = f"__sfill_{next(_seq)}__"
        self._frame._sdf = fill_columns(
            self._frame._ordered_sdf(), {out: self._col}, forward=forward
        )
        return self._wrap(F.col(out))

    def ffill(self):
        """Forward-fill nulls in row order — two-phase: partition-local fill +
        nearest preceding partition's edge value as broadcast carry (the keyed
        path is groupby(...).ffill())."""
        return self._fill(forward=True)

    def bfill(self):
        return self._fill(forward=False)

    def rank(self, method: str = "min", ascending: bool = True, pct: bool = False,
             na_option: str = "keep"):
        """Rank values: 'min' = SQL rank, 'max' = last-peer rank, 'dense',
        'first'=row_number, 'average' = pandas default; ``pct`` normalizes by
        the valid count (dense: by the distinct count, like pandas).
        ``na_option``: 'keep' (nulls rank null), 'top', 'bottom'.

        Distributed two-phase rank (scan.rank_column): splitter boundaries
        bucket the value range (the reference's sample-sort histogram,
        core/sort.py:113-174), local rank runs per bucket, and a broadcast
        carry of per-bucket counts lifts it to the global rank — no
        unpartitioned window."""
        from legate_pandas_spark.frontend.scan import _seq, rank_column

        out = f"__rank_{next(_seq)}__"
        self._frame._sdf = rank_column(
            self._frame._ordered_sdf(), out, self._col,
            method=method, ascending=ascending, pct=pct, na_option=na_option,
        )
        return self._wrap(F.col(out))

    def shift(self, periods: int = 1, fill_value=None):
        """Shift by ``periods`` rows — a global-position equi-join on the
        partition-offset position key (scan.shift_columns), never a global
        window: the only data movement is a hash join on a unique long.
        ``fill_value`` replaces the vacated slots (pandas)."""
        from legate_pandas_spark.frontend.frame import ROW_ORDER
        from legate_pandas_spark.frontend.scan import _seq, shift_columns

        uniq = next(_seq)
        out = f"__sshift_{uniq}__"
        fresh = ROW_ORDER not in self._frame._sdf.columns
        cols = {out: self._col}
        mark = None
        col_type = None
        if fill_value is not None:
            # fill ONLY vacated slots (donor-row miss), never nulls that were
            # genuinely shifted in — a marker column distinguishes the two
            mark = f"__sshiftm_{uniq}__"
            cols[mark] = F.lit(True)
            col_type = self._frame._sdf.select(self._col.alias(out)).dtypes[0][1]
        self._frame._sdf = shift_columns(
            self._frame._ordered_sdf(), cols, periods, fresh
        )
        expr = F.col(out)
        if mark is not None:
            from legate_pandas_spark.frontend.frame import DataFrame as _DF

            expr = _DF._shift_fill_expr(
                self.name or out, col_type, fill_value, mark, out, strict=True
            )
        return self._wrap(expr)

    def diff(self, periods: int = 1):
        shifted = self.shift(periods)
        return self._wrap(self._col - shifted._col)

    def pct_change(self, periods: int = 1):
        """Fractional change vs the value ``periods`` rows back (global row
        order — the partitioned scale path is groupby(...).pct_change())."""
        prev = self.shift(periods)._col.cast("double")
        return self._wrap((self._col.cast("double") - prev) / prev)

    def interpolate(self, method: str = "linear"):
        """Linear interpolation of nulls by row position (pandas default:
        values equally spaced, leading nulls stay null, trailing nulls carry
        the last valid value forward).

        Two-phase distributed (reference scan, core/column.py:644-687): global
        positions come from partition-offset arithmetic, then ONE forward and
        ONE backward carry pass (scan.fill_columns) deliver the bracketing
        non-null (value, position) pairs; the linear blend is a pure
        expression. No unpartitioned window."""
        from legate_pandas_spark.frontend.frame import ROW_ORDER
        from legate_pandas_spark.frontend.indexing import _attach_positions
        from legate_pandas_spark.frontend.scan import _seq, fill_columns

        if method != "linear":
            raise NotImplementedError("only method='linear'")
        uniq = next(_seq)
        POS = f"__ipos_{uniq}__"
        fresh = ROW_ORDER not in self._frame._sdf.columns
        sdf, _ = _attach_positions(
            self._frame._ordered_sdf(), fresh, pos_name=POS
        )
        col = self._col.cast("double")
        pos_if_valid = F.when(col.isNotNull(), F.col(POS))
        pv, pp = f"__ipv_{uniq}__", f"__ipp_{uniq}__"
        nv, np_ = f"__inv_{uniq}__", f"__inp_{uniq}__"
        sdf = fill_columns(sdf, {pv: col, pp: pos_if_valid}, forward=True)
        sdf = fill_columns(sdf, {nv: col, np_: pos_if_valid}, forward=False)
        self._frame._sdf = sdf  # POS/carry helpers stay hidden (__*__ names)
        pos = F.col(POS)
        out = (
            F.when(col.isNotNull(), col)
            .when(F.col(pv).isNull(), F.lit(None).cast("double"))
            .when(F.col(nv).isNull(), F.col(pv))
            .otherwise(
                F.col(pv)
                + (F.col(nv) - F.col(pv))
                * (pos - F.col(pp))
                / (F.col(np_) - F.col(pp))
            )
        )
        return self._wrap(out)

    def apply(self, func, dtype="double"):
        """Arrow-vectorized pandas UDF over this column (the Series-level
        escape hatch; §2.9). ``func(pandas.Series) -> pandas.Series``; prefer
        built-in expressions wherever they exist — this forces a Python hop."""
        from pyspark.sql.functions import pandas_udf

        from legate_pandas_spark.frontend.dtypes import to_spark_type

        try:
            spark_type = to_spark_type(dtype)
        except TypeError:
            spark_type = dtype  # already a Spark type name
        udf = pandas_udf(func, spark_type)
        return self._wrap(udf(self._col))

    def map(self, mapping, default=None):
        """Value mapping: a dict compiles to a CASE expression (dictionary
        broadcast in expression form); a callable runs as an Arrow-batched
        pandas UDF (pandas Series.map semantics — the vectorized escape
        hatch, never row-at-a-time Python)."""
        if callable(mapping) and not isinstance(mapping, dict):
            import pandas as pd
            from pyspark.sql.functions import pandas_udf

            fn = mapping
            # bounded sample-based output-type inference (same discipline as
            # groupby.transform's .limit()-bounded schema probe): a
            # string-returning mapper must not be silently coerced to NaN
            probe = (
                self._frame._sdf.select(self._col.alias("__mp__"))
                .filter(self._col.isNotNull())
                .limit(100)
                .toPandas()["__mp__"]
            )
            sample_out = probe.map(fn) if len(probe) else probe
            # dtype-based: a mapper returning numeric-LOOKING strings ('1',
            # '007') must stay a string mapper — coercion-based probing would
            # silently rewrite its values
            numeric = len(sample_out) == 0 or pd.api.types.is_numeric_dtype(
                sample_out
            )
            if numeric:
                # the probe can be unrepresentative (value-dependent return
                # types): never let to_numeric silently swallow a non-numeric
                # mapper output as NaN — raise with a count instead
                @pandas_udf("double")
                def _mapper(batch):
                    mapped = batch.map(fn)
                    out = pd.to_numeric(mapped, errors="coerce")
                    lost = int(mapped.notna().sum()) - int(out.notna().sum())
                    if lost:
                        raise TypeError(
                            f"Series.map: mapper returned {lost} non-numeric "
                            "value(s) after the sample probe inferred a "
                            "numeric output dtype; make the mapper's return "
                            "type uniform or cast explicitly"
                        )
                    return out

            else:

                @pandas_udf("string")
                def _mapper(batch):
                    return batch.map(fn).astype("object").astype("string")

            return self._wrap(_mapper(self._col))
        expr = F.lit(default)
        for k, v in mapping.items():
            expr = F.when(self._col == F.lit(k), F.lit(v)).otherwise(expr)
        return self._wrap(expr)

    def combine(self, other, func, fill_value=None):
        """pandas Series.combine: elementwise ``func(x, y)`` over the aligned
        pair (same-frame alignment contract, like every Series binop).
        ``func`` receives Python SCALARS — this is the Arrow-batched escape
        hatch (same machinery and sample-based output-type inference as
        Series.map(callable)); Catalyst-expressible merges belong in
        where/mask or DataFrame.combine instead.

        Documented divergences (round-9 ADVICE): (1) ``func`` runs TWICE over
        the first ~100 rows — once in the driver-side output-type probe, once
        in the UDF — so it must be side-effect-free (pandas apply-family
        makes the same no-side-effects assumption); (2) the output dtype is
        inferred from that sample: a numeric sample compiles a double column
        (integer-valued funcs come back float, like pandas object→numeric
        paths), and later rows whose results don't coerce to the inferred
        type become null rather than upcasting the column."""
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        a, b = self._col, self._other_col(other)
        # pandas fill_value substitutes only INDEX-MISALIGNED holes, never
        # NaN values; same-frame alignment has no such holes, so it is
        # accepted for signature parity and never applied (NaN values pass
        # through to func exactly like pandas)
        probe = (
            self._frame._sdf.select(a.alias("__ca__"), b.alias("__cb__"))
            .limit(100)
            .toPandas()
        )
        sample = [func(x, y) for x, y in zip(probe["__ca__"], probe["__cb__"])]
        numeric = not sample or pd.api.types.is_numeric_dtype(pd.Series(sample))
        if numeric:

            @pandas_udf("double")
            def _comb(xa, xb):
                out = pd.Series(
                    [func(x, y) for x, y in zip(xa, xb)], index=xa.index
                )
                return pd.to_numeric(out, errors="coerce")

        else:

            @pandas_udf("string")
            def _comb(xa, xb):
                out = pd.Series(
                    [func(x, y) for x, y in zip(xa, xb)], index=xa.index
                )
                return out.astype("object").astype("string")

        return self._wrap(_comb(a, b))

    def replace(self, to_replace, value=None):
        """pandas Series.replace: exact-match substitution, unmatched values
        KEPT (unlike map, which nulls them). Scalar→scalar, {old: new} dict,
        or [olds]→scalar — all compile to one CASE expression, zero Python."""
        if isinstance(to_replace, dict):
            expr = self._col
            for k, v in to_replace.items():
                expr = F.when(self._col == F.lit(k), F.lit(v)).otherwise(expr)
            return self._wrap(expr)
        if isinstance(to_replace, (list, tuple, set)):
            return self._wrap(
                F.when(self._col.isin(list(to_replace)), F.lit(value)).otherwise(
                    self._col
                )
            )
        return self._wrap(
            F.when(self._col == F.lit(to_replace), F.lit(value)).otherwise(self._col)
        )

    def explode(self):
        """pandas Series.explode: one row per array element, index labels
        repeated; null/empty arrays yield a single null row (explode_outer).
        Pairs with array-producing ops like str.findall / str.split."""
        from legate_pandas_spark.frontend.frame import DataFrame

        frame = self._frame
        name = self.name or "0"
        idx = list(frame._index)
        sdf = frame._sdf.select(
            *idx, F.explode_outer(self._col).alias(name)
        )
        return DataFrame(sdf, frame._index)[name]

    def to_list(self) -> list:
        return self.to_pandas().tolist()

    def tolist(self) -> list:
        return self.to_list()

    def combine_first(self, other):
        """pandas Series.combine_first: self's values, holes filled from
        other (same-frame Series or scalar) — one coalesce expression."""
        other_col = other._col if isinstance(other, Series) else F.lit(other)
        return self._wrap(F.coalesce(self._col, other_col))

    @property
    def hasnans(self) -> bool:
        """True if any value is null (pandas hasnans) — one any-null scan."""
        row = (
            self._frame._sdf.select(
                F.max(self._col.isNull().cast("int")).alias("h")
            ).collect()
        )
        return bool(row and row[0]["h"])

    @property
    def is_unique(self) -> bool:
        """True if no value occurs twice (pandas is_unique; nulls count as a
        value, like pandas). count vs countDistinct in one aggregate."""
        row = self._frame._sdf.select(
            F.count(F.lit(1)).alias("n"),
            (
                F.count_distinct(self._col)
                + F.coalesce(F.max(self._col.isNull().cast("int")), F.lit(0))
            ).alias("d"),
        ).collect()[0]
        return row["n"] == row["d"]

    def items(self):
        """Iterate (index_label_or_position, value) pairs — materializes like
        every pandas export (pandas items)."""
        s = self.to_pandas()
        return iter(s.items())

    def argsort(self):
        """pandas Series.argsort: the argsort of the NULL-COMPACTED series
        scattered back to the non-null positions, −1 at nulls (pandas 2.x
        contract). Distributed via two sample-sort row numbers (compact
        position, then value rank) and one equi-join on the unique rank."""
        from legate_pandas_spark.frontend.frame import ROW_ORDER, DataFrame
        from legate_pandas_spark.frontend.indexing import _attach_positions
        from legate_pandas_spark.frontend.scan import _seq, ordered_row_number

        uniq = next(_seq)
        pos, val = f"__as_pos_{uniq}__", f"__as_val_{uniq}__"
        cpos, rnk = f"__as_cp_{uniq}__", f"__as_rk_{uniq}__"
        fresh = ROW_ORDER not in self._frame._sdf.columns
        with_pos, _ = _attach_positions(
            self._frame._ordered_sdf(), fresh, pos_name=pos
        )
        nn = with_pos.select(self._col.alias(val), F.col(pos)).filter(
            F.col(val).isNotNull()
        )
        compact = ordered_row_number(nn, [F.asc(pos)], cpos)
        ranked = ordered_row_number(compact, [F.asc(val), F.asc(cpos)], rnk)
        # the row whose compact position is j receives the compact position
        # of the j-th smallest value
        src = ranked.select(
            F.col(rnk).alias(cpos + "_k"), F.col(cpos).alias("__argsrc__")
        )
        placed = ranked.select(F.col(pos), F.col(cpos)).join(
            src, F.col(cpos) == F.col(cpos + "_k"), "left"
        )
        out_sdf = with_pos.join(
            placed.select(F.col(pos).alias(pos + "_o"), "__argsrc__"),
            F.col(pos) == F.col(pos + "_o"),
            "left",
        ).withColumn(
            "argsort",
            F.coalesce(F.col("__argsrc__"), F.lit(-1)).cast("long"),
        ).drop(pos + "_o", "__argsrc__")
        out = DataFrame(out_sdf, self._frame._index)
        return Series(out, F.col("argsort"), "argsort")

    @property
    def dtype(self):
        """pandas-style dtype string of the underlying expression."""
        sdf = self._frame._sdf.select(self._col.alias("__dt__"))
        t = dict(sdf.dtypes)["__dt__"]
        back = {
            "bigint": "int64", "int": "int32", "smallint": "int16",
            "tinyint": "int8", "double": "float64", "float": "float32",
            "string": "object", "boolean": "bool",
        }
        return back.get(t, t)

    # -- casts ----------------------------------------------------------------
    def astype(self, dtype):
        """Cast, including to/from the modeled categorical dtype (reference
        astype-to-category, core/column.py:334-388; categories string-only,
        common/types.py:181-182)."""
        import pandas as pd

        from legate_pandas_spark.frontend.dtypes import CatMeta

        if isinstance(dtype, pd.CategoricalDtype):
            if dtype.categories is None:
                return self.astype("category")
            cats = [str(c) for c in dtype.categories]
            # pandas: values outside the declared categories become null
            expr = F.when(self._col.cast("string").isin(cats), self._col.cast("string"))
            out = self._wrap(expr)
            out._cat = CatMeta(cats, bool(dtype.ordered))
            return out
        if str(dtype) == "category":
            out = self._wrap(self._col.cast("string"))
            out._cat = self._cat or CatMeta(None, False)  # no-op if already categorical
            return out
        # -- invalid-cast parity (reference tests/pandas/sr_astype_invalid.py:
        # 27-28): these casts must RAISE eagerly, not silently null like Spark's
        # cast — category→numeric is ValueError, numeric→datetime is
        # NotImplementedError (reference core/column.py astype dispatch).
        try:
            target = pd.api.types.pandas_dtype(dtype)
        except TypeError:
            target = None
        if target is not None:
            if self._cat is not None and pd.api.types.is_numeric_dtype(target):
                raise ValueError(
                    f"cannot cast a categorical Series to {dtype!r}; use "
                    "cat.codes for the integer codes or astype(str) first"
                )
            if pd.api.types.is_datetime64_any_dtype(target):
                from legate_pandas_spark.frontend.dtypes import is_numeric_spark_type

                cur = self._frame._sdf.select(self._col).schema[0].dataType.simpleString()
                if is_numeric_spark_type(cur):
                    raise NotImplementedError(
                        f"cannot cast numeric Series to {dtype!r}; use "
                        "to_datetime for epoch interpretation"
                    )
        out = self._wrap(self._col.cast(to_spark_type(dtype)))
        return out  # leaving the categorical dtype drops the dictionary (pandas)

    def to_datetime(self, format: str | None = None):
        fmt = _strftime_to_java(format) if format else None
        return self._wrap(F.to_timestamp(self._col, fmt) if fmt else F.to_timestamp(self._col))

    # -- accessors --------------------------------------------------------------
    @property
    def str(self):
        from legate_pandas_spark.frontend.accessors import StringMethods

        return StringMethods(self)

    @property
    def dt(self):
        from legate_pandas_spark.frontend.accessors import DatetimeMethods

        return DatetimeMethods(self)

    @property
    def cat(self):
        from legate_pandas_spark.frontend.accessors import CategoricalMethods

        return CategoricalMethods(self)

    # -- reductions (eager scalars, like the reference's futures) -----------
    def _reduce(self, agg_col):
        if self._frame is None:
            raise ValueError("Series has no parent frame")
        return self._frame._sdf.select(agg_col.alias("v")).collect()[0][0]

    def sum(self):
        # pandas sum() of an empty/all-NaN series is 0 (skipna, min_count=0)
        return self._reduce(F.coalesce(F.sum(self._col), F.lit(0)))

    def mean(self):
        return self._reduce(F.avg(self._col))

    def min(self):
        return self._reduce(F.min(self._col))

    def max(self):
        return self._reduce(F.max(self._col))

    def count(self):
        return self._reduce(F.count(self._col))

    def var(self, ddof: int = 1):
        return self._reduce(F.var_samp(self._col) if ddof == 1 else F.var_pop(self._col))

    def std(self, ddof: int = 1):
        return self._reduce(F.stddev_samp(self._col) if ddof == 1 else F.stddev_pop(self._col))

    def prod(self):
        # pandas prod() of an empty/all-NaN series is 1 (skipna, min_count=0)
        return self._reduce(F.coalesce(F.product(self._col), F.lit(1.0)))

    def product(self):
        return self.prod()

    def skew(self):
        """Bias-corrected sample skewness (pandas Series.skew): Spark's
        one-pass population g1 = m3/m2^1.5 (numerically stable central-moment
        updates, never raw power sums) adjusted driver-side by the exact
        algebraic factor sqrt(n(n-1))/(n-2). NaN for n < 3, like pandas."""
        import math

        row = self._frame._sdf.select(
            F.skewness(self._col).alias("g1"),
            F.count(self._col).alias("n"),
            F.var_samp(self._col).alias("v"),
        ).collect()[0]
        g1, n = row["g1"], row["n"]
        if n < 3:
            return float("nan")
        if g1 is None:
            # zero variance: Spark's g1 is null (0/0); pandas returns 0.0
            return 0.0 if (row["v"] or 0.0) == 0.0 else float("nan")
        return g1 * math.sqrt(n * (n - 1)) / (n - 2)

    def kurt(self):
        """Bias-corrected excess kurtosis (pandas Series.kurt): Spark's
        population excess g2 = m4/m2² − 3 adjusted by the exact G2 identity
        ((n+1)·g2 + 6)·(n−1)/((n−2)(n−3)). NaN for n < 4, like pandas."""
        row = self._frame._sdf.select(
            F.kurtosis(self._col).alias("g2"),
            F.count(self._col).alias("n"),
            F.var_samp(self._col).alias("v"),
        ).collect()[0]
        g2, n = row["g2"], row["n"]
        if n < 4:
            return float("nan")
        if g2 is None:
            return 0.0 if (row["v"] or 0.0) == 0.0 else float("nan")
        return ((n + 1) * g2 + 6.0) * (n - 1) / ((n - 2) * (n - 3))

    def kurtosis(self):
        return self.kurt()

    def any(self):
        return bool(self._reduce(F.max(self._col.cast("boolean").cast("int"))))

    def all(self):
        # empty-after-skipna identity: True (pandas; any()'s False identity
        # already falls out of bool(None))
        return bool(
            self._reduce(
                F.coalesce(F.min(self._col.cast("boolean").cast("int")), F.lit(1))
            )
        )

    def nunique(self):
        return self._reduce(F.countDistinct(self._col))

    def factorize(self, sort: bool = False):
        """pandas.factorize: (codes Series, uniques list). Codes follow first
        appearance (or sorted values with ``sort=True``); nulls code as -1.

        Distributed shape: the dictionary is a distinct aggregate ranked by
        min(row-order) through the sample-sort row number
        (``scan.ordered_row_number`` — no single-partition window even for a
        web-scale dictionary), then joined back onto the parent frame (plain
        equi-join; AQE broadcasts it when small). Only the uniques LIST is
        collected — that is the pandas return contract. The reference's
        nearest analog is the categorical dictionary (core/column.py:831-911),
        which it replicates wholesale."""
        from legate_pandas_spark.frontend.frame import ROW_ORDER
        from legate_pandas_spark.frontend.scan import _seq, ordered_row_number

        uniq = next(_seq)
        val, mo, code = (
            f"__fz_val_{uniq}__",
            f"__fz_mo_{uniq}__",
            f"__fz_code_{uniq}__",
        )
        frame = self._frame
        frame._sdf = frame._ordered_sdf()
        base = frame._sdf.select(
            self._col.alias(val), F.col(ROW_ORDER).alias(mo)
        ).filter(F.col(val).isNotNull())
        dic = base.groupBy(val).agg(F.min(mo).alias(mo))
        order = [F.asc(val)] if sort else [F.asc(mo)]
        dic = ordered_row_number(dic, order, code).select(val, code)
        uniques = [r[val] for r in dic.orderBy(code).collect()]
        frame._sdf = frame._sdf.join(
            dic, self._col == F.col(val), "left"
        ).drop(val)
        codes = self._wrap(F.coalesce(F.col(code), F.lit(-1)).cast("long"))
        return codes, uniques

    def quantile(self, q=0.5):
        """Exact interpolated quantile (scalar, or list for list input).
        Exact `percentile` is a per-sort-key aggregate; at 100 TB swap to
        approx_percentile (documented trade, same as describe())."""
        if isinstance(q, (list, tuple)):
            return [float(v) for v in self._reduce(
                F.percentile(self._col, F.array(*[F.lit(p) for p in q]))
            )]
        return self._reduce(F.percentile(self._col, F.lit(float(q))))

    def mode(self):
        """All most-frequent values, ascending (pandas Series result). One
        hash aggregate + a top-tie filter — never a global sort of the data."""
        import pandas as pd

        counts = (
            self._frame._sdf.select(self._col.alias("v"))
            .filter(F.col("v").isNotNull())
            .groupBy("v")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        best = counts.agg(F.max("c").alias("m"))
        rows = (
            counts.join(F.broadcast(best), counts["c"] == best["m"])
            .select("v")
            .orderBy("v")
            .collect()
        )
        return pd.Series([r["v"] for r in rows], name=self.name)

    def _idx_reduce(self, descending: bool):
        if not self._frame._index:
            # virtual RangeIndex: the "label" IS the global position — compute
            # it with the partition-offset arithmetic, then TakeOrdered picks
            # the argmax row (first occurrence wins ties, like pandas)
            from legate_pandas_spark.frontend.frame import ROW_ORDER
            from legate_pandas_spark.frontend.indexing import _attach_positions
            from legate_pandas_spark.frontend.scan import _seq

            pos = f"__idxr_{next(_seq)}__"
            fresh = ROW_ORDER not in self._frame._sdf.columns
            with_pos, _ = _attach_positions(
                self._frame._ordered_sdf(), fresh, pos_name=pos
            )
            order = self._col.desc() if descending else self._col.asc()
            row = (
                with_pos.filter(self._col.isNotNull())
                .orderBy(order, F.asc(pos))
                .select(pos)
                .limit(1)
                .collect()
            )
            return int(row[0][0]) if row else None
        from legate_pandas_spark.frontend.frame import ROW_ORDER

        idx = self._frame._index[0]
        order = self._col.desc() if descending else self._col.asc()
        # pandas skips NaN and returns the FIRST occurrence among ties
        tiebreak = (
            F.asc(ROW_ORDER)
            if ROW_ORDER in self._frame._sdf.columns
            else F.asc(idx)
        )
        row = (
            self._frame._sdf.filter(self._col.isNotNull())
            .orderBy(order, tiebreak)
            .select(idx)
            .limit(1)
            .collect()
        )
        return row[0][0] if row else None

    def first_valid_index(self):
        """Index label (or position on a virtual RangeIndex) of the first
        non-null value; None if all-null (pandas)."""
        return self._valid_index(first=True)

    def last_valid_index(self):
        return self._valid_index(first=False)

    def _valid_index(self, first: bool):
        from legate_pandas_spark.frontend.frame import ROW_ORDER
        from legate_pandas_spark.frontend.indexing import _attach_positions
        from legate_pandas_spark.frontend.scan import _seq

        pos = f"__fvi_{next(_seq)}__"
        fresh = ROW_ORDER not in self._frame._sdf.columns
        with_pos, _ = _attach_positions(
            self._frame._ordered_sdf(), fresh, pos_name=pos
        )
        label = self._frame._index[0] if self._frame._index else pos
        order = F.asc(pos) if first else F.desc(pos)
        row = (
            with_pos.filter(self._col.isNotNull())
            .orderBy(order)
            .select(label)
            .limit(1)
            .collect()
        )
        if not row:
            return None
        v = row[0][0]
        return int(v) if label == pos else v

    def idxmax(self):
        """Index label of the maximum (TakeOrderedAndProject — no global sort)."""
        return self._idx_reduce(descending=True)

    def idxmin(self):
        return self._idx_reduce(descending=False)

    def to_frame(self, name: str | None = None):
        """One-column DataFrame from this Series (pandas to_frame)."""
        from legate_pandas_spark.frontend.frame import DataFrame

        out_name = name or self.name or "0"
        keep = [
            F.col(c)
            for c in self._frame._sdf.columns
            if c in self._frame._index or (c.startswith("__") and c.endswith("__"))
        ]
        sdf = self._frame._sdf.select(*keep, self._col.alias(out_name))
        out = DataFrame(sdf, self._frame._index)
        if self._cat is not None:
            out._cat_meta[out_name] = self._cat
        return out

    def rename(self, name: str) -> "Series":
        return self._wrap(self._col, name)

    def duplicated(self, keep: str | bool = "first"):
        """Boolean mask of duplicate values (pandas Series.duplicated) — the
        one-column frame's dedup machinery (row_number per value over the
        value-partitioned window)."""
        name = self.name or "0"
        frame = self.to_frame(name)
        return frame.duplicated(subset=[name], keep=keep)

    def drop_duplicates(self, keep: str | bool = "first") -> "Series":
        """Distinct values in first-occurrence order semantics (exported via
        the one-column frame's dedup machinery — row_number per value)."""
        frame = self.to_frame(self.name or "0")
        return frame.drop_duplicates(keep=keep)[self.name or "0"]

    def sample(self, frac: float, seed: int | None = None) -> "Series":
        frame = self.to_frame(self.name or "0").sample(frac, seed=seed)
        return frame[self.name or "0"]

    def agg(self, ops):
        """Multiple reductions in ONE aggregate pass (pandas Series.agg)."""
        import pandas as pd

        from legate_pandas_spark.frontend.groupby import _AGG_FNS, _with_identity

        if isinstance(ops, str):
            ops = [ops]
        exprs = [
            _with_identity(op, _AGG_FNS[op](self._col)).alias(op) for op in ops
        ]
        row = self._frame._sdf.agg(*exprs).collect()[0]
        out = pd.Series({op: row[op] for op in ops})
        return out if len(ops) > 1 else out.iloc[0]

    aggregate = agg  # pandas alias

    def dot(self, other: "Series") -> float:
        """pandas Series.dot for aligned (same-frame) series: Σ a·b — one
        distributed aggregate, scalar to the driver."""
        return self._frame._sdf.agg(
            F.sum(self._col.cast("double") * self._other_col(other).cast("double"))
        ).collect()[0][0]

    def corr(self, other: "Series") -> float:
        return self._frame._sdf.agg(
            F.corr(self._col.cast("double"), self._other_col(other).cast("double"))
        ).collect()[0][0]

    def cov(self, other: "Series", ddof: int = 1) -> float:
        fn = F.covar_samp if ddof == 1 else F.covar_pop
        return self._frame._sdf.agg(
            fn(self._col.cast("double"), self._other_col(other).cast("double"))
        ).collect()[0][0]

    def autocorr(self, lag: int = 1) -> float:
        """Correlation with the lag-shifted self (pandas autocorr) — one window
        + one aggregate."""
        shifted = self.shift(lag)
        # project the window expression BEFORE aggregating (window exprs are
        # illegal directly inside an aggregate)
        proj = self._frame._sdf.select(
            self._col.cast("double").alias("__a__"),
            shifted._col.cast("double").alias("__b__"),
        )
        return proj.agg(F.corr(F.col("__a__"), F.col("__b__"))).collect()[0][0]

    def item(self):
        """The single value of a length-1 Series (pandas item)."""
        rows = self._frame._sdf.select(self._col.alias("v")).limit(2).collect()
        if len(rows) != 1:
            raise ValueError("can only convert a length-1 Series to a scalar")
        return rows[0]["v"]

    def unique(self) -> list:
        """Distinct values (driver-side list, like pandas ndarray result)."""
        return [
            r["v"] for r in self._frame._sdf.select(self._col.alias("v")).distinct().collect()
        ]

    def dropna(self):
        from legate_pandas_spark.frontend.frame import DataFrame

        name = self.name or "value"
        out = DataFrame(
            self._frame._sdf.select(self._col.alias(name)).filter(F.col(name).isNotNull())
        )
        return out[name]

    def sort_values(self, ascending: bool = True, ignore_index: bool = False):
        from legate_pandas_spark.frontend.frame import DataFrame

        name = self.name or "value"
        sel = self._frame._sdf.select(self._col.alias(name))
        if self._cat is not None and self._cat.categories is not None:
            # categorical sorts by CODE order (declared dictionary), not
            # lexicographic (reference sort on CategoryColumn uses codes)
            key = self._cat.code_expr(F.col(name))
            key = F.when(key >= 0, key)  # unknown/null → null → sorts last
        else:
            key = F.col(name)
        # pandas puts NaN last regardless of direction (na_position='last')
        order = F.asc_nulls_last(key) if ascending else F.desc_nulls_last(key)
        out = DataFrame(sel.orderBy(order))
        s = out[name]
        s._cat = self._cat
        return s

    def head(self, n: int = 5):
        from legate_pandas_spark.frontend.frame import DataFrame

        name = self.name or "value"
        out = DataFrame(self._frame._sdf.select(self._col.alias(name)).limit(n))
        return out[name]

    def nlargest(self, n: int):
        return self.sort_values(ascending=False).head(n)

    def nsmallest(self, n: int):
        return self.sort_values(ascending=True).head(n)

    def tolist(self) -> list:
        return list(self.to_pandas())

    # -- round-8 breadth ----------------------------------------------------
    def median(self):
        """Exact median (pandas Series.median) — Spark's distributed median
        aggregate; swap to approx_percentile at 100 TB (same documented trade
        as quantile/describe)."""
        return self._reduce(F.median(self._col))

    def copy(self, deep: bool = True) -> "Series":
        out = self._wrap(self._col, self.name)
        out._cat = self._cat
        return out

    def pipe(self, func, *args, **kwargs):
        return func(self, *args, **kwargs)

    def tail(self, n: int = 5):
        """Last n values (pandas tail) — per-partition tail + driver trim of
        ≤ num_partitions·n rows, never a global sort (the mirror of head's
        CollectLimit)."""
        from legate_pandas_spark.frontend.frame import DataFrame, ROW_ORDER

        name = self.name or "value"
        sdf = self._frame._ordered_sdf().select(
            F.col(ROW_ORDER), self._col.alias(name)
        )
        out = DataFrame(
            sdf.orderBy(F.desc(ROW_ORDER)).limit(n).orderBy(F.asc(ROW_ORDER)).select(name)
        )
        return out[name]

    def case_when(self, caselist) -> "Series":
        """pandas 2.2 Series.case_when: [(condition, replacement), ...] —
        compiles to one Catalyst CASE WHEN chain (whole-stage codegen, zero
        extra plan nodes). Conditions are boolean Series of the same frame;
        unmatched rows keep this Series' value, like pandas."""
        expr = None
        for cond, repl in reversed(list(caselist)):
            c = cond._col if isinstance(cond, Series) else cond
            r = repl._col if isinstance(repl, Series) else F.lit(repl)
            expr = F.when(c, r).otherwise(
                expr if expr is not None else self._col
            )
        return self._wrap(expr if expr is not None else self._col)

    @property
    def is_monotonic_increasing(self) -> bool:
        return self._is_monotonic(increasing=True)

    @property
    def is_monotonic_decreasing(self) -> bool:
        return self._is_monotonic(increasing=False)

    def _is_monotonic(self, increasing: bool) -> bool:
        """Distributed monotonicity check (pandas is_monotonic_*): ONE
        aggregate computes, per ingest partition, the local violation flag
        (via a pid-partitioned lag window — parallel) plus the partition's
        first/last values; the driver stitches the ≤num_partitions boundary
        pairs. Nulls make the answer False, like pandas."""
        from legate_pandas_spark.frontend.frame import ROW_ORDER
        from legate_pandas_spark.frontend.scan import _pid

        sdf = self._frame._ordered_sdf()
        w = Window.partitionBy(_pid()).orderBy(F.asc(ROW_ORDER))
        prev = F.lag(self._col).over(w)
        bad = (
            F.when(self._col.isNull(), True)
            .when(prev.isNull(), False)
            .otherwise(prev > self._col if increasing else prev < self._col)
        )
        proj = sdf.select(
            _pid().alias("__pid__"),
            F.col(ROW_ORDER),
            self._col.alias("__v__"),
            bad.alias("__bad__"),
        )
        rows = (
            proj.groupBy("__pid__")
            .agg(
                F.max(F.col("__bad__").cast("int")).alias("bad"),
                F.min_by("__v__", F.col(ROW_ORDER)).alias("first"),
                F.max_by("__v__", F.col(ROW_ORDER)).alias("last"),
            )
            .orderBy("__pid__")
            .collect()
        )
        if any(r["bad"] for r in rows):
            return False
        for a, b in zip(rows, rows[1:]):
            if a["last"] is None or b["first"] is None:
                return False
            if (a["last"] > b["first"]) if increasing else (a["last"] < b["first"]):
                return False
        return True

    def argmax(self) -> int:
        """POSITION of the maximum (pandas argmax; -1 on all-null)."""
        return self._arg_reduce(descending=True)

    def argmin(self) -> int:
        return self._arg_reduce(descending=False)

    def _arg_reduce(self, descending: bool) -> int:
        from legate_pandas_spark.frontend.frame import ROW_ORDER
        from legate_pandas_spark.frontend.indexing import _attach_positions
        from legate_pandas_spark.frontend.scan import _seq

        pos = f"__arg_{next(_seq)}__"
        fresh = ROW_ORDER not in self._frame._sdf.columns
        with_pos, _ = _attach_positions(
            self._frame._ordered_sdf(), fresh, pos_name=pos
        )
        order = self._col.desc() if descending else self._col.asc()
        row = (
            with_pos.filter(self._col.isNotNull())
            .orderBy(order, F.asc(pos))
            .select(pos)
            .limit(1)
            .collect()
        )
        return int(row[0][0]) if row else -1

    def describe(self):
        """pandas Series.describe for numeric series — count/mean/std/min/
        quartiles/max in ONE distributed aggregate (exact percentiles; the
        100 TB swap is approx_percentile, same trade as quantile)."""
        import pandas as pd

        row = self._frame._sdf.select(
            F.count(self._col).alias("count"),
            F.avg(self._col).alias("mean"),
            F.stddev_samp(self._col).alias("std"),
            F.min(self._col).alias("min"),
            F.percentile(self._col, F.lit(0.25)).alias("25%"),
            F.percentile(self._col, F.lit(0.5)).alias("50%"),
            F.percentile(self._col, F.lit(0.75)).alias("75%"),
            F.max(self._col).alias("max"),
        ).collect()[0]
        return pd.Series(row.asDict(), name=self.name)

    def to_dict(self) -> dict:
        return self.to_pandas().to_dict()

    def to_string(self, *args, **kwargs) -> str:
        return self.to_pandas().to_string(*args, **kwargs)

    # delegations through the one-column frame (index machinery lives there)
    def take(self, positions) -> "Series":
        name = self.name or "0"
        return self.to_frame(name).take(positions)[name]

    def truncate(self, before=None, after=None) -> "Series":
        name = self.name or "0"
        return self.to_frame(name).truncate(before=before, after=after)[name]

    def sort_index(self, ascending: bool = True) -> "Series":
        name = self.name or "0"
        return self.to_frame(name).sort_index(ascending=ascending)[name]

    def reset_index(self, drop: bool = False):
        """drop=True → Series on a fresh RangeIndex; drop=False → DataFrame
        with the index as a column (pandas contract)."""
        name = self.name or "0"
        out = self.to_frame(name).reset_index(drop=drop)
        return out[name] if drop else out

    def _labeled_frame(self, name: str):
        """One-column frame with the index STORED as a column — materializes
        the virtual RangeIndex as global positions when no index is stored
        (label == position on a fresh default index, the pandas contract).
        Positions come from the partition-offset arithmetic, not a global
        window (reference FIND_BOUNDS, core/table.py:629-772)."""
        from legate_pandas_spark.frontend.frame import ROW_ORDER, DataFrame
        from legate_pandas_spark.frontend.indexing import _attach_positions

        f = self.to_frame(name)
        if f._index:
            return f
        fresh = ROW_ORDER not in f._sdf.columns
        with_pos, _ = _attach_positions(
            f._ordered_sdf(), fresh, pos_name="__sidx__"
        )
        return DataFrame(with_pos, ("__sidx__",))

    def get(self, key, default=None):
        """Value at index label `key`, or `default` when absent (pandas get).
        Duplicate labels return the label-filtered Series, like pandas."""
        name = self.name or "0"
        f = self._labeled_frame(name)
        idx = f._index[0]
        rows = f._sdf.filter(F.col(idx) == F.lit(key)).limit(2).collect()
        if not rows:
            return default
        if len(rows) == 1:
            return rows[0][name]
        return f.loc[key][name]

    def xs(self, key):
        sentinel = object()
        v = self.get(key, default=sentinel)
        if v is sentinel:
            raise KeyError(key)
        return v

    def drop(self, labels, errors: str = "raise"):
        """Drop rows by index label (pandas Series.drop). On the default
        RangeIndex, labels are positions and the surviving ORIGINAL labels
        become the stored index (pandas keeps [0, 2] after dropping 1)."""
        name = self.name or "0"
        f = self._labeled_frame(name)
        idx = f._index[0]
        labs = (
            list(labels)
            if isinstance(labels, (list, tuple, set, frozenset))
            else [labels]
        )
        if errors == "raise":
            found = {
                r[0]
                for r in f._sdf.filter(F.col(idx).isin(labs))
                .select(idx)
                .distinct()
                .collect()
            }
            missing = [l for l in labs if l not in found]
            if missing:
                raise KeyError(f"{missing} not found in axis")
        return f.drop(index=labs)[name]

    def __len__(self) -> int:
        return self._frame._sdf.count()

    def __bool__(self) -> bool:
        # pandas: truth value of a Series is ambiguous — and silently running
        # a count() job for `if series:` would be worse
        raise ValueError(
            "The truth value of a Series is ambiguous. Use a.empty, a.bool(), "
            "a.item(), a.any() or a.all()."
        )

    def squeeze(self):
        rows = self._frame._sdf.select(self._col).limit(2).collect()
        return rows[0][0] if len(rows) == 1 else self

    def add_prefix(self, prefix: str) -> "Series":
        """Prefix every index label (labels become strings, pandas)."""
        return self._relabel_index(lambda c: F.concat(F.lit(str(prefix)), c))

    def add_suffix(self, suffix: str) -> "Series":
        return self._relabel_index(lambda c: F.concat(c, F.lit(str(suffix))))

    def _relabel_index(self, fn) -> "Series":
        name = self.name or "0"
        f = self._labeled_frame(name)
        idx = f._index[0]
        out = f._replace(
            f._sdf.withColumn(idx, fn(F.col(idx).cast("string"))), f._index
        )
        return out[name]

    def __divmod__(self, other):
        return self // other, self % other

    def __rdivmod__(self, other):
        o = self._other_col(other)
        return self._wrap(floordiv(o, self._col)), self._wrap(
            floormod(o, self._col)
        )

    def divmod(self, other):
        return self.__divmod__(other)

    def rdivmod(self, other):
        return self.__rdivmod__(other)

    @property
    def nbytes(self) -> int:
        return 8 * len(self)

    def memory_usage(self, index: bool = True, deep: bool = False) -> int:
        """pandas parity for the shallow form: 8 bytes per element; the
        default RangeIndex costs pandas' 132-byte constant, a stored index
        8 bytes per label."""
        n = len(self)
        total = 8 * n
        if index:
            total += 8 * n if self._frame._index else 132
        return total

    def searchsorted(self, value, side: str = "left"):
        """Insertion positions keeping order (pandas, defined on sorted
        values): one conditional-count aggregate per probe value — counts
        ship to the driver, rows never do."""
        import numpy as np

        if side not in ("left", "right"):
            raise ValueError(f"invalid side: {side!r}")
        seq = isinstance(value, (list, tuple, np.ndarray))
        vals = list(value) if seq else [value]
        if not vals:
            return np.array([], dtype="int64")
        aggs = [
            F.sum(
                F.when(
                    (self._col < F.lit(v))
                    if side == "left"
                    else (self._col <= F.lit(v)),
                    1,
                ).otherwise(0)
            ).alias(f"_c{i}")
            for i, v in enumerate(vals)
        ]
        row = self._frame._sdf.agg(*aggs).collect()[0]
        out = np.array([int(row[i] or 0) for i in range(len(vals))], dtype="int64")
        return out if seq else int(out[0])

    def asof(self, where):
        """Last non-null value at or before index label `where` (pandas asof,
        scalar form; array `where` → use lps.merge_asof, the distributed
        as-of join)."""
        if isinstance(where, (list, tuple)):
            raise NotImplementedError(
                "Series.asof with an array: use lps.merge_asof (distributed as-of join)"
            )
        name = self.name or "0"
        f = self._labeled_frame(name)
        idx = f._index[0]
        rows = (
            f._sdf.filter((F.col(idx) <= F.lit(where)) & F.col(name).isNotNull())
            .orderBy(F.desc(idx))
            .limit(1)
            .collect()
        )
        return rows[0][name] if rows else float("nan")

    def at_time(self, time) -> "Series":
        name = self.name or "0"
        return self.to_frame(name).at_time(time)[name]

    def between_time(self, start, end) -> "Series":
        name = self.name or "0"
        return self.to_frame(name).between_time(start, end)[name]

    # pandas method-form aliases
    def multiply(self, other, fill_value=None):
        return self.mul(other, fill_value=fill_value)

    def divide(self, other, fill_value=None):
        return self.div(other, fill_value=fill_value)

    def subtract(self, other, fill_value=None):
        return self.sub(other, fill_value=fill_value)

    def pad(self):
        return self.ffill()

    def backfill(self):
        return self.bfill()

    def transpose(self) -> "Series":
        return self

    @property
    def T(self) -> "Series":
        return self

    def groupby(self, by):
        """Series groupby (reference sr_groupby): group this column by a key
        column of the same frame (name or aligned Series)."""
        from legate_pandas_spark.frontend.frame import DataFrame

        if isinstance(by, Series):
            key_col, key_name = by._col, by.name or "key"
        else:
            key_col, key_name = F.col(by), by
        base = DataFrame(
            self._frame._sdf.select(
                key_col.alias(key_name), self._col.alias(self.name or "value")
            )
        )
        return base.groupby(key_name)

    def value_counts(self, normalize: bool = False):
        """Returns a DataFrame facade (value, count) sorted by count desc;
        normalize=True divides by a 1-row total aggregate broadcast
        cross-joined back in (ReusedExchange → one pass) — never a
        single-partition window over the counts table, which is
        distinct-value-sized and unbounded on high-cardinality columns."""
        from legate_pandas_spark.frontend.frame import DataFrame

        name = self.name or "value"
        out = (
            self._frame._sdf.select(self._col.alias(name))
            .groupBy(name)
            .agg(F.count(F.lit(1)).alias("count"))
        )
        if normalize:
            total = out.agg(F.sum("count").alias("__vc_total__"))
            out = out.crossJoin(F.broadcast(total)).select(
                name,
                (F.col("count") / F.col("__vc_total__")).alias("proportion"),
            )
        return DataFrame(out.orderBy(F.desc("proportion" if normalize else "count")))

    def equals(self, other) -> bool:
        """Element-wise null-safe equality (reference EQUALS,
        core/table.py:963-981; tests/interop/sr_from_numpy.py). Same-frame
        series compare in one aggregate; cross-frame series are positionally
        zipped via partition-offset arithmetic (no global sort)."""
        if not isinstance(other, Series):
            other = Series(other)
        if self._frame is other._frame or self._frame._sdf is other._frame._sdf:
            row = (
                self._frame._sdf.agg(
                    F.min(self._col.eqNullSafe(other._col).cast("int")).alias("eq")
                ).collect()[0]
            )
            return row["eq"] != 0  # vacuously true on empty
        from legate_pandas_spark.frontend.frame import ROW_ORDER
        from legate_pandas_spark.frontend.indexing import _attach_positions, _row_count

        def _positioned(s, alias):
            sdf = s._frame._sdf.select(s._col.alias(alias))
            sdf = sdf.withColumn(ROW_ORDER, F.monotonically_increasing_id())
            with_pos, offsets = _attach_positions(sdf, fresh=True)
            return with_pos.drop(ROW_ORDER), _row_count(offsets)

        a, na = _positioned(self, "__a__")
        b, nb = _positioned(other, "__b__")
        if na != nb:
            return False
        if dict(a.dtypes)["__a__"] != dict(b.dtypes)["__b__"]:
            return False  # pandas equals requires matching element dtype
        joined = a.join(b, "__pos__", "inner")
        row = joined.agg(
            F.min(F.col("__a__").eqNullSafe(F.col("__b__")).cast("int")).alias("eq")
        ).collect()[0]
        return row["eq"] != 0

    def to_numpy(self):
        return self.to_pandas().to_numpy()

    def __array__(self, dtype=None, copy=None):
        import numpy as np

        arr = self.to_numpy()
        return np.asarray(arr, dtype=dtype) if dtype is not None else arr

    def to_pandas(self):
        import pandas as pd

        from legate_pandas_spark.frontend.frame import ROW_ORDER

        sdf = self._frame._sdf
        name = self.name or "0"
        # restore the stored index like DataFrame.to_pandas (a value column
        # sharing an index column's name is aliased apart first)
        idx_cols = [c for c in self._frame._index if c in sdf.columns]
        val = f"__sval_{name}__" if name in idx_cols else name
        sel = [self._col.alias(val)] + [F.col(c) for c in idx_cols]
        if ROW_ORDER in sdf.columns:
            # evaluate the expression FIRST, then restore caller row order —
            # sorting before a windowed select would be undone by the window's
            # own shuffle (same contract as DataFrame.to_pandas)
            proj = sdf.select(*sel, F.col(ROW_ORDER))
            pdf = proj.orderBy(F.asc(ROW_ORDER)).select(val, *idx_cols).toPandas()
        else:
            pdf = sdf.select(*sel).toPandas()
        if idx_cols:
            pdf = pdf.set_index(idx_cols if len(idx_cols) > 1 else idx_cols[0])
            if idx_cols == ["__sidx__"]:
                pdf.index.name = None  # materialized default-index positions
        s = pdf[pdf.columns[0]]
        if val != name:
            s = s.rename(name)
        if self._cat is not None:
            if self._cat.categories is not None:
                s = s.astype(
                    pd.CategoricalDtype(self._cat.categories, ordered=self._cat.ordered)
                )
            else:
                s = s.astype("category")
        if self._tz is not None:
            # toPandas renders timestamps as naive wall times in the SESSION
            # zone; re-anchor there, then shift to the carried zone
            sess = self._frame._sdf.sparkSession.conf.get(
                "spark.sql.session.timeZone"
            )
            s = s.dt.tz_localize(sess).dt.tz_convert(self._tz)
        return s


def _strftime_to_java(fmt: str) -> str:
    """Translate a C strftime format (pandas) into a JVM DateTimeFormatter
    pattern (reference accepts strftime in str.to_datetime, core/column.py:344)."""
    table = {
        "%Y": "yyyy",
        "%m": "MM",
        "%d": "dd",
        "%H": "HH",
        "%M": "mm",
        "%S": "ss",
        "%y": "yy",
        "%f": "SSSSSS",
    }
    out = fmt
    for k, v in table.items():
        out = out.replace(k, v)
    return out


class _SeriesLocIndexer:
    """Series loc/iloc views through the one-column frame (reference
    frontend/indexing.py sr paths share the df machinery the same way)."""

    def __init__(self, s: "Series", positional: bool):
        self._s = s
        self._positional = positional

    def __getitem__(self, key):
        name = self._s.name or "0"
        frame = self._s.to_frame(name)
        sub = frame.iloc[key] if self._positional else frame.loc[key]
        if isinstance(key, (int,)) and self._positional:
            return sub[name].item()
        if not isinstance(key, (slice, list, tuple)) and not self._positional:
            # scalar label: pandas returns a scalar for a unique index
            vals = sub[name].tolist()
            if len(vals) == 1:
                return vals[0]
        return sub[name]


class _SeriesScalarIndexer:
    def __init__(self, s: "Series", positional: bool):
        self._s = s
        self._positional = positional

    def __getitem__(self, key):
        name = self._s.name or "0"
        frame = self._s.to_frame(name)
        sub = frame.iloc[key] if self._positional else frame.loc[key]
        vals = sub[name].tolist()
        if not vals:
            raise KeyError(key)
        return vals[0]


class SeriesRolling:
    """k-row rolling over the parent frame's row order — the boundary-ghost
    distributed window (scan.rolling_parts; no Exchange SinglePartition).
    Each stat materializes a hidden column on the parent frame and wraps it."""

    def __init__(self, s: "Series", window: int, min_periods: int | None = None):
        self._s = s
        self._n = window
        self._mp = window if min_periods is None else min_periods

    def _apply(self, fn) -> "Series":
        return self._apply_expr(lambda c, w: fn(c).over(w))

    def _apply_expr(self, make) -> "Series":
        from legate_pandas_spark.frontend.frame import ROW_ORDER
        from legate_pandas_spark.frontend.scan import _seq, rolling_parts

        s = self._s
        fresh = ROW_ORDER not in s._frame._sdf.columns
        sdf = s._frame._ordered_sdf()
        aug, w, GH, helpers = rolling_parts(sdf, self._n, fresh)
        out = f"__sroll_{next(_seq)}__"
        expr = make(s._col, w)
        if self._mp > 1:
            expr = F.when(F.count(s._col).over(w) >= self._mp, expr)
        new = aug.withColumn(out, expr).filter(~F.col(GH))
        s._frame._sdf = new.drop(*helpers)
        return s._wrap(F.col(out))

    def median(self):
        return self.quantile(0.5)

    def quantile(self, q: float):
        from legate_pandas_spark.frontend.scan import window_quantile_expr

        return self._apply_expr(lambda c, w: window_quantile_expr(c, w, q))

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
        return self._apply(lambda c: F.count(c).cast("double"))

    def corr(self, other: "Series") -> "Series":
        """Rolling Pearson correlation against another Series of the SAME
        frame (pandas s.rolling(k).corr(other)). Pairwise-complete rows only
        (Spark's corr skips a row when either side is null, matching pandas),
        and the min_periods gate counts pairwise-complete observations."""
        return self._pairwise(other, F.corr)

    def cov(self, other: "Series") -> "Series":
        """Rolling sample covariance (ddof=1) against another Series of the
        same frame (pandas s.rolling(k).cov(other))."""
        return self._pairwise(other, F.covar_samp)

    def _pairwise(self, other: "Series", fn) -> "Series":
        from legate_pandas_spark.frontend.frame import ROW_ORDER
        from legate_pandas_spark.frontend.scan import _seq, rolling_parts

        s = self._s
        if other._frame is not s._frame:
            raise ValueError(
                "rolling corr/cov requires Series from the same frame"
            )
        fresh = ROW_ORDER not in s._frame._sdf.columns
        sdf = s._frame._ordered_sdf()
        aug, w, GH, helpers = rolling_parts(sdf, self._n, fresh)
        out = f"__sroll_{next(_seq)}__"
        both = F.when(s._col.isNotNull() & other._col.isNotNull(), F.lit(1))
        expr = fn(s._col, other._col).over(w)
        expr = F.when(F.count(both).over(w) >= self._mp, expr)
        new = aug.withColumn(out, expr).filter(~F.col(GH))
        s._frame._sdf = new.drop(*helpers)
        return s._wrap(F.col(out))


class SeriesExpanding:
    """Expanding window over the parent frame's row order — partition-local
    running aggregate + broadcast carry (scan.attach_carries); var/std
    decompose into (n, Σx, Σx²)."""

    def __init__(self, s: "Series", min_periods: int = 1):
        self._s = s
        self._mp = min_periods

    def _apply(self, kind: str, ddof: int = 1) -> "Series":
        from legate_pandas_spark.frontend.scan import (
            _local_window,
            _seq,
            attach_carries,
        )

        s = self._s
        sdf = s._frame._ordered_sdf()
        c = s._col
        d = c.cast("double")
        uniq = next(_seq)
        kc = f"__sexn_{uniq}__"
        specs = {kc: (F.count(c), "sum")}
        ks = kq = km = None
        if kind in ("sum", "mean", "var", "std"):
            ks = f"__sexs_{uniq}__"
            specs[ks] = (F.sum(c), "sum")
        if kind in ("var", "std"):
            kq = f"__sexq_{uniq}__"
            specs[kq] = (F.sum(d * d), "sum")
        if kind in ("max", "min"):
            km = f"__sexm_{uniq}__"
            specs[km] = (
                (F.max(c), "max") if kind == "max" else (F.min(c), "min")
            )
        out_sdf = attach_carries(sdf, specs)
        lw = _local_window()
        n = F.count(c).over(lw) + F.coalesce(F.col(kc), F.lit(0))
        if kind in ("sum", "mean", "var", "std"):
            ls = F.sum(c).over(lw)
            ssum = F.when(ls.isNull() & F.col(ks).isNull(), F.lit(None)).otherwise(
                F.coalesce(ls, F.lit(0)) + F.coalesce(F.col(ks), F.lit(0))
            )
        if kind == "sum":
            expr = ssum
        elif kind == "count":
            expr = n.cast("double")
        elif kind == "mean":
            expr = ssum / n
        elif kind == "max":
            expr = F.greatest(F.max(c).over(lw), F.col(km))
        elif kind == "min":
            expr = F.least(F.min(c).over(lw), F.col(km))
        elif kind in ("var", "std"):
            lq = F.sum(d * d).over(lw)
            q = F.coalesce(lq, F.lit(0.0)) + F.coalesce(F.col(kq), F.lit(0.0))
            denom = n - F.lit(ddof)
            v = F.greatest(
                (q - ssum.cast("double") * ssum.cast("double") / n) / denom,
                F.lit(0.0),
            )
            expr = F.when(denom > 0, F.sqrt(v) if kind == "std" else v)
        else:
            raise ValueError(kind)
        out = f"__sexp_{uniq}__"
        s._frame._sdf = out_sdf.withColumn(
            out, F.when(n >= self._mp, expr)
        ).drop(*[k for k in (kc, ks, kq, km) if k])
        return s._wrap(F.col(out))

    def sum(self):
        return self._apply("sum")

    def mean(self):
        return self._apply("mean")

    def max(self):
        return self._apply("max")

    def min(self):
        return self._apply("min")

    def std(self, ddof: int = 1):
        return self._apply("std", ddof)

    def var(self, ddof: int = 1):
        return self._apply("var", ddof)

    def count(self):
        return self._apply("count")

    def corr(self, other: "Series") -> "Series":
        """Expanding Pearson correlation against another Series of the same
        frame — window-free: six running pairwise sums (n, Σx, Σy, Σxy, Σx²,
        Σy² over pairwise-complete rows) through the SAME one-aggregate carry
        pass, then pure arithmetic. No rolling frame, no extra shuffle."""
        return self._pairwise(other, "corr")

    def cov(self, other: "Series") -> "Series":
        """Expanding sample covariance (ddof=1) — same running-sum
        decomposition as corr."""
        return self._pairwise(other, "cov")

    def _pairwise(self, other: "Series", kind: str) -> "Series":
        from legate_pandas_spark.frontend.scan import (
            _local_window,
            _seq,
            attach_carries,
        )

        s = self._s
        if other._frame is not s._frame:
            raise ValueError(
                "expanding corr/cov requires Series from the same frame"
            )
        sdf = s._frame._ordered_sdf()
        mask = s._col.isNotNull() & other._col.isNotNull()
        xa = F.when(mask, s._col).cast("double")
        xb = F.when(mask, other._col).cast("double")
        uniq = next(_seq)
        names = [f"__sxp{i}_{uniq}__" for i in range(6)]
        parts = [
            F.count(F.when(mask, 1)),
            F.sum(xa),
            F.sum(xb),
            F.sum(xa * xb),
            F.sum(xa * xa),
            F.sum(xb * xb),
        ]
        specs = {nm: (e, "sum") for nm, e in zip(names, parts)}
        out_sdf = attach_carries(sdf, specs)
        lw = _local_window()
        locs = [
            F.count(F.when(mask, 1)).over(lw),
            F.sum(xa).over(lw),
            F.sum(xb).over(lw),
            F.sum(xa * xb).over(lw),
            F.sum(xa * xa).over(lw),
            F.sum(xb * xb).over(lw),
        ]
        run = [
            F.coalesce(l.cast("double"), F.lit(0.0))
            + F.coalesce(F.col(nm).cast("double"), F.lit(0.0))
            for l, nm in zip(locs, names)
        ]
        n, sx, sy, sxy, sxx, syy = run
        gate = n >= F.greatest(F.lit(float(self._mp)), F.lit(2.0))
        if kind == "cov":
            expr = F.when(gate, (sxy - sx * sy / n) / (n - 1))
        else:
            den = (n * sxx - sx * sx) * (n * syy - sy * sy)
            expr = F.when(gate & (den > 0), (n * sxy - sx * sy) / F.sqrt(den))
        out = f"__sexp_{uniq}__"
        s._frame._sdf = out_sdf.withColumn(out, expr).drop(*names)
        return s._wrap(F.col(out))


class SeriesEwm:
    """Exponentially weighted accessor over the parent frame's row order —
    exact two-phase distributed recurrence (scan.ewm_columns)."""

    def __init__(self, s: "Series", alpha: float):
        self._s = s
        self._alpha = alpha

    def mean(self) -> "Series":
        return self._via("mean")

    def var(self) -> "Series":
        """Exact distributed ewm variance (pandas bias=False)."""
        return self._via("var")

    def std(self) -> "Series":
        return self._via("std")

    def _via(self, stat: str) -> "Series":
        from legate_pandas_spark.frontend.scan import _seq, ewm_columns

        s = self._s
        uniq = next(_seq)
        # always the Series' own expression: a derived Series (s * 10,
        # s.cumsum()) keeps the name of the stored column it came from
        src, out = f"__ewsrc_{uniq}__", f"__sewm_{uniq}__"
        sdf = s._frame._ordered_sdf().withColumn(src, s._col)
        s._frame._sdf = ewm_columns(sdf, [], {out: src}, self._alpha, stat).drop(src)
        return s._wrap(F.col(out))
