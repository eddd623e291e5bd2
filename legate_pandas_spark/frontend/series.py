"""Series facade: a named column expression bound to a frame's lineage.

Mirrors the reference's ``Series`` frontend (frontend/series.py) where every
element-wise op immediately dispatched a Legion task; here each op composes a
Catalyst expression, so chains of scalar ops fuse into one whole-stage-codegen
span — zero per-op overhead.

Lineage rule: a Series never rewrites the frame it came from. An ordered op
(``ordered.OrderedOps``) returns a Series on a derived frame — the parent's
plan plus one hidden column, recording the parent and the steps applied since
(``DataFrame._with_step``). Every read of a Series against another frame or
Series goes through ``DataFrame._resolve``: operands of one parent meet on
the parent's plan plus the ordered union of both sides' steps, with no join;
operands of different parents raise, matching the reference's aligned-only
support (README.md:208-218; core/index.py:87-102 raises on unaligned
partitions).
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
from legate_pandas_spark.frontend.ordered import OrderedOps
from legate_pandas_spark.frontend.scan import _seq


class Series(OrderedOps):
    ndim = 1

    def __init__(self, frame, col: Column = None, name: str = None):
        """Internal form: (frame, column expr, name). Convenience form
        (reference sr_create): ``Series(list_or_pandas_series, name=...)``."""
        if col is None and not hasattr(frame, "_sdf"):
            import pandas as pd

            from legate_pandas_spark.frontend.frame import from_pandas

            data = frame
            name = name or (data.name if isinstance(data, pd.Series) else None) or "0"
            pdf = pd.DataFrame({name: data})
            parent = from_pandas(pdf)
            frame, col = parent, F.col(name)
        self._frame = frame  # the frame this column reads from (its lineage)
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
    def _resolve(self, *others):
        """(frame, columns): each of ``others`` read against this Series — a
        Series' column on the frame holding both lineages
        (``DataFrame._resolve``, which raises on an unrelated frame), any
        other value a literal."""
        frame, cols = self._frame, []
        for o in others:
            if isinstance(o, Series):
                frame = frame._resolve(o._frame)
                cols.append(o._col)
            else:
                cols.append(F.lit(o))
        return frame, cols

    def _wrap(
        self, col: Column, name: str | None = None, *, frame=None, strict=None,
        proof=None,
    ) -> "Series":
        out = Series(self._frame if frame is None else frame, col, name or self.name)
        if strict is not None:
            out._strict_cols = frozenset(strict)
        if proof is not None:
            out._nonnull_if_true = frozenset(proof)
        return out

    def _binop(self, other, fn, *, strict=None, proof=None) -> "Series":
        """``fn(this column, other)`` on the frame both operands read from."""
        frame, (o,) = self._resolve(other)
        return self._wrap(fn(self._col, o), frame=frame, strict=strict, proof=proof)

    def _scan(self, kernel, numeric: bool = True, finish=None, keys=(), other=None):
        """This Series' ordered op (``ordered.OrderedOps``): ``kernel``
        appends its result — over this column, or the (this, ``other``)
        column pair of a window corr/cov — as one hidden column of a derived
        frame, and ``finish(result, source)`` shapes it."""
        frame, src = self._frame, self._col
        if other is not None:
            frame, (o,) = self._resolve(other)
            src = (src, o)
        out = f"__s_{next(_seq)}__"
        derived = frame._with_step(lambda sdf: kernel(sdf, {out: src}))
        res = F.col(out)
        return self._wrap(res if finish is None else finish(res, self._col), frame=derived)

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
        if fill_value is None:
            return self._binop(other, op)
        fv = F.lit(fill_value)
        return self._binop(
            other,
            lambda a, b: F.when(
                ~(a.isNull() & b.isNull()), op(F.coalesce(a, fv), F.coalesce(b, fv))
            ),
        )

    # -- arithmetic (pandas promotion rules) -------------------------------
    def _arith(self, other, fn):
        return self._binop(other, fn, strict=self._strict_cols | self._strict_of(other))

    def __add__(self, other):
        return self._arith(other, lambda a, b: a + b)

    __radd__ = __add__

    def __sub__(self, other):
        return self._arith(other, lambda a, b: a - b)

    def __rsub__(self, other):
        return self._arith(other, lambda a, b: b - a)

    def __mul__(self, other):
        return self._arith(other, lambda a, b: a * b)

    __rmul__ = __mul__

    def __truediv__(self, other):
        return self._binop(other, truediv)

    def __rtruediv__(self, other):
        return self._binop(other, lambda a, b: truediv(b, a))

    def __floordiv__(self, other):
        return self._binop(other, floordiv)

    def __mod__(self, other):
        return self._binop(other, floormod)

    def __rmod__(self, other):
        return self._binop(other, lambda a, b: floormod(b, a))

    def __pow__(self, other):
        return self._binop(other, F.pow)

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
    def _compare(self, other, fn):
        return self._binop(
            other,
            lambda a, b: null_compare_false(fn(a, b)),
            proof=self._strict_cols | self._strict_of(other),
        )

    def __eq__(self, other):  # type: ignore[override]
        return self._compare(other, lambda a, b: a == b)

    def __ne__(self, other):  # type: ignore[override]
        # pandas: NaN != x is TRUE (the one comparison where missing values
        # pass), matching query()'s total-atom compilation — null operands
        # coalesce to TRUE, so no non-null proof can be emitted (a kept row
        # may have a null operand).
        return self._binop(other, lambda a, b: F.coalesce(a != b, F.lit(True)))

    def __lt__(self, other):
        return self._compare(other, lambda a, b: a < b)

    def __le__(self, other):
        return self._compare(other, lambda a, b: a <= b)

    def __gt__(self, other):
        return self._compare(other, lambda a, b: a > b)

    def __ge__(self, other):
        return self._compare(other, lambda a, b: a >= b)

    # -- boolean / bitwise --------------------------------------------------
    def __and__(self, other):
        # conjunction true => both operands true => both proofs apply
        return self._binop(
            other, lambda a, b: a & b, proof=self._proof_of(self) | self._proof_of(other)
        )

    def __or__(self, other):
        # disjunction true => at least one true => only the shared proof holds
        return self._binop(
            other, lambda a, b: a | b, proof=self._proof_of(self) & self._proof_of(other)
        )

    def __xor__(self, other):
        return self._binop(other, lambda a, b: a.cast("boolean") != b.cast("boolean"))

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
            return DataFrame(sdf.filter(F.lit(False)), ())[name]
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
            frame, (mask,) = self._resolve(key)
            out = self._wrap(
                self._col,
                frame=frame._replace(frame._sdf.filter(mask)),
                strict=self._strict_cols,
            )
            out._cat = self._cat
            return out
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
        frame, (c, o) = self._resolve(cond, other)
        return self._wrap(F.when(c, self._col).otherwise(o), frame=frame)

    def mask(self, cond, other=None):
        """Replace values where cond is True (inverse of where)."""
        frame, (c, o) = self._resolve(cond, other)
        return self._wrap(F.when(c, o).otherwise(self._col), frame=frame)

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

        a, (frame, (b,)) = self._col, self._resolve(other)
        # pandas fill_value substitutes only INDEX-MISALIGNED holes, never
        # NaN values; same-frame alignment has no such holes, so it is
        # accepted for signature parity and never applied (NaN values pass
        # through to func exactly like pandas)
        probe = (
            frame._sdf.select(a.alias("__ca__"), b.alias("__cb__"))
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

        return self._wrap(_comb(a, b), frame=frame)

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

    tolist = to_list

    def combine_first(self, other):
        """pandas Series.combine_first: self's values, holes filled from
        other (same-frame Series or scalar) — one coalesce expression."""
        return self._binop(other, F.coalesce)

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

    def _via_frame(self, method: str, *args, **kwargs):
        """This column's entry of its one-column frame's ``method`` — the
        frame twin that gives the pandas result."""
        name = self.name or "0"
        return getattr(self.to_frame(name), method)(*args, **kwargs)[name]

    def skew(self):
        return self._via_frame("skew")

    def kurt(self):
        return self._via_frame("kurt")

    kurtosis = kurt

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
        web-scale dictionary), then joined onto a derived frame of the
        parent's rows (plain equi-join; AQE broadcasts it when small). Only
        the uniques LIST is collected — that is the pandas return contract.
        The reference's nearest analog is the categorical dictionary
        (core/column.py:831-911), which it replicates wholesale."""
        from legate_pandas_spark.frontend.frame import ROW_ORDER, row_order
        from legate_pandas_spark.frontend.scan import ordered_row_number

        uniq = next(_seq)
        val, mo, code = (
            f"__fz_val_{uniq}__",
            f"__fz_mo_{uniq}__",
            f"__fz_code_{uniq}__",
        )
        frame = self._frame._with_step(row_order)
        src = self._col
        base = frame._sdf.select(
            src.alias(val), F.col(ROW_ORDER).alias(mo)
        ).filter(F.col(val).isNotNull())
        dic = base.groupBy(val).agg(F.min(mo).alias(mo))
        order = [F.asc(val)] if sort else [F.asc(mo)]
        dic = ordered_row_number(dic, order, code).select(val, code)
        uniques = [r[val] for r in dic.orderBy(code).collect()]
        frame = frame._with_step(
            lambda sdf: sdf.join(dic, src == F.col(val), "left").drop(val)
        )
        codes = self._wrap(F.coalesce(F.col(code), F.lit(-1)).cast("long"), frame=frame)
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
        return self._via_frame("idxmax")

    def idxmin(self):
        return self._via_frame("idxmin")

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
        return self._via_frame("drop_duplicates", keep=keep)

    def sample(self, frac: float, seed: int | None = None) -> "Series":
        return self._via_frame("sample", frac, seed=seed)

    def agg(self, ops):
        """Reductions in ONE aggregate pass (pandas Series.agg); a single
        op gives a scalar."""
        out = self._via_frame("agg", {self.name or "0": ops})
        return out if len(out) > 1 else out.iloc[0]

    aggregate = agg  # pandas alias

    def _pair_reduce(self, other, fn):
        """``fn(x, y)`` aggregated over this Series and an aligned one, as
        doubles — one distributed aggregate, scalar to the driver."""
        frame, (o,) = self._resolve(other)
        return frame._sdf.agg(fn(self._col.cast("double"), o.cast("double"))).collect()[0][0]

    def dot(self, other: "Series") -> float:
        """pandas Series.dot for aligned (same-frame) series: Σ a·b."""
        return self._pair_reduce(other, lambda a, b: F.sum(a * b))

    def corr(self, other: "Series") -> float:
        return self._pair_reduce(other, F.corr)

    def cov(self, other: "Series", ddof: int = 1) -> float:
        return self._pair_reduce(other, F.covar_samp if ddof == 1 else F.covar_pop)

    def autocorr(self, lag: int = 1) -> float:
        """Correlation with the lag-shifted self (pandas autocorr)."""
        return self.corr(self.shift(lag))

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
        return self._via_frame("dropna")

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
        return self._via_frame("head", n)

    def nlargest(self, n: int):
        return self.sort_values(ascending=False).head(n)

    def nsmallest(self, n: int):
        return self.sort_values(ascending=True).head(n)

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
        return self._via_frame("tail", n)

    def case_when(self, caselist) -> "Series":
        """pandas 2.2 Series.case_when: [(condition, replacement), ...] —
        compiles to one Catalyst CASE WHEN chain (whole-stage codegen, zero
        extra plan nodes). Conditions are boolean Series of the same frame;
        unmatched rows keep this Series' value, like pandas."""
        frame, cols = self._resolve(*[x for pair in caselist for x in pair])
        expr = self._col
        for c, r in reversed(list(zip(cols[::2], cols[1::2]))):
            expr = F.when(c, r).otherwise(expr)
        return self._wrap(expr, frame=frame)

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
        return self._via_frame("describe").rename(self.name)

    def to_dict(self) -> dict:
        return self.to_pandas().to_dict()

    def to_string(self, *args, **kwargs) -> str:
        return self.to_pandas().to_string(*args, **kwargs)

    # delegations through the one-column frame (index machinery lives there)
    def take(self, positions) -> "Series":
        return self._via_frame("take", positions)

    def truncate(self, before=None, after=None) -> "Series":
        return self._via_frame("truncate", before=before, after=after)

    def sort_index(self, ascending: bool = True) -> "Series":
        return self._via_frame("sort_index", ascending=ascending)

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
        return self._binop(other, lambda a, b: floordiv(b, a)), self._binop(
            other, lambda a, b: floormod(b, a)
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
        return self._via_frame("at_time", time)

    def between_time(self, start, end) -> "Series":
        return self._via_frame("between_time", start, end)

    # pandas method-form aliases
    def multiply(self, other, fill_value=None):
        return self.mul(other, fill_value=fill_value)

    def divide(self, other, fill_value=None):
        return self.div(other, fill_value=fill_value)

    def subtract(self, other, fill_value=None):
        return self.sub(other, fill_value=fill_value)

    def transpose(self) -> "Series":
        return self

    @property
    def T(self) -> "Series":
        return self

    def groupby(self, by):
        """Series groupby (reference sr_groupby): group this column by a key
        column of the same frame (name or aligned Series)."""
        from legate_pandas_spark.frontend.frame import DataFrame

        frame, key_name = self._frame, by
        if isinstance(by, Series):
            frame, (key_col,) = self._resolve(by)
            key_name = by.name or "key"
        else:
            key_col = F.col(by)
        base = DataFrame(
            frame._sdf.select(
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
        """Null-safe equality in row order with a matching dtype (pandas
        equals) — the one-column frames' ``equals``."""
        if not isinstance(other, Series):
            other = Series(other)
        name = self.name or "0"
        return self.to_frame(name).equals(other.to_frame(name))

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
