"""DataFrame facade: pandas-style API compiled to lazy PySpark plans.

Architecture (SURVEY §7): no new execution engine — every method composes a
Catalyst logical plan; Spark's optimizer supplies predicate pushdown, column
pruning, join selection and AQE. The reference's eager per-operator Legion
dispatch (core/pattern.py:170-343) is replaced by lazy composition, with eager
*semantics* only where pandas requires a value (reductions, __len__, equals).

Index model (SURVEY §4.2): ``_index`` names hidden index columns materialized in
the plan (StoredIndex/MultiIndex). A fresh frame has a *virtual* RangeIndex —
nothing is materialized until an ordered op needs it, at which point a
partition-stable ordering key (monotonically_increasing_id) is attached; global
contiguous labels are never built unless the user reset_index()es explicitly —
the 100 TB guardrail (reference keeps RangeIndex lazy the same way,
core/index.py:189-287).
"""

from __future__ import annotations

import math

import pyspark.sql.functions as F
from pyspark.sql import DataFrame as SparkDF
from pyspark.sql.window import Window

from legate_pandas_spark.frontend.dtypes import is_numeric_spark_type, to_spark_type
from legate_pandas_spark.frontend.ordered import OrderedOps
from legate_pandas_spark.frontend.scan import _seq
from legate_pandas_spark.frontend.series import Series

ROW_ORDER = "__row_order__"


def row_order(sdf: SparkDF) -> SparkDF:
    """``sdf`` with a partition-stable row-order key (unchanged if it has
    one) — also the step that pins a derived frame's row order."""
    if ROW_ORDER in sdf.columns:
        return sdf
    return sdf.withColumn(ROW_ORDER, F.monotonically_increasing_id())


def _qcol(name: str):
    """Column reference that treats the name LITERALLY: backtick-quote names
    containing dots so Spark doesn't resolve them as struct field access
    (pandas allows '.' in column names — json_normalize produces them)."""
    return F.col(f"`{name}`") if "." in str(name) else F.col(name)


def _normalize_wall_time(time_str: str) -> str:
    """Canonical zero-padded HH:mm:ss.SSSSSS for at_time/between_time inputs:
    pandas accepts '9:30' but date_format output is zero-padded, so the raw
    string would silently never match. Sub-second inputs ('9:30:15.5') keep
    their fraction at microsecond width (Spark timestamp precision) so
    at_time matches the exact instant, not the whole second."""
    import datetime

    if isinstance(time_str, datetime.time):  # pandas accepts time objects
        t = time_str
        return t.strftime("%H:%M:%S.") + f"{t.microsecond:06d}"
    s = str(time_str).strip()
    for fmt in ("%H:%M:%S", "%H:%M", "%H:%M:%S.%f"):
        try:
            t = datetime.datetime.strptime(s, fmt).time()
            return t.strftime("%H:%M:%S.") + f"{t.microsecond:06d}"
        except ValueError:
            continue
    raise ValueError(f"Cannot convert arg {time_str!r} to a time")


def _caller_env(env: dict, depth: int) -> dict:
    """Resolution environment for ``@var`` references in query()/eval():
    the calling frame's globals, overlaid by its locals, overlaid by explicit
    keyword arguments (pandas global_dict/local_dict precedence). The frame
    walk is driver-side only — nothing here touches the cluster."""
    import sys

    merged: dict = {}
    try:
        frame = sys._getframe(depth)
        merged.update(frame.f_globals)
        merged.update(frame.f_locals)
    except ValueError:  # shallow stack (embedded interpreters)
        pass
    merged.update(env or {})
    return merged


class DataFrame(OrderedOps):
    def __init__(self, data, index: tuple[str, ...] = (), spark=None):
        """Accepts a Spark DataFrame (internal), a pandas DataFrame, or a dict
        of columns — the reference's tests construct frames as
        ``lp.DataFrame(pandas_df)`` (e.g. tests/pandas/df_create.py), so the
        drop-in surface must too."""
        # lineage of a derived frame (``_with_step``): the parent frame, the
        # parent plan it was built on, and the steps applied since; and how
        # often the parent's columns had been overwritten in place by then
        # (a parent counts its own: ``_overwrite``)
        self._parent, self._base, self._steps = None, None, ()
        self._overwrites = 0
        # columns PROVABLY free of nulls (set only where the facade itself
        # guarantees it: groupby dropna key outputs, and propagated through
        # merges/renames). merge() uses this to compile a plain equi-join
        # instead of null-safe equality when null keys cannot match — plain
        # keys hash-partition as hash(k), letting Catalyst reuse the
        # groupby's exchange instead of re-shuffling on
        # (coalesce(k), isnull(k)) — the facade analog of the reference's
        # tracked partition keys (reference core/table.py:222-268).
        # Conservative: _replace() and every other construction path reset
        # it to empty, so a stale flag cannot survive a value-changing op.
        self._nonnull_cols: frozenset = frozenset()
        if isinstance(data, SparkDF):
            self._sdf = data
        elif isinstance(data, DataFrame):
            # copy-construct (reference tests/interop/df_from_numpy.py:
            # lp.DataFrame(lp.DataFrame(...)))
            self._sdf = data._sdf
            self._index = tuple(index) or data._index
            self._cat_meta = dict(data._cat_meta)
            self._nonnull_cols = frozenset(data._nonnull_cols)
            return
        else:
            import pandas as pd

            if isinstance(data, dict):
                data = pd.DataFrame(data)
            if isinstance(data, pd.DataFrame):
                converted = from_pandas(data, spark=spark)
                self._sdf = converted._sdf
            else:
                raise TypeError(f"cannot construct DataFrame from {type(data)!r}")
        self._index = tuple(index)
        # column name → CatMeta for columns carrying the categorical dtype
        self._cat_meta: dict = dict(getattr(data, "_cat_meta", {}) or {})

    # ------------------------------------------------------------------ basics
    @property
    def columns(self) -> list[str]:
        # dunder-wrapped names are engine-internal (row-order key, broadcast
        # dictionary codes, position columns) — never user-visible
        return [
            c
            for c in self._sdf.columns
            if c not in self._index and not (c.startswith("__") and c.endswith("__"))
        ]

    @property
    def dtypes(self) -> dict[str, str]:
        return {c: t for c, t in self._sdf.dtypes if c in self.columns}

    @property
    def index_names(self) -> tuple[str, ...]:
        return self._index

    def __len__(self) -> int:
        return self._sdf.count()

    @property
    def shape(self) -> tuple[int, int]:
        return (len(self), len(self.columns))

    @property
    def size(self) -> int:
        return len(self) * len(self.columns)

    @property
    def empty(self) -> bool:
        return self._sdf.isEmpty()

    @property
    def ndim(self) -> int:
        return 2

    def copy(self, deep: bool = True) -> "DataFrame":
        out = DataFrame(self._sdf, self._index)
        out._cat_meta = dict(self._cat_meta)
        out._nonnull_cols = frozenset(self._nonnull_cols)
        return out

    def squeeze(self):
        """1-column frame → Series (reference core/table.py:315-316)."""
        cols = self.columns
        if len(cols) != 1:
            return self
        return self[cols[0]]

    def _replace(self, sdf: SparkDF, index=None) -> "DataFrame":
        out = DataFrame(sdf, self._index if index is None else tuple(index))
        out._cat_meta = dict(self._cat_meta)
        return out

    def _carry_proofs(self, out: "DataFrame") -> "DataFrame":
        """Row-subset/reorder ops (limit, sort, dedup, sample, label filter)
        cannot introduce nulls: carry the column non-null proofs through."""
        out._nonnull_cols = frozenset(self._nonnull_cols) & set(out._sdf.columns)
        return out

    def _ordered_sdf(self) -> SparkDF:
        """Attach a partition-stable row-order key if not present (virtual
        RangeIndex materialization — narrow op, no shuffle)."""
        return row_order(self._sdf)

    # ---------------------------------------------------------------- lineage
    def _with_step(self, step) -> "DataFrame":
        """Derived frame: this frame's plan plus what ``step`` (sdf -> sdf,
        row-preserving) appends — hidden columns, or the row-order key. A
        Series' ordered ops return Series on derived frames, so the frame
        a Series came from is never rewritten."""
        parent, base, steps, overwrites = self._lineage()
        out = self._replace(step(self._sdf))
        out._nonnull_cols = self._nonnull_cols
        out._parent, out._base, out._steps = parent, base, steps + (step,)
        out._overwrites = overwrites
        return out

    def _lineage(self):
        """(parent frame, the parent's plan this frame was built on, steps
        applied since, the parent's overwrite count then); a frame that was
        not derived is its own parent."""
        if self._parent is None:
            return self, self._sdf, (), self._overwrites
        return self._parent, self._base, self._steps, self._overwrites

    def _rejoin(self, stale: "DataFrame") -> "DataFrame":
        """Derived frame: this plan plus the hidden columns that ``stale``, a
        frame derived from an earlier plan of the same parent, added — joined
        on the row-order key, which both plans carry from that parent."""
        _, base, _, _ = stale._lineage()
        have = set(base.columns) | set(self._sdf.columns)
        extra = row_order(stale._sdf)
        extra = extra.select(ROW_ORDER, *[c for c in extra.columns if c not in have])
        return self._with_step(lambda sdf: row_order(sdf).join(extra, ROW_ORDER, "left"))

    def _overwrite(self, sdf: SparkDF) -> None:
        """Reassign this frame's plan in place with existing columns
        overwritten (or dropped): steps derived from an earlier plan read
        those columns by name, so ``_resolve`` no longer re-applies them."""
        self._sdf = sdf
        self._overwrites += 1

    def _resolve(self, other: "DataFrame") -> "DataFrame":
        """The frame that both this frame's and ``other``'s columns read
        from: their parent's plan plus the ordered union of both sides'
        steps — the wider side itself when it holds every step, so
        ``df.a + df.b.shift()`` adds no join to shift's. A side built on an
        earlier plan of the parent (reassigned since by ``__setitem__``)
        re-applies its steps to the current one, or — if the parent
        overwrote columns since, which a re-applied step would read — joins
        its hidden columns back (``_rejoin``). Frames of different parents
        raise: binary ops are aligned-only, like the reference (README.md:
        208-218; core/index.py:87-102 raises on unaligned partitions)."""
        if other is self or other._sdf is self._sdf:
            return self
        pa, ba, sa, ga = self._lineage()
        pb, bb, sb, gb = other._lineage()
        if ba is bb:
            if set(sb) <= set(sa):
                return self
            if set(sa) <= set(sb):
                return other
            out, done = self, set(sa)
        elif pa is pb:
            out, done = (self, set(sa)) if ba is pa._sdf else (pa, set())
            for side, base, steps, gen in ((self, ba, sa, ga), (other, bb, sb, gb)):
                if base is not pa._sdf and gen != pa._overwrites:
                    out, done = out._rejoin(side), done | set(steps)
        else:
            raise ValueError(
                "binary ops require Series from the same frame (aligned); "
                "merge/join the frames first (reference README.md:208-218)"
            )
        for step in dict.fromkeys(sa + sb):
            if step not in done:
                out = out._with_step(step)
        return out

    def _read(self, s: Series) -> "DataFrame":
        """The frame a frame-side read (mask, assignment, where/mask) takes
        Series ``s`` from: ``_resolve``'s, or this frame itself for a
        step-free Series of another frame — a projection or copy of this
        one, which pandas aligns by index — whose columns Spark resolves by
        name."""
        try:
            return self._resolve(s._frame)
        except ValueError:
            if s._frame._steps:
                raise
            return self

    # ------------------------------------------------------------ projection
    def __getitem__(self, key):
        if isinstance(key, str):
            s = Series(self, _qcol(key), key)
            s._cat = self._cat_meta.get(key)
            s._strict_cols = frozenset({key})  # provenance: plain column ref
            return s
        if isinstance(key, list):
            keep = [c for c in self._index if c not in key]
            if ROW_ORDER in self._sdf.columns:
                keep.append(ROW_ORDER)
            out = self._replace(self._sdf.select(*(keep + key)))
            # projection preserves values: keep guarantees for kept columns
            out._nonnull_cols = self._nonnull_cols & set(keep + key)
            return out
        if isinstance(key, Series):
            out = self._replace(self._read(key)._sdf.filter(key._col))
            # row filtering cannot introduce nulls; and the surviving rows
            # had the mask TRUE, so the mask's null-rejection proof applies
            # (df[df.k > 0] proves k non-null -> merge plain-equality path)
            out._nonnull_cols = frozenset(self._nonnull_cols) | (
                (key._nonnull_if_true | key._strict_cols) & set(self.columns)
            )
            return out
        raise TypeError(f"unsupported key type: {type(key)!r}")

    def __setitem__(self, name, value) -> None:
        if isinstance(name, list):
            # multi-column assignment (reference df_swap):
            # df[["a","b"]] = df[["b","a"]] maps positionally
            if not isinstance(value, DataFrame) or len(name) != len(value.columns):
                raise ValueError("multi-column assignment needs a DataFrame of equal width")
            srcs = [F.col(c) for c in value.columns]
            sdf = self._sdf
            tmp = [f"__swap_{i}__" for i in range(len(name))]
            for t, src in zip(tmp, srcs):
                sdf = sdf.withColumn(t, src)
            for target, t in zip(name, tmp):
                sdf = sdf.withColumn(target, F.col(t))
            self._overwrite(sdf.drop(*tmp))
            self._nonnull_cols = self._nonnull_cols - set(name)
            return
        if isinstance(value, Series):
            if getattr(value, "_tz", None):
                raise NotImplementedError(
                    "assigning a tz-aware series into a frame: frames carry "
                    "no zone metadata — store naive wall time via "
                    "dt.tz_localize(None) or naive UTC via dt.tz_convert(None)"
                )
            sdf = self._read(value)._sdf.withColumn(name, value._col)
            if value._cat is not None:
                self._cat_meta[name] = value._cat
            else:
                self._cat_meta.pop(name, None)
        else:
            if hasattr(value, "item") and not isinstance(value, (str, bytes)):
                value = value.item()  # numpy typed scalars (reference df_fill)
            sdf = self._sdf.withColumn(name, F.lit(value))
        if name in self._sdf.columns:
            self._overwrite(sdf)
        else:
            self._sdf = sdf
        self._nonnull_cols = self._nonnull_cols - {name}

    def __getattr__(self, name: str):
        # attribute-style column access (df.col1), after normal lookup fails
        if name.startswith("_"):
            raise AttributeError(name)
        sdf = self.__dict__.get("_sdf")
        if sdf is not None and name in sdf.columns:
            return self[name]
        raise AttributeError(name)

    def assign(self, **kwargs) -> "DataFrame":
        """Add columns from Series, scalars, or callables taking the frame
        (pandas assign; callables see earlier assignments, left-to-right)."""
        out = self.copy()
        for name, value in kwargs.items():
            out[name] = value(out) if callable(value) and not isinstance(value, Series) else value
        return out

    def drop(self, labels=None, columns=None, index=None, axis=0, level=None) -> "DataFrame":
        """Drop columns by name or rows by index label (reference
        frontend/frame.py:614-710: row drops become an index filter)."""
        if labels is not None and (columns is not None or index is not None):
            raise ValueError("cannot combine labels with columns/index")
        if columns is None and axis in (1, "columns"):
            columns = labels
        if index is None and labels is not None and axis in (0, "index"):
            index = labels
        out = self
        if index is not None:
            out = out._drop_rows(index, level)
        if columns is not None:
            cols = [columns] if isinstance(columns, str) else list(columns)
            missing = [c for c in cols if c not in out.columns]
            if missing:
                raise KeyError(f"columns not found: {missing}")
            out = out._replace(out._sdf.drop(*cols))
        return out

    def _drop_rows(self, labels, level=None) -> "DataFrame":
        """Row drop by index label → an anti-filter on the index column(s);
        null index values are never dropped (pandas)."""
        if not self._index:
            raise ValueError("row drops by label require a stored index (set_index first)")
        if level is not None:
            name = self._index[level] if isinstance(level, int) else level
            if name not in self._index:
                raise KeyError(f"level {name!r} is not an index level of {self._index}")
            vals = labels if isinstance(labels, (list, tuple)) else [labels]
            cond = ~F.coalesce(F.col(name).isin(list(vals)), F.lit(False))
            return self._replace(self._sdf.filter(cond))
        if isinstance(labels, tuple) and len(self._index) > 1:
            # full or prefix MultiIndex label
            if len(labels) > len(self._index):
                raise KeyError(f"too many levels in label {labels!r}")
            match = None
            for lv, v in zip(self._index, labels):
                c = F.coalesce(F.col(lv) == F.lit(v), F.lit(False))
                match = c if match is None else (match & c)
            return self._replace(self._sdf.filter(~match))
        vals = labels if isinstance(labels, (list, tuple)) else [labels]
        cond = ~F.coalesce(F.col(self._index[0]).isin(list(vals)), F.lit(False))
        return self._replace(self._sdf.filter(cond))

    def rename(self, columns: dict | None = None) -> "DataFrame":
        sdf = self._sdf
        for old, new in (columns or {}).items():
            sdf = sdf.withColumnRenamed(old, new)
        index = tuple((columns or {}).get(c, c) for c in self._index)
        out = DataFrame(sdf, index)
        # pure rename preserves values: remap the non-null guarantees
        out._nonnull_cols = frozenset(
            (columns or {}).get(c, c) for c in self._nonnull_cols
        )
        return out

    def set_axis(self, labels, axis=1) -> "DataFrame":
        """Replace all column labels (reference df_set_axis)."""
        if axis not in (1, "columns"):
            raise NotImplementedError("set_axis over rows: use set_index")
        cols = self.columns
        if len(labels) != len(cols):
            raise ValueError(f"expected {len(cols)} labels, got {len(labels)}")
        return self.rename(columns=dict(zip(cols, labels)))

    def add_prefix(self, prefix: str) -> "DataFrame":
        return self.rename(columns={c: prefix + c for c in self.columns})

    def add_suffix(self, suffix: str) -> "DataFrame":
        return self.rename(columns={c: c + suffix for c in self.columns})

    # ------------------------------------------------------------ row selection
    def query(self, expr: str, **env) -> "DataFrame":
        from legate_pandas_spark.frontend.query import (
            query_proof_columns,
            translate_query_expr,
        )

        env = _caller_env(env, depth=2)
        out = self._replace(self._sdf.filter(translate_query_expr(expr, env or None)))
        # surviving rows passed a null-dropping WHERE: comparison operands
        # are proven non-null (merge plain-equality fast path)
        out._nonnull_cols = frozenset(self._nonnull_cols) | (
            query_proof_columns(expr) & set(self.columns)
        )
        return out

    def head(self, n: int = 5) -> "DataFrame":
        return self._carry_proofs(self._replace(self._sdf.limit(n)))

    def tail(self, n: int = 5) -> "DataFrame":
        sdf = self._ordered_sdf()
        return self._carry_proofs(
            self._replace(
                sdf.orderBy(F.desc(ROW_ORDER)).limit(n).orderBy(F.asc(ROW_ORDER))
            )
        )

    def drop_duplicates(self, subset=None, keep: str | bool = "first") -> "DataFrame":
        data_cols = self.columns
        subset = [subset] if isinstance(subset, str) else list(subset or data_cols)
        if keep is False:
            counts = Window.partitionBy(*subset)
            sdf = (
                self._sdf.withColumn("__cnt__", F.count(F.lit(1)).over(counts))
                .filter(F.col("__cnt__") == 1)
                .drop("__cnt__")
            )
            return self._carry_proofs(self._replace(sdf))
        sdf = self._ordered_sdf()
        order = F.asc(ROW_ORDER) if keep == "first" else F.desc(ROW_ORDER)
        w = Window.partitionBy(*subset).orderBy(order)
        out = sdf.withColumn("__rn__", F.row_number().over(w)).filter(F.col("__rn__") == 1).drop(
            "__rn__"
        )
        return self._carry_proofs(self._replace(out))

    def dropna(self, how: str = "any", thresh: int | None = None, subset=None,
               axis: int = 0) -> "DataFrame":
        if axis in (1, "columns"):
            # drop COLUMNS by null profile: ONE aggregate of per-column null
            # counts (map-side combinable scalars), then a pure projection
            probes = [
                F.sum(F.col(c).isNull().cast("long")).alias(c) for c in self.columns
            ] + [F.count(F.lit(1)).alias("__total__")]
            row = self._sdf.agg(*probes).collect()[0]
            total = row["__total__"]
            keep = []
            for c in self.columns:
                nulls = row[c] or 0
                if thresh is not None:
                    ok = (total - nulls) >= thresh
                elif how == "all":
                    ok = nulls < total
                else:
                    ok = nulls == 0
                if ok:
                    keep.append(c)
            sel = [c for c in self._sdf.columns if c not in self.columns or c in keep]
            return self._replace(self._sdf.select(*sel))
        cols = [subset] if isinstance(subset, str) else list(subset or self.columns)
        if thresh is not None:
            non_null = sum(F.col(c).isNotNull().cast("int") for c in cols)
            return self._replace(self._sdf.filter(non_null >= thresh))
        out = self._replace(self._sdf.dropna(how=how, subset=cols))
        # values unchanged, rows only removed: existing proofs survive; with
        # how='any' every surviving row is non-null on EVERY subset column —
        # new proofs for the merge fast path (see _nonnull_cols)
        out._nonnull_cols = frozenset(self._nonnull_cols) | (
            frozenset(cols) if how == "any" else frozenset()
        )
        return out

    # ------------------------------------------------------------ nulls / casts
    def fillna(self, value) -> "DataFrame":
        if isinstance(value, dict):
            out = self._replace(self._sdf.fillna(value))
            # a scalar-filled column cannot hold nulls afterwards (Spark
            # fillna skips type-incompatible columns, so only count a column
            # proven when the fill value's type family matches)
            dtypes = dict(self._sdf.dtypes)
            proven = {
                c
                for c, v in value.items()
                if v is not None and c in dtypes and _fill_applies(dtypes[c], v)
            }
            out._nonnull_cols = frozenset(self._nonnull_cols) | proven
            return out
        out = self._replace(self._sdf.fillna(value, subset=self.columns))
        if value is not None:
            dtypes = dict(self._sdf.dtypes)
            proven = {
                c for c in self.columns if _fill_applies(dtypes.get(c, ""), value)
            }
            out._nonnull_cols = frozenset(self._nonnull_cols) | proven
        return out

    def isna(self) -> "DataFrame":
        sel = list(self._index) + [F.col(c).isNull().alias(c) for c in self.columns]
        return self._replace(self._sdf.select(*sel))

    def notna(self) -> "DataFrame":
        sel = list(self._index) + [F.col(c).isNotNull().alias(c) for c in self.columns]
        return self._replace(self._sdf.select(*sel))

    def astype(self, dtype) -> "DataFrame":
        import pandas as pd

        mapping = dtype if isinstance(dtype, dict) else {c: dtype for c in self.columns}
        sdf = self._sdf
        meta = dict(self._cat_meta)
        for c, t in mapping.items():
            if isinstance(t, pd.CategoricalDtype) or str(t) == "category":
                s = self[c].astype(t)  # Series owns the categorical rules
                sdf = sdf.withColumn(c, s._col)
                meta[c] = s._cat
            else:
                sdf = sdf.withColumn(c, F.col(c).cast(to_spark_type(t)))
                meta.pop(c, None)
        out = self._replace(sdf)
        out._cat_meta = meta
        # ANSI cast THROWS on invalid input instead of yielding null, so a
        # proven column stays proven through any non-categorical cast; the
        # categorical path can null out-of-dictionary values (pandas
        # semantics), so those columns lose their proof.
        cat_targets = {
            c
            for c, t in mapping.items()
            if isinstance(t, pd.CategoricalDtype) or str(t) == "category"
        }
        out._nonnull_cols = frozenset(self._nonnull_cols) - cat_targets
        return out

    # ---------------------------------------------------- frame-level binops
    def _binop(self, fn, name: str) -> "DataFrame":
        """Frame ⊗ scalar element-wise op over numeric columns (reference
        BROADCAST_BINARY_OP, core/table.py:478-535). The result records its
        lineage (parent + per-column expressions) so where/mask can align it
        back to the parent without a join — the reference's aligned-only
        contract (README.md:208-218)."""
        dtypes = dict(self._sdf.dtypes)
        # lineage composes transitively: (df % 2) == 0 anchors to df, with the
        # composed expression, so where/mask can align any derived chain
        root = getattr(self, "_lineage_parent", None) or self
        base = getattr(self, "_lineage_exprs", None) or {}
        exprs, sel = {}, []
        for c in self._sdf.columns:
            if c in self._index or (c.startswith("__") and c.endswith("__")):
                sel.append(F.col(c))
            elif is_numeric_spark_type(dtypes[c]) or name in ("eq", "ne", "lt", "le", "gt", "ge"):
                exprs[c] = fn(base.get(c, F.col(c)))
                sel.append(fn(F.col(c)).alias(c))
            else:
                raise TypeError(f"{name} not supported for column {c!r} ({dtypes[c]})")
        out = self._replace(self._sdf.select(*sel))
        out._lineage_parent = root
        out._lineage_exprs = exprs
        return out

    def _binop_frame(self, other: "DataFrame", fn, name: str, fill_value=None) -> "DataFrame":
        """Frame ⊗ frame element-wise op with pandas alignment semantics
        (extension beyond the reference's aligned-only contract,
        README.md:208-218 — pandas users expect ``df1 + df2`` to align).

        Three physical strategies, cheapest applicable wins:
        1. lineage-aligned (other is self or derived from it) → column zip,
           zero shuffle;
        2. both frames carry the same stored index → full-outer equi-join on
           the index columns (distributed hash join; duplicate labels get the
           pandas cartesian-per-label semantics for free);
        3. both virtual RangeIndex → positional full-outer join via
           partition-offset positions (no global sort).
        fill_value: pandas rule — fill where exactly one side is missing
        (absent label or null value); missing in both stays null."""
        cols_self, cols_other = self.columns, other.columns
        if cols_self == cols_other:
            out_cols = list(cols_self)
        else:
            out_cols = sorted(set(cols_self) | set(cols_other))
        fv = None if fill_value is None else F.lit(fill_value)

        def cell(left, right):
            if left is None and right is None:
                return F.lit(None).cast("double")
            l2 = left if left is not None else F.lit(None)
            r2 = right if right is not None else F.lit(None)
            if fv is not None:
                return F.when(l2.isNull() & r2.isNull(), F.lit(None)).otherwise(
                    fn(F.coalesce(l2, fv), F.coalesce(r2, fv))
                )
            return fn(l2, r2)

        def _root(f):
            return getattr(f, "_lineage_parent", None) or f

        root = _root(self)
        if root is _root(other):
            # both sides are the root or lineage-derived from it: evaluate both
            # expression sets over the root plan — column zip, zero shuffle
            se = dict(self._lineage_exprs) if self is not root else {c: F.col(c) for c in cols_self}
            oe = dict(other._lineage_exprs) if other is not root else {c: F.col(c) for c in other.columns}
            keep = [
                F.col(c)
                for c in root._sdf.columns
                if c in root._index or (c.startswith("__") and c.endswith("__"))
            ]
            exprs = {c: cell(se.get(c), oe.get(c)) for c in out_cols}
            out = root._replace(root._sdf.select(*keep, *[exprs[c].alias(c) for c in out_cols]))
            out._lineage_parent = root
            out._lineage_exprs = exprs
            return out
        if name in ("eq", "ne", "lt", "le", "gt", "ge"):
            raise ValueError("can only compare identically-labeled (aligned) DataFrames")
        if self._index and other._index:
            if self._index != other._index:
                raise ValueError(
                    f"cannot align frames with different index names: "
                    f"{self._index} vs {other._index}"
                )
            keys = list(self._index)
            a = self._sdf.select(
                *[F.col(k) for k in keys],
                *[F.col(c).alias(f"__l_{c}__") for c in cols_self],
            )
            b = other._sdf.select(
                *[F.col(k) for k in keys],
                *[F.col(c).alias(f"__r_{c}__") for c in cols_other],
            )
            joined = a.join(b, keys, "full_outer")
            sel = [F.col(k) for k in keys] + [
                cell(
                    F.col(f"__l_{c}__") if c in cols_self else None,
                    F.col(f"__r_{c}__") if c in cols_other else None,
                ).alias(c)
                for c in out_cols
            ]
            return self._replace(joined.select(*sel))
        if not self._index and not other._index:
            from legate_pandas_spark.frontend.indexing import _attach_positions

            def _positioned(df, tag):
                sdf = df._sdf.select(*df.columns).withColumn(
                    ROW_ORDER, F.monotonically_increasing_id()
                )
                with_pos, _ = _attach_positions(sdf, fresh=True)
                return with_pos.select(
                    "__pos__", *[F.col(c).alias(f"__{tag}_{c}__") for c in df.columns]
                )

            joined = _positioned(self, "l").join(
                _positioned(other, "r"), "__pos__", "full_outer"
            )
            # the join key IS the row position: keep it as the row-order column
            # so to_pandas/iloc restore caller order after the shuffle
            sel = [F.col("__pos__").alias(ROW_ORDER)] + [
                cell(
                    F.col(f"__l_{c}__") if c in cols_self else None,
                    F.col(f"__r_{c}__") if c in cols_other else None,
                ).alias(c)
                for c in out_cols
            ]
            return DataFrame(joined.select(*sel), ())
        raise ValueError(
            "cannot align a stored-index frame with a RangeIndex frame; "
            "set_index on both or reset_index on both first"
        )

    def _dispatch_binop(self, other, fn, name: str, fill_value=None):
        if isinstance(other, DataFrame):
            return self._binop_frame(other, fn, name, fill_value=fill_value)
        if isinstance(other, Series):
            raise TypeError(
                "frame ⊗ Series with column matching is not supported; "
                "use df[col] op series per column or where/mask with axis=0"
            )
        if fill_value is not None:
            raise TypeError("fill_value only applies to frame operands")
        return self._binop(lambda c: fn(c, F.lit(other)), name)

    def __add__(self, other):
        return self._dispatch_binop(other, lambda a, b: a + b, "add")

    def __radd__(self, other):
        return self._dispatch_binop(other, lambda a, b: b + a, "add")

    def __sub__(self, other):
        return self._dispatch_binop(other, lambda a, b: a - b, "sub")

    def __rsub__(self, other):
        return self._dispatch_binop(other, lambda a, b: b - a, "sub")

    def __mul__(self, other):
        return self._dispatch_binop(other, lambda a, b: a * b, "mul")

    def __rmul__(self, other):
        return self._dispatch_binop(other, lambda a, b: b * a, "mul")

    def __truediv__(self, other):
        from legate_pandas_spark.frontend.dtypes import truediv

        return self._dispatch_binop(other, truediv, "div")

    def __rtruediv__(self, other):
        from legate_pandas_spark.frontend.dtypes import truediv

        return self._dispatch_binop(other, lambda a, b: truediv(b, a), "div")

    def __mod__(self, other):
        from legate_pandas_spark.frontend.dtypes import floormod

        return self._dispatch_binop(other, floormod, "mod")

    def __pow__(self, other):
        return self._dispatch_binop(other, lambda a, b: F.pow(a, b), "pow")

    def add(self, other, fill_value=None):
        return self._dispatch_binop(other, lambda a, b: a + b, "add", fill_value)

    def sub(self, other, fill_value=None):
        return self._dispatch_binop(other, lambda a, b: a - b, "sub", fill_value)

    def mul(self, other, fill_value=None):
        return self._dispatch_binop(other, lambda a, b: a * b, "mul", fill_value)

    def div(self, other, fill_value=None):
        from legate_pandas_spark.frontend.dtypes import truediv

        return self._dispatch_binop(other, truediv, "div", fill_value)

    truediv = div

    def floordiv(self, other, fill_value=None):
        return self._dispatch_binop(
            other, lambda a, b: F.floor(a / b).cast("double"), "floordiv", fill_value
        )

    def mod(self, other, fill_value=None):
        from legate_pandas_spark.frontend.dtypes import floormod

        return self._dispatch_binop(other, floormod, "mod", fill_value)

    def pow(self, other, fill_value=None):
        return self._dispatch_binop(other, lambda a, b: F.pow(a, b), "pow", fill_value)

    # reversed method forms (pandas radd/rsub/...)
    def radd(self, other, fill_value=None):
        return self._dispatch_binop(other, lambda a, b: b + a, "add", fill_value)

    def rsub(self, other, fill_value=None):
        return self._dispatch_binop(other, lambda a, b: b - a, "sub", fill_value)

    def rmul(self, other, fill_value=None):
        return self._dispatch_binop(other, lambda a, b: b * a, "mul", fill_value)

    def rdiv(self, other, fill_value=None):
        from legate_pandas_spark.frontend.dtypes import truediv

        return self._dispatch_binop(
            other, lambda a, b: truediv(b, a), "div", fill_value
        )

    rtruediv = rdiv

    def rfloordiv(self, other, fill_value=None):
        return self._dispatch_binop(
            other, lambda a, b: F.floor(b / a).cast("double"), "floordiv", fill_value
        )

    def rmod(self, other, fill_value=None):
        from legate_pandas_spark.frontend.dtypes import floormod

        return self._dispatch_binop(
            other, lambda a, b: floormod(b, a), "mod", fill_value
        )

    def rpow(self, other, fill_value=None):
        return self._dispatch_binop(other, lambda a, b: F.pow(b, a), "pow", fill_value)

    # comparison method forms (null-compare-false, like the operators)
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

    def __neg__(self):
        return self._binop(lambda c: -c, "neg")

    def __eq__(self, other):  # type: ignore[override]
        from legate_pandas_spark.frontend.dtypes import null_compare_false

        return self._dispatch_binop(other, lambda a, b: null_compare_false(a == b), "eq")

    def __ne__(self, other):  # type: ignore[override]
        # pandas: NaN != x is TRUE (round-9, aligned with Series.__ne__ and
        # query()'s total atoms) — null operands coalesce to TRUE
        return self._dispatch_binop(
            other, lambda a, b: F.coalesce(a != b, F.lit(True)), "ne"
        )

    def __lt__(self, other):
        from legate_pandas_spark.frontend.dtypes import null_compare_false

        return self._dispatch_binop(other, lambda a, b: null_compare_false(a < b), "lt")

    def __le__(self, other):
        from legate_pandas_spark.frontend.dtypes import null_compare_false

        return self._dispatch_binop(other, lambda a, b: null_compare_false(a <= b), "le")

    def __gt__(self, other):
        from legate_pandas_spark.frontend.dtypes import null_compare_false

        return self._dispatch_binop(other, lambda a, b: null_compare_false(a > b), "gt")

    def __ge__(self, other):
        from legate_pandas_spark.frontend.dtypes import null_compare_false

        return self._dispatch_binop(other, lambda a, b: null_compare_false(a >= b), "ge")

    __hash__ = object.__hash__  # __eq__ override must not break hashing

    def _aligned_exprs(self, other: "DataFrame") -> dict:
        """Per-column expressions of ``other`` valid over self._sdf, or raise.
        Aligned = other IS self, or other was derived from self by frame-level
        ops (lineage-tracked) — the reference's aligned-only support
        (core/index.py:87-102 raises on unaligned partitions)."""
        if other is self:
            return {c: F.col(c) for c in self.columns}
        if getattr(other, "_lineage_parent", None) is self:
            return dict(other._lineage_exprs)
        raise ValueError(
            "frame operands must be aligned with this frame (same frame or "
            "derived from it by element-wise ops); merge/join explicitly "
            "otherwise (reference README.md:208-218)"
        )

    def where(self, cond, other=None, axis=None) -> "DataFrame":
        """Keep cells where cond holds, else `other` (reference copy_if_else,
        frontend/dataframe.py:478-573, src/copy/tasks/copy_if_else.cc).

        cond: boolean Series (row-wise) or aligned boolean DataFrame
        (cell-wise; missing columns / null cond → replaced, like pandas).
        other: scalar, Series (row-wise broadcast, axis=0), or aligned
        DataFrame (cell-wise)."""
        if isinstance(cond, Series):
            return self._keep_where(self._read(cond), lambda c: cond._col, other)
        if isinstance(cond, DataFrame):
            ce = self._aligned_exprs(cond)
            # cells with no cond column or null cond are False (pandas)
            return self._keep_where(
                self,
                lambda c: F.coalesce(ce[c], F.lit(False)) if c in ce else F.lit(False),
                other,
            )
        raise TypeError(f"unsupported cond type: {type(cond)!r}")

    def mask(self, cond, other=None, axis=None) -> "DataFrame":
        """Replace cells where cond holds (inverse of where); null cond cells
        are kept (pandas: mask only replaces where cond is True)."""
        if isinstance(cond, Series):
            return self._keep_where(
                self._read(cond), lambda c: ~F.coalesce(cond._col, F.lit(False)), other
            )
        if isinstance(cond, DataFrame):
            ce = self._aligned_exprs(cond)
            return self._keep_where(
                self,
                lambda c: ~F.coalesce(ce[c], F.lit(False)) if c in ce else F.lit(True),
                other,
            )
        raise TypeError(f"unsupported cond type: {type(cond)!r}")

    def _keep_where(self, base: "DataFrame", keep_cell, other) -> "DataFrame":
        """Each value column's cells where ``keep_cell(column)`` holds, else
        `other`, selected from ``base`` (this frame, or the frame a Series
        cond is read from); a Series `other` is read the same way."""
        if isinstance(other, DataFrame):
            oe = self._aligned_exprs(other)
            repl = lambda c: oe.get(c, F.lit(None))  # noqa: E731
        elif isinstance(other, Series):
            base = base._read(other)
            repl = lambda c: other._col  # noqa: E731
        else:
            repl = lambda c: F.lit(other)  # noqa: E731
        keep = [c for c in base._sdf.columns if c in self._index or (c.startswith("__") and c.endswith("__"))]
        sel = [F.col(c) for c in keep] + [
            F.when(keep_cell(c), F.col(c)).otherwise(repl(c)).alias(c)
            for c in self.columns
        ]
        out = self._replace(base._sdf.select(*sel))
        # provenance (round-9): kept cells preserve values, replaced cells
        # become `other` — a NON-NULL scalar replacement can never introduce
        # a null, so existing column proofs survive. Frame/Series others and
        # the default None (NaN fill) can, and drop every proof.
        if _nonnull_scalar(other):
            out._nonnull_cols = frozenset(self._nonnull_cols) & set(
                out._sdf.columns
            )
        return out

    # ------------------------------------------------------------ sorting
    def sort_values(self, by, ascending=True, na_position: str = "last") -> "DataFrame":
        by = [by] if isinstance(by, str) else list(by)
        asc = [ascending] * len(by) if isinstance(ascending, bool) else list(ascending)
        cols = []
        for c, a in zip(by, asc):
            key = F.col(c)
            cat = self._cat_meta.get(c)
            if cat is not None and cat.categories is not None:
                # categorical keys sort by declared code order, not lexicographic
                code = cat.code_expr(key)
                key = F.when(code >= 0, code)
            if a:
                cols.append(F.asc_nulls_last(key) if na_position == "last" else F.asc_nulls_first(key))
            else:
                cols.append(F.desc_nulls_last(key) if na_position == "last" else F.desc_nulls_first(key))
        # stability tiebreaker (stable sort contract, reference
        # sort_values.cc:64 uses std::stable_sort): ALWAYS attach the row
        # order key first — without it, tied keys land in partition-dependent
        # order on fresh frames. After the sort, re-stamp ROW_ORDER from the
        # sorted output so a SUBSEQUENT sort's ties break by the CURRENT
        # frame order (pandas mergesort semantics), not the original one.
        sdf = self._ordered_sdf()
        cols.append(F.asc(ROW_ORDER))
        out = sdf.orderBy(*cols).withColumn(
            ROW_ORDER, F.monotonically_increasing_id()
        )
        return self._carry_proofs(self._replace(out))

    def sort_index(self, ascending: bool = True) -> "DataFrame":
        if not self._index:
            return self
        cols = [F.asc(c) if ascending else F.desc(c) for c in self._index]
        return self._carry_proofs(self._replace(self._sdf.orderBy(*cols)))

    def nlargest(self, n: int, columns) -> "DataFrame":
        return self.sort_values(columns, ascending=False).head(n)

    def nsmallest(self, n: int, columns) -> "DataFrame":
        return self.sort_values(columns, ascending=True).head(n)

    # ------------------------------------------------------------ indexers
    @property
    def loc(self):
        from legate_pandas_spark.frontend.indexing import LocIndexer

        return LocIndexer(self)

    @property
    def iloc(self):
        from legate_pandas_spark.frontend.indexing import ILocIndexer

        return ILocIndexer(self)

    @property
    def at(self):
        from legate_pandas_spark.frontend.indexing import AtIndexer

        return AtIndexer(self)

    @property
    def iat(self):
        from legate_pandas_spark.frontend.indexing import AtIndexer

        return AtIndexer(self, positional=True)

    def insert(self, loc: int, column: str, value) -> None:
        from legate_pandas_spark.frontend.series import Series

        if isinstance(value, Series):
            base, col = self._read(value), value._col
        else:
            base, col = self, F.lit(value)
        order = self.columns
        order.insert(loc, column)
        sdf = base._sdf.withColumn(column, col)
        keep = [c for c in sdf.columns if c not in order]
        self._sdf = sdf.select(*(keep + order))
        self._nonnull_cols = self._nonnull_cols - {column}

    def pop(self, column: str):
        s = self.copy()[column]  # reads the plan that still has the column
        self._overwrite(self._sdf.drop(column))
        self._nonnull_cols = self._nonnull_cols - {column}
        return s

    # ------------------------------------------------------------ index ops
    def set_index(self, keys, drop: bool = True) -> "DataFrame":
        keys = [keys] if isinstance(keys, str) else list(keys)
        # index columns stay physically present; only metadata changes
        return DataFrame(self._sdf, tuple(keys))

    def reset_index(self, level=None, drop: bool = False) -> "DataFrame":
        if not self._index and not drop:
            # pandas: resetting the default RangeIndex materializes it as an
            # 'index' column (0..n-1) — positions via the partition-offset
            # arithmetic, not a global window
            from legate_pandas_spark.frontend.indexing import _attach_positions

            name = "index" if "index" not in self.columns else "level_0"
            fresh = ROW_ORDER not in self._sdf.columns
            with_pos, _ = _attach_positions(
                self._ordered_sdf(), fresh, pos_name=name
            )
            helpers = [c for c in with_pos.columns if c.startswith("__") and c.endswith("__")]
            data = [c for c in with_pos.columns if c not in helpers and c != name]
            out = DataFrame(with_pos.select(*helpers, name, *data), ())
            out._cat_meta = dict(self._cat_meta)
            out._nonnull_cols = frozenset(self._nonnull_cols) | {name}
            return out
        if level is None:
            names = list(self._index)
        else:
            levels = [level] if not isinstance(level, (list, tuple)) else list(level)
            names = [self._index[lv] if isinstance(lv, int) else lv for lv in levels]
        remaining = tuple(c for c in self._index if c not in names)
        if drop:
            keep = [c for c in self._sdf.columns if c not in names]
            out = DataFrame(self._sdf.select(*keep), remaining)
            out._nonnull_cols = self._nonnull_cols & set(keep)
            return out
        out = DataFrame(self._sdf, remaining)
        out._nonnull_cols = frozenset(self._nonnull_cols)
        return out

    # ------------------------------------------------------------ relational
    def merge(self, right: "DataFrame", **kwargs) -> "DataFrame":
        from legate_pandas_spark.frontend.merge import merge as _merge

        return _merge(self, right, **kwargs)

    def join(self, other: "DataFrame", how: str = "left", lsuffix: str = "", rsuffix: str = "") -> "DataFrame":
        """Index join (reference join = merge on index)."""
        if not self._index or not other._index:
            raise ValueError("join requires both frames to have a set index")
        return self.merge(
            other,
            how=how,
            left_index=True,
            right_index=True,
            suffixes=(lsuffix or "_x", rsuffix or "_y"),
        )

    def groupby(
        self, by=None, level=None, as_index: bool = True, sort: bool = False,
        dropna: bool = True,
    ):
        """Group by columns or index levels (reference frontend/groupby.py:22-86:
        level keys get reset_index first — here index cols are physical, so a
        level is just a key name)."""
        from legate_pandas_spark.frontend.groupby import GroupBy

        if by is None:
            if level is None:
                raise TypeError("groupby requires by= or level=")
            levels = [level] if not isinstance(level, (list, tuple)) else list(level)
            keys = [self._index[lv] if isinstance(lv, int) else lv for lv in levels]
            for k in keys:
                if k not in self._index:
                    raise KeyError(f"level {k!r} is not an index level of {self._index}")
        else:
            keys = [by] if isinstance(by, str) else list(by)
        return GroupBy(self, keys, as_index=as_index, sort=sort, dropna=dropna)

    def droplevel(self, level) -> "DataFrame":
        """Remove index level(s) (reference core/index.py MultiIndex ops)."""
        levels = [level] if not isinstance(level, (list, tuple)) else list(level)
        names = [self._index[lv] if isinstance(lv, int) else lv for lv in levels]
        remaining = tuple(c for c in self._index if c not in names)
        return DataFrame(self._sdf.drop(*names), remaining)

    def swaplevel(self, i: int = -2, j: int = -1) -> "DataFrame":
        """Swap two index levels (pandas swaplevel) — metadata only, the plan
        is untouched."""
        if len(self._index) < 2:
            raise ValueError("swaplevel needs at least a 2-level index")
        order = list(range(len(self._index)))
        order[i], order[j] = order[j], order[i]
        return DataFrame(self._sdf, tuple(self._index[k] for k in order))

    def reorder_levels(self, order) -> "DataFrame":
        """Rearrange index levels by position or name (pandas
        reorder_levels) — metadata only, the plan is untouched."""
        if len(self._index) < 2:
            raise TypeError("Can only reorder levels on a hierarchical axis.")
        names = list(self._index)
        assert len(order) == len(names), (
            f"Length of order must be same as number of levels ({len(names)}), "
            f"got {len(order)}"
        )
        idx = [
            names.index(o)
            if isinstance(o, str)
            else (o if o >= 0 else len(names) + o)
            for o in order
        ]
        if len(set(idx)) != len(idx):
            # pandas duplicates the level; our index levels are physical
            # columns, so a repeat would alias one column twice
            raise NotImplementedError(
                "reorder_levels with repeated levels: use reset_index + "
                "set_index to duplicate a level explicitly"
            )
        return DataFrame(self._sdf, tuple(names[k] for k in idx))

    def rename_axis(self, name) -> "DataFrame":
        """Rename the (single) stored index level (pandas rename_axis)."""
        if len(self._index) != 1:
            raise ValueError("rename_axis requires exactly one index level")
        old = self._index[0]
        if name != old and name in self.columns:
            # the stored index is a physical column; renaming onto an existing
            # data column would create a duplicate name in the Spark plan
            raise ValueError(
                f"rename_axis: {name!r} already exists as a data column"
            )
        return DataFrame(self._sdf.withColumnRenamed(old, name), (name,))

    def keys(self):
        """pandas DataFrame.keys(): the column labels."""
        return self.columns

    def get(self, key, default=None):
        """pandas DataFrame.get: column if present, else ``default``."""
        if isinstance(key, str):
            return self[key] if key in self.columns else default
        if all(k in self.columns for k in key):
            return self[list(key)]
        return default

    def dot(self, other) -> "DataFrame":
        """pandas DataFrame.dot against a SMALL driver-side right matrix
        (pandas DataFrame / dict of columns): output column j = Σ_k
        self[k] · other[k][j] — the embedding-projection shape. Compiles to
        pure per-row expressions (the right matrix is plan constants), so the
        product is row-parallel with zero shuffle at any scale. A
        distributed×distributed matmul is out of scope (use the ANN/similarity
        operators for gram-matrix work)."""
        import pandas as pd

        if isinstance(other, dict):
            other = pd.DataFrame(other)
        if not isinstance(other, pd.DataFrame):
            raise TypeError("dot expects a pandas DataFrame or dict right matrix")
        if set(map(str, other.index)) != set(map(str, self.columns)):
            # pandas requires exact alignment both ways; a silent drop of
            # unmatched self-columns would return a wrong numeric answer.
            raise ValueError("matrices are not aligned")
        exprs = []
        for j in other.columns:
            term = None
            for k in other.index:
                t = F.col(k).cast("double") * F.lit(float(other.loc[k, j]))
                term = t if term is None else term + t
            exprs.append(term.alias(str(j)))
        keep = [F.col(c) for c in self._index]
        if ROW_ORDER in self._sdf.columns:
            keep.append(F.col(ROW_ORDER))
        return DataFrame(self._sdf.select(*keep, *exprs), self._index)

    def xs(self, key, level=None) -> "DataFrame":
        """Cross-section over an index level (pandas xs): filter the level to
        ``key`` and drop it — a pushdown-friendly predicate, never a collect."""
        if not self._index:
            raise ValueError("xs requires a stored index")
        if level is None:
            name = self._index[0]
        else:
            name = self._index[level] if isinstance(level, int) else level
        remaining = tuple(c for c in self._index if c != name)
        return DataFrame(
            self._sdf.filter(F.col(name) == key).drop(name), remaining
        )

    def combine_first(self, other: "DataFrame") -> "DataFrame":
        """Fill this frame's nulls from another frame aligned on the stored
        index (pandas combine_first): full outer index join + per-column
        coalesce(self, other)."""
        if not self._index or self._index != other._index:
            raise ValueError("combine_first requires matching stored indexes")
        idx = list(self._index)
        rpref = "__cf__"
        osdf = other._sdf.select(
            *[F.col(c).alias(rpref + c if c not in idx else c) for c in idx + other.columns]
        )
        cond = None
        for k in idx:
            c = self._sdf[k].eqNullSafe(osdf[k])
            cond = c if cond is None else (cond & c)
        joined = self._sdf.join(osdf, cond, "full_outer")
        sel = [F.coalesce(self._sdf[k], osdf[k]).alias(k) for k in idx]
        all_cols = list(dict.fromkeys(self.columns + other.columns))
        for c in all_cols:
            mine = F.col(c) if c in self.columns else F.lit(None)
            theirs = F.col(rpref + c) if c in other.columns else F.lit(None)
            sel.append(F.coalesce(mine, theirs).alias(c))
        return DataFrame(joined.select(*sel), tuple(idx))

    def concat_rows(self, other: "DataFrame") -> "DataFrame":
        return DataFrame(
            self._sdf.unionByName(other._sdf, allowMissingColumns=True), self._index
        )

    append = concat_rows

    # ------------------------------------------------------------ ordered ops
    def _scan(self, kernel, numeric: bool = True, finish=None, keys=()) -> "DataFrame":
        """Run an ordered op's column kernel (``ordered.OrderedOps``) over
        every value column — numeric ones unless ``numeric`` is False; not
        the index, hidden columns or the group ``keys`` — and put each
        result, shaped by ``finish(result, source)``, in its source column's
        place."""
        dtypes = dict(self._sdf.dtypes)
        targets = [
            c
            for c in self.columns
            if c not in keys and (not numeric or is_numeric_spark_type(dtypes[c]))
        ]
        if not targets:
            return self._replace(self._ordered_sdf())
        uniq = next(_seq)
        outs = {f"__v_{uniq}_{i}__": c for i, c in enumerate(targets)}
        res = kernel(self._sdf, {o: _qcol(c) for o, c in outs.items()})
        back = {c: F.col(o) for o, c in outs.items()}
        sel = [
            (finish(back[c], _qcol(c)) if finish else back[c]).alias(c)
            if c in back
            else _qcol(c)
            for c in res.columns
            if c not in outs
        ]
        return self._replace(res.select(*sel))

    def _rank_rowwise(self, method: str, ascending: bool, pct: bool) -> "DataFrame":
        targets = [
            c
            for c, t in self._sdf.dtypes
            if c not in self._index and c != ROW_ORDER and is_numeric_spark_type(t)
        ]
        arr = F.array(*[F.col(c).cast("double") for c in targets])
        valid = F.filter(arr, lambda x: x.isNotNull())
        n_valid = F.size(valid)
        sel = []
        for i, c in enumerate(self._sdf.columns):
            if c not in targets:
                sel.append(F.col(c))
                continue
            d = F.col(c).cast("double")
            if ascending:
                before = F.size(F.filter(valid, lambda x: x < d))
            else:
                before = F.size(F.filter(valid, lambda x: x > d))
            ties = F.size(F.filter(valid, lambda x: x == d))
            if method == "min":
                expr = before + 1
            elif method == "average":
                expr = before + (ties + 1) / 2.0
            elif method == "dense":
                distinct_before = F.size(
                    F.array_distinct(
                        F.filter(valid, (lambda x: x < d) if ascending else (lambda x: x > d))
                    )
                )
                expr = distinct_before + 1
            elif method == "first":
                j = targets.index(c)
                earlier_ties = (
                    sum(
                        F.coalesce(
                            (F.col(t2).cast("double") == d).cast("int"), F.lit(0)
                        )
                        for t2 in targets[:j]
                    )
                    if j
                    else F.lit(0)
                )
                expr = before + earlier_ties + 1
            else:
                raise ValueError(f"unsupported rank method: {method!r}")
            expr = expr.cast("double")
            if pct:
                expr = expr / n_valid
            sel.append(F.when(d.isNotNull(), expr).alias(c))
        return self._replace(self._sdf.select(*sel))

    def idxmax(self):
        """Per-column index label of the first maximum (pandas idxmax,
        axis=0, skipna) — a pandas Series indexed by column name."""
        return self._idx_reduce(descending=True)

    def idxmin(self):
        return self._idx_reduce(descending=False)

    def _idx_reduce(self, descending: bool):
        """ONE aggregate of max_by(label, (value, -row order)) per numeric
        column (min_by of (value, row order) for the minimum), so ties go to
        the first row, like pandas; null values are skipped. A stored index
        supplies labels, a virtual RangeIndex partition-offset positions."""
        import pandas as pd

        from legate_pandas_spark.frontend.indexing import _attach_positions

        dtypes = dict(self._sdf.dtypes)
        targets = [c for c in self.columns if is_numeric_spark_type(dtypes[c])]
        fresh = ROW_ORDER not in self._sdf.columns
        sdf = self._ordered_sdf()
        if self._index:
            label = F.col(self._index[0])
        else:
            sdf, _ = _attach_positions(sdf, fresh)
            label = F.col("__pos__")
        tie = -F.col(ROW_ORDER) if descending else F.col(ROW_ORDER)
        pick = F.max_by if descending else F.min_by
        row = sdf.agg(
            *[
                pick(label, F.when(_qcol(c).isNotNull(), F.struct(_qcol(c), tie))).alias(c)
                for c in targets
            ]
        ).collect()[0]
        return pd.Series({c: row[c] for c in targets}, dtype=object)

    def _map_numeric(self, fn) -> "DataFrame":
        """Apply a column expression to every numeric column (projection-only).
        Callers (round/abs/clip) are NULL-PRESERVING — null in, null out,
        never null from non-null — so column non-null proofs carry through
        (round-9 provenance widening)."""
        out = []
        for c, t in self._sdf.dtypes:
            if c in self._index or (c.startswith("__") and c.endswith("__")):
                out.append(F.col(c))
            elif is_numeric_spark_type(t):
                out.append(fn(F.col(c)).alias(c))
            else:
                out.append(F.col(c))
        return self._carry_proofs(self._replace(self._sdf.select(*out)))

    def round(self, decimals: int = 0) -> "DataFrame":
        return self._map_numeric(lambda c: F.round(c, decimals))

    def abs(self) -> "DataFrame":
        return self._map_numeric(F.abs)

    def clip(self, lower=None, upper=None) -> "DataFrame":
        # nulls stay null (pandas): Spark's greatest/least SKIP nulls and
        # would fill a missing value with the bound — guard on isNull
        def _clip(c):
            src = c
            if lower is not None:
                c = F.greatest(c, F.lit(lower))
            if upper is not None:
                c = F.least(c, F.lit(upper))
            if lower is not None or upper is not None:
                c = F.when(src.isNull(), F.lit(None)).otherwise(c)
            return c

        return self._map_numeric(_clip)

    def agg(self, spec: dict):
        """Frame-level agg({col: op | [ops]}) → pandas DataFrame (ops × cols),
        computed in ONE aggregate pass (pandas result shape; an action)."""
        import pandas as pd

        from legate_pandas_spark.frontend.groupby import _AGG_FNS, _with_identity

        exprs, keys = [], []
        for col, ops in spec.items():
            for op in [ops] if isinstance(ops, str) else ops:
                exprs.append(
                    _with_identity(op, _AGG_FNS[op](F.col(col))).alias(
                        f"{col}\x00{op}"
                    )
                )
                keys.append((col, op))
        row = self._sdf.agg(*exprs).collect()[0]
        all_ops = list(dict.fromkeys(op for _, op in keys))
        data = {
            col: {op: row[f"{col}\x00{op}"] for c2, op in keys if c2 == col}
            for col in spec
        }
        return pd.DataFrame(data).reindex(all_ops)

    aggregate = agg  # pandas alias

    def transpose(self) -> "DataFrame":
        """Driver-side transpose (pandas .T). A transpose makes rows into the
        SCHEMA, so it is inherently driver-bound — materializes via Arrow,
        like to_pandas(); intended for small frames (reductions, describe)."""
        spark = self._sdf.sparkSession
        tp = self.to_pandas().T
        tp.columns = [str(c) for c in tp.columns]
        tp = tp.reset_index().rename(columns={"index": "column"})
        return DataFrame(tp, spark=spark).set_index("column")

    @property
    def T(self) -> "DataFrame":
        return self.transpose()

    def quantile(self, q=0.5):
        """Exact interpolated per-column quantile → pandas Series (scalar q)
        or DataFrame (list q). Swap to approx_percentile at 100 TB, same
        documented trade as describe()."""
        import pandas as pd

        cols = [c for c, t in self._sdf.dtypes if c in self.columns and is_numeric_spark_type(t)]
        if isinstance(q, (list, tuple)):
            qs = [float(v) for v in q]
            row = self._sdf.agg(
                *[
                    F.percentile(
                        F.col(c), F.array(*[F.lit(v) for v in qs])
                    ).alias(c)
                    for c in cols
                ]
            ).collect()[0]
            return pd.DataFrame(
                {c: list(row[c]) for c in cols}, index=qs
            )
        row = self._sdf.agg(
            *[F.percentile(F.col(c), F.lit(float(q))).alias(c) for c in cols]
        ).collect()[0]
        return pd.Series({c: row[c] for c in cols}, name=q)

    def isin(self, values) -> "DataFrame":
        """Element-wise membership per column (pandas DataFrame.isin with a
        list, or a dict mapping column -> values; null-compare-false engine
        contract). Series/DataFrame inputs (index-aligned membership) are not
        supported — raise rather than silently testing against dict keys."""
        from legate_pandas_spark.frontend.dtypes import null_compare_false

        if isinstance(values, Series) or hasattr(values, "_sdf"):
            raise NotImplementedError(
                "DataFrame.isin with a Series/DataFrame (index-aligned "
                "membership) is not supported; pass a list or a "
                "{column: values} dict"
            )
        if isinstance(values, dict):
            sel = []
            for c in self._sdf.columns:
                if c in self.columns:
                    if c in values:
                        sel.append(
                            null_compare_false(
                                F.col(c).isin(list(values[c]))
                            ).alias(c)
                        )
                    else:
                        sel.append(F.lit(False).alias(c))
                else:
                    sel.append(F.col(c))
            return self._replace(self._sdf.select(*sel))
        sel = [
            null_compare_false(F.col(c).isin(list(values))).alias(c)
            if c in self.columns
            else F.col(c)
            for c in self._sdf.columns
        ]
        return self._replace(self._sdf.select(*sel))

    def apply(self, func, axis: int = 1):
        """Row-wise apply (axis=1 only — axis=0 is just ``agg``): an
        Arrow-batched mapInPandas running pandas' own row apply per batch.
        The UDF escape hatch; result column is double (pandas scalar-returning
        row funcs). Returns a Series named 'apply'."""
        if axis not in (1, "columns"):
            raise NotImplementedError("apply: axis=0 — use agg/reductions")
        from legate_pandas_spark.frontend.series import Series

        from pyspark.sql import types as T

        vis = self.columns
        sdf = self._ordered_sdf()
        out_name = "__apply__"
        # build a FRESH StructType — StructType.add mutates in place, which
        # would corrupt the input DataFrame's cached schema object
        schema = T.StructType(
            list(sdf.schema.fields) + [T.StructField(out_name, T.DoubleType())]
        )

        def run(batches):
            for pdf in batches:
                res = pdf.copy()
                res[out_name] = pdf[vis].apply(func, axis=1).astype("float64")
                yield res

        new = sdf.mapInPandas(run, schema)
        out = DataFrame(new, self._index)
        return Series(out, F.col(out_name), "apply")

    def stack(self) -> "DataFrame":
        """df.stack(): fold the columns into rows. Returns a frame indexed by
        (*index, 'variable') with one 'value' column — the reset_index() image
        of pandas' MultiIndexed Series result. posexplode keeps the pandas
        output order (row-major, columns in original order) by deriving the
        new row-order key from (old order, column position)."""
        cols = self.columns
        dtypes = self.dtypes
        numeric = all(is_numeric_spark_type(dtypes[c]) for c in cols)
        cast_t = "double" if numeric else "string"
        pairs = F.array(
            *[
                F.struct(
                    F.lit(c).alias("variable"), F.col(c).cast(cast_t).alias("value")
                )
                for c in cols
            ]
        )
        sdf = self._ordered_sdf()
        keep = [F.col(c) for c in self._index]
        exploded = sdf.select(
            *keep, F.col(ROW_ORDER), F.posexplode(pairs).alias("__pos__", "kv")
        ).select(
            *keep,
            (F.col(ROW_ORDER) * len(cols) + F.col("__pos__")).alias(ROW_ORDER),
            F.col("kv.variable").alias("variable"),
            F.col("kv.value").alias("value"),
        )
        return DataFrame(exploded, tuple(self._index) + ("variable",))

    def unstack(self, level=-1) -> "DataFrame":
        """df.unstack(): pivot an index level (any level, by position or name)
        into columns. The level's value dictionary is collected to become
        column names — small by contract, cardinality-guarded exactly like
        get_dummies; the pivot itself is one hash aggregate on the remaining
        index levels.

        With multiple value columns, pandas yields MultiIndex tuple columns
        (value_col, level_val); this facade flattens them to
        ``f"{value_col}_{level_val}"`` (string schema, documented deviation)."""
        if len(self._index) < 2:
            raise ValueError("unstack requires a MultiIndex (>=2 index levels)")
        if isinstance(level, str):
            if level not in self._index:
                raise KeyError(f"unknown index level: {level!r}")
            lv = self._index.index(level)
        else:
            lv = level if level >= 0 else len(self._index) + level
            if not (0 <= lv < len(self._index)):
                raise IndexError(f"index level out of range: {level}")
        from legate_pandas_spark.frontend.encode import _collect_dictionary

        pivot_col = self._index[lv]
        remaining = tuple(c for i, c in enumerate(self._index) if i != lv)
        cols = self.columns
        values = _collect_dictionary(
            self._sdf, F.col(pivot_col), f"unstack({pivot_col!r})"
        )
        if len(cols) == 1:
            pivoted = (
                self._sdf.groupBy(*remaining)
                .pivot(pivot_col, values)
                .agg(F.first(F.col(cols[0])))
            )
            pivoted = pivoted.select(
                *remaining, *[F.col(f"`{v}`").alias(str(v)) for v in values]
            )
        else:
            pivoted = (
                self._sdf.groupBy(*remaining)
                .pivot(pivot_col, values)
                .agg(*[F.first(F.col(c)).alias(c) for c in cols])
            )
            # Spark names multi-agg pivot columns "{val}_{agg alias}"; flatten
            # to pandas tuple order "{value_col}_{level_val}"
            sel = [F.col(c) for c in remaining]
            for c in cols:
                for v in values:
                    sel.append(F.col(f"`{v}_{c}`").alias(f"{c}_{v}"))
            pivoted = pivoted.select(*sel)
        return DataFrame(pivoted, tuple(remaining))

    # ------------------------------------------------------------ reductions
    def _reduce_frame(self, agg_fn, numeric_only: bool = True):
        import pandas as pd

        aggs, names = [], []
        for c, t in self._sdf.dtypes:
            if c in self._index or c == ROW_ORDER:
                continue
            if numeric_only and not is_numeric_spark_type(t):
                continue
            aggs.append(agg_fn(F.col(c)).alias(c))
            names.append(c)
        if not aggs:
            return pd.Series(dtype="float64")
        row = self._sdf.agg(*aggs).collect()[0]
        return pd.Series({n: row[n] for n in names})

    def sum(self, numeric_only: bool = True):
        # pandas sums all-NaN columns to 0 (skipna, min_count=0)
        return self._reduce_frame(
            lambda c: F.coalesce(F.sum(c), F.lit(0)), numeric_only
        )

    def mean(self, numeric_only: bool = True):
        return self._reduce_frame(F.avg, numeric_only)

    def min(self, numeric_only: bool = False):
        return self._reduce_frame(F.min, numeric_only)

    def max(self, numeric_only: bool = False):
        return self._reduce_frame(F.max, numeric_only)

    def count(self):
        return self._reduce_frame(F.count, numeric_only=False)

    def var(self, ddof: int = 1):
        return self._reduce_frame(F.var_samp if ddof == 1 else F.var_pop)

    def std(self, ddof: int = 1):
        return self._reduce_frame(F.stddev_samp if ddof == 1 else F.stddev_pop)

    def sem(self, ddof: int = 1):
        """Standard error of the mean (pandas sem): std/√count per column."""
        return self._reduce_frame(
            lambda c: (F.stddev_samp(c) if ddof == 1 else F.stddev_pop(c))
            / F.sqrt(F.count(c))
        )

    def prod(self):
        # pandas prods all-NaN columns to 1 (skipna, min_count=0)
        return self._reduce_frame(lambda c: F.coalesce(F.product(c), F.lit(1.0)))

    def any(self):
        # empty-after-skipna identity: False (pandas)
        return self._reduce_frame(
            lambda c: F.coalesce(F.max(c.cast("boolean").cast("int")) == 1, F.lit(False)),
            False,
        )

    def all(self):
        # empty-after-skipna identity: True (pandas)
        return self._reduce_frame(
            lambda c: F.coalesce(F.min(c.cast("boolean").cast("int")) == 1, F.lit(True)),
            False,
        )

    def nunique(self):
        return self._reduce_frame(F.countDistinct, numeric_only=False)

    def skew(self):
        """Bias-corrected sample skewness per numeric column (pandas skew):
        Spark's one-pass population g1 = m3/m2^1.5 (numerically stable
        central-moment updates, never raw power sums) times the exact factor
        sqrt(n(n-1))/(n-2)."""
        return self._moment(
            F.skewness, 3, lambda g, n: g * math.sqrt(n * (n - 1)) / (n - 2)
        )

    def kurt(self):
        """Bias-corrected excess kurtosis (pandas kurt): Spark's population
        excess g2 = m4/m2² − 3 through the exact G2 identity
        ((n+1)·g2 + 6)·(n−1)/((n−2)(n−3))."""
        return self._moment(
            F.kurtosis, 4, lambda g, n: ((n + 1) * g + 6.0) * (n - 1) / ((n - 2) * (n - 3))
        )

    kurtosis = kurt

    def _moment(self, stat, min_n: int, correct):
        """One aggregate pass of ``stat``, count and variance per numeric
        column, bias-corrected by ``correct(g, n)``: NaN below ``min_n``
        observations, 0.0 for a constant column (Spark's 0/0 is null), like
        pandas."""
        import pandas as pd

        dtypes = dict(self._sdf.dtypes)
        cols = [c for c in self.columns if is_numeric_spark_type(dtypes[c])]
        if not cols:
            return pd.Series(dtype="float64")
        aggs = []
        for i, c in enumerate(cols):
            x = _qcol(c)
            aggs += [stat(x).alias(f"g{i}"), F.count(x).alias(f"n{i}"), F.var_samp(x).alias(f"v{i}")]
        row = self._sdf.agg(*aggs).collect()[0]
        out = {}
        for i, c in enumerate(cols):
            g, n, v = row[f"g{i}"], row[f"n{i}"], row[f"v{i}"]
            if n < min_n:
                out[c] = float("nan")
            elif g is None:
                out[c] = 0.0 if (v or 0.0) == 0.0 else float("nan")
            else:
                out[c] = correct(g, n)
        return pd.Series(out, dtype="float64")

    def corr(self, method: str = "pearson"):
        """Pairwise Pearson correlation matrix of numeric columns → pandas
        DataFrame (k² scalars for k columns — inherently driver-sized). One
        aggregate pass computes all pairs (each `corr(a,b)` partial-aggregates)."""
        return self._pairwise_matrix(F.corr)

    def cov(self, ddof: int = 1):
        return self._pairwise_matrix(F.covar_samp if ddof == 1 else F.covar_pop)

    def _pairwise_matrix(self, fn):
        import pandas as pd

        cols = [
            c
            for c, t in self._sdf.dtypes
            if c not in self._index and c != ROW_ORDER and is_numeric_spark_type(t)
        ]
        aggs = [
            fn(F.col(a).cast("double"), F.col(b).cast("double")).alias(f"{a}\x00{b}")
            for i, a in enumerate(cols)
            for b in cols[i:]
        ]
        row = self._sdf.agg(*aggs).collect()[0]
        mat = pd.DataFrame(index=cols, columns=cols, dtype="float64")
        for i, a in enumerate(cols):
            for b in cols[i:]:
                v = row[f"{a}\x00{b}"]
                mat.loc[a, b] = v
                mat.loc[b, a] = v
        return mat

    def take(self, positions) -> "DataFrame":
        """Rows at the given positions in row order (pandas take) — the same
        partition-offset position arithmetic as iloc, with requested order and
        repeats honored via the broadcast (position, rank) join (no global
        window, no isin order loss)."""
        return self.iloc[list(positions)]

    def truncate(self, before=None, after=None) -> "DataFrame":
        """Rows with index label in [before, after] (pandas truncate) — an
        index range filter, pushed to the scan."""
        if not self._index:
            raise ValueError("truncate requires a stored index (set_index first)")
        idx = F.col(self._index[0])
        cond = F.lit(True)
        if before is not None:
            cond = cond & (idx >= before)
        if after is not None:
            cond = cond & (idx <= after)
        out = self._carry_proofs(self._replace(self._sdf.filter(cond)))
        if before is not None or after is not None:
            # a bound comparison is null-rejecting: surviving rows prove idx
            out._nonnull_cols = out._nonnull_cols | {self._index[0]}
        return out

    def pipe(self, func, *args, **kwargs):
        return func(self, *args, **kwargs)

    def isetitem(self, loc, value) -> None:
        """Positional column write (pandas isetitem). Values are scalars or
        facade Series (per assigned column); 2-D array payloads would need a
        driver-side upload — build Series and assign those instead."""
        cols = self.columns
        if isinstance(loc, (list, tuple)):
            if not isinstance(value, (list, tuple)) or len(value) != len(loc):
                raise TypeError(
                    "isetitem with a position list takes a same-length list "
                    "of scalars/Series (2-D array payloads: assign Series)"
                )
            for l, v in zip(loc, value):
                self[cols[l]] = v
            return
        self[cols[loc]] = value

    def infer_objects(self, copy: bool | None = None) -> "DataFrame":
        """No-op: Spark columns are already typed (pandas object-dtype
        inference has nothing to infer here)."""
        return self.copy()

    def combine(self, other: "DataFrame", func, fill_value=None) -> "DataFrame":
        """Column-wise combine (pandas): func receives the two aligned column
        SERIES and returns the merged column. Columns are pasted side by side
        with the concat(axis=1) alignment machinery, so func runs on Series
        of ONE frame and compiles to pure Catalyst expressions — func must be
        written against the Series API (e.g. lambda a, b: a.where(a > b, b)),
        not arbitrary numpy. A column missing on one side contributes nulls
        (fill_value substitutes before func, pandas contract)."""
        from legate_pandas_spark.frontend.indexing import _attach_positions

        if bool(self._index) != bool(other._index):
            raise NotImplementedError(
                "combine across a labeled and a default-indexed frame: set "
                "matching indexes first"
            )

        def _keyed(f: "DataFrame", tag: str):
            # data columns tagged apart + ONE alignment key column
            if f._index:
                if len(f._index) != 1:
                    raise NotImplementedError("combine over a MultiIndex")
                key = F.col(f._index[0])
            else:
                fresh = ROW_ORDER not in f._sdf.columns
                with_pos, _ = _attach_positions(
                    f._ordered_sdf(), fresh, pos_name="__cbkey__"
                )
                return with_pos.select(
                    "__cbkey__", *[F.col(c).alias(f"{tag}{c}") for c in f.columns]
                )
            return f._sdf.select(
                key.alias("__cbkey__"),
                *[F.col(c).alias(f"{tag}{c}") for c in f.columns],
            )

        out_cols = sorted(set(self.columns) | set(other.columns))
        # pandas aligns on the OUTER UNION of the two indexes (a longer/other-
        # labeled side contributes null-padded rows), sorted
        joined = (
            _keyed(self, "_cmbl_")
            .join(_keyed(other, "_cmbr_"), "__cbkey__", "outer")
            .orderBy("__cbkey__")
            .withColumn(ROW_ORDER, F.monotonically_increasing_id())
        )
        both = DataFrame(joined, (self._index[0],) if self._index else ())
        null_s = Series(both, F.lit(None).cast("double"), None)
        pieces = {}
        for c in out_cols:
            a = both[f"_cmbl_{c}"] if c in self.columns else null_s
            b = both[f"_cmbr_{c}"] if c in other.columns else null_s
            if fill_value is not None:
                a, b = a.fillna(fill_value), b.fillna(fill_value)
            pieces[c] = func(a, b)
        sel = [F.col(ROW_ORDER)]
        index = ()
        if self._index:
            sel.append(F.col("__cbkey__").alias(self._index[0]))
            index = (self._index[0],)
        sdf = joined.select(*sel, *[pieces[c]._col.alias(c) for c in out_cols])
        return DataFrame(sdf, index)

    def asof(self, where):
        """pandas DataFrame.asof (scalar form): the last row at or before
        index label `where` with no NaN in any data column — a filtered
        TakeOrdered(1), driver-materialized like at[] (array `where`: use
        lps.merge_asof, the distributed as-of join)."""
        import pandas as pd

        if isinstance(where, (list, tuple)):
            raise NotImplementedError(
                "DataFrame.asof with an array: use lps.merge_asof"
            )
        if not self._index:
            raise ValueError("asof requires a stored index (set_index first)")
        idx = self._index[0]
        cols = self.columns
        cond = F.col(idx) <= F.lit(where)
        for c in cols:
            cond = cond & F.col(c).isNotNull()
        rows = (
            self._sdf.filter(cond)
            .orderBy(F.desc(idx))
            .limit(1)
            .select(*cols)
            .collect()
        )
        if not rows:
            return pd.Series([float("nan")] * len(cols), index=cols)
        return pd.Series([rows[0][c] for c in cols], index=cols)

    def asfreq(self, freq: str) -> "DataFrame":
        """Reindex the datetime index onto a fixed-frequency grid (pandas
        asfreq): grid points with no source row get nulls; off-grid source
        rows drop. The grid is a sequence() explode of the min/max index
        aggregate (two scalars broadcast) left-joined back — no driver-side
        date loop, so a 10-year-by-minute spine is one narrow job."""
        if not self._index:
            raise ValueError("asfreq requires a stored datetime index (set_index first)")
        idx = self._index[0]
        interval = _freq_to_interval(freq)
        probe = self._sdf.agg(
            F.count(idx).alias("n"), F.count_distinct(F.col(idx)).alias("nd")
        ).collect()[0]
        if probe["n"] != probe["nd"]:
            # pandas: reindexing a duplicate axis raises — a silent join here
            # would DUPLICATE grid rows instead
            raise ValueError("cannot reindex on an axis with duplicate labels")
        bounds = self._sdf.agg(
            F.min(idx).alias("__mn__"), F.max(idx).alias("__mx__")
        )
        grid = bounds.select(
            F.explode(
                F.expr(f"sequence(__mn__, __mx__, interval {interval})")
            ).alias(idx)
        )
        data = self._sdf.select(
            *[F.col(c) for c in self._sdf.columns if not (c.startswith("__") and c.endswith("__"))]
        )
        out = grid.join(data, idx, "left").orderBy(idx)
        out = out.withColumn(ROW_ORDER, F.monotonically_increasing_id())
        return DataFrame(out, self._index)

    def update(self, other: "DataFrame") -> None:
        """Overwrite cells from `other`'s non-null cells (pandas update),
        aligned by lineage or stored index — same alignment contract as
        where/mask; mutates in place like pandas."""
        oe = self._aligned_exprs(other)
        keep = [
            F.col(c)
            for c in self._sdf.columns
            if c in self._index or (c.startswith("__") and c.endswith("__"))
        ]
        sel = list(keep) + [
            (F.coalesce(oe[c], F.col(c)) if c in oe else F.col(c)).alias(c)
            for c in self.columns
        ]
        self._overwrite(self._sdf.select(*sel))
        self._nonnull_cols = frozenset()

    def align(self, other: "DataFrame", join: str = "outer"):
        """Pair of frames reindexed to a common index (pandas align, axis=0),
        via one full-outer (or inner/left) equi-join on the index columns."""
        if not self._index or self._index != other._index:
            raise ValueError("align requires the same stored index on both frames")
        keys = list(self._index)
        how = {"outer": "full_outer", "inner": "inner", "left": "left", "right": "right"}[join]
        a = self._sdf.select(*keys, *[F.col(c).alias(f"__l_{c}__") for c in self.columns])
        b = other._sdf.select(*keys, *[F.col(c).alias(f"__r_{c}__") for c in other.columns])
        joined = a.join(b, keys, how)
        # pandas aligns BOTH axes: the output column set is the sorted union,
        # with all-null columns where a side lacks the label
        out_cols = sorted(set(self.columns) | set(other.columns))

        def side(tag, own):
            sel = [F.col(k) for k in keys] + [
                (
                    F.col(f"__{tag}_{c}__") if c in own else F.lit(None).cast("double")
                ).alias(c)
                for c in out_cols
            ]
            return DataFrame(joined.select(*sel), self._index)

        return side("l", set(self.columns)), side("r", set(other.columns))

    def applymap(self, func, dtype: str = "double") -> "DataFrame":
        """Element-wise arbitrary Python callable over every data column
        (pandas applymap / DataFrame.map). Arrow-batched pandas_udf — the
        documented slow path; prefer column expressions when the function is
        expressible (reference's only UDF surface is query(), SURVEY §2.9)."""
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        def _fn(s):
            return s.map(func)

        # real type objects (PEP-563 string annotations from this module's
        # `from __future__ import annotations` would not resolve in pyspark)
        _fn.__annotations__ = {"s": pd.Series, "return": pd.Series}
        _u = pandas_udf(_fn, dtype)

        sel = []
        for c in self._sdf.columns:
            if c in self._index or (c.startswith("__") and c.endswith("__")):
                sel.append(F.col(c))
            else:
                sel.append(_u(F.col(c)).alias(c))
        return self._replace(self._sdf.select(*sel))

    map = applymap

    def to_dict(self, orient: str = "records"):
        return self.to_pandas().to_dict(orient=orient)

    def items(self):
        for c in self.columns:
            yield c, self[c]

    def iterrows(self):
        """Driver-side row iteration (pandas iterrows) — materializes via
        Arrow; an action, intended for small/collected results."""
        yield from self.to_pandas().iterrows()

    def itertuples(self, index: bool = True, name: str = "Pandas"):
        yield from self.to_pandas().itertuples(index=index, name=name)

    def melt(self, id_vars, value_vars=None, var_name: str = "variable",
             value_name: str = "value", ignore_index: bool = True) -> "DataFrame":
        """Wide→long unpivot (Spark stack expression — one narrow pass).
        ``value_vars=None`` melts every non-id column (pandas default).
        ``ignore_index=False`` preserves pandas' variable-major row order
        (all rows of the first melted column, then the second, ...) via a
        position-offset order key — one per-partition count pass, no global
        sort."""
        id_vars = [id_vars] if isinstance(id_vars, str) else list(id_vars)
        if value_vars is None:
            value_vars = [c for c in self.columns if c not in id_vars]
        value_vars = [value_vars] if isinstance(value_vars, str) else list(value_vars)
        pairs = ", ".join(f"'{c}', `{c}`" for c in value_vars)
        stacked = F.expr(
            f"stack({len(value_vars)}, {pairs}) as (`{var_name}`, `{value_name}`)"
        )
        if ignore_index:
            return DataFrame(self._sdf.select(*id_vars, stacked), ())
        # pandas melt(ignore_index=False): variable-major ordering — order
        # key = var_index * n_rows + original position (needs the contiguous
        # position, so attach the partition-offset positions first)
        from legate_pandas_spark.frontend.indexing import _attach_positions, _row_count

        pos = "__melt_pos__"
        sdf, offsets = _attach_positions(
            self._ordered_sdf(), ROW_ORDER not in self._sdf.columns, pos_name=pos
        )
        total = _row_count(offsets)
        var_idx = F.array_position(
            F.lit([str(c) for c in value_vars]), F.col(var_name)
        )
        out = sdf.select(*id_vars, F.col(pos), stacked).select(
            *id_vars,
            F.col(var_name),
            F.col(value_name),
            ((var_idx - 1) * F.lit(total) + F.col(pos)).cast("long").alias(ROW_ORDER),
        )
        return DataFrame(out, ())

    def eval(self, expr: str, inplace: bool = False, **env):
        """pandas DataFrame.eval: one or more ``name = expression`` assignments
        (newline-separated; later lines see earlier targets), or a single bare
        expression (returns a Series). Mixing assignments with a bare
        expression raises, as pandas does; ``inplace=True`` mutates this frame
        and returns None. ``@var`` references resolve from explicit keyword
        args first, then the caller's locals/globals (pandas local_dict
        semantics). Reuses the ``query()`` AST→Catalyst translator (the
        reference's only UDF entry, core/query.py:33-311, which it JITs with
        numba — here the expression compiles to a native Spark expression; no
        Python in the hot path)."""
        import re

        from legate_pandas_spark.frontend.query import translate_query_expr

        env = _caller_env(env, depth=2)
        lines = [ln.strip() for ln in expr.splitlines() if ln.strip()]
        if not lines:
            raise ValueError("eval: empty expression")
        assign_re = re.compile(r"^([A-Za-z_][A-Za-z0-9_]*)\s*=(?!=)\s*(.+)$")
        matches = [assign_re.match(ln) for ln in lines]
        if len(lines) > 1 and not all(matches):
            raise ValueError(
                "Multi-line expressions are only valid if all expressions "
                "contain an assignment"
            )
        if not matches[0]:
            if inplace:
                raise ValueError("Cannot operate inplace if there is no assignment")
            return Series(
                self._replace(self._sdf),
                F.expr(translate_query_expr(lines[0], env, boolean_context=False)),
                "eval",
            )
        out = self._replace(self._sdf)
        for m in matches:
            name, rhs = m.groups()
            out._sdf = out._sdf.withColumn(
                name, F.expr(translate_query_expr(rhs, env, boolean_context=False))
            )
        if inplace:
            self._sdf = out._sdf
            self._nonnull_cols = frozenset()
            return None
        return out

    def select_dtypes(self, include=None, exclude=None) -> "DataFrame":
        """Column subset by dtype family (pandas select_dtypes): 'number',
        'object'/'string', 'datetime', 'bool'; include or exclude lists."""
        from legate_pandas_spark.frontend.dtypes import is_numeric_spark_type

        def fam(spark_type: str) -> str:
            if spark_type == "boolean":
                return "bool"
            if is_numeric_spark_type(spark_type):
                return "number"
            if spark_type.startswith("timestamp") or spark_type == "date":
                return "datetime"
            return "object"

        alias = {"string": "object", "float": "number", "int": "number",
                 "datetime64": "datetime", "O": "object"}
        def norm(spec):
            if spec is None:
                return None
            spec = [spec] if isinstance(spec, str) else list(spec)
            return {alias.get(s, s) for s in spec}

        inc, exc = norm(include), norm(exclude)
        if inc is None and exc is None:
            raise ValueError("select_dtypes: provide include and/or exclude")
        dtypes = dict(self._sdf.dtypes)
        keep = []
        for c in self.columns:
            f = fam(dtypes[c])
            if inc is not None and f not in inc:
                continue
            if exc is not None and f in exc:
                continue
            keep.append(c)
        return self[keep]

    def value_counts(self, subset=None, normalize: bool = False, sort: bool = True, ascending: bool = False):
        """Row-combination counts (pandas DataFrame.value_counts): one hash
        aggregate over the subset columns; null-key rows excluded (pandas
        dropna default)."""
        subset = list(subset) if subset is not None else list(self.columns)
        sdf = self._sdf
        cond = None
        for c in subset:
            nn = F.col(c).isNotNull()
            cond = nn if cond is None else (cond & nn)
        counted = (
            sdf.filter(cond).groupBy(*subset).agg(F.count(F.lit(1)).alias("count"))
        )
        if normalize:
            # lazy 1-row total broadcast cross-joined back in (same pattern
            # as Series.value_counts) — no job at call time, and the counts
            # exchange is reused for the total aggregate
            total = counted.agg(F.sum("count").alias("__vc_total__"))
            counted = counted.crossJoin(F.broadcast(total)).select(
                *subset,
                (F.col("count") / F.col("__vc_total__")).alias("proportion"),
            )
        if sort:
            key = "proportion" if normalize else "count"
            counted = counted.orderBy(
                F.asc(key) if ascending else F.desc(key), *[F.asc(c) for c in subset]
            )
        return DataFrame(counted, tuple(subset))

    def pivot_table(
        self, values, index, columns, aggfunc: str = "mean", fill_value=None
    ) -> "DataFrame":
        """pandas.DataFrame.pivot_table — see ``encode.pivot_table``."""
        from legate_pandas_spark.frontend.encode import pivot_table

        return pivot_table(self, values, index, columns, aggfunc, fill_value)

    def pivot(self, index, columns, values) -> "DataFrame":
        """pandas.DataFrame.pivot: reshape WITHOUT aggregation — raises
        ValueError on duplicate (index, columns) entries like pandas (the
        duplicate probe is one max-count aggregate, scalars to the driver)."""
        from legate_pandas_spark.frontend.encode import pivot_table

        idx = [index] if isinstance(index, str) else list(index)
        dup = (
            self._sdf.groupBy(*idx, columns)
            .agg(F.count(F.lit(1)).alias("__n__"))
            .agg(F.max("__n__"))
            .collect()[0][0]
        )
        if dup is not None and dup > 1:
            raise ValueError("Index contains duplicate entries, cannot reshape")
        return pivot_table(self, values, index, columns, aggfunc="first")

    def explode(self, column) -> "DataFrame":
        """One row per array element (pandas explode; empty/null arrays keep a
        null row, matching pandas). A LIST of columns explodes them zipped
        (pandas multi-column explode): element counts must match per row —
        mismatches raise ValueError like pandas. The check is one
        short-circuiting aggregate (limit-1 probe); the explode itself is
        arrays_zip + one generator, row-parallel at any scale."""
        if isinstance(column, (list, tuple)):
            cols = list(column)
            if len(cols) == 1:
                return self.explode(cols[0])
            # pandas' mylen (probed on pandas 2.2.2): null scalars AND empty
            # lists count as length 1, so null-vs-[x] and []-vs-[x] explode
            # fine while null-vs-[x,y] raises. Mirror that exactly. A NON-
            # array column in the explode list (e.g. an all-None column that
            # from_pandas typed string) is a scalar per row — pandas counts
            # scalars as length 1 and keeps them as-is.
            dtypes0 = dict(self._sdf.dtypes)
            is_arr = {c: dtypes0[c].startswith("array<") for c in cols}
            sizes = [
                F.when(
                    F.col(c).isNull() | (F.size(c) == 0), F.lit(1)
                ).otherwise(F.size(c))
                if is_arr[c]
                else F.lit(1)
                for c in cols
            ]
            mismatch = None
            for s in sizes[1:]:
                m = s != sizes[0]
                mismatch = m if mismatch is None else (mismatch | m)
            if bool(self._sdf.filter(mismatch).limit(1).count()):
                raise ValueError("columns must have matching element counts")
            others = [c for c in self._sdf.columns if c not in cols]
            # arrays_zip(null, [9]) is null (losing the 9 pandas keeps) —
            # coalesce null arrays to empty so zip pads them with nulls
            # element-wise instead of nulling the whole row.
            dtypes = dict(self._sdf.dtypes)
            zcols = [
                F.coalesce(F.col(c), F.array().cast(dtypes[c])).alias(c)
                if is_arr[c]
                else F.array(F.col(c)).alias(c)  # scalar: one-element zip
                for c in cols
            ]
            zipped = self._sdf.select(
                *others, F.explode_outer(F.arrays_zip(*zcols)).alias("__z__")
            )
            out = self._replace(
                zipped.select(
                    *others, *[F.col(f"__z__.{c}").alias(c) for c in cols]
                )
            )
            # provenance (round-9): non-exploded columns keep their values
            # (rows only duplicate) — proofs carry; the exploded columns can
            # gain nulls (explode_outer of empty/null arrays, zip padding)
            out._nonnull_cols = frozenset(self._nonnull_cols) - set(cols)
            return out
        others = [c for c in self._sdf.columns if c != column]
        out = self._replace(
            self._sdf.select(*others, F.explode_outer(column).alias(column))
        )
        out._nonnull_cols = frozenset(self._nonnull_cols) - {column}
        return out

    def convert_dtypes(self) -> "DataFrame":
        """pandas convert_dtypes, restricted to the inference that changes
        values' storage type here: float columns whose non-null values are
        all integral become bigint (pandas → Int64; nulls stay null — Spark
        columns are nullable natively, so no masked-array machinery needed).
        Strings/bools/ints are already their best types. One probe aggregate
        over all float columns decides every cast (single job)."""
        floats = [c for c, t in self.dtypes.items() if t in ("float", "double")]
        if not floats:
            return self.copy()
        # A column is non-integral when any NON-NaN value is fractional or
        # outside bigint range: Infinity/1e300 pass the naive round probe
        # (round(inf)=inf) but cast('bigint') clamps them to Long.MAX/MIN,
        # where pandas keeps the column float. NaN is pandas-missing
        # (convert_dtypes turns [1.0, NaN] into Int64 with NA), so it is
        # EXCLUDED from the probe and nanvl'd to null before the cast —
        # Spark's cast(NaN as bigint) would otherwise corrupt it to 0.
        probe = self._sdf.agg(
            *[
                F.max(
                    F.when(
                        ~F.isnan(F.col(c))
                        & (
                            (F.col(c) != F.round(F.col(c)))
                            # upper bound EXCLUSIVE: float(2**63-1) rounds up
                            # to exactly 2^63, whose bigint cast overflows —
                            # values at/above 2^63 must keep the column float
                            | ~(
                                (F.col(c) >= float(-(2**63)))
                                & (F.col(c) < float(2**63))
                            )
                        ),
                        F.lit(1),
                    ).otherwise(0)
                ).alias(c)
                for c in floats
            ]
        ).first()
        out = self._sdf
        for c in floats:
            if not probe[c]:  # all non-null, non-NaN values integral
                out = out.withColumn(
                    c,
                    F.nanvl(F.col(c), F.lit(None).cast("double")).cast("bigint"),
                )
        return self._replace(out)

    def duplicated(self, subset=None, keep: str | bool = "first"):
        """Boolean Series marking duplicate rows (reference dedup keep
        semantics, config.py:152-155)."""
        from legate_pandas_spark.frontend.series import Series

        subset = [subset] if isinstance(subset, str) else list(subset or self.columns)
        sdf = self._ordered_sdf()
        if keep is False:
            w = Window.partitionBy(*subset)
            flag = F.count(F.lit(1)).over(w) > 1
        else:
            order = F.asc(ROW_ORDER) if keep == "first" else F.desc(ROW_ORDER)
            w = Window.partitionBy(*subset).orderBy(order)
            flag = F.row_number().over(w) > 1
        out = DataFrame(sdf.withColumn("__dup__", flag), self._index)
        return Series(out, F.col("__dup__"), "__dup__")

    def corrwith(self, other) -> "Series":
        """pandas DataFrame.corrwith against a Series OF THIS FRAME (the
        feature-vs-target shape: ``df.corrwith(df["y"])``): one aggregate of
        per-column Pearson correlations (Spark's distributed co-moment
        aggregate — single pass, partial-combinable). Cross-frame alignment
        is out of scope, same contract as rolling corr/cov."""
        from legate_pandas_spark.frontend.series import Series

        if not isinstance(other, Series):
            raise ValueError("corrwith requires a Series of the same frame")
        import pandas as pd

        aggs, names = [], []
        dtypes = self.dtypes
        for c in self.columns:
            if not is_numeric_spark_type(dtypes[c]):
                continue
            aggs.append(F.corr(F.col(c), other._col).alias(c))
            names.append(c)
        row = self._resolve(other._frame)._sdf.agg(*aggs).collect()[0]
        return pd.Series({c: row[c] for c in names})

    def at_time(self, time_str: str) -> "DataFrame":
        """Rows whose (timestamp) index is exactly this wall time of day
        (pandas at_time) — a pushdown-friendly filter, never a collect."""
        if len(self._index) != 1:
            raise ValueError("at_time requires a single (timestamp) index")
        idx = F.col(self._index[0])
        t = _normalize_wall_time(time_str)
        return self._replace(
            self._sdf.filter(F.date_format(idx, "HH:mm:ss.SSSSSS") == t)
        )

    def between_time(self, start: str, end: str, inclusive: str = "both") -> "DataFrame":
        """Rows whose index time-of-day falls in [start, end] (pandas
        between_time; same-day range only). Pure filter expression."""
        if len(self._index) != 1:
            raise ValueError("between_time requires a single (timestamp) index")
        t = F.date_format(F.col(self._index[0]), "HH:mm:ss.SSSSSS")
        s, e = _normalize_wall_time(start), _normalize_wall_time(end)
        lo = t >= s if inclusive in ("both", "left") else t > s
        hi = t <= e if inclusive in ("both", "right") else t < e
        return self._replace(self._sdf.filter(lo & hi))

    def to_records(self, index: bool = True):
        """numpy structured record array (pandas to_records) — an action."""
        return self.to_pandas().to_records(index=index)

    # -- round-8 breadth ----------------------------------------------------
    def filter(self, items=None, like: str | None = None, regex: str | None = None,
               axis=None) -> "DataFrame":
        """pandas DataFrame.filter: select COLUMNS by exact list, substring,
        or regex (axis=1, the DataFrame default) — pure metadata, no plan
        nodes beyond the projection. Row-label filtering (axis=0) follows
        the lazy-RangeIndex contract elsewhere: use loc/query."""
        import re as _re

        if axis in (0, "index"):
            raise NotImplementedError("filter(axis=0): use loc/query")
        if sum(x is not None for x in (items, like, regex)) != 1:
            raise TypeError(
                "Keyword arguments `items`, `like`, or `regex` are mutually exclusive"
            )
        if items is not None:
            # pandas preserves the ITEMS order for items=
            keep = [c for c in items if c in set(self.columns)]
        elif like is not None:
            keep = [c for c in self.columns if like in c]
        else:
            pat = _re.compile(regex)
            keep = [c for c in self.columns if pat.search(c)]
        return self[keep]

    def median(self):
        """Per-column exact medians of numeric columns (pandas median) — ONE
        distributed aggregate; approx_percentile is the 100 TB swap."""
        import pandas as pd

        dtypes = self.dtypes
        cols = [c for c in self.columns if is_numeric_spark_type(dtypes[c])]
        row = self._sdf.select(
            *[F.median(F.col(c)).alias(c) for c in cols]
        ).collect()[0]
        return pd.Series({c: row[c] for c in cols})

    def transform(self, func) -> "DataFrame":
        """pandas DataFrame.transform for NAMED elementwise functions (str or
        list of str) — same-shaped output, all expressions in one projection
        (whole-stage codegen). Callables are out of scope (they would force a
        Python UDF on the hot path; use the named forms)."""
        _FNS = {
            "abs": F.abs,
            "sqrt": F.sqrt,
            "exp": F.exp,
            "log": F.log,
            "log1p": F.log1p,
            "floor": F.floor,
            "ceil": F.ceil,
        }
        funcs = [func] if isinstance(func, str) else list(func)
        bad = [f for f in funcs if f not in _FNS]
        if bad:
            raise NotImplementedError(
                f"transform supports named elementwise fns {sorted(_FNS)}; got {bad}"
            )
        keep = [
            F.col(c)
            for c in self._sdf.columns
            if c in self._index or (c.startswith("__") and c.endswith("__"))
        ]
        if len(funcs) == 1:
            fn = _FNS[funcs[0]]
            sel = [fn(F.col(c)).alias(c) for c in self.columns]
        else:
            # pandas multi-func: (column, func) MultiIndex — flatten to
            # 'col_func' names (documented flattening, same as agg naming)
            sel = [
                _FNS[f](F.col(c)).alias(f"{c}_{f}")
                for c in self.columns
                for f in funcs
            ]
        return self._replace(self._sdf.select(*keep, *sel))

    @classmethod
    def from_dict(cls, data: dict, orient: str = "columns") -> "DataFrame":
        import pandas as pd

        return from_pandas(pd.DataFrame.from_dict(data, orient=orient))

    @classmethod
    def from_records(cls, data, columns=None) -> "DataFrame":
        import pandas as pd

        return from_pandas(pd.DataFrame.from_records(data, columns=columns))

    def to_string(self, *args, **kwargs) -> str:
        return self.to_pandas().to_string(*args, **kwargs)

    def to_markdown(self, *args, **kwargs) -> str:
        return self.to_pandas().to_markdown(*args, **kwargs)

    def to_html(self, *args, **kwargs) -> str:
        return self.to_pandas().to_html(*args, **kwargs)

    # pandas aliases
    def isnull(self) -> "DataFrame":
        return self.isna()

    def notnull(self) -> "DataFrame":
        return self.notna()

    def product(self):
        return self.prod()

    def multiply(self, other, fill_value=None):
        return self.mul(other, fill_value=fill_value)

    def divide(self, other, fill_value=None):
        return self.div(other, fill_value=fill_value)

    def subtract(self, other, fill_value=None):
        return self.sub(other, fill_value=fill_value)

    def resample(self, freq: str, on: str) -> "Resampler":
        """Time-bucket resampling (pandas resample → groupBy time window).
        freq: pandas-style offset ('1H', '15min', '1D')."""
        return Resampler(self, freq, on)

    def replace(self, to_replace, value=None) -> "DataFrame":
        """Value replacement (scalar→scalar or dict) across data columns."""
        mapping = to_replace if isinstance(to_replace, dict) else {to_replace: value}
        sdf = self._sdf
        dtypes = dict(sdf.dtypes)
        for c in self.columns:
            expr = F.col(c)
            changed = False
            for old, new in mapping.items():
                if isinstance(old, str) != (dtypes[c] == "string"):
                    continue
                expr = F.when(F.col(c) == F.lit(old), F.lit(new)).otherwise(expr)
                changed = True
            if changed:
                sdf = sdf.withColumn(c, expr)
        return self._replace(sdf)

    def sample(
        self,
        frac: float | None = None,
        seed: int | None = None,
        replace: bool = False,
        n: int | None = None,
        random_state: int | None = None,
    ) -> "DataFrame":
        """Row sampling (distributed). ``random_state`` is the pandas
        spelling of ``seed``.

        ``frac`` is Bernoulli (deterministic under a seed for a fixed
        partition layout). ``n`` draws EXACTLY n rows (round-7; previously a
        documented approximate-n divergence): each row gets a random key and
        the n smallest win — TakeOrderedAndProject, per-partition top-n then
        a driver merge of n-row heads, never a global sort. The drawn SET
        matches pandas semantics (uniform without replacement), not pandas'
        exact row sequence."""
        if random_state is not None:
            seed = random_state
        if frac is None:
            if n is None:
                raise ValueError("sample: pass frac or n")
            if replace:
                raise NotImplementedError("sample(n, replace=True): use frac")
            # pandas raises when n exceeds the population (replace=False).
            # The probe is a CollectLimit(n) count — early-exits after n rows,
            # never a full scan.
            if self._sdf.limit(n).count() < n:
                raise ValueError(
                    "Cannot take a larger sample than population when "
                    "'replace=False'"
                )
            r = F.rand(seed) if seed is not None else F.rand()
            keyed = self._sdf.withColumn("__smpk__", r)
            return self._replace(keyed.orderBy("__smpk__").limit(n).drop("__smpk__"))
        return self._replace(self._sdf.sample(withReplacement=replace, fraction=frac, seed=seed))

    def reindex(self, index=None, columns=None, fill_value=None) -> "DataFrame":
        """pandas DataFrame.reindex: conform to new column and/or index
        labels. Columns: existing kept, missing added as fill_value. Index:
        the LABEL LIST drives the result (one row per requested label, in
        label order; absent labels yield fill rows) — a broadcast join from
        the label table onto the frame's index column, ordered by a label
        position key, never a driver-side row loop. Requires a set_index
        frame (a single index level) for index reindexing, like the lazy
        RangeIndex contract elsewhere. Documented divergence: duplicate index
        labels produce one row per match (pandas raises 'cannot reindex on an
        axis with duplicate labels' — distributed detection would cost an
        extra aggregate pass per call)."""
        out_sdf = self._sdf
        out_index = self._index
        if index is not None:
            if len(self._index) != 1:
                raise ValueError(
                    "reindex(index=...) needs exactly one index level "
                    "(set_index first)"
                )
            idx_col = self._index[0]
            labels = list(index)
            spark = self._sdf.sparkSession
            idx_type = dict(self._sdf.dtypes)[idx_col]
            lab_df = spark.createDataFrame(
                [(i, v) for i, v in enumerate(labels)],
                schema=f"__reidx_pos__ long, {idx_col} {idx_type}",
            )
            # Re-stamp the row-order key from the LABEL position: the input
            # frame may already carry a ROW_ORDER (always true after
            # sort_values), and downstream order-dependent ops (to_pandas,
            # head, scans) sort by it — relying on the physical orderBy here
            # would let the stale key win and fill rows (null old order)
            # would sort first.
            out_sdf = (
                lab_df.join(out_sdf.drop(ROW_ORDER), idx_col, "left")
                .withColumn(ROW_ORDER, F.col("__reidx_pos__").cast("long"))
                .drop("__reidx_pos__")
            )
            out_index = (idx_col,)
        if columns is not None:
            dtypes = dict(out_sdf.dtypes)
            sel = [F.col(c) for c in out_index]
            for c in columns:
                if c in dtypes and c not in out_index:
                    sel.append(F.col(c))
                elif c not in out_index:
                    sel.append(F.lit(fill_value).alias(c))
            out_sdf = out_sdf.select(*sel)
        elif index is not None and fill_value is not None:
            # fill only type-compatible columns (a numeric fill must not be
            # cast into string/timestamp columns — same policy as shift)
            dtypes = dict(out_sdf.dtypes)

            def _fill(c):
                t = dtypes[c]
                num_fill = isinstance(fill_value, (int, float)) and not isinstance(
                    fill_value, bool
                )
                ok = (
                    (num_fill and is_numeric_spark_type(t))
                    or (isinstance(fill_value, bool) and t == "boolean")
                    or (isinstance(fill_value, str) and t == "string")
                )
                if ok:
                    return F.coalesce(F.col(c), F.lit(fill_value).cast(t)).alias(c)
                return F.col(c)

            out_sdf = out_sdf.select(
                *[F.col(c) for c in out_index],
                *[_fill(c) for c in out_sdf.columns if c not in out_index],
            )
        return DataFrame(out_sdf, out_index)

    def memory_usage(self, index: bool = True, deep: bool = False):
        """ESTIMATED bytes per column (documented approximation — Tungsten's
        columnar layout is not pandas'): fixed-width dtypes use their width x
        row count; strings/binary use one aggregate of actual lengths (+4
        bytes offset overhead each). Returns a pandas Series like pandas."""
        import pandas as pd

        widths = {
            "boolean": 1, "tinyint": 1, "smallint": 2, "int": 4, "float": 4,
            "bigint": 8, "double": 8, "date": 4,
        }
        dtypes = dict(self._sdf.dtypes)
        cols = [c for c in self._sdf.columns
                if not (c.startswith("__") and c.endswith("__"))
                and (index or c not in self._index)]
        aggs, fixed = [], {}
        n_expr = F.count(F.lit(1)).alias("__n__")
        for c in cols:
            t = dtypes[c]
            if t in widths:
                fixed[c] = widths[t]
            elif t.startswith("timestamp"):
                fixed[c] = 8
            elif t.startswith("decimal"):
                fixed[c] = 16
            else:
                aggs.append(
                    F.sum(F.coalesce(F.length(F.col(c).cast("string")), F.lit(0)) + 4)
                    .alias(f"__sz_{c}__")
                )
        row = self._sdf.agg(n_expr, *aggs).collect()[0]
        n = row["__n__"]
        out = {}
        for c in cols:
            if c in fixed:
                out[c] = fixed[c] * n
            else:
                out[c] = int(row[f"__sz_{c}__"] or 0)
        return pd.Series(out)

    def info(self, buf=None) -> None:
        """pandas DataFrame.info shape: class, row count, per-column non-null
        counts and dtypes, estimated size — ONE aggregate job for all counts."""
        import sys

        out = buf or sys.stdout
        cols = self.columns
        counts_row = self._sdf.agg(
            F.count(F.lit(1)).alias("__n__"),
            *[F.count(F.col(c)).alias(f"__c_{c}__") for c in cols],
        ).collect()[0]
        n = counts_row["__n__"]
        print(f"<class 'legate_pandas_spark.frontend.frame.DataFrame'>", file=out)
        print(f"RangeIndex-equivalent: {n} entries", file=out)
        print(f"Data columns (total {len(cols)} columns):", file=out)
        dtypes = dict(self._sdf.dtypes)
        for i, c in enumerate(cols):
            print(
                f" {i}  {c}  {counts_row[f'__c_{c}__']} non-null  {dtypes[c]}",
                file=out,
            )
        est = int(self.memory_usage().sum())
        print(f"estimated size: {est} bytes", file=out)

    def compare(self, other: "DataFrame") -> "DataFrame":
        """pandas DataFrame.compare for POSITIONALLY-aligned same-schema
        frames: rows where any column differs, shown as `{col}_self` /
        `{col}_other` pairs (flattened form of pandas' MultiIndex columns),
        equal columns nulled per pandas. Alignment is the partition-offset
        position zip (indexing._attach_positions) — a hash join on a unique
        long, no global sort."""
        from legate_pandas_spark.frontend.indexing import _attach_positions, _row_count

        if self.columns != other.columns:
            raise ValueError("compare: columns must match")
        pos = "__cmp_pos__"
        left, left_offsets = _attach_positions(
            self._ordered_sdf(), ROW_ORDER not in self._sdf.columns, pos_name=pos
        )
        right, right_offsets = _attach_positions(
            other._ordered_sdf(), ROW_ORDER not in other._sdf.columns, pos_name=pos
        )
        n_left, n_right = _row_count(left_offsets), _row_count(right_offsets)
        if n_left != n_right:
            # pandas: 'Can only compare identically-labeled DataFrame
            # objects'. One count job per side.
            raise ValueError(
                "compare: can only compare identically-labeled DataFrame "
                f"objects (lengths {n_left} != {n_right})"
            )
        lsel = left.select(pos, *[F.col(c).alias(f"__l_{c}__") for c in self.columns])
        rsel = right.select(pos, *[F.col(c).alias(f"__r_{c}__") for c in self.columns])
        joined = lsel.join(rsel, pos, "full")
        any_diff = None
        sel = [F.col(pos)]
        for c in self.columns:
            diff = ~F.col(f"__l_{c}__").eqNullSafe(F.col(f"__r_{c}__"))
            any_diff = diff if any_diff is None else (any_diff | diff)
            sel.append(F.when(diff, F.col(f"__l_{c}__")).alias(f"{c}_self"))
            sel.append(F.when(diff, F.col(f"__r_{c}__")).alias(f"{c}_other"))
        out = joined.filter(any_diff).select(*sel).orderBy(pos).drop(pos)
        return DataFrame(out)

    def mode(self, numeric_only: bool = False) -> "DataFrame":
        """Per-column modes (pandas DataFrame.mode): column i of the result
        lists that column's most-frequent values ascending, shorter columns
        null-padded (int columns therefore float, exactly as pandas). Each
        column's mode is one distributed hash aggregate + broadcast top-tie
        filter (Series.mode) — only the tied winners reach the driver; the
        tiny result frame is assembled driver-side."""
        import pandas as pd

        dtypes = dict(self._sdf.dtypes)
        cols = [
            c
            for c in self.columns
            if not numeric_only or is_numeric_spark_type(dtypes[c])
        ]
        data = {c: self[c].mode() for c in cols}
        n = max((len(s) for s in data.values()), default=0)
        out = pd.DataFrame(
            {c: s.reindex(range(n)) for c, s in data.items()}
        )
        return from_pandas(out, spark=self._sdf.sparkSession)

    def random_split(self, weights, seed: int | None = None) -> list["DataFrame"]:
        """Train/validation/test split (weights normalized; distributed
        Bernoulli assignment — the standard training-data partitioning)."""
        parts = self._sdf.randomSplit(list(weights), seed=seed)
        return [self._replace(p) for p in parts]

    def sample_by(self, column: str, fractions: dict, seed: int | None = None) -> "DataFrame":
        """Stratified sampling: per-stratum fractions (class rebalancing for
        training pipelines; distributed, no collect)."""
        return self._replace(self._sdf.sampleBy(column, fractions, seed=seed))

    def describe(self):
        """pandas-style describe: count/mean/std/min/25%/50%/75%/max for numeric
        columns, returned as a pandas frame (driver-side, like the reference's
        scalar futures). Exact interpolated percentiles."""
        import pandas as pd

        stats = ["count", "mean", "std", "min", "25%", "50%", "75%", "max"]
        cols = [c for c, t in self._sdf.dtypes if c in self.columns and is_numeric_spark_type(t)]
        aggs = []
        for c in cols:
            aggs += [
                F.count(c).alias(f"{c}__count"),
                F.avg(c).alias(f"{c}__mean"),
                F.stddev_samp(c).alias(f"{c}__std"),
                F.min(c).alias(f"{c}__min"),
                F.percentile(c, 0.25).alias(f"{c}__25%"),
                F.percentile(c, 0.5).alias(f"{c}__50%"),
                F.percentile(c, 0.75).alias(f"{c}__75%"),
                F.max(c).alias(f"{c}__max"),
            ]
        row = self._sdf.agg(*aggs).collect()[0]
        return pd.DataFrame(
            {c: [row[f"{c}__{s}"] for s in stats] for c in cols}, index=stats
        )

    # ------------------------------------------------------------ UDF escape hatch
    def apply_batches(self, func, schema) -> "DataFrame":
        """Arrow-batched pandas function over the frame (mapInPandas) — the
        general-apply escape hatch the reference lacks entirely (SURVEY §2.9).
        ``func(pdf: pandas.DataFrame) -> pandas.DataFrame`` per batch; prefer
        built-in expressions whenever they can express the op."""

        def gen(batches):
            for pdf in batches:
                yield func(pdf)

        return DataFrame(self._sdf.select(*self.columns).mapInPandas(gen, schema), ())

    # ------------------------------------------------------------ equality
    def equals(self, other: "DataFrame") -> bool:
        """Null-safe equality of every cell in row order, with matching
        columns and dtypes (pandas equals; reference EQUALS,
        core/table.py:963-981). Frames of one plan are equal outright;
        others are zipped by position (partition-offset arithmetic, no
        global sort) and compared in one aggregate."""
        from legate_pandas_spark.frontend.indexing import _attach_positions, _row_count

        cols = self.columns
        if cols != other.columns:
            return False
        if other._sdf is self._sdf:
            return True

        def positioned(df, tag):
            fresh = ROW_ORDER not in df._sdf.columns
            sdf = df._ordered_sdf().select(
                F.col(ROW_ORDER), *[_qcol(c).alias(f"__{tag}{i}__") for i, c in enumerate(cols)]
            )
            with_pos, offsets = _attach_positions(sdf, fresh)
            return with_pos.drop(ROW_ORDER), _row_count(offsets)

        (a, na), (b, nb) = positioned(self, "a"), positioned(other, "b")
        if na != nb or [t for _, t in a.dtypes] != [t for _, t in b.dtypes]:
            return False
        if not cols:
            return True
        same = F.lit(True)
        for i in range(len(cols)):
            same = same & F.col(f"__a{i}__").eqNullSafe(F.col(f"__b{i}__"))
        row = a.join(b, "__pos__", "inner").agg(F.min(same.cast("int")).alias("eq")).collect()[0]
        return row["eq"] != 0  # vacuously true on empty

    # ------------------------------------------------------------ export
    def persist(self, blocking: bool = False) -> "DataFrame":
        """Mark the frame's current plan for reuse-caching (Spark persist,
        MEMORY_AND_DISK). The facade analog of the reference's EAGER per-op
        materialization (core/pattern.py:170-343 dispatches every call
        immediately, so each intermediate exists exactly once): a lazy plan
        consumed by many downstream branches — e.g. the mortgage pipeline's
        12-way month-feature loop — would otherwise recompute its whole
        lineage per consumer. Returns self; lazy (materializes on first
        action) unless ``blocking``."""
        self._sdf = self._sdf.persist()
        if blocking:
            self._sdf.count()
        return self

    def unpersist(self) -> "DataFrame":
        self._sdf = self._sdf.unpersist()
        return self

    def repartition_by(self, *cols: str, num_partitions: int | None = None) -> "DataFrame":
        """Hash-partition the frame on ``cols`` (Spark repartition). The
        facade analog of the reference's tracked ``_partition_keys``
        (reference core/table.py:222-268; core/merge.py:296-354 reuses an
        existing partitioning instead of re-exchanging): downstream
        joins/groupbys keyed on ``cols`` satisfy their clustered-distribution
        requirement from this ONE exchange, so Catalyst's EnsureRequirements
        skips the per-consumer shuffles. Combine with ``persist()`` when the
        partitioned frame feeds several branches."""
        missing = [c for c in cols if c not in self.columns and c not in self._index]
        if missing:
            raise KeyError(f"repartition_by: unknown columns {missing}")
        exprs = [F.col(c) for c in cols]
        sdf = (
            self._sdf.repartition(num_partitions, *exprs)
            if num_partitions
            else self._sdf.repartition(*exprs)
        )
        return self._replace(sdf)

    def to_spark(self) -> SparkDF:
        return self._sdf.select(*self.columns)

    def to_numpy(self):
        """2-D ndarray of the column values (reference
        tests/interop/df_from_numpy.py; runtime.py:531-758 maps stores to
        ndarrays). An action: materializes to the driver via Arrow."""
        return self.to_pandas().to_numpy()

    def __array__(self, dtype=None, copy=None):
        import numpy as np

        arr = self.to_numpy()
        return np.asarray(arr, dtype=dtype) if dtype is not None else arr

    def to_pandas(self):
        import pandas as pd

        cols = list(self._index) + self.columns
        sdf = self._sdf
        if ROW_ORDER in sdf.columns:
            # restore caller row order across any shuffle (driver-side
            # materialization is already the scale boundary of to_pandas)
            sdf = sdf.orderBy(F.asc(ROW_ORDER))
        pdf = sdf.select(*[_qcol(c) for c in cols]).toPandas()
        for c, cat in self._cat_meta.items():
            if c in pdf.columns:
                if cat.categories is not None:
                    pdf[c] = pdf[c].astype(
                        pd.CategoricalDtype(cat.categories, ordered=cat.ordered)
                    )
                else:
                    pdf[c] = pdf[c].astype("category")
        if self._index:
            pdf = pdf.set_index(list(self._index))
        return pdf

    def to_parquet(self, path: str, mode: str = "overwrite", partition_cols=None,
                   index: bool = True) -> None:
        w = self._sdf.select(*(list(self._index) + self.columns)).write.mode(mode)
        if partition_cols:
            w = w.partitionBy(*partition_cols)
        w.parquet(path)
        if index:
            self._write_pandas_metadata(path)

    def _write_pandas_metadata(self, path: str) -> None:
        """Reference parity (core/io.py:56-68; core/table.py:1184-1288 writes
        the pandas blob + a ``_metadata`` summary): record the frame's index
        layout so ``read_parquet`` restores it without an explicit
        ``index_col``. Spark's writer emits no pandas metadata, so the blob
        goes into a ``_pandas_index_metadata`` sidecar — underscore-prefixed
        so Spark's data scans skip it, and deliberately NOT named
        ``_common_metadata``/``_metadata``, which Spark treats as parquet
        summary files and folds into schema resolution. Driver-side,
        schema-only (zero data)."""
        import os

        import pandas as pd
        import pyarrow as pa
        import pyarrow.parquet as pq

        if not os.path.isdir(path):
            return  # single-file layouts: nowhere to put a sidecar
        _PD = {
            "tinyint": "int8", "smallint": "int16", "int": "int32",
            "bigint": "int64", "float": "float32", "double": "float64",
            "boolean": "bool", "string": "object", "date": "datetime64[ns]",
        }
        dtypes = dict(self._sdf.dtypes)
        empty = pd.DataFrame(
            {
                c: pd.Series(
                    dtype=_PD.get(
                        dtypes[c],
                        "datetime64[ns]" if dtypes[c].startswith("timestamp") else "object",
                    )
                )
                for c in list(self._index) + self.columns
            }
        )
        if self._index:
            empty = empty.set_index(list(self._index))
        schema = pa.Schema.from_pandas(empty)
        pq.write_metadata(schema, os.path.join(path, "_pandas_index_metadata"))

    def to_orc(self, path: str, mode: str = "overwrite", partition_cols=None) -> None:
        w = self._sdf.select(*(list(self._index) + self.columns)).write.mode(mode)
        if partition_cols:
            w = w.partitionBy(*partition_cols)
        w.orc(path)

    def to_json(self, path: str, mode: str = "overwrite") -> None:
        """Newline-delimited JSON sink (the layout that splits across workers)."""
        self._sdf.select(*self.columns).write.mode(mode).json(path)

    def to_csv(self, path: str, header: bool = True, sep: str = ",", mode: str = "overwrite",
               single_file: bool = False, na_rep: str = "", columns=None,
               index: bool = False, line_terminator: str | None = None,
               chunksize: int | None = None) -> None:
        """CSV sink (reference core/table.py:1134-1182: sep / na_rep / columns /
        header / index / line_terminator / chunksize; the reference's
        ``partition=False`` single-file mode is ``single_file=True`` here).

        ``chunksize`` maps to Spark's ``maxRecordsPerFile`` (rows per output
        part). ``index`` defaults to False — a deliberate deviation from the
        reference's True: with a virtual RangeIndex it forces the
        partition-offset position computation, so it's opt-in at scale.
        """
        data_cols = [str(c) for c in (columns if columns is not None else self.columns)]
        sdf, sel = self._sdf, []
        if index:
            if self._index:
                sel = list(self._index)
            else:
                from legate_pandas_spark.frontend.indexing import _attach_positions

                fresh = ROW_ORDER not in self._sdf.columns
                sdf = self._ordered_sdf() if fresh else sdf
                sdf, _ = _attach_positions(sdf, fresh, pos_name="index")
                sel = ["index"]
        out = sdf.select(*sel, *data_cols)
        if single_file:
            out = out.coalesce(1)  # reference single-file mode (core/table.py:1134-1182)
        w = (
            out.write.mode(mode)
            .option("header", header)
            .option("sep", sep)
            .option("nullValue", na_rep)
        )
        if line_terminator is not None:
            w = w.option("lineSep", line_terminator)
        if chunksize is not None:
            w = w.option("maxRecordsPerFile", int(chunksize))
        w.csv(path)

    def __repr__(self) -> str:
        return f"DataFrame[cols={self.columns}, index={list(self._index)}]"


_NUMERIC_SPARK = ("tinyint", "smallint", "int", "bigint", "float", "double")


def _nonnull_scalar(value) -> bool:
    """True when `value` is a plain scalar that compiles to a NON-NULL
    literal: None and float NaN (pandas-missing; F.lit(nan) is a NaN double,
    but it REPRESENTS a missing value to the facade) don't qualify, nor do
    Series/DataFrame others (cell-dependent)."""
    from legate_pandas_spark.frontend.series import Series as _S

    if value is None or isinstance(value, (_S, DataFrame)):
        return False
    if isinstance(value, float) and value != value:
        return False
    return isinstance(value, (int, float, str, bool))


def _fill_applies(spark_type: str, value) -> bool:
    """Mirror Spark DataFrameNaFunctions.fill applicability: a scalar fill
    only touches columns whose type family matches the value's (numeric /
    string / boolean); other columns keep their nulls — so a non-null proof
    may only be claimed for matching columns."""
    if isinstance(value, bool):
        return spark_type == "boolean"
    if isinstance(value, (int, float)):
        return spark_type in _NUMERIC_SPARK or spark_type.startswith("decimal")
    if isinstance(value, str):
        return spark_type == "string"
    return False


_FREQ_MAP = {"h": "hour", "min": "minute", "t": "minute", "d": "day", "s": "second"}


def _freq_to_interval(freq: str) -> str:
    import re

    m = re.fullmatch(r"(\d*)\s*([a-zA-Z]+)", freq.strip())
    if not m:
        raise ValueError(f"cannot parse frequency: {freq!r}")
    n = int(m.group(1) or 1)
    unit = _FREQ_MAP.get(m.group(2).lower())
    if unit is None:
        raise ValueError(f"unsupported frequency unit: {freq!r}")
    return f"{n} {unit}{'s' if n != 1 else ''}"


class Resampler:
    def __init__(self, df: DataFrame, freq: str, on: str):
        self._df = df
        self._interval = _freq_to_interval(freq)
        self._on = on

    def _agg(self, fn) -> DataFrame:
        from legate_pandas_spark.frontend.dtypes import is_numeric_spark_type

        sdf = self._df._sdf
        dtypes = dict(sdf.dtypes)
        aggs = [
            fn(F.col(c)).alias(c)
            for c in self._df.columns
            if c != self._on and is_numeric_spark_type(dtypes[c])
        ]
        out = (
            sdf.groupBy(F.window(self._on, self._interval).alias("__win__"))
            .agg(*aggs)
            .withColumn(self._on, F.col("__win__.start"))
            .drop("__win__")
        )
        return DataFrame(out, (self._on,))

    def sum(self):
        return self._agg(F.sum)

    def mean(self):
        return self._agg(F.avg)

    def count(self):
        return self._agg(F.count)

    def max(self):
        return self._agg(F.max)

    def min(self):
        return self._agg(F.min)


def concat(objs, axis: int = 0) -> DataFrame:
    """concat(axis=0) = union-of-frames (reference contract: README.md:194-196 —
    explicitly NOT ordered back-to-back concatenation); axis=1 requires shared
    stored indexes and becomes an index equi-join."""
    objs = list(objs)
    if axis == 0:
        out = objs[0]._sdf
        for o in objs[1:]:
            out = out.unionByName(o._sdf, allowMissingColumns=True)
        res = DataFrame(out, objs[0]._index)
        # a column of the union is provably null-free iff every input proves
        # it (a column absent from an input is null-padded there, and an
        # absent column is never in that input's proof set)
        proven = set(objs[0]._nonnull_cols)
        for o in objs[1:]:
            proven &= set(o._nonnull_cols)
        res._nonnull_cols = frozenset(proven)
        return res
    if axis == 1:
        base = objs[0]
        if not base._index:
            raise ValueError("concat(axis=1) requires frames with a set index")
        out = base
        for o in objs[1:]:
            out = out.join(o)
        return out
    raise ValueError(f"invalid axis: {axis}")


def from_pandas(pdf, spark=None) -> DataFrame:
    import pandas as pd

    from legate_pandas_spark.frontend.dtypes import CatMeta
    from legate_pandas_spark.session import get_spark

    spark = spark or get_spark()
    # categorical columns: ship as plain strings, keep the dictionary as meta
    # (reference CategoryColumn = codes + replicated dictionary)
    cat_meta = {}
    cat_cols = [c for c in pdf.columns if isinstance(pdf[c].dtype, pd.CategoricalDtype)]
    if cat_cols:
        pdf = pdf.copy()
        for c in cat_cols:
            dt = pdf[c].dtype
            cat_meta[c] = CatMeta([str(x) for x in dt.categories], bool(dt.ordered))
            pdf[c] = pdf[c].astype(object)
    if len(pdf) == 0:
        # empty frames carry schema via dtypes (reference df_create_empty);
        # Spark cannot infer a schema from zero rows
        from legate_pandas_spark.frontend.dtypes import to_spark_type

        fields = ", ".join(f"`{c}` {to_spark_type(t)}" for c, t in pdf.dtypes.items())
        out = DataFrame(spark.createDataFrame([], schema=fields))
    else:
        # An all-None object column defeats Spark's schema inference: the
        # non-Arrow path raises CANNOT_DETERMINE_TYPE and the Arrow path
        # yields an unjoinable NullType column. Ship those columns as all-NaN
        # doubles (inference-safe on both paths), then cast back to string —
        # pandas' own convention for missing text. Object columns with any
        # real value (lists, mixed) keep Spark's inference.
        allnull_obj = [
            c
            for c in pdf.columns
            if pdf[c].dtype == object and pdf[c].isna().all()
        ]
        if allnull_obj:
            pdf = pdf.copy()
            for c in allnull_obj:
                pdf[c] = pdf[c].astype("float64")
        sdf = spark.createDataFrame(pdf)
        if allnull_obj:
            fixed = set(allnull_obj)
            sdf = sdf.select(
                *[
                    F.col(c).cast("string").alias(c) if c in fixed else F.col(c)
                    for c in sdf.columns
                ]
            )
        out = DataFrame(sdf)
    out._cat_meta = cat_meta
    return out
