"""IO frontend: read_csv / read_parquet with the reference's option surface
(frontend/io.py:125-369, core/io.py:29-305) mapped onto spark.read.

The reference peeks 3 rows with real pandas to infer CSV schema
(frontend/io.py:210-233); Spark's inferSchema sampling replaces that. Parquet
column projection and predicate pushdown are native.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from legate_pandas_spark.frontend.dtypes import to_spark_type
from legate_pandas_spark.frontend.frame import DataFrame
from legate_pandas_spark.frontend.series import _strftime_to_java
from legate_pandas_spark.sources.tables import parquet_schema


def _session(spark):
    if spark is not None:
        return spark
    from legate_pandas_spark.session import get_spark

    return get_spark()


def _sniff_pandas_metadata(path):
    """Driver-side, one footer: the parquet pandas-metadata blob (written by
    pandas/pyarrow, or by our ``to_parquet`` sidecar). The reference
    reconstructs the index from this blob automatically (core/io.py:56-68)."""
    import glob
    import json
    import os

    try:
        import pyarrow.parquet as pq
    except ImportError:  # pragma: no cover
        return None
    if os.path.isfile(path):
        candidates = [path]
    else:
        candidates = [
            p
            for p in (
                os.path.join(path, "_pandas_index_metadata"),
                os.path.join(path, "_common_metadata"),
                os.path.join(path, "_metadata"),
            )
            if os.path.exists(p)
        ] or sorted(glob.glob(os.path.join(path, "*.parquet")))[:1]
    for f in candidates:
        try:
            meta = pq.read_schema(f).metadata
        except Exception:
            return None
        if meta and b"pandas" in meta:
            try:
                return json.loads(meta[b"pandas"].decode("utf-8"))
            except (ValueError, UnicodeDecodeError):
                return None
    return None


def read_parquet(path, columns=None, index_col=None, spark=None) -> DataFrame:
    """Parquet reader. Without an explicit ``index_col``, the pandas-metadata
    blob (one footer read) restores the frame's index the way the reference
    does (core/io.py:56-68; reference tests/io cover 6 index layouts):
    stored/Multi indexes ``set_index`` their column(s), a non-default
    RangeIndex(start, step) materializes via partition-offset positions, and
    the default RangeIndex stays virtual (free). The schema comes from the
    session's schema catalog (``sources.tables.parquet_schema``), so a warm
    read runs no Spark job."""
    ss = _session(spark)
    sdf = ss.read.schema(parquet_schema(ss, path)).parquet(path)
    meta = None if index_col else _sniff_pandas_metadata(path)
    meta_index, range_spec = [], None
    if meta:
        renames = {
            c["field_name"]: c["name"]
            for c in meta.get("columns", [])
            if c.get("field_name") and c.get("name")
            and c["field_name"] != c["name"]
        }
        for entry in meta.get("index_columns", []):
            if isinstance(entry, str):
                name = renames.get(entry, entry)
                # unnamed pandas indexes serialize as __index_level_N__ —
                # our hidden-column convention would swallow that name
                if name.startswith("__index_level_"):
                    new = "index" if "index" not in sdf.columns else name.strip("_")
                    renames[entry] = new
                    name = new
                meta_index.append(name)
            elif isinstance(entry, dict) and entry.get("kind") == "range":
                if entry.get("start", 0) != 0 or entry.get("step", 1) != 1:
                    range_spec = entry
        for old, new in renames.items():
            if old in sdf.columns and old != new:
                sdf = sdf.withColumnRenamed(old, new)
    if columns is not None:
        keep = list(columns) + ([index_col] if index_col else meta_index)
        sdf = sdf.select(*keep)
    df = DataFrame(sdf)
    # non-nullable schema fields are born proven (round-8 provenance
    # producer). Spark usually force-nullables file-sourced fields, so this
    # fires only when the scan preserves required-ness — harmless otherwise.
    df._nonnull_cols = frozenset(
        f.name for f in sdf.schema.fields if not f.nullable
    )
    if index_col:
        return df.set_index(index_col)
    if meta_index:
        return df.set_index(meta_index if len(meta_index) > 1 else meta_index[0])
    if range_spec is not None:
        # materialize RangeIndex(start, step) — positions from the
        # partition-offset aggregate (reference MATERIALIZE task,
        # core/column.py:697-702), never a global window
        from legate_pandas_spark.frontend.frame import ROW_ORDER
        from legate_pandas_spark.frontend.indexing import _attach_positions

        name = range_spec.get("name") or "index"
        start = int(range_spec.get("start", 0))
        step = int(range_spec.get("step", 1))
        sdf = df._ordered_sdf()
        with_pos, _ = _attach_positions(sdf, fresh=True, pos_name="__rpos__")
        sdf = with_pos.withColumn(
            name, (F.lit(start) + F.col("__rpos__") * F.lit(step)).cast("long")
        ).drop("__rpos__")
        return DataFrame(sdf).set_index(name)
    return df


def read_orc(path, columns=None, index_col=None, spark=None) -> DataFrame:
    """ORC reader (extension; same projection/pushdown properties as parquet —
    columnar scan with min/max pruning)."""
    sdf = _session(spark).read.orc(path)
    if columns is not None:
        keep = list(columns) + ([index_col] if index_col else [])
        sdf = sdf.select(*keep)
    df = DataFrame(sdf)
    if index_col:
        df = df.set_index(index_col)
    return df


def read_json(path, lines: bool = True, spark=None) -> DataFrame:
    """JSON reader (extension; newline-delimited by default — the layout that
    splits across workers; multiline JSON cannot parallelize a single file)."""
    ss = _session(spark)
    sdf = ss.read.option("multiLine", not lines).json(path)
    return DataFrame(sdf)


def read_csv(
    path,
    sep: str = ",",
    header: int | str | None = "infer",
    names=None,
    dtype=None,
    usecols=None,
    index_col=None,
    parse_dates=None,
    date_format: str | None = None,
    na_values=None,
    true_values=None,
    false_values=None,
    skiprows: int = 0,
    skipfooter: int = 0,
    nrows: int | None = None,
    quotechar: str = '"',
    doublequote: bool = True,
    escapechar: str | None = None,
    compression: str = "infer",
    spark=None,
) -> DataFrame:
    """CSV reader mapping the reference's options (frontend/io.py:125-369) onto
    ``spark.read.csv``. gzip/bz2 are handled natively by Spark via extension;
    true_values/false_values/na_values beyond one token are post-processed.
    ``doublequote``/``escapechar`` (reference frontend/io.py:147,230) select the
    in-quote escape style: doubled quotes (RFC-4180, the pandas default) vs an
    explicit escape character such as a backslash."""
    ss = _session(spark)
    if doublequote:
        # RFC-4180 doubled-quote escaping (pandas doublequote=True default);
        # Spark's default escape is backslash, so pin escape=quotechar
        escape = quotechar
    else:
        escape = escapechar if escapechar is not None else "\\"
    reader = (
        ss.read.option("sep", sep)
        .option("quote", quotechar)
        .option("escape", escape)
        .option("mode", "PERMISSIVE")
    )
    # pandas: header='infer' means first row is a header unless names= is given
    if names is not None:
        has_header = header is not None and header != "infer"
    else:
        has_header = header == "infer" or header == 0
    reader = reader.option("header", has_header)
    if na_values:
        vals = [na_values] if isinstance(na_values, str) else list(na_values)
        reader = reader.option("nullValue", vals[0])
    if dtype is None:
        reader = reader.option("inferSchema", True)
    sdf = reader.csv(path)
    if names is not None:
        sdf = sdf.toDF(*names)
    if dtype is not None:
        mapping = dtype if isinstance(dtype, dict) else {c: dtype for c in sdf.columns}
        for c, t in mapping.items():
            sdf = sdf.withColumn(c, F.col(c).cast(to_spark_type(t)))
    if true_values or false_values:
        # pandas: a column whose non-null values all match the custom tokens
        # becomes boolean (reference read_csv_custom_values fixture). The
        # type-sniff is ONE aggregate pass over all string columns (map-side
        # partial agg, num_string_cols×2 scalars to the driver) — never a
        # distinct/collect per column.
        tv = set(true_values or [])
        fv = set(false_values or [])
        tokens = list(tv | fv)
        str_cols = [c for c, t in sdf.dtypes if t == "string"]
        if str_cols:
            probes = []
            for c in str_cols:
                probes.append(
                    F.max(
                        F.when(F.col(c).isNotNull() & ~F.col(c).isin(tokens), 1).otherwise(0)
                    ).alias(f"bad_{c}")
                )
                probes.append(
                    F.max(F.when(F.col(c).isNotNull(), 1).otherwise(0)).alias(f"any_{c}")
                )
            stats = sdf.agg(*probes).collect()[0]
            for c in str_cols:
                if stats[f"any_{c}"] == 1 and stats[f"bad_{c}"] == 0:
                    sdf = sdf.withColumn(
                        c,
                        F.when(F.col(c).isin(list(tv)), F.lit(True))
                        .when(F.col(c).isin(list(fv)), F.lit(False))
                        .otherwise(F.lit(None).cast("boolean")),
                    )
    if parse_dates:
        cols = parse_dates if isinstance(parse_dates, (list, tuple)) else [parse_dates]
        fmt = _strftime_to_java(date_format) if date_format else None
        for c in cols:
            name = sdf.columns[c] if isinstance(c, int) else c
            sdf = sdf.withColumn(
                name, F.to_timestamp(F.col(name), fmt) if fmt else F.to_timestamp(F.col(name))
            )
    if skiprows or skipfooter:
        # positional skip via partition-offset arithmetic (same FIND_BOUNDS
        # design as iloc, indexing._attach_positions): per-partition counts →
        # in-plan prefix → partition-local range filter. No global sort.
        # skipfooter (reference option table, frontend/io.py:125-369) drops
        # the LAST n rows, so it takes the row count: one job.
        from legate_pandas_spark.frontend.frame import ROW_ORDER
        from legate_pandas_spark.frontend.indexing import _attach_positions, _row_count

        sdf = sdf.withColumn(ROW_ORDER, F.monotonically_increasing_id())
        with_pos, offsets = _attach_positions(sdf, fresh=True)
        cond = F.col("__pos__") >= skiprows
        if skipfooter:
            cond = cond & (F.col("__pos__") < _row_count(offsets) - skipfooter)
        sdf = with_pos.filter(cond).drop("__pos__", ROW_ORDER)
        if dtype is None:
            # pandas infers types AFTER dropping skipped rows; Spark inferred
            # over the whole file (junk preamble/footer lines force string).
            # Re-infer surviving string columns with ONE aggregate of
            # try_cast probes (map-side combinable, 3 scalars per column).
            str_cols = [c for c, t in sdf.dtypes if t == "string"]
            if str_cols:
                probes = []
                for c in str_cols:
                    nn = F.col(c).isNotNull()
                    probes.append(
                        F.max(
                            F.when(nn & F.col(c).try_cast("bigint").isNull(), 1).otherwise(0)
                        ).alias(f"nl_{c}")
                    )
                    probes.append(
                        F.max(
                            F.when(nn & F.col(c).try_cast("double").isNull(), 1).otherwise(0)
                        ).alias(f"nd_{c}")
                    )
                    probes.append(F.max(F.when(nn, 1).otherwise(0)).alias(f"any_{c}"))
                row = sdf.agg(*probes).collect()[0]
                for c in str_cols:
                    if row[f"any_{c}"] == 1:
                        if row[f"nl_{c}"] == 0:
                            sdf = sdf.withColumn(c, F.col(c).cast("bigint"))
                        elif row[f"nd_{c}"] == 0:
                            sdf = sdf.withColumn(c, F.col(c).cast("double"))
    if nrows is not None:
        sdf = sdf.limit(nrows)
    if usecols is not None:
        sdf = sdf.select(*usecols)
    df = DataFrame(sdf)
    if dtype is not None:
        # dtype='category' columns carry the modeled categorical dtype (string
        # storage + lazy dictionary — reference read_csv_category fixture)
        from legate_pandas_spark.frontend.dtypes import CatMeta

        mapping = dtype if isinstance(dtype, dict) else {c: dtype for c in sdf.columns}
        for c, t in mapping.items():
            if str(t) == "category":
                df._cat_meta[c] = CatMeta(None, False)
    if index_col is not None:
        name = sdf.columns[index_col] if isinstance(index_col, int) else index_col
        df = df.set_index(name)
    return df
