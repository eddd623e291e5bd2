"""Two-phase distributed scan — the reference's carry-propagation design.

The reference computes global cumulative scans without serializing the frame
through one worker (reference ``legate/pandas/core/column.py:644-687``): each
piece runs a LOCAL scan, the per-piece totals get an exclusive scan on the
driver (num_pieces scalars), and the resulting carry is broadcast back and
combined into every row of its piece.

Spark mapping: "piece" = the ingest partition recovered from the row-order
key's upper bits (``monotonically_increasing_id`` layout — see
``indexing._PID_BITS``).

* Phase 1 — per-pid partials: one small aggregate (num_partitions rows).
* Phase 2 — their exclusive prefix-combine, in the plan
  (``indexing.exclusive_prefix``: a broadcast self-join over the partials —
  the same helper that computes positions and rank-bucket offsets), then a
  broadcast join of the per-partition carry; each row combines its
  partition-LOCAL window scan (``Window.partitionBy(pid)`` — parallel) with
  the carry.

Building these scans collects nothing, so on a scan or checkpoint input it
runs no Spark job. What still runs jobs at build time: ``_stabilize``'s
checkpoint, the rank splitters, ``ordered_row_number``'s eager checkpoints,
the partition-count probe (``indexing._pid_bound``) on a shuffled input, and
the global ewm folds, whose decayed combine stays on the driver.

No unpartitioned window anywhere (``tests/test_plans.py`` pins "no
``Exchange SinglePartition``" on these plans). shift/diff/pct_change avoid
windows entirely: they equi-join on the global position computed by the same
partition-offset arithmetic (unique keys, hash join, fully parallel).
"""

from __future__ import annotations

import itertools

import pyspark.sql.functions as F
from pyspark.sql.window import Window

from legate_pandas_spark.frontend.indexing import (
    _PID_BITS,
    _attach_positions,
    _pid_bound,
    exclusive_prefix,
)

_seq = itertools.count()


def _stabilize(sdf):
    """Checkpoint a scan input whose lineage is expensive to replay
    (round-7: pd_global_rank_rolling profiling).

    The two-phase machinery (rank splitters, position offsets, carries)
    reads the SAME input several times. When that input's lineage contains a
    Sort/Join/Window — e.g. the post-`sort_values` frame, whose orderBy
    re-runs its range-partitioner SAMPLING job on every execution — each read
    replays the whole chain. ``localCheckpoint(eager=False)`` cuts it: later
    reads (and the final plan) scan executor-local blocks. It is NOT free at
    call time: under AQE, building the checkpoint's RDD runs every upstream
    shuffle stage now (measured at sf0.01, warm: 32 of the six facade census
    queries' 65 build-time jobs). It is load-bearing all the same — without
    it ``pd_rolling_median_quantile``'s plan grows from 18 to 98 exchanges
    and from 6 to 62 sorts. Cheap lineages (pruned parquet scans) are NOT
    checkpointed — re-scanning a pruned column beats materializing the full
    width once."""
    try:
        plan = sdf._jdf.queryExecution().optimizedPlan().toString()
    except Exception:
        return sdf
    if any(k in plan for k in ("Sort ", "Join ", "Window ", "LogicalRDD")):
        if "LogicalRDD" in plan and not any(
            k in plan for k in ("Sort ", "Join ", "Window ")
        ):
            return sdf  # already checkpoint-backed
        return sdf.localCheckpoint(eager=False)
    return sdf


def _pid():
    from legate_pandas_spark.frontend.frame import ROW_ORDER

    return F.shiftright(F.col(ROW_ORDER), _PID_BITS)


def _local_window(following: bool = False):
    """Partition-LOCAL scan window (pid-partitioned — never a single task)."""
    from legate_pandas_spark.frontend.frame import ROW_ORDER

    w = Window.partitionBy(_pid()).orderBy(F.asc(ROW_ORDER))
    if following:
        return w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    return w.rowsBetween(Window.unboundedPreceding, Window.currentRow)


def attach_carries(sdf, specs: dict, reverse: bool = False, force_two_level=None):
    """Attach one nullable carry column per spec.

    ``specs`` maps carry-column name -> (partial_agg_expr, combine), combine
    one of ``exclusive_prefix``'s ('sum', 'max', 'min', 'last'); the carry
    holds ``combine`` folded over all PRECEDING partitions' partials
    (FOLLOWING when ``reverse``), null when none have data. All specs share
    one per-pid aggregate, and the prefix stays in the plan.
    """
    sdf = _stabilize(sdf)
    uniq = next(_seq)
    pid_col = f"__carry_pid_{uniq}__"
    partials = sdf.groupBy(_pid().alias(pid_col)).agg(
        *[e.alias(n) for n, (e, _) in specs.items()]
    )
    carry_df = exclusive_prefix(
        partials, pid_col, {n: (n, comb) for n, (_, comb) in specs.items()},
        reverse=reverse, n_keys=_pid_bound(sdf), force_two_level=force_two_level,
    )
    return (
        sdf.withColumn(pid_col, _pid())
        .join(F.broadcast(carry_df), pid_col, "left")
        .drop(pid_col)
    )


def cum_columns(sdf, cols: dict, kind: str):
    """Append global cumulative-scan output columns.

    ``cols`` maps output-column name -> source Column expression; ``kind`` is
    one of sum/max/min/prod. Null inputs pass through as null (pandas skipna:
    the running value skips them but the null cell stays null). One phase-1
    aggregate covers every column.
    """
    uniq = next(_seq)
    specs, parts = {}, {}
    for i, (out, c) in enumerate(cols.items()):
        if kind == "sum":
            k = f"__cs_{uniq}_{i}__"
            specs[k] = (F.sum(c), "sum")
            parts[out] = ("sum", c, [k])
        elif kind == "max":
            k = f"__cx_{uniq}_{i}__"
            specs[k] = (F.max(c), "max")
            parts[out] = ("max", c, [k])
        elif kind == "min":
            k = f"__cn_{uniq}_{i}__"
            specs[k] = (F.min(c), "min")
            parts[out] = ("min", c, [k])
        elif kind == "prod":
            d = c.cast("double")
            kn = f"__cpn_{uniq}_{i}__"  # count of negatives (sign parity)
            kl = f"__cpl_{uniq}_{i}__"  # sum of log|x| over non-zero
            kz = f"__cpz_{uniq}_{i}__"  # any-zero flag
            specs[kn] = (F.sum(F.when(d < 0, 1).otherwise(0)), "sum")
            specs[kl] = (F.sum(F.when(d.isNotNull() & (d != 0), F.log(F.abs(d)))), "sum")
            specs[kz] = (F.max((d == 0).cast("int")), "max")
            parts[out] = ("prod", c, [kn, kl, kz])
        else:
            raise ValueError(kind)
    out_sdf = attach_carries(sdf, specs)
    w = _local_window()
    sel = list(out_sdf.columns)
    exprs = []
    for out, (knd, c, keys) in parts.items():
        if knd == "sum":
            local, carry = F.sum(c).over(w), F.col(keys[0])
            combined = F.when(
                local.isNull() & carry.isNull(), F.lit(None)
            ).otherwise(F.coalesce(local, F.lit(0)) + F.coalesce(carry, F.lit(0)))
        elif knd == "max":
            combined = F.greatest(F.max(c).over(w), F.col(keys[0]))
        elif knd == "min":
            combined = F.least(F.min(c).over(w), F.col(keys[0]))
        else:  # prod: exp∘scan∘log magnitude + sign parity + zero flag
            d = c.cast("double")
            kn, kl, kz = keys
            neg = F.sum(F.when(d < 0, 1).otherwise(0)).over(w) + F.coalesce(
                F.col(kn), F.lit(0)
            )
            sign = F.when(neg % 2 == 1, F.lit(-1.0)).otherwise(F.lit(1.0))
            llog = F.sum(F.when(d.isNotNull() & (d != 0), F.log(F.abs(d)))).over(w)
            tlog = F.when(
                llog.isNull() & F.col(kl).isNull(), F.lit(None).cast("double")
            ).otherwise(F.coalesce(llog, F.lit(0.0)) + F.coalesce(F.col(kl), F.lit(0.0)))
            has_zero = F.greatest(F.max((d == 0).cast("int")).over(w), F.col(kz)) == 1
            combined = F.when(has_zero, F.lit(0.0)).otherwise(
                sign * F.coalesce(F.exp(tlog), F.lit(1.0))
            )
        exprs.append(F.when(c.isNotNull(), combined).alias(out))
    out_sdf = out_sdf.select(*sel, *exprs)
    drop = [k for _, (_, _, keys) in parts.items() for k in keys]
    return out_sdf.drop(*drop)


def fill_columns(sdf, cols: dict, forward: bool = True):
    """Append ffill/bfill output columns (two-phase: local directional fill +
    nearest preceding/following partition's edge non-null value as carry)."""
    from legate_pandas_spark.frontend.frame import ROW_ORDER

    uniq = next(_seq)
    specs = {}
    keys = {}
    for i, (out, c) in enumerate(cols.items()):
        k = f"__fc_{uniq}_{i}__"
        keyed = F.when(c.isNotNull(), F.col(ROW_ORDER))
        # per-pid edge value: last (max_by) / first (min_by) non-null by order
        specs[k] = (F.max_by(c, keyed) if forward else F.min_by(c, keyed), "last")
        keys[out] = (c, k)
    out_sdf = attach_carries(sdf, specs, reverse=not forward)
    w = _local_window(following=not forward)
    pick = (
        (lambda c: F.last(c, ignorenulls=True))
        if forward
        else (lambda c: F.first(c, ignorenulls=True))
    )
    sel = list(out_sdf.columns)
    exprs = [
        F.coalesce(pick(c).over(w), F.col(k)).alias(out)
        for out, (c, k) in keys.items()
    ]
    return out_sdf.select(*sel, *exprs).drop(*[k for _, k in keys.values()])


def _rank_boundaries(sdf, c, n_bounds: int = 63):
    """Driver-side splitter list for range-bucketed rank (the reference's
    sample-sort splitter histogram, ``core/sort.py:113-174`` /
    ``src/sorting/utilities.cc:27-48``, re-expressed as one aggregate job).

    Numerics use ``percentile_approx`` (balanced buckets); other orderable
    types fall back to a distinct-sample. Boundary QUALITY only affects bucket
    balance, never rank correctness — ranks come from exact per-bucket counts.
    """
    probe = sdf.select(c.alias("__v__")).filter(F.col("__v__").isNotNull())
    t = probe.schema[0].dataType.simpleString()
    numeric = t in (
        "tinyint", "smallint", "int", "bigint", "float", "double"
    ) or t.startswith("decimal")
    if numeric:
        qs = [i / (n_bounds + 1) for i in range(1, n_bounds + 1)]
        row = probe.select(
            F.percentile_approx("__v__", qs, 2000).alias("__b__")
        ).first()
        raw = row["__b__"] or [] if row else []
    else:
        raw = [
            r["__v__"]
            for r in probe.distinct().limit(4 * (n_bounds + 1)).collect()
        ]
    return sorted(set(b for b in raw if b is not None))


def rank_column(
    sdf,
    out: str,
    c,
    method: str = "min",
    ascending: bool = True,
    pct: bool = False,
    na_option: str = "keep",
):
    """Append one global value-rank column — two-phase range-bucketed rank,
    no unpartitioned window (the same carry discipline as ``cum_columns``).

    Phase 0: splitter boundaries (one aggregate, collected: the rank's only
    build-time job besides ``_stabilize``) define a bucket id that is
    MONOTONIC in the value, so same values share a bucket and global rank =
    per-bucket offset + partition-local rank.
    Phase 1: per-bucket (row count, distinct count) — ≤ 64 rows — and their
    exclusive prefix in rank order, in the plan (``exclusive_prefix``).
    Phase 2: local rank over ``Window.partitionBy(bucket)`` + broadcast-joined
    offsets. Ties never straddle buckets by construction.

    Methods: 'min' (SQL rank), 'dense', 'first' (row order breaks ties),
    'average' (min + (peers-1)/2; peers via the RANGE CURRENT ROW frame on the
    SAME window shuffle). ``na_option``: 'keep' → nulls rank null (pandas
    default); 'top'/'bottom' → nulls rank before/after every value (they share
    the null bucket, so their ranks are pure offset arithmetic). ``pct``
    divides by the non-null total ('keep') or the row total (otherwise).
    The null count and the totals those need come from a one-row aggregate
    over the per-bucket counts, cross-joined in the plan.
    """
    from legate_pandas_spark.frontend.frame import ROW_ORDER

    sdf = _stabilize(sdf)
    bounds = _rank_boundaries(sdf, c)
    bucket = bucket_of(bounds, c)
    uniq = next(_seq)
    bkt = f"__rb_{uniq}__"
    bsdf = sdf.withColumn(bkt, F.when(c.isNotNull(), bucket))
    # the per-bucket DISTINCT count is only consumed by dense-rank offsets /
    # dense pct normalization; countDistinct forces an Expand + second
    # shuffle, so skip it for the other methods (round-7 profiling: it
    # doubled the phase-1 job cost)
    aggs = [
        F.count(F.lit(1)).alias("__n__"),
        F.countDistinct(c).alias("__d__") if method == "dense" else F.lit(0).alias("__d__"),
    ]
    off_n, off_d = f"__ro_{uniq}__", f"__rd_{uniq}__"
    tot_cols = [f"__rnn_{uniq}__", f"__rtn_{uniq}__", f"__rtd_{uniq}__"]
    cnt = bsdf.filter(F.col(bkt).isNotNull()).groupBy(bkt).agg(*aggs)
    off_df = exclusive_prefix(
        cnt, bkt, {off_n: ("__n__", "sum"), off_d: ("__d__", "sum")},
        reverse=not ascending, n_keys=len(bounds) + 1,
    ).select(
        bkt,
        F.coalesce(F.col(off_n), F.lit(0)).alias(off_n),
        F.coalesce(F.col(off_d), F.lit(0)).alias(off_d),
    )
    joined = bsdf.join(F.broadcast(off_df), bkt, "left")
    on, od = F.col(off_n), F.col(off_d)
    if pct or na_option != "keep":
        # null count, non-null total, distinct total: ONE row, grouped on a
        # constant (a global aggregate would add a SinglePartition exchange)
        isnull, n, d = F.col(bkt).isNull(), F.col("__n__"), F.col("__d__")
        tot = bsdf.groupBy(bkt).agg(*aggs).groupBy(F.lit(0).alias(bkt)).agg(
            F.coalesce(F.sum(F.when(isnull, n)), F.lit(0)).alias(tot_cols[0]),
            F.coalesce(F.sum(F.when(~isnull, n)), F.lit(0)).alias(tot_cols[1]),
            F.coalesce(F.sum(F.when(~isnull, d)), F.lit(0)).alias(tot_cols[2]),
        )
        joined = joined.crossJoin(F.broadcast(tot.drop(bkt)))
        null_n, total_nn, total_d = [F.col(n) for n in tot_cols]
        has_null = (null_n > 0).cast("long")
        if na_option == "top":  # every value ranks after the nulls
            on, od = on + null_n, od + has_null
    order = c.asc() if ascending else c.desc()
    w = Window.partitionBy(F.col(bkt)).orderBy(order)
    if method == "first":
        w = Window.partitionBy(F.col(bkt)).orderBy(order, F.asc(ROW_ORDER))
        expr = on + F.row_number().over(w)
    elif method == "dense":
        expr = od + F.dense_rank().over(w)
    elif method == "average":
        peers = F.count(F.lit(1)).over(
            w.rangeBetween(Window.currentRow, Window.currentRow)
        )
        expr = on + F.rank().over(w) + (peers - 1) / 2.0
    elif method == "min":
        expr = on + F.rank().over(w)
    elif method == "max":
        # rank of the LAST peer: min rank + (peer count - 1)
        peers = F.count(F.lit(1)).over(
            w.rangeBetween(Window.currentRow, Window.currentRow)
        )
        expr = on + F.rank().over(w) + (peers - 1)
    else:
        raise ValueError(f"unsupported rank method: {method!r}")
    expr = expr.cast("double")
    if na_option == "keep":
        out_expr = F.when(c.isNotNull(), expr)
        if pct:
            # pandas pct: dense ranks normalize by the DISTINCT count (the max
            # dense rank), every other method by the row count
            denom = total_d if method == "dense" else total_nn
            out_expr = out_expr / F.greatest(denom, F.lit(1))
    elif na_option in ("top", "bottom"):
        base = F.lit(0) if na_option == "top" else total_nn
        if method == "first":
            wn = Window.partitionBy(F.col(bkt)).orderBy(F.asc(ROW_ORDER))
            null_rank = base + F.row_number().over(wn)
        elif method == "dense":
            null_rank = (F.lit(0) if na_option == "top" else total_d) + 1
        elif method == "average":
            null_rank = base + (null_n + 1) / 2.0
        elif method == "max":
            null_rank = base + null_n
        else:  # min
            null_rank = base + 1
        out_expr = F.when(c.isNotNull(), expr).otherwise(
            null_rank.cast("double")
        )
        if pct:
            if method == "dense":
                denom = total_d + has_null
            else:
                denom = total_nn + null_n
            out_expr = out_expr / F.greatest(denom, F.lit(1))
    else:
        raise ValueError(f"unsupported na_option: {na_option!r}")
    return joined.withColumn(out, out_expr).drop(bkt, off_n, off_d, *tot_cols)


def window_quantile_expr(c, w, q: float):
    """Exact interpolated quantile over a window FRAME — Spark refuses
    median/percentile with a frame spec, so sort the frame's collected values
    and blend the bracketing elements (pandas linear interpolation). Intended
    for k-row rolling frames (the list is window-sized, not partition-sized).
    Nulls are excluded by collect_list; empty frame → null (ANSI-safe
    element_at guard)."""
    s = F.array_sort(F.collect_list(c).over(w))
    n = F.size(s)
    idx = (n - 1) * F.lit(float(q))
    lo = F.floor(idx).cast("int")
    hi = F.ceil(idx).cast("int")
    lov = F.element_at(s, lo + 1).cast("double")
    hiv = F.element_at(s, hi + 1).cast("double")
    return F.when(n > 0, lov + (hiv - lov) * (idx - lo))


def ordered_row_number(sdf, order_cols: list, out: str, partitions: int | None = None):
    """Append a 0-based global row number in ``order_cols`` order — the
    reference's sample-sort + weighted-partition design (core/sort.py:93-174,
    core/runtime.py:1001-1008) with no single-partition exchange:

    1. range-partition + local sort on the order keys (Spark's
       RangePartitioner IS the sample sort), a fresh row-order key in sorted
       order, and ``localCheckpoint`` so every later read sees the SAME
       partitions (range sampling is not deterministic across executions);
    2. row number = that frame's global position (``_attach_positions``:
       per-partition counts and their in-plan exclusive prefix), checkpointed
       again so consumers read the numbered table, not the prefix joins.

    Intended for derived tables whose global ordering IS the result (vocab
    ranking, dense ids; ``sdf`` carries no row-order key of its own). Both
    checkpoints are eager: the sort and the numbering run when this is called.
    """
    from legate_pandas_spark.frontend.frame import ROW_ORDER

    n_parts = partitions or sdf.sparkSession.sparkContext.defaultParallelism
    arranged = (
        sdf.repartitionByRange(n_parts, *order_cols)
        .sortWithinPartitions(*order_cols)
        .withColumn(ROW_ORDER, F.monotonically_increasing_id())
        .localCheckpoint()
    )
    numbered, _ = _attach_positions(arranged, fresh=True, pos_name=out)
    return numbered.drop(ROW_ORDER).localCheckpoint()


def bucket_of(bounds: list, key):
    """Monotonic range-bucket id for ``key`` given driver-side splitter
    boundaries (count of boundaries strictly below the key).

    The ``filter`` HOF is CodegenFallback, but its interpreted loop runs
    over a primitive literal array and beats the codegen-able alternative:
    a balanced CASE WHEN binary-search tree (6 comparisons per row instead
    of 63) measured 1.36-1.42x SLOWER across the scan family (r12
    interleaved A/B, OPTIMIZATION_r12.md negative result #6) — the ~127-node WHEN tree costs
    more per evaluation than the tight HOF loop, the same lesson as the
    unrolled-dot negative result. Kept as the HOF on that evidence."""
    if not bounds:
        return F.lit(0)
    barr = F.array(*[F.lit(b) for b in bounds])
    return F.size(F.filter(barr, lambda b: b < key))


def ewm_mean_columns(sdf, cols: dict, alpha: float):
    """Append exponentially-weighted means (pandas ewm(adjust=True,
    ignore_na=False)) — EXACT two-phase distributed recurrence, replacing the
    old single-Arrow-group sequential pass.

    Math: ewm_i = num_i / den_i with num_i = Σ_{j≤i} b^{i-j}·x_j (non-null j)
    and den_i the same sum of weights, b = 1-α. Within a partition both are
    recovered from pandas' own local ewm (mean·den; den = mask-ewm · closed-
    form all-ones sum). Across partitions the recurrences are linear, so row r
    of partition p needs only b^{r+1} × the previous partitions' end state —
    a driver-side prefix-combine of (end_num, end_den, b^rowcount) triples,
    one per partition. Two Arrow passes, both partition-parallel.

    ``cols`` maps out_name -> source column NAME (str).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    from legate_pandas_spark.frontend.frame import ROW_ORDER

    b = 1.0 - alpha
    uniq = next(_seq)
    PID = f"__ewp_{uniq}__"
    work = sdf.withColumn(PID, _pid())
    srcs = list(dict.fromkeys(cols.values()))

    def _locals(pdf):
        n = len(pdf)
        r = np.arange(1, n + 1, dtype="float64")
        dall = (1.0 - np.power(b, r)) / alpha if alpha < 1.0 else np.ones(n)
        res = {}
        for s in srcs:
            x = pdf[s].astype("float64")
            mask = x.notna().astype("float64")
            mean_local = x.ewm(alpha=alpha, adjust=True).mean().to_numpy()
            mm = mask.ewm(alpha=alpha, adjust=True).mean().to_numpy()
            den = mm * dall
            num = np.where(den > 0, np.nan_to_num(mean_local) * den, 0.0)
            res[s] = (num, den)
        return res

    f1 = [T.StructField(PID, T.LongType()), T.StructField("__decay__", T.DoubleType())]
    for i in range(len(srcs)):
        f1 += [
            T.StructField(f"__en_{i}__", T.DoubleType()),
            T.StructField(f"__ed_{i}__", T.DoubleType()),
        ]
    schema1 = T.StructType(f1)

    def phase1(pdf):
        pdf = pdf.sort_values(ROW_ORDER)
        n = len(pdf)
        res = _locals(pdf)
        row = {PID: [int(pdf[PID].iloc[0])], "__decay__": [float(b**n)]}
        for i, s in enumerate(srcs):
            num, den = res[s]
            row[f"__en_{i}__"] = [float(num[-1]) if n else 0.0]
            row[f"__ed_{i}__"] = [float(den[-1]) if n else 0.0]
        return pd.DataFrame(row)

    ends = work.groupBy(PID).applyInPandas(phase1, schema1).collect()
    ends.sort(key=lambda r: r[PID])
    carry: dict = {}
    cn = {s: 0.0 for s in srcs}
    cd = {s: 0.0 for s in srcs}
    for r in ends:
        carry[r[PID]] = (dict(cn), dict(cd))
        for i, s in enumerate(srcs):
            cn[s] = r[f"__en_{i}__"] + r["__decay__"] * cn[s]
            cd[s] = r[f"__ed_{i}__"] + r["__decay__"] * cd[s]

    schema2 = T.StructType(
        list(work.schema.fields)
        + [T.StructField(o, T.DoubleType()) for o in cols]
    )

    def phase2(pdf):
        pdf = pdf.sort_values(ROW_ORDER).reset_index(drop=True)
        n = len(pdf)
        res = _locals(pdf)
        prevn, prevd = carry.get(int(pdf[PID].iloc[0]) if n else -1, ({}, {}))
        bpow = np.power(b, np.arange(1, n + 1, dtype="float64"))
        out = pdf.copy()
        for out_name, s in cols.items():
            num, den = res[s]
            gn = num + bpow * prevn.get(s, 0.0)
            gd = den + bpow * prevd.get(s, 0.0)
            out[out_name] = np.where(gd > 0, gn / np.where(gd > 0, gd, 1.0), np.nan)
        return out

    return work.groupBy(PID).applyInPandas(phase2, schema2).drop(PID)


def ewm_var_columns(sdf, cols: dict, alpha: float, std: bool = False):
    """Append exact distributed pandas ``ewm(adjust=True).var()`` (bias=False)
    or ``.std()`` — a weighted-Welford (West) merge over the two-phase carry
    plumbing of ``ewm_mean_columns``.

    Per row over non-null x with weights w_j = b^{i-j} (ignore_na=False: the
    decay counts all periods): the partition-LOCAL state (B=Σw, mean, M2=
    Σw·(x−mean)², D=Σw², N=obs count) is recovered from pandas' own ewm
    (mean, bias=True var — their stable recursion), and states merge with the
    weighted Chan/West update M2 = M2₁+M2₂+δ²·B₁B₂/B — numerically stable
    where the raw-moment form (C/B − mean²) suffers catastrophic cancellation
    under long decay gaps. Carries decay by b^rows (B, M2; mean is invariant
    under uniform weight scaling) and b^{2·rows} (D). Bias correction
    var = M2/B · B²/(B²−D) gates on an EXACT observation count (≥2) and falls
    back to the uncorrected value if the correction denominator underflows
    (matching pandas' recursive collapse).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    from legate_pandas_spark.frontend.frame import ROW_ORDER

    b = 1.0 - alpha
    uniq = next(_seq)
    PID = f"__evp_{uniq}__"
    work = sdf.withColumn(PID, _pid())
    srcs = list(dict.fromkeys(cols.values()))

    def _moments(pdf):
        res = {}
        for s in srcs:
            res[s] = _ewm_local_welford(pdf[s], alpha)
        return res

    names = [f"__ev{m}_{uniq}_{i}__" for i in range(len(srcs)) for m in "bmwdn"]
    f1 = [T.StructField(PID, T.LongType()), T.StructField("__dec__", T.DoubleType())]
    f1 += [T.StructField(n, T.DoubleType()) for n in names]
    schema1 = T.StructType(f1)

    def phase1(pdf):
        pdf = pdf.sort_values(ROW_ORDER)
        n = len(pdf)
        res = _moments(pdf)
        row = {PID: [int(pdf[PID].iloc[0])], "__dec__": [float(b**n)]}
        for i, s in enumerate(srcs):
            for m, arr in zip("bmwdn", res[s]):
                row[f"__ev{m}_{uniq}_{i}__"] = [float(arr[-1]) if n else 0.0]
        return pd.DataFrame(row)

    ends = work.groupBy(PID).applyInPandas(phase1, schema1).collect()
    ends.sort(key=lambda r: r[PID])
    carry: dict = {}
    acc = {s: [0.0, 0.0, 0.0, 0.0, 0.0] for s in srcs}  # B, mean, M2, D, N
    for r in ends:
        carry[r[PID]] = {s: list(acc[s]) for s in srcs}
        dec = r["__dec__"]
        for i, s in enumerate(srcs):
            L = [r[f"__ev{m}_{uniq}_{i}__"] for m in "bmwdn"]
            acc[s] = _welford_merge_decayed(acc[s], L, dec)

    schema2 = T.StructType(
        list(work.schema.fields)
        + [T.StructField(o, T.DoubleType()) for o in cols]
    )

    def phase2(pdf):
        pdf = pdf.sort_values(ROW_ORDER).reset_index(drop=True)
        n = len(pdf)
        res = _moments(pdf)
        prev = carry.get(int(pdf[PID].iloc[0]) if n else -1, {})
        bp = np.power(b, np.arange(1, n + 1, dtype="float64"))
        out = pdf.copy()
        for out_name, s in cols.items():
            loc = res[s]
            pv = prev.get(s, [0.0, 0.0, 0.0, 0.0, 0.0])
            out[out_name] = _welford_rowwise_var(loc, pv, bp, std)
        return out

    return work.groupBy(PID).applyInPandas(phase2, schema2).drop(PID)


def _ewm_local_welford(x_ser, alpha: float):
    """Partition-local per-row EWM Welford state arrays (B, mean, M2, P, N)
    recovered from pandas' own (numerically stable, recursive) ewm.

    P is the PAIRWISE weight-product sum Σ_{j<k} w_j·w_k = (B² − Σw²)/2 —
    tracked directly (recurrence P_i = b²·P_{i-1} + m_i·b·B_{i-1}, an
    ewm-sum at decay b² of z_i = m_i·b·B_{i-1}) because forming B² − D
    explicitly cancels catastrophically under long decay gaps; P IS the
    bias-correction denominator (×2), so its relative precision carries
    straight through."""
    import numpy as np
    import pandas as pd

    b = 1.0 - alpha
    n = len(x_ser)
    x = x_ser.astype("float64")
    _num, B = _ewm_local_num_den(x, alpha)
    mean = np.nan_to_num(x.ewm(alpha=alpha, adjust=True).mean().to_numpy())
    varb = np.nan_to_num(
        x.ewm(alpha=alpha, adjust=True).var(bias=True).to_numpy()
    )
    M2 = varb * B
    mask = x.notna().astype("float64").to_numpy()
    if b > 0 and n:
        q = b * b
        alpha2 = 1.0 - q
        Bprev = np.concatenate(([0.0], B[:-1]))
        z = pd.Series(mask * b * Bprev)
        r = np.arange(1, n + 1, dtype="float64")
        dall2 = (1.0 - np.power(q, r)) / alpha2
        P = z.ewm(alpha=alpha2, adjust=True).mean().to_numpy() * dall2
        P = np.nan_to_num(P)
    else:
        P = np.zeros(n)
    N = x.notna().astype("float64").cumsum().to_numpy()
    return B, mean, M2, P, N


def _welford_merge_decayed(C, L, dec):
    """Merge carry state C (decayed by ``dec``) with a local end state L —
    the weighted Chan/West combine; mean and M2 are exact under uniform
    weight rescaling. The pairwise sum gains the cross term
    (decayed carry weight) × (local weight)."""
    cb, cm, cw, cp, cn = C[0] * dec, C[1], C[2] * dec, C[3] * dec * dec, C[4]
    lb, lm, lw, lp, ln = L
    B = cb + lb
    if B > 0:
        delta = lm - cm
        mean = cm + delta * lb / B
        M2 = cw + lw + delta * delta * cb * lb / B
    else:
        mean, M2 = 0.0, 0.0
    P = cp + cb * lb + lp
    return [B, mean, M2, P, cn + ln]


def _welford_rowwise_var(loc, pv, bp, std):
    """Vectorized per-row merge of decayed carry ``pv`` into local states
    ``loc`` and the bias-corrected variance (or std): var = M2·B / (2P),
    with P the cancellation-free pairwise weight-product sum."""
    import numpy as np

    Bl, Ml, Wl, Pl, Nl = loc
    pb, pm, pw, pp, pn = pv
    Cb = pb * bp
    Cw = pw * bp
    Cp = pp * bp * bp
    Bt = Bl + Cb
    with np.errstate(divide="ignore", invalid="ignore"):
        delta = Ml - pm
        safe_B = np.where(Bt > 0, Bt, 1.0)
        M2t = Wl + Cw + delta * delta * Cb * Bl / safe_B
        Pt = Pl + Cp + Cb * Bl
        Nt = Nl + pn
        denom = 2.0 * Pt
        biased = np.maximum(M2t, 0.0) / safe_B
        ok = (Bt > 0) & (Nt >= 2) & (denom > 0)
        v = np.where(
            ok,
            biased * (Bt * Bt) / np.where(denom > 0, denom, 1.0),
            # >= 2 obs but the correction denominator underflowed (one obs
            # carries ~all weight after a long decay gap): fall back to the
            # uncorrected value, matching pandas' recursive collapse
            np.where((Nt >= 2) & (Bt > 0), biased, np.nan),
        )
    return np.sqrt(v) if std else v


def _ewm_local_num_den(x_ser, alpha: float):
    """Local (within one ordered run) EWM numerator/denominator arrays.

    num_i = Σ_{j≤i, x_j non-null} b^{i-j}·x_j, den_i = same sum of weights
    (b = 1-α) — recovered from pandas' own ewm so the adjust=True /
    ignore_na=False weighting is bit-compatible with pandas.
    """
    import numpy as np

    b = 1.0 - alpha
    n = len(x_ser)
    r = np.arange(1, n + 1, dtype="float64")
    dall = (1.0 - np.power(b, r)) / alpha if alpha < 1.0 else np.ones(n)
    x = x_ser.astype("float64")
    mask = x.notna().astype("float64")
    mean_local = x.ewm(alpha=alpha, adjust=True).mean().to_numpy()
    mm = mask.ewm(alpha=alpha, adjust=True).mean().to_numpy()
    den = mm * dall
    num = np.where(den > 0, np.nan_to_num(mean_local) * den, 0.0)
    return num, den


def grouped_ewm_mean_columns(sdf, keys: list, cols: dict, alpha: float):
    """Append per-group exponentially-weighted means
    (pandas ``groupby(keys).ewm(alpha, adjust=True).mean()``) — EXACT and
    fully distributed: no per-group sequential task, so one giant (skewed)
    group still parallelizes across partitions.

    Same linear-recurrence math as ``ewm_mean_columns`` (reference carry
    design: ``legate/pandas/core/column.py:644-687``, generalized to keyed
    scans) but the carry is per (group, partition) and the prefix-combine is
    itself DISTRIBUTED: phase 1 emits one tiny state row per
    (partition, group) — (end_num, end_den, b^rows) — those states are
    prefix-combined per group by a second applyInPandas over the state table
    (≤ num_partitions rows per group), and the carries join back on
    (pid, keys) with null-safe key equality. Nothing is collected to the
    driver, so millions of groups are fine; a single global group degrades to
    exactly ``ewm_mean_columns``' shape.

    ``cols`` maps out_name -> source column NAME (str); outputs are appended
    as doubles.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    from legate_pandas_spark.frontend.frame import ROW_ORDER

    b = 1.0 - alpha
    uniq = next(_seq)
    PID = f"__gep_{uniq}__"
    work = sdf.withColumn(PID, _pid())
    srcs = list(dict.fromkeys(cols.values()))
    key_fields = {f.name: f for f in work.schema.fields}
    en = [f"__gen_{uniq}_{i}__" for i in range(len(srcs))]
    ed = [f"__ged_{uniq}_{i}__" for i in range(len(srcs))]
    cn = [f"__gcn_{uniq}_{i}__" for i in range(len(srcs))]
    cd = [f"__gcd_{uniq}_{i}__" for i in range(len(srcs))]
    DEC = f"__gdec_{uniq}__"

    state_schema = T.StructType(
        [T.StructField(PID, T.LongType())]
        + [key_fields[k] for k in keys]
        + [T.StructField(DEC, T.DoubleType())]
        + [T.StructField(c, T.DoubleType()) for pair in zip(en, ed) for c in pair]
    )

    def phase1(pdf):
        pdf = pdf.sort_values(ROW_ORDER)
        outs = []
        for _, g in pdf.groupby(keys, dropna=False, sort=False):
            o = g.iloc[[0]][[PID] + keys].copy()
            o[DEC] = float(b ** len(g))
            for i, s in enumerate(srcs):
                num, den = _ewm_local_num_den(g[s], alpha)
                o[en[i]] = float(num[-1])
                o[ed[i]] = float(den[-1])
            outs.append(o)
        if not outs:
            o = pdf.iloc[0:0][[PID] + keys].copy()
            o[DEC] = pd.Series(dtype="float64")
            for i in range(len(srcs)):
                o[en[i]] = pd.Series(dtype="float64")
                o[ed[i]] = pd.Series(dtype="float64")
            outs.append(o)
        return pd.concat(outs)

    states = work.groupBy(PID).applyInPandas(phase1, state_schema)

    carry_schema = T.StructType(
        [T.StructField(PID, T.LongType())]
        + [key_fields[k] for k in keys]
        + [T.StructField(c, T.DoubleType()) for pair in zip(cn, cd) for c in pair]
    )

    def combine(pdf):
        pdf = pdf.sort_values(PID).reset_index(drop=True)
        out = pdf[[PID] + keys].copy()
        for i in range(len(srcs)):
            ns, ds = [], []
            an, ad = 0.0, 0.0
            for dec, e_n, e_d in zip(pdf[DEC], pdf[en[i]], pdf[ed[i]]):
                ns.append(an)
                ds.append(ad)
                an = e_n + dec * an
                ad = e_d + dec * ad
            out[cn[i]] = ns
            out[cd[i]] = ds
        return out

    carries = states.groupBy(*keys).applyInPandas(combine, carry_schema)

    cpid = f"__gcp_{uniq}__"
    ckeys = [f"__gck_{uniq}_{i}__" for i in range(len(keys))]
    carries = carries.select(
        F.col(PID).alias(cpid),
        *[F.col(k).alias(a) for k, a in zip(keys, ckeys)],
        *[c for pair in zip(cn, cd) for c in pair],
    )
    cond = F.col(PID) == F.col(cpid)
    for k, a in zip(keys, ckeys):
        cond = cond & F.col(k).eqNullSafe(F.col(a))
    work2 = work.join(carries, cond, "left").drop(cpid, *ckeys)

    out_schema = T.StructType(
        list(work2.schema.fields)
        + [T.StructField(o, T.DoubleType()) for o in cols]
    )

    def phase2(pdf):
        pdf = pdf.sort_values(ROW_ORDER)
        outs = []
        for _, g in pdf.groupby(keys, dropna=False, sort=False):
            n = len(g)
            bpow = np.power(b, np.arange(1, n + 1, dtype="float64"))
            o = g.copy()
            for out_name, s in cols.items():
                i = srcs.index(s)
                num, den = _ewm_local_num_den(g[s], alpha)
                pn = g[cn[i]].iloc[0]
                pdn = g[cd[i]].iloc[0]
                pn = 0.0 if pd.isna(pn) else float(pn)
                pdn = 0.0 if pd.isna(pdn) else float(pdn)
                gn = num + bpow * pn
                gd = den + bpow * pdn
                o[out_name] = np.where(gd > 0, gn / np.where(gd > 0, gd, 1.0), np.nan)
            outs.append(o)
        if not outs:
            o = pdf.copy()
            for out_name in cols:
                o[out_name] = pd.Series(dtype="float64")
            outs.append(o)
        return pd.concat(outs)

    drop_helpers = [c for pair in zip(cn, cd) for c in pair]
    return (
        work2.groupBy(PID)
        .applyInPandas(phase2, out_schema)
        .drop(PID, *drop_helpers)
    )


def rolling_parts(sdf, k: int, fresh: bool):
    """Build the pieces for a k-row rolling frame without an unpartitioned
    window: (augmented sdf, window spec, ghost flag column name, helper cols).

    The reference's boundary-exchange idea: a k-row window only ever needs the
    k-1 rows PRECEDING each partition's start. Positions and per-partition
    [start, count) ranges come from the offsets table
    (``_attach_positions``, lazy — no job); each partition's required
    boundary rows are found with a broadcast range-join against a tiny
    (target_pid, lo, hi) map and re-targeted as GHOST copies. The rolling
    window then partitions by target pid — partition-parallel, with at most
    num_partitions × (k-1) duplicated rows.
    """
    uniq = next(_seq)
    POS, TGT, GH = f"__rwp_{uniq}__", f"__rwt_{uniq}__", f"__rwg_{uniq}__"
    # the offsets table, the main branch, AND the ghost branch all consume sdf
    sdf = _stabilize(sdf)
    # positions AND the ghost range map stay in the plan: the (target, lo,
    # hi) map derives from the offsets table lazily
    with_pos, offsets_df = _attach_positions(sdf, fresh, pos_name=POS)
    main = with_pos.withColumn(TGT, _pid()).withColumn(GH, F.lit(False))
    if k > 1:
        lo, hi = f"__rwl_{uniq}__", f"__rwh_{uniq}__"
        rmap = offsets_df.filter(F.col("start") > 0).select(
            F.col("pid").alias(TGT),
            F.greatest(F.col("start") - F.lit(k - 1), F.lit(0)).alias(lo),
            (F.col("start") - 1).alias(hi),
        )
        ghosts = (
            with_pos.join(
                F.broadcast(rmap),
                (F.col(POS) >= F.col(lo)) & (F.col(POS) <= F.col(hi)),
                "inner",
            )
            .drop(lo, hi)
            .withColumn(GH, F.lit(True))
        )
        aug = main.unionByName(ghosts)
    else:
        aug = main
    w = (
        Window.partitionBy(F.col(TGT))
        .orderBy(F.asc(POS))
        .rowsBetween(-(k - 1), 0)
    )
    return aug, w, GH, [POS, TGT, GH]


def shift_columns(sdf, cols: dict, periods: int, fresh: bool):
    """Append shifted columns via a global-position equi-join (no window).

    Positions come from partition-offset arithmetic (``_attach_positions``);
    the donor side re-keys each row to position+periods and a left equi-join
    on the unique position delivers lag/lead. Fully partition-parallel: the
    only data movement is a hash join on a unique long key.
    """
    uniq = next(_seq)
    pos, dpos = f"__sp_{uniq}__", f"__spd_{uniq}__"
    with_pos, _ = _attach_positions(sdf, fresh, pos_name=pos)
    donor = with_pos.select(
        (F.col(pos) + F.lit(periods)).alias(dpos),
        *[c.alias(out) for out, c in cols.items()],
    )
    return (
        with_pos.join(donor, F.col(pos) == F.col(dpos), "left")
        .drop(pos, dpos)
    )


def grouped_ewm_var_columns(sdf, keys: list, cols: dict, alpha: float, std: bool = False):
    """Per-group exact distributed ewm variance/std — the keyed version of
    ``ewm_var_columns`` with the fully-distributed carry plumbing of
    ``grouped_ewm_mean_columns``: per-(group, partition) Welford states
    (B, mean, M2, D, N), a per-group prefix-combine over the tiny state table
    (the same weighted Chan/West merge as the global path — numerically
    stable under long decay gaps), and a null-safe carry join. No per-group
    sequential task; nothing collected to the driver."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    from legate_pandas_spark.frontend.frame import ROW_ORDER

    b = 1.0 - alpha
    uniq = next(_seq)
    PID = f"__gvp_{uniq}__"
    work = sdf.withColumn(PID, _pid())
    srcs = list(dict.fromkeys(cols.values()))
    key_fields = {f.name: f for f in work.schema.fields}
    MOMS = "bmwdn"
    st_cols = {
        m: [f"__gv{m}_{uniq}_{i}__" for i in range(len(srcs))] for m in MOMS
    }
    cr_cols = {
        m: [f"__gc{m}_{uniq}_{i}__" for i in range(len(srcs))] for m in MOMS
    }
    DEC = f"__gvd_{uniq}__"

    state_schema = T.StructType(
        [T.StructField(PID, T.LongType())]
        + [key_fields[k] for k in keys]
        + [T.StructField(DEC, T.DoubleType())]
        + [T.StructField(st_cols[m][i], T.DoubleType())
           for i in range(len(srcs)) for m in MOMS]
    )

    def phase1(pdf):
        pdf = pdf.sort_values(ROW_ORDER)
        outs = []
        for _, g in pdf.groupby(keys, dropna=False, sort=False):
            o = g.iloc[[0]][[PID] + keys].copy()
            o[DEC] = float(b ** len(g))
            for i, s in enumerate(srcs):
                for m, arr in zip(MOMS, _ewm_local_welford(g[s], alpha)):
                    o[st_cols[m][i]] = float(arr[-1])
            outs.append(o)
        if not outs:
            o = pdf.iloc[0:0][[PID] + keys].copy()
            o[DEC] = pd.Series(dtype="float64")
            for i in range(len(srcs)):
                for m in MOMS:
                    o[st_cols[m][i]] = pd.Series(dtype="float64")
            outs.append(o)
        return pd.concat(outs)

    states = work.groupBy(PID).applyInPandas(phase1, state_schema)

    carry_schema = T.StructType(
        [T.StructField(PID, T.LongType())]
        + [key_fields[k] for k in keys]
        + [T.StructField(cr_cols[m][i], T.DoubleType())
           for i in range(len(srcs)) for m in MOMS]
    )

    def combine(pdf):
        pdf = pdf.sort_values(PID).reset_index(drop=True)
        out = pdf[[PID] + keys].copy()
        for i in range(len(srcs)):
            accs = {m: [] for m in MOMS}
            cur = [0.0, 0.0, 0.0, 0.0, 0.0]
            for _, r in pdf.iterrows():
                for m, v in zip(MOMS, cur):
                    accs[m].append(v)
                L = [r[st_cols[m][i]] for m in MOMS]
                cur = _welford_merge_decayed(cur, L, r[DEC])
            for m in MOMS:
                out[cr_cols[m][i]] = accs[m]
        return out

    carries = states.groupBy(*keys).applyInPandas(combine, carry_schema)

    cpid = f"__gvc_{uniq}__"
    ckeys = [f"__gvk_{uniq}_{i}__" for i in range(len(keys))]
    flat_cr = [cr_cols[m][i] for i in range(len(srcs)) for m in MOMS]
    carries = carries.select(
        F.col(PID).alias(cpid),
        *[F.col(k).alias(a) for k, a in zip(keys, ckeys)],
        *flat_cr,
    )
    cond = F.col(PID) == F.col(cpid)
    for k, a in zip(keys, ckeys):
        cond = cond & F.col(k).eqNullSafe(F.col(a))
    work2 = work.join(carries, cond, "left").drop(cpid, *ckeys)

    out_schema = T.StructType(
        list(work2.schema.fields)
        + [T.StructField(o, T.DoubleType()) for o in cols]
    )

    def phase2(pdf):
        pdf = pdf.sort_values(ROW_ORDER)
        outs = []
        for _, g in pdf.groupby(keys, dropna=False, sort=False):
            n = len(g)
            bp = np.power(b, np.arange(1, n + 1, dtype="float64"))
            o = g.copy()
            for out_name, s in cols.items():
                i = srcs.index(s)
                loc = _ewm_local_welford(g[s], alpha)
                pv = [
                    (0.0 if pd.isna(g[cr_cols[m][i]].iloc[0])
                     else float(g[cr_cols[m][i]].iloc[0]))
                    for m in MOMS
                ]
                o[out_name] = _welford_rowwise_var(loc, pv, bp, std)
            outs.append(o)
        if not outs:
            o = pdf.copy()
            for out_name in cols:
                o[out_name] = pd.Series(dtype="float64")
            outs.append(o)
        return pd.concat(outs)

    return (
        work2.groupBy(PID)
        .applyInPandas(phase2, out_schema)
        .drop(PID, *flat_cr)
    )
