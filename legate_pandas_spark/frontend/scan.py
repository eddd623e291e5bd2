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

Rolling and expanding windows (``window_columns``) reuse both: an expanding
window is a carry scan, a k-row rolling frame reads ghost copies of the k-1
rows before each partition; with group keys either is one key-partitioned
window. No unpartitioned window anywhere (``tests/test_plans.py`` pins "no
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
    sdf, _ = _ordered(sdf)
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

    sdf, _ = _ordered(sdf)
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


def interpolate_columns(sdf, cols: dict):
    """Append linear interpolations of nulls by row position (pandas
    default: values equally spaced, leading nulls stay null, trailing nulls
    carry the last valid value forward), as doubles.

    Positions come from partition-offset arithmetic (``_attach_positions``);
    ONE forward and ONE backward carry pass (``fill_columns``) deliver every
    column's bracketing non-null (value, position) pairs, and the blend is a
    pure expression. No unpartitioned window."""
    sdf, fresh = _ordered(sdf)
    uniq = next(_seq)
    pos = f"__ip_{uniq}__"
    sdf, _ = _attach_positions(sdf, fresh, pos_name=pos)
    fwd, bwd, exprs = {}, {}, []
    for i, (out, c) in enumerate(cols.items()):
        d = c.cast("double")
        names = [f"__i{t}_{uniq}_{i}__" for t in ("pv", "pp", "nv", "np")]
        at = F.when(d.isNotNull(), F.col(pos))
        fwd[names[0]], fwd[names[1]] = d, at
        bwd[names[2]], bwd[names[3]] = d, at
        pv, pp, nv, np_ = map(F.col, names)
        exprs.append(
            F.when(d.isNotNull(), d)
            .when(pv.isNull(), F.lit(None).cast("double"))
            .when(nv.isNull(), pv)
            .otherwise(pv + (nv - pv) * (F.col(pos) - pp) / (np_ - pp))
            .alias(out)
        )
    sdf = fill_columns(fill_columns(sdf, fwd, forward=True), bwd, forward=False)
    return sdf.select("*", *exprs).drop(pos, *fwd, *bwd)


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

    sdf = _stabilize(_ordered(sdf)[0])
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


def _sorted_quantile(s, q: float):
    """Exact interpolated quantile of a sorted array column — the bracketing
    elements blended (pandas linear interpolation). Spark refuses
    median/percentile with a window frame, so a rolling quantile sorts the
    frame's collected values and reads them here. Empty array → null
    (ANSI-safe element_at guard)."""
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


def rolling_parts(sdf, k: int, fresh: bool):
    """Build the pieces for a k-row rolling frame without an unpartitioned
    window: (augmented sdf, window spec, helper columns [position, target
    partition, ghost flag]).

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
    return aug, w, [POS, TGT, GH]


def _ordered(sdf):
    """(``sdf`` with a row-order key, whether the key was attached here —
    then its low bits count each partition's rows contiguously)."""
    from legate_pandas_spark.frontend.frame import ROW_ORDER

    if ROW_ORDER in sdf.columns:
        return sdf, False
    return sdf.withColumn(ROW_ORDER, F.monotonically_increasing_id()), True


def _dotless(sdf, keys):
    """(``sdf`` with each dotted column renamed to a positional safe name,
    ``keys`` renamed alike, a function renaming an output back). A pandas
    stage (``applyInPandas``) resolves every input column with ``df[name]``,
    which reads ``a.b`` as field ``b`` of a struct ``a``."""
    to = {c: f"__py_{i}__" for i, c in enumerate(sdf.columns) if "." in c}
    if not to:
        return sdf, list(keys), lambda out: out
    back = {v: c for c, v in to.items()}
    return (
        sdf.toDF(*[to.get(c, c) for c in sdf.columns]),
        [to.get(k, k) for k in keys],
        lambda out: out.toDF(*[back.get(c, c) for c in out.columns]),
    )


def _bucket_count(sdf) -> int:
    """max(defaultParallelism, ⌈size estimate / AQE advisory partition
    size⌉), so one bucket's pandas frame stays near one advisory partition.
    The estimate is the optimized plan's ``stats()`` (planning, no job),
    capped at the sum of its leaves' estimates: without CBO a join's estimate
    is the product of its sides' (a 20k-row frame merged with a 97-row key
    table gave thousands of buckets for 97 groups). The unknown-size mark,
    ``spark.sql.defaultSizeInBytes`` (local data), counts as 0, not as the
    largest possible input, at the root and at each leaf."""
    spark = sdf.sparkSession
    conf = spark._jsparkSession.sessionState().conf()
    plan = sdf._jdf.queryExecution().optimizedPlan()
    leaves = plan.collectLeaves()
    sql_conf = spark._jvm.org.apache.spark.sql.internal.SQLConf
    advisory = conf.getConf(sql_conf.ADVISORY_PARTITION_SIZE_IN_BYTES())
    unknown = conf.defaultSizeInBytes()

    def known(node):
        size = node.stats().sizeInBytes()
        return size if size < unknown else 0

    leaf_sum = sum(known(leaves.apply(i)) for i in range(leaves.size()))
    size = min(known(plan), leaf_sum)
    return max(spark.sparkContext.defaultParallelism, -(-size // advisory))


def _null_flags(sdf, keys: list, prefix: str) -> dict:
    """{flag name: is-null Column} for each floating key of ``sdf``. Arrow
    turns null and NaN alike into NaN, while Spark keeps them two groups, so
    a pandas ``groupby`` over these keys groups on their flags too."""
    from pyspark.sql import types as T

    return {
        f"{prefix}_{i}__": F.col(k).isNull()
        for i, k in enumerate(keys)
        if isinstance(sdf.schema[k].dataType, (T.FloatType, T.DoubleType))
    }


def grouped_map(sdf, keys: list, fn, schema):
    """Apply ``fn`` to every group of ``keys`` in ``sdf`` — the one grouped
    map between Spark and pandas. ``fn`` gets one group's pandas frame (all
    of ``sdf``'s columns under their own names, a fresh RangeIndex) and
    returns a frame of ``schema``'s columns, as in ``applyInPandas``.

    Python runs once per hash bucket, not once per group: rows go to
    ``pmod(xxhash64(keys), B)`` buckets (``_bucket_count``), so a group never
    spans two, and each bucket calls ``fn`` once per group under one pandas
    ``groupby``. A floating key also groups on its is-null flag, because
    Arrow turns null and NaN alike into NaN while Spark keeps them apart. The
    buckets are shuffled by one ``repartition(defaultParallelism, bucket)``,
    which AQE does not coalesce into one Python-heavy task, and which the
    ``groupBy`` reuses. Dotted names cross as ``_dotless`` safe names."""
    import pandas as pd

    uniq = next(_seq)
    names, bucket = sdf.columns, f"__gm_bucket_{uniq}__"
    work, by, _ = _dotless(sdf, keys)
    flags = _null_flags(work, by, f"__gm_null_{uniq}")
    work = work.select(
        "*",
        *[c.alias(f) for f, c in flags.items()],
        F.pmod(F.xxhash64(*by), F.lit(_bucket_count(sdf))).alias(bucket),
    )
    columns, groups, empty = [*names, *flags, bucket], [*keys, *flags], schema.fieldNames()

    def per_bucket(pdf):
        pdf.columns = columns
        parts = [
            fn(g[names].reset_index(drop=True))
            for _, g in pdf.groupby(groups, dropna=False, sort=False)
        ]
        parts = [p for p in parts if len(p)]
        return pd.concat(parts, ignore_index=True) if parts else pd.DataFrame(columns=empty)

    return (
        work.repartition(sdf.sparkSession.sparkContext.defaultParallelism, bucket)
        .groupBy(bucket)
        .applyInPandas(per_bucket, schema)
    )


def _window_stat(stat: str, src, arg, run, comoment):
    """(min_periods gate count, value) of one window statistic, written once
    over two primitives of the row's frame: ``run(partial, combine)``, the
    running value of a partial aggregate (``combine`` folds it across
    partitions: 'sum', 'max', 'min', or None where it cannot be folded), and
    ``comoment(x, y)`` = Σ(x-x̄)(y-ȳ).

    ``src`` is a Column, or an (x, y) pair for corr/cov whose sides are
    masked to the rows where both are present (pandas pairwise-complete
    observations). pandas gates ``count`` on the rows in the frame and every
    other statistic on its non-null observations."""
    if isinstance(src, tuple):
        both = src[0].isNotNull() & src[1].isNotNull()
        x, y = (F.when(both, c).cast("double") for c in src)
    else:
        x = y = src.cast("double")
    n = run(F.count(x), "sum")
    if stat == "count":
        return run(F.count(F.lit(1)), "sum"), n.cast("double")
    if stat == "sum":
        expr = run(F.sum(x), "sum")
    elif stat == "mean":
        expr = run(F.sum(x), "sum") / n
    elif stat == "max":
        expr = run(F.max(x), "max")
    elif stat == "min":
        expr = run(F.min(x), "min")
    elif stat in ("var", "std"):  # arg = ddof
        var = F.greatest(comoment(x, x) / (n - arg), F.lit(0.0))
        expr = F.when(n > arg, F.sqrt(var) if stat == "std" else var)
    elif stat == "cov":
        expr = F.when(n > 1, comoment(x, y) / (n - 1))
    elif stat == "corr":
        den = comoment(x, x) * comoment(y, y)
        expr = F.when(den > 0, comoment(x, y) / F.sqrt(den))
    elif stat == "quantile":  # arg = q
        expr = _sorted_quantile(F.array_sort(run(F.collect_list(x), None)), arg)
    else:
        raise ValueError(f"unsupported window statistic: {stat!r}")
    return n, expr


def window_columns(sdf, keys: list, cols: dict, window, min_periods: int, stat: str, arg=None):
    """Append pandas rolling (``window`` rows) or expanding (``window``
    None) statistics, per group of ``keys`` or over the whole frame, in row
    order — the one kernel behind every rolling and expanding window.

    ``cols`` maps out_name -> source Column, or -> an (x, y) pair of Columns
    for 'corr'/'cov'. ``stat``: sum, mean, max, min, count, var/std (``arg``
    = ddof), quantile (``arg`` = q), corr, cov, or apply (``arg`` = (func,
    raw)). Outputs are doubles, null where the frame holds fewer than
    ``min_periods`` observations (``_window_stat``).

    * With keys: one ``Window.partitionBy(*keys)`` frame — every group is a
      parallel unit already; no ghosts, no carries.
    * Rolling without keys: the frame runs per ingest partition over that
      partition plus copies of the k-1 rows before it (``rolling_parts``'
      ghosts, dropped afterwards).
    * Expanding without keys: partition-local running partials combined with
      the carry of all preceding partitions (``attach_carries``); the
      (co)moments come from running Σx, Σy, Σxy.

    ``apply`` runs pandas' own rolling/expanding apply on each group (keys)
    or ghost-augmented partition through ``grouped_map``. A frame without a
    row-order key gets one here."""
    from pyspark.sql import types as T

    from legate_pandas_spark.frontend.frame import ROW_ORDER
    from legate_pandas_spark.frontend.indexing import _MERGE

    if window is None and stat == "quantile":
        raise NotImplementedError(
            "expanding quantile would collect an O(rows²) list per frame; "
            "use groupby(...).agg percentile/approx_percentile for the "
            "final-state quantile"
        )
    if window is None and stat == "apply" and not keys:
        raise NotImplementedError(
            "expanding apply over the whole frame is one sequential Python "
            "pass; use groupby(...).expanding().apply"
        )
    sdf, fresh = _ordered(sdf)
    helpers = []
    if keys:
        start = Window.unboundedPreceding if window is None else -(window - 1)
        w = (
            Window.partitionBy(*keys)
            .orderBy(F.asc(ROW_ORDER))
            .rowsBetween(start, Window.currentRow)
        )
        order, by = ROW_ORDER, list(keys)
    elif window is not None:
        sdf, w, helpers = rolling_parts(sdf, window, fresh)
        order, by = helpers[0], [helpers[1]]
    else:
        w = None

    if stat == "apply":
        func, raw = arg
        uniq = next(_seq)
        srcs = {f"__was_{uniq}_{i}__": c.cast("double") for i, c in enumerate(cols.values())}
        work = sdf.select("*", *[c.alias(s) for s, c in srcs.items()])
        schema = T.StructType(
            work.schema.fields + [T.StructField(o, T.DoubleType()) for o in cols]
        )
        pairs = list(zip(cols, srcs))  # names only: Columns do not pickle

        def fn(pdf):
            pdf = pdf.sort_values(order)
            for o, s in pairs:
                x = pdf[s]
                frame = (
                    x.expanding(min_periods=min_periods)
                    if window is None
                    else x.rolling(window, min_periods=min_periods)
                )
                pdf[o] = frame.apply(func, raw=raw)
            return pdf

        out = grouped_map(work, by, fn, schema).drop(*srcs)
    else:
        carries = {}
        if w is not None:
            def run(part, _combine):
                return part.over(w)

            def comoment(x, y):
                return F.covar_pop(x, y).over(w) * F.count(x).over(w)
        else:
            lw, uniq, names = _local_window(), next(_seq), {}

            def run(part, combine):
                key = (str(part), combine)
                if key not in names:
                    names[key] = f"__wc_{uniq}_{len(names)}__"
                    carries[names[key]] = (part, combine)
                return _MERGE[combine](part.over(lw), F.col(names[key]))

            def comoment(x, y):
                s = run(F.sum(x), "sum") * run(F.sum(y), "sum")
                return run(F.sum(x * y), "sum") - s / run(F.count(x), "sum")

        exprs = []
        for out_name, src in cols.items():
            gate, expr = _window_stat(stat, src, arg, run, comoment)
            exprs.append(F.when(gate >= min_periods, expr).alias(out_name))
        if carries:
            sdf = attach_carries(sdf, carries)
        out = sdf.select("*", *exprs).drop(*carries)
    if helpers:  # the ghosts gave their left context
        out = out.filter(~F.col(helpers[2])).drop(*helpers)
    return out


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


def _ewm_mean_merge(C, L, dec):
    """The (num, den) recurrences are linear: the carry decays, the local
    state adds."""
    return tuple(lv + dec * cv for cv, lv in zip(C, L))


def _ewm_mean_finish(state):
    import numpy as np

    num, den = state
    return np.where(den > 0, num / np.where(den > 0, den, 1.0), np.nan)


def _ewm_local_welford(x_ser, alpha: float):
    """Partition-local per-row EWM Welford state arrays (B, mean, M2, P, N)
    recovered from pandas' own (numerically stable, recursive) ewm.

    P is the PAIRWISE weight-product sum Σ_{j<k} w_j·w_k = (B² − Σw²)/2 —
    tracked directly (recurrence P_i = b²·P_{i-1} + m_i·b·B_{i-1}, an
    ewm-sum at decay b² of z_i = m_i·b·B_{i-1}) because forming B² − Σw²
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
    """Merge carry state C, decayed by ``dec``, into local state L — the
    weighted Chan/West combine; mean and M2 are exact under uniform weight
    rescaling (B and M2 decay by ``dec``, P by ``dec²``), and the pairwise
    sum gains the cross term (decayed carry weight) × (local weight). Takes
    scalars (the prefix combine) or per-row arrays (phase 2)."""
    import numpy as np

    cb, cm, cw, cp, cn = C
    lb, lm, lw, lp, ln = L
    cb = cb * dec
    B = cb + lb
    safe_B = np.where(B > 0, B, 1.0)
    delta = lm - cm
    mean = np.where(B > 0, cm + delta * lb / safe_B, 0.0)
    M2 = np.where(B > 0, cw * dec + lw + delta * delta * cb * lb / safe_B, 0.0)
    return B, mean, M2, cp * dec * dec + cb * lb + lp, cn + ln


def _welford_var(state):
    """Bias-corrected variance var = M2·B / (2P) of merged states, with P
    the cancellation-free pairwise weight-product sum; gated on an EXACT
    observation count (≥ 2)."""
    import numpy as np

    B, _mean, M2, P, N = state
    with np.errstate(divide="ignore", invalid="ignore"):
        safe_B = np.where(B > 0, B, 1.0)
        denom = 2.0 * P
        biased = np.maximum(M2, 0.0) / safe_B
        return np.where(
            (B > 0) & (N >= 2) & (denom > 0),
            biased * (B * B) / np.where(denom > 0, denom, 1.0),
            # >= 2 obs but the correction denominator underflowed (one obs
            # carries ~all weight after a long decay gap): fall back to the
            # uncorrected value, matching pandas' recursive collapse
            np.where((N >= 2) & (B > 0), biased, np.nan),
        )


def _welford_std(state):
    import numpy as np

    return np.sqrt(_welford_var(state))


# stat -> (state letters, local end-state arrays, merge(carry, local, decay),
# per-row finish)
_EWM_STATS = {
    "mean": ("nd", _ewm_local_num_den, _ewm_mean_merge, _ewm_mean_finish),
    "var": ("bmwpn", _ewm_local_welford, _welford_merge_decayed, _welford_var),
    "std": ("bmwpn", _ewm_local_welford, _welford_merge_decayed, _welford_std),
}


def ewm_columns(sdf, keys: list, cols: dict, alpha: float, stat: str):
    """Append exact distributed pandas ``ewm(alpha, adjust=True,
    ignore_na=False)`` statistics (``stat``: 'mean', 'var' or 'std', the
    latter two bias=False), per group of ``keys`` or, with no keys, over the
    whole frame — the reference's two-phase carry design
    (``legate/pandas/core/column.py:644-687``) generalized to keyed scans.

    A statistic is a per-row state that runs partition-LOCALLY through
    pandas' own ewm and merges across partitions with a decay b^rows
    (b = 1-α): (num, den) for the mean (num/den), weighted-Welford
    (B=Σw, mean, M2, P = pairwise Σw_j·w_k, N = obs count) for var/std —
    the Chan/West merge is numerically stable where the raw-moment form
    cancels catastrophically under long decay gaps.

    Phase 1 emits one end-state row per (partition, group); the combine
    takes their exclusive prefix in partition order, per group; phase 2
    merges each row's local state with its run's carry, decayed by
    b^{row+1}. With keys, the combine runs in the plan, one ``grouped_map``
    over the keys (≤ num_partitions rows per group — one giant skewed group
    still parallelizes), and phase 2 cogroups rows and carries by partition,
    matching keys null-safely in pandas; nothing is collected. Without keys,
    the same combine runs on the driver over the ≤ num_partitions collected
    states (measured cheaper than the in-plan form for one global group).

    ``cols`` maps out_name -> source Column (or column name); outputs are
    doubles. A frame without a row-order key gets one here.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    from legate_pandas_spark.frontend.frame import ROW_ORDER

    sdf, _ = _ordered(sdf)
    letters, local, merge, finish = _EWM_STATS[stat]
    b = 1.0 - alpha
    uniq = next(_seq)
    PID, DEC = f"__ewp_{uniq}__", f"__ewd_{uniq}__"
    named = {f"__ews_{uniq}_{i}__": F.col(c) if isinstance(c, str) else c for i, c in enumerate(cols.values())}
    srcs = list(named)
    cols = dict(zip(cols, srcs))
    # Both phases group the same exchange by partition id. Its explicit
    # partition count keeps AQE from coalescing these few-byte, Python-heavy
    # groups into one task (measured: the serial phases cost more than the
    # parallel ones at 200k rows on 4 cores and at 1M rows on 8 partitions).
    work, keys, restore = _dotless(
        sdf.select("*", *[c.alias(s) for s, c in named.items()], _pid().alias(PID)),
        keys,
    )
    flags = _null_flags(work, keys, f"__ewnull_{uniq}")
    work = work.select("*", *[c.alias(f) for f, c in flags.items()])
    keys = [*keys, *flags]  # runs split on a floating key's is-null flag too
    work = work.repartition(sdf.sparkSession.sparkContext.defaultParallelism, PID)
    state = {
        s: [f"__ew{m}_{uniq}_{i}__" for m in letters] for i, s in enumerate(srcs)
    }
    fields = {f.name: f for f in work.schema.fields}
    state_schema = T.StructType(
        [fields[PID]]
        + [fields[k] for k in keys]
        + [
            T.StructField(c, T.DoubleType())
            for c in [DEC, *(c for names in state.values() for c in names)]
        ]
    )
    out_schema = T.StructType(
        work.schema.fields + [T.StructField(o, T.DoubleType()) for o in cols]
    )

    def runs(pdf):
        pdf = pdf.sort_values(ROW_ORDER)
        return pdf.groupby(keys, dropna=False, sort=False) if keys else [(None, pdf)]

    def phase1(pdf):
        ends = []
        for _, g in runs(pdf):
            end = {DEC: b ** len(g)}
            for s in srcs:
                end.update(zip(state[s], (a[-1] for a in local(g[s], alpha))))
            ends.append(g.iloc[[0]][[PID, *keys]].assign(**end))
        return pd.concat(ends)

    def combine(pdf):
        pdf = pdf.sort_values(PID)
        for names in state.values():
            acc, carries = (0.0,) * len(names), []
            ends = pdf[names].itertuples(index=False, name=None)
            for end, dec in zip(ends, pdf[DEC]):
                carries.append(acc)
                acc = merge(acc, end, dec)
            pdf[names] = np.array(carries, dtype="float64").reshape(-1, len(names))
        return pdf

    def phase2(pdf):  # one partition's rows, each with its run's carry
        outs = []
        for _, g in runs(pdf):
            decay = np.power(b, np.arange(1, len(g) + 1, dtype="float64"))
            carry = g.iloc[0]
            done = {
                s: merge(tuple(carry[state[s]]), local(g[s], alpha), decay)
                for s in srcs
            }
            outs.append(g.assign(**{o: finish(done[s]) for o, s in cols.items()}))
        return pd.concat(outs)[out_schema.fieldNames()]

    states = work.groupBy(PID).applyInPandas(phase1, state_schema)
    if keys:
        carries = grouped_map(states, keys, combine, state_schema)
        out = work.groupBy(PID).cogroup(carries.groupBy(PID)).applyInPandas(
            lambda rows, c: phase2(
                rows.merge(c.drop(columns=[PID, DEC]), on=keys, how="left")
            ),
            out_schema,
        )
    else:
        carry = combine(states.toPandas()).set_index(PID).drop(columns=DEC)
        carry = carry.to_dict("index")
        out = work.groupBy(PID).applyInPandas(
            lambda rows: phase2(rows.assign(**carry[rows[PID].iloc[0]])),
            out_schema,
        )
    return restore(out).drop(PID, *srcs, *flags)
