"""Physical-plan audits: the 100 TB guardrails.

Correctness says the query returns the right rows; these tests pin the *plan*
shape — predicate pushdown reaching the parquet scan, column pruning, broadcast
joins for dims, TakeOrderedAndProject for top-k, partial aggregation, and no
accidental cartesian products anywhere in the catalog."""

import pytest


def plan_text(df, mode: str = "formatted") -> str:
    jdf = df._jdf
    jvm = df.sparkSession._jvm
    em = jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    return jdf.queryExecution().explainString(em)


@pytest.fixture(scope="module")
def catalog():
    from legate_pandas_spark.operators import QUERIES, load_all

    load_all()
    return QUERIES


@pytest.fixture(scope="module")
def catalog_plans(catalog, spark, sf_dir):
    """Simple-mode plan text for EVERY catalog query, computed once per
    module: the two whole-catalog audits below each used to re-plan all ~206
    queries themselves (~2 min each at local[8] — Catalyst planning is
    driver-side and single-threaded), which was the suite's second-largest
    cost after the BPE k16 parity row (round-13 verify-window fit)."""
    plans = {}
    for name, fn in sorted(catalog.items()):
        df = fn(spark, sf_dir)
        sdf = df._sdf if hasattr(df, "_sdf") else df
        plans[name] = plan_text(sdf, mode="simple")
    return plans


def test_filter_pushdown_reaches_scan(catalog, spark, sf_dir):
    plan = plan_text(catalog["filter_project_pushdown"](spark, sf_dir))
    assert "PushedFilters:" in plan
    assert "GreaterThanOrEqual(l_discount" in plan or "GreaterThanOrEqual(l_discount,0.05)" in plan
    # column pruning: scan must not read all 11 lineitem columns
    assert "l_returnflag" not in plan.split("ReadSchema")[1].splitlines()[0]


def test_q1_partial_aggregation_and_pushdown(catalog, spark, sf_dir):
    plan = plan_text(catalog["q1_pricing_summary"](spark, sf_dir))
    assert plan.count("HashAggregate") >= 2  # partial + final (map-side combine)
    assert "PushedFilters:" in plan and "LessThanOrEqual(l_shipdate" in plan


def test_broadcast_join_for_dims(catalog, spark, sf_dir):
    plan = plan_text(catalog["join_broadcast_dims"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # both dims must broadcast, no shuffle join


def test_topk_is_take_ordered(catalog, spark, sf_dir):
    plan = plan_text(catalog["sort_topk_nlargest"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan  # no global sort for top-k


def test_semi_anti_join_shapes(catalog, spark, sf_dir):
    semi = plan_text(catalog["semi_join_active_customers"](spark, sf_dir))
    anti = plan_text(catalog["anti_join_inactive_customers"](spark, sf_dir))
    assert "LeftSemi" in semi
    assert "LeftAnti" in anti


def test_no_accidental_cartesian(catalog_plans):
    # crossJoin against a broadcast single-row frame is fine (BroadcastNestedLoop);
    # a CartesianProduct anywhere means a missing join condition.
    for name, plan in catalog_plans.items():
        assert "CartesianProduct" not in plan, f"{name} has a cartesian product"


def test_window_queries_are_partitioned(catalog, spark, sf_dir):
    # partitioned windows shuffle by key; an empty PartitionBy would single-task
    for name in ["cumsum_running_total", "window_rank_lag_lead", "rolling_1h_range_window"]:
        plan = plan_text(catalog[name](spark, sf_dir), mode="simple")
        assert "Window" in plan
        assert "hashpartitioning(user_id" in plan, f"{name} window not key-partitioned"


def test_scan_pruning_multikey(catalog, spark, sf_dir):
    plan = plan_text(catalog["q6_forecast_revenue"](spark, sf_dir))
    # Q6 needs only 4 columns; ReadSchema must be narrow
    read_schema = plan.split("ReadSchema: ")[1].splitlines()[0]
    assert "l_orderkey" not in read_schema
    assert "l_returnflag" not in read_schema


def test_plan_inspect_utilities(catalog, spark, sf_dir):
    from legate_pandas_spark.plans import (
        assert_no_cartesian,
        pushed_filters,
        scan_read_schema,
    )

    df = catalog["filter_project_pushdown"](spark, sf_dir)
    filters = pushed_filters(df)
    assert any("l_discount" in f for f in filters)
    schema_cols = scan_read_schema(df)
    assert "l_returnflag" not in schema_cols  # pruning
    assert_no_cartesian(df)


def test_iloc_plan_partition_offset_no_global_window(spark):
    """iloc must use partition-offset arithmetic (per-partition counts +
    broadcast offsets), never an unpartitioned row_number window that would
    serialize the frame through one task (reference FIND_BOUNDS design,
    core/table.py:629-772)."""
    import pandas as pd

    import legate_pandas_spark as lps

    ldf = lps.from_pandas(pd.DataFrame({"a": range(200)}), spark=spark)
    sub = ldf.iloc[10:20]
    plan = plan_text(sub._sdf, mode="simple")
    assert "Window" not in plan  # fresh order key → pure arithmetic, no window
    assert "BroadcastHashJoin" in plan  # offsets joined, not driver-compiled


def test_cum_shift_fill_no_global_window(spark):
    """Frame-level ordered ops (cumsum/cummax/shift/diff/ffill) must use the
    two-phase distributed scan (partition-local window + broadcast carry,
    reference core/column.py:644-687) or a position equi-join — never an
    unpartitioned window. An unpartitioned window appears in the physical
    plan as `Exchange SinglePartition`; its absence IS the audit."""
    import pandas as pd

    import legate_pandas_spark as lps

    pdf = pd.DataFrame({"a": [float(i % 7) for i in range(200)], "b": range(200)})
    ldf = lps.from_pandas(pdf, spark=spark)
    for name, df in [
        ("cumsum", ldf.cumsum()),
        ("cummax", ldf.cummax()),
        ("cumprod", ldf.cumprod()),
        ("shift", ldf.shift(1)),
        ("diff", ldf.diff(1)),
        ("ffill", ldf.ffill()),
        ("series_cumsum", ldf["a"].cumsum()._frame),
        ("series_shift", ldf["a"].shift(2)._frame),
    ]:
        plan = plan_text(df._sdf, mode="simple")
        assert "SinglePartition" not in plan, f"{name}: unpartitioned exchange"
    # carry/donor joins must broadcast or hash-join, never nested-loop over rows
    plan = plan_text(ldf.cumsum()._sdf, mode="simple")
    assert "BroadcastHashJoin" in plan  # the carry join
    # shift on a FRESH frame (contiguous mono-id) is window-free entirely: the
    # position is pure bit arithmetic + an equi-join. (On a frame whose order
    # key predates filters, the local rank needs a pid-PARTITIONED window —
    # still parallel, covered by the SinglePartition assertions above.)
    fresh_ldf = lps.from_pandas(pdf, spark=spark)
    plan = plan_text(fresh_ldf.shift(1)._sdf, mode="simple")
    assert "Window" not in plan


def test_rank_interpolate_rolling_no_global_window(spark):
    """Round-4 closure of the global-window family: Series.rank (range-bucketed
    two-phase rank), Series.interpolate (position + ffill/bfill carries), and
    Rolling (boundary ghost rows) / Expanding (running carry) on the frame,
    the Series accessor and groupby must never emit `Exchange
    SinglePartition`."""
    import pandas as pd

    import legate_pandas_spark as lps

    pdf = pd.DataFrame(
        {"a": [float(i % 11) if i % 5 else None for i in range(300)], "b": range(300)}
    )
    cases = []
    for m in ("min", "dense", "first", "average"):
        ldf = lps.from_pandas(pdf, spark=spark)
        cases.append((f"rank_{m}", ldf["a"].rank(method=m)._frame))
    ldf = lps.from_pandas(pdf, spark=spark)
    cases.append(("rank_desc_pct", ldf["a"].rank(ascending=False, pct=True)._frame))
    ldf = lps.from_pandas(pdf, spark=spark)
    cases.append(("interpolate", ldf["a"].interpolate()._frame))
    ldf = lps.from_pandas(pdf, spark=spark)
    cases.append(("rolling_sum", ldf.rolling(5).sum()))
    cases.append(("rolling_std", ldf.rolling(5).std()))
    cases.append(("expanding_sum", ldf.expanding().sum()))
    cases.append(("expanding_var", ldf.expanding().var()))
    ldf = lps.from_pandas(pdf, spark=spark)
    cases.append(("series_rolling_mean", ldf["a"].rolling(5).mean()._frame))
    ldf = lps.from_pandas(pdf, spark=spark)
    cases.append(("series_expanding_std", ldf["a"].expanding().std()._frame))
    cases.append(("frame_interpolate", lps.from_pandas(pdf, spark=spark).interpolate()))
    cases.append(("frame_rank", lps.from_pandas(pdf, spark=spark).rank()))
    cases.append(("ewm_mean", lps.from_pandas(pdf, spark=spark).ewm(alpha=0.4).mean()))
    pdf_k = pdf.assign(k=[i % 3 for i in range(300)])
    cases.append(
        (
            "grouped_ewm_mean",
            lps.from_pandas(pdf_k, spark=spark).groupby("k").ewm(alpha=0.4).mean(),
        )
    )
    cases.append(
        (
            "grouped_rolling_sum",
            lps.from_pandas(pdf_k, spark=spark).groupby("k").rolling(5).sum(),
        )
    )
    cases.append(("ewm_var", lps.from_pandas(pdf, spark=spark).ewm(alpha=0.4).var()))
    cases.append(
        (
            "grouped_ewm_var",
            lps.from_pandas(pdf_k, spark=spark).groupby("k").ewm(alpha=0.4).var(),
        )
    )
    cases.append(("ewm_std", lps.from_pandas(pdf, spark=spark).ewm(alpha=0.4).std()))
    for name, df in cases:
        plan = plan_text(df._sdf, mode="simple")
        assert "SinglePartition" not in plan, f"{name}: unpartitioned exchange"
    # grouped ewm carries reach their rows through a cogroup by partition,
    # not a row join on (partition, keys)
    for name in ("grouped_ewm_mean", "grouped_ewm_var"):
        plan = plan_text(dict(cases)[name]._sdf, mode="simple")
        assert "Join" not in plan, f"{name}: carry join over every row"


def test_pack_training_sequences_no_global_window(catalog, spark, sf_dir):
    """The corpus-sized chunk running sum must be the two-phase keyed cumsum
    (bucket shuffle + broadcast carry), not a global ordered window."""
    df = catalog["pack_training_sequences"](spark, sf_dir)
    plan = plan_text(df._sdf if hasattr(df, "_sdf") else df, mode="simple")
    assert "SinglePartition" not in plan


def test_pd_global_rank_rolling_no_global_window(catalog, spark, sf_dir):
    df = catalog["pd_global_rank_rolling"](spark, sf_dir)
    plan = plan_text(df._sdf if hasattr(df, "_sdf") else df, mode="simple")
    assert "SinglePartition" not in plan


def test_pd_global_interpolate_no_global_window(catalog, spark, sf_dir):
    df = catalog["pd_global_interpolate"](spark, sf_dir)
    plan = plan_text(df._sdf if hasattr(df, "_sdf") else df, mode="simple")
    assert "SinglePartition" not in plan


def test_vocab_ranking_no_global_window(catalog, spark, sf_dir):
    """Vocab id ranking must be the distributed sample-sort row number
    (range partition + offset carry), not a single-partition window — a
    web-scale vocabulary is itself hundreds of millions of rows."""
    for q in ("build_token_vocab", "tokenize_to_vocab_ids"):
        df = catalog[q](spark, sf_dir)
        plan = plan_text(df._sdf if hasattr(df, "_sdf") else df, mode="simple")
        assert "SinglePartition" not in plan, q


def test_cat_codes_plan_adaptive(spark, monkeypatch):
    """cat.codes is adaptive (round 6): a small inferred dictionary (probed
    via early-exit LIMIT) compiles to a pure array_position expression — no
    join, no extra ranking jobs; a large domain falls back to the distributed
    ranked-dictionary BroadcastHashJoin (plan size independent of
    cardinality — reference replicated dictionary, core/column.py:1300-1341).
    Neither path may contain a SinglePartition exchange or a CASE chain."""
    import pandas as pd

    import legate_pandas_spark as lps
    from legate_pandas_spark.frontend.accessors import CategoricalMethods

    pdf = pd.DataFrame({"c": [f"cat{i % 7}" for i in range(100)]})

    # small domain → expression fast path, zero joins (the expression lives
    # on the Series column, so inspect the column's select plan)
    ldf = lps.from_pandas(pdf, spark=spark)
    codes = ldf["c"].cat.codes
    plan = plan_text(codes._frame._sdf.select(codes._col), mode="simple")
    assert "Join" not in plan
    assert "array_position" in plan
    assert codes.to_pandas().tolist() == pdf["c"].astype("category").cat.codes.tolist()

    # large domain (forced via threshold) → broadcast rank dictionary
    monkeypatch.setattr(CategoricalMethods, "_SMALL_DICT_MAX", 3)
    ldf = lps.from_pandas(pdf, spark=spark)
    codes = ldf["c"].cat.codes
    plan = plan_text(codes._frame._sdf, mode="simple")
    assert "BroadcastHashJoin" in plan
    # a collected CASE chain would appear as one CASE WHEN branch per category
    assert plan.count("CASE WHEN") <= 1
    assert "SinglePartition" not in plan
    assert codes.to_pandas().tolist() == pdf["c"].astype("category").cat.codes.tolist()


def assert_no_full_single_partition(plan: str, name: str = ""):
    """Allow `Exchange SinglePartition` ONLY when its child is a partial
    aggregate (the canonical scalar-aggregate pattern: the exchange moves one
    pre-aggregated row per partition, not data rows). Any other SinglePartition
    exchange — a global window, a global sort, an unpartitioned join side —
    moves the full table through one task and fails the audit."""
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        if "Exchange SinglePartition" in ln:
            nxt = lines[i + 1] if i + 1 < len(lines) else ""
            assert "partial_" in nxt, (
                f"{name}: full-row SinglePartition exchange:\n{ln}\n{nxt}"
            )


def test_q15_q11_single_fact_scan(catalog, spark, sf_dir):
    """Q15/Q11 must not scan/aggregate lineitem twice: the global-total scalar
    is a 1-row broadcast aggregate over the same grouped view, whose shuffle
    AQE reuses at runtime — exactly one lineitem FileScan in the FINAL plan
    (the initial plan legitimately shows two; reuse resolves at runtime)."""
    for q in ("q15_top_supplier", "q11_important_stock"):
        df = catalog[q](spark, sf_dir)
        df.collect()
        plan = plan_text(df, mode="simple")
        final = plan.split("== Initial Plan ==")[0]
        assert final.count("lineitem.parquet") == 1, q
        assert "ReusedExchange" in final, q


def test_scalar_total_queries_no_full_single_partition(catalog, spark, sf_dir):
    """q15/q11's global-total comparisons must be 1-row broadcast aggregates,
    never a window over the supplier-cardinality aggregate (grows with SF)."""
    for q in ("q15_top_supplier", "q11_important_stock"):
        plan = plan_text(catalog[q](spark, sf_dir), mode="simple")
        assert_no_full_single_partition(plan, q)
        assert "Window" not in plan, q


def test_value_counts_normalize_no_full_single_partition(spark):
    """Series.value_counts(normalize=True) divides by a broadcast 1-row total —
    the counts table is distinct-value-sized and must never be windowed in one
    partition."""
    import pandas as pd

    import legate_pandas_spark as lps

    pdf = pd.DataFrame({"v": [f"k{i % 13}" for i in range(200)]})
    ldf = lps.from_pandas(pdf, spark=spark)
    out = ldf["v"].value_counts(normalize=True)
    plan = plan_text(out._sdf, mode="simple")
    assert_no_full_single_partition(plan, "value_counts_normalize")
    assert "Window" not in plan

    # frame form: same lazy broadcast-total pattern (round 6 — previously an
    # eager driver collect), same audit
    pdf2 = pd.DataFrame({"v": [f"k{i % 13}" for i in range(200)], "w": [i % 3 for i in range(200)]})
    ldf2 = lps.from_pandas(pdf2, spark=spark)
    out2 = ldf2.value_counts(normalize=True)
    plan2 = plan_text(out2._sdf, mode="simple")
    assert_no_full_single_partition(plan2, "frame_value_counts_normalize")
    assert "Window" not in plan2


def test_whole_catalog_no_full_single_partition(catalog_plans):
    """The unconditional claim: NO query in the catalog moves full rows through
    an unpartitioned exchange. Scalar 1-row aggregates (partial-agg-fed) are the
    only SinglePartition exchanges allowed anywhere."""
    failures = []
    for name, plan in catalog_plans.items():
        try:
            assert_no_full_single_partition(plan, name)
        except AssertionError as e:
            failures.append(str(e))
    assert not failures, "\n".join(failures)


def test_decorrelated_queries_single_scan(catalog, spark, sf_dir):
    """De-correlated per-group-aggregate comparisons must not scan the fact
    table twice — window formulation keeps one scan."""
    from legate_pandas_spark.plans import explain_text

    assert explain_text(catalog["q17_small_quantity_avg"](spark, sf_dir)).count(
        "lineitem.parquet"
    ) == 1
    assert explain_text(catalog["above_customer_avg_orders"](spark, sf_dir)).count(
        "orders.parquet"
    ) == 1


def test_round2_curation_plans(catalog, spark, sf_dir):
    """Round-2 pipeline queries: broadcast dictionaries, no cartesian, pure
    projection where promised."""
    # unigram model + tfidf + tokenize: vocab joins must broadcast (Zipf head
    # words would otherwise skew a shuffle join)
    for name in ["unigram_logprob_quality", "tfidf_top_terms", "tokenize_to_vocab_ids"]:
        plan = plan_text(catalog[name](spark, sf_dir), mode="simple")
        assert "BroadcastHashJoin" in plan, f"{name}: vocab join must broadcast"
        assert "CartesianProduct" not in plan
    # mixture sampling must stay a scan-stage filter: no shuffle of any kind
    plan = plan_text(catalog["mixture_weighted_sample"](spark, sf_dir), mode="simple")
    assert "Exchange" not in plan, "sampling must not shuffle"
    # PII scrub: pure per-row projection, no shuffle
    plan = plan_text(catalog["pii_redaction_scrub"](spark, sf_dir), mode="simple")
    assert "Exchange" not in plan, "redaction must not shuffle"


def test_round2_window_partitioning(catalog, spark, sf_dir):
    """Per-label / per-doc / per-lang windows must be key-partitioned (never a
    global single-task window)."""
    for name, key in [
        ("class_balance_downsample", "hashpartitioning(label"),
        ("tfidf_top_terms", "hashpartitioning(doc_id"),
        ("feature_engineering_onehot_bins", "hashpartitioning(lang"),
    ]:
        plan = plan_text(catalog[name](spark, sf_dir), mode="simple")
        assert key in plan, f"{name}: window not partitioned by its key"


def test_analytics_plans(catalog, spark, sf_dir):
    """Round-2 analytics catalog: blocked joins, broadcast small sides,
    partitioned windows, no cartesian anywhere."""
    # levenshtein pairs: equi-join on the block keys (never a cartesian /
    # nested-loop over all pairs)
    plan = plan_text(catalog["fuzzy_match_levenshtein"](spark, sf_dir), mode="simple")
    assert "CartesianProduct" not in plan
    assert "Join" in plan
    # per-type median table and per-(label,pos) centroid must broadcast back
    for name in ["mad_robust_stats", "label_centroid_distance"]:
        plan = plan_text(catalog[name](spark, sf_dir), mode="simple")
        assert "BroadcastHashJoin" in plan, f"{name}: small agg side must broadcast"
        assert "CartesianProduct" not in plan
    # windows partitioned by their keys, never global
    for name, key in [
        ("locf_gap_fill", "hashpartitioning(user_id"),
        ("grouped_mode_event", "hashpartitioning(user_id"),
        ("ntile_quantile_buckets", "hashpartitioning(segment"),
        ("running_distinct_users", "hashpartitioning(event_type"),
    ]:
        plan = plan_text(catalog[name](spark, sf_dir), mode="simple")
        assert key in plan, f"{name}: window not partitioned by its key"
    # regexp extraction: pure narrow projection, no shuffle
    plan = plan_text(catalog["regexp_extract_numbers"](spark, sf_dir), mode="simple")
    assert "Exchange" not in plan, "regex extraction must not shuffle"


def test_q18_and_topk_plans(catalog, spark, sf_dir):
    """Q18: the HAVING filter must reach the orders side as a semi-join (no
    row blowup before the filter); top-k-per-day must rank the AGGREGATE, not
    raw events."""
    plan = plan_text(catalog["q18_large_volume_customers"](spark, sf_dir), mode="simple")
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan
    plan = plan_text(catalog["window_topk_per_day"](spark, sf_dir), mode="simple")
    # rank window consumes the (day, user) aggregate: a HashAggregate appears
    # BELOW the window in the plan tree (printed after it in simple mode)
    assert plan.index("Window") < plan.index("HashAggregate")
    assert "hashpartitioning(day" in plan


def test_kmeans_plan_broadcast_centroids(catalog, spark, sf_dir):
    """Both k-means rounds must broadcast the K×dim centroid table into the
    dimension join — a shuffle join on pos would funnel every vector through
    64 reducers."""
    plan = plan_text(catalog["kmeans_two_rounds"](spark, sf_dir), mode="simple")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan


def test_facade_nlargest_is_take_ordered(spark):
    """Facade nlargest (sort_values + head) must stay TakeOrderedAndProject
    even with the post-sort row-order re-stamp projection in between — a
    regression here silently turns top-k into a full global sort."""
    import pandas as pd

    import legate_pandas_spark as lps

    pdf = pd.DataFrame({"a": [float(i % 97) for i in range(500)], "b": range(500)})
    ldf = lps.from_pandas(pdf, spark=spark)
    plan = plan_text(ldf.nlargest(5, "a")._sdf, mode="simple")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


def test_round6_new_queries_plan_shapes(catalog, spark, sf_dir):
    """Round-6 operators keep their scale contracts: exact-substring
    decontamination probes a BROADCAST benchmark window table (never a
    shuffled fact-fact join on windows), boilerplate profiling broadcasts the
    per-source totals, and neither moves rows through a SinglePartition
    exchange (incremental dedup is covered by the whole-catalog audit)."""
    plan = plan_text(catalog["decontaminate_exact_substring"](spark, sf_dir), mode="simple")
    assert "BroadcastHashJoin" in plan
    assert_no_full_single_partition(plan, "decontaminate_exact_substring")

    plan = plan_text(catalog["boilerplate_ngram_ratio"](spark, sf_dir), mode="simple")
    assert "BroadcastHashJoin" in plan  # per-source doc counts are broadcast
    assert_no_full_single_partition(plan, "boilerplate_ngram_ratio")


def test_round8_new_query_plan_shapes(catalog, spark, sf_dir):
    """DSIR: the 2048-row feature model must broadcast (never shuffle the
    corpus against it) and selection must be a TakeOrderedAndProject; the
    ANN recall eval's joins must all be broadcast-side (queries/probes are
    eval-set-sized) with the top-k as partitioned windows."""
    plan = plan_text(catalog["dsir_importance_resample"](spark, sf_dir), mode="simple")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    plan2 = plan_text(catalog["ann_recall_eval"](spark, sf_dir), mode="simple")
    assert "BroadcastHashJoin" in plan2 or "BroadcastNestedLoopJoin" in plan2
    assert "CartesianProduct" not in plan2
    # sampled form (round-9): same plan shape, plus the deterministic
    # vec_id-hash sample must reach the SCAN as a pushed/early filter, not a
    # post-join one (the whole point is cutting the corpus x Q GT pass)
    plan3 = plan_text(
        catalog["ann_recall_eval_sampled"](spark, sf_dir), mode="simple"
    )
    assert "BroadcastHashJoin" in plan3 or "BroadcastNestedLoopJoin" in plan3
    assert "CartesianProduct" not in plan3
    assert "2654435761" in plan3  # the Knuth-hash sample predicate is in-plan


def test_round9_composed_funnel_plan(catalog, spark, sf_dir):
    """dsir_gopher_dedup_funnel: ONE TakeOrderedAndProject (the DSIR
    selection — gopher/dedup must not re-rank), the join back to document
    text broadcasts the K selected ids, and no cartesian anywhere."""
    plan = plan_text(
        catalog["dsir_gopher_dedup_funnel"](spark, sf_dir), mode="simple"
    )
    assert plan.count("TakeOrderedAndProject") == 1, plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
