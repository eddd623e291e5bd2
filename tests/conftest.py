import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# ---------------------------------------------------------------------------
# Verify-window fit (round-13, VERDICT r12 Next #2): the full suite outgrew
# the driver's verify window (~50 min at local[8]; truncated at ~38% in r12
# with zero red tests). The heaviest pandas-facade HYPOTHESIS fuzzers —
# multi-example Spark round-trips, 15-90 s each — are marked `slow` here and
# DESELECTED BY DEFAULT via pytest.ini (addopts = -m "not slow").
#
# Coverage is NOT deleted: run the full suite with
#     python -m pytest tests/ -m "slow or not slow"
# Every oracle-parity row, every plan audit/budget, every streaming-parity
# case, the graph-reference fuzzers (triangle/LPA), and all sub-15 s property
# fuzzers still run by default. The marked tests fuzz facade surfaces
# (rolling/ewm/interpolate/categorical/provenance); each still has faster
# sibling fuzz coverage in its family, and a change to one of these surfaces
# runs its marked fuzzers by node id with -m "slow or not slow".
# Central list (rather than per-file decorators) so the whole trade is
# auditable in one place.
# ---------------------------------------------------------------------------
SLOW_TESTS = {
    "test_round8_resample_property.py::test_series_interpolate_matches_pandas",
    "test_round8_resample_property.py::test_frame_interpolate_matches_pandas",
    "test_property_based.py::test_global_rank_matches_pandas",
    "test_property_based.py::test_expanding_var_matches_pandas",
    "test_property_based.py::test_grouped_ewm_matches_pandas",
    "test_property_based.py::test_ewm_var_matches_pandas",
    "test_property_based.py::test_ewm_mean_matches_pandas",
    "test_property_based.py::test_rolling_sum_matches_pandas",
    "test_round6_dt_property.py::test_dt_fields_match_pandas",
    "test_round8_provenance.py::test_fuzz_inner_merge_proof_chain",
    "test_round8_provenance.py::test_fuzz_concat_astype_proof_chain",
    "test_round6_ewm_property.py::test_expanding_fuzz",
    "test_round6_ewm_property.py::test_ewm_mean_fuzz",
    "test_round6_ewm_property.py::test_ewm_var_std_fuzz",
    "test_categorical.py::test_cat_dictionary_mutators_match_pandas",
    "test_round6_reshape_property.py::test_interpolate_fuzz",
    "test_round6_conditional_property.py::test_replace_fuzz",
    "test_round6_conditional_property.py::test_where_mask_fuzz",
    "test_round8_breadth_property.py::test_fuzz_series_drop_position_labels",
    "test_round8_breadth_property.py::test_fuzz_frame_combine_unequal_lengths",
    "test_round6_rank_property.py::test_rank_fuzz",
    "test_round6_indexing_property.py::test_iloc_slice_fuzz",
    "test_round6_topk_property.py::test_idxmax_idxmin_fuzz",
    "test_round4_fixes.py::test_expanding_carry_large",
    "test_round4_fixes.py::test_distributed_rank_matches_pandas",
    "test_round4_fixes.py::test_rolling_ghost_boundaries_large",
    # tier 2 (8-13 s each, same facade-fuzzer class)
    "test_round8_breadth_property.py::test_fuzz_series_get_default_index",
    "test_round8_breadth_property.py::test_fuzz_divmod",
    "test_round8_breadth_property.py::test_fuzz_asfreq",
    "test_round7_stack_property.py::test_stack_matches_pandas",
    "test_round7_stack_property.py::test_unstack_single_value_matches_pandas",
    "test_round5_query_property.py::test_query_translator_matches_pandas_with_nans",
    "test_round5_query_property.py::test_query_translator_matches_pandas",
    "test_round7_provenance_property.py::test_groupby_then_merge_with_null_keys",
    "test_round7_provenance_property.py::test_merge_of_two_groupby_outputs",
    "test_round5_rolling_property.py::test_expanding_fuzz",
    "test_round5_rolling_property.py::test_rolling_fuzz",
    "test_round9_scd2.py::test_scd2_fuzz_matches_reference",
}


def pytest_collection_modifyitems(config, items):
    for item in items:
        rel = item.nodeid.split("/")[-1]
        if rel in SLOW_TESTS:
            item.add_marker(pytest.mark.slow)


@pytest.fixture(scope="session")
def spark():
    from legate_pandas_spark.session import get_spark

    s = get_spark("tests", cpus=int(os.environ.get("SPARK_GRAFT_TEST_CPUS", "8")))
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def duck(sf_dir):
    import duckdb

    from legate_pandas_spark.sources.tables import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con
