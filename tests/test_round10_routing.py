"""Round-10 auto-routing of dedup_embedding_cosine_blocked (VERDICT r9 Next
#3): below the distinct-block threshold the op is EXACT (the DuckDB oracle's
contract — every gate corpus is below threshold); above it the op returns the
multi-table LSH path, same machinery as dedup_cosine_blocked_lsh_approx."""

import pandas as pd
import pytest

from legate_pandas_spark.sources.tables import clear_memos, memo_stats


@pytest.fixture()
def sim():
    """The similarity module with the session memo emptied, and emptied again
    after the test so a verdict taken under a patched threshold does not leak."""
    from legate_pandas_spark.operators import load_all
    from legate_pandas_spark.operators import similarity as sim

    load_all()
    clear_memos()
    yield sim
    clear_memos()


def _sorted(df):
    pdf = df.toPandas()
    return pdf.sort_values(list(pdf.columns)).reset_index(drop=True)


def test_small_corpus_stays_on_exact_path(spark, sf_dir, sim):
    # gate corpora are far below the 8,192 threshold: no routing
    hits0 = memo_stats("cosine_route")["hits"]
    assert sim._cosine_route_lsh(spark, sf_dir) is False
    assert memo_stats("cosine_route")["live"] == 1
    # memoized: second call hits the cache with the same verdict
    assert sim._cosine_route_lsh(spark, sf_dir) is False
    assert memo_stats("cosine_route")["hits"] == hits0 + 1


def test_routed_output_is_the_lsh_path(spark, sf_dir, sim, monkeypatch):
    """Force routing (threshold 0) and pin that the exact-named op emits
    EXACTLY the LSH twin's rows — the 100 TB caller's behavior."""
    from legate_pandas_spark.operators import QUERIES

    monkeypatch.setattr(sim, "_COSINE_EXACT_MAX_REPS", 0)
    assert sim._cosine_route_lsh(spark, sf_dir) is True
    routed = _sorted(QUERIES["dedup_embedding_cosine_blocked"](spark, sf_dir))
    twin = _sorted(QUERIES["dedup_cosine_blocked_lsh_approx"](spark, sf_dir))
    pd.testing.assert_frame_equal(routed, twin)


def test_route_verdict_invalidates_on_corpus_rewrite(spark, tmp_path, sim):
    import os

    import numpy as np

    d = str(tmp_path / "emb_route")
    os.makedirs(d, exist_ok=True)
    rng = np.random.RandomState(3)

    def write(n):
        pd.DataFrame(
            {
                "vec_id": range(n),
                "label": [0] * n,
                "embedding": [
                    rng.rand(64).astype(np.float32).tolist() for _ in range(n)
                ],
            }
        ).to_parquet(os.path.join(d, "embeddings.parquet"))

    write(4)
    assert sim._cosine_route_lsh(spark, d) is False
    import time as _t

    _t.sleep(0.05)
    orig = sim._COSINE_EXACT_MAX_REPS
    try:
        sim._COSINE_EXACT_MAX_REPS = 8
        write(16)  # rewrite: now above the (patched) threshold
        assert sim._cosine_route_lsh(spark, d) is True  # not the stale False
    finally:
        sim._COSINE_EXACT_MAX_REPS = orig
