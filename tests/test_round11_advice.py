"""Round-11 ADVICE fixes.

1. The blocked-cosine routing decision is surfaced: a warning fires when the
   op routes, and ORACLE_OVERRIDES resolves to the LSH twin's oracle so the
   differential gate checks the regime that actually ran.
2. The learned BPE symbol table is session-memoized (repeat encodes reuse it
   and pin no new cache), with corpus-snapshot invalidation.
3. The co-purchase basket cap is ONE Python constant interpolated into both
   oracle SQL strings — engine and oracle cannot silently diverge.
"""

import os
import time

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


def test_routing_emits_warning_and_oracle_override(spark, sf_dir, sim, monkeypatch):
    from legate_pandas_spark.operators import ORACLES, ORACLE_OVERRIDES, QUERIES

    # below threshold: no warning, override resolves to None (static oracle)
    assert ORACLE_OVERRIDES["dedup_embedding_cosine_blocked"](spark, sf_dir) is None

    monkeypatch.setattr(sim, "_COSINE_EXACT_MAX_REPS", 0)
    clear_memos()
    with pytest.warns(UserWarning, match="routing to the multi-table LSH"):
        QUERIES["dedup_embedding_cosine_blocked"](spark, sf_dir)
    # the gate now compares the routed run against the LSH twin's oracle
    alt = ORACLE_OVERRIDES["dedup_embedding_cosine_blocked"](spark, sf_dir)
    assert alt == ORACLES["dedup_cosine_blocked_lsh_approx"]


def _write_corpus(d, texts):
    pd.DataFrame(
        {
            "doc_id": range(len(texts)),
            "text": texts,
            "lang": "en",
            "source": "t",
            "n_chars": [len(t) for t in texts],
        }
    ).to_parquet(os.path.join(d, "documents.parquet"))


def test_bpe_sym_memo_repeat_calls_pin_nothing(spark, tmp_path):
    """ADVICE r10: each encode invocation used to pin another vocab-sized
    persisted table + checkpoint RDDs. Memoized: the SECOND call adds zero
    persistent RDDs and returns identical rows."""
    from legate_pandas_spark.operators import QUERIES, load_all

    load_all()
    d = str(tmp_path / "corpus_memo")
    os.makedirs(d, exist_ok=True)
    _write_corpus(d, ["banana bandana ananas anna nanab" for _ in range(5)])

    first = (
        QUERIES["bpe_encode_corpus"](spark, d).toPandas().sort_values("doc_id")
    ).reset_index(drop=True)
    n_after_first = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    second = (
        QUERIES["bpe_encode_corpus"](spark, d).toPandas().sort_values("doc_id")
    ).reset_index(drop=True)
    n_after_second = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    assert n_after_second - n_after_first == 0, (
        f"repeat encode grew the cache: {n_after_first} -> {n_after_second}"
    )
    pd.testing.assert_frame_equal(first, second)


def test_bpe_sym_memo_invalidates_on_corpus_rewrite(spark, tmp_path):
    """A rewritten corpus must retrain (snapshot token changes) and unpersist
    the stale table rather than accumulate a second live copy."""
    from legate_pandas_spark.operators import QUERIES, load_all

    load_all()
    d = str(tmp_path / "corpus_inval")
    os.makedirs(d, exist_ok=True)
    _write_corpus(d, ["banana bandana" for _ in range(4)])
    before = memo_stats("bpe_sym")
    r1 = QUERIES["bpe_encode_corpus"](spark, d).toPandas()
    after_first = memo_stats("bpe_sym")
    time.sleep(0.05)
    _write_corpus(d, ["zyx wvu tsr qpo nml" for _ in range(4)])
    r2 = QUERIES["bpe_encode_corpus"](spark, d).toPandas()
    after_second = memo_stats("bpe_sym")
    # one table for this corpus, retrained on the rewrite: swapped, not stacked
    assert after_first["live"] == after_second["live"] == before["live"] + 1
    assert after_second["misses"] == after_first["misses"] + 1
    # retrained on the new corpus: different fertility profile
    assert not r1.sort_values("doc_id")["n_bpe_tokens"].equals(
        r2.sort_values("doc_id")["n_bpe_tokens"]
    )


def test_basket_cap_constant_is_interpolated_into_both_oracles():
    from legate_pandas_spark.operators import ORACLES, load_all
    from legate_pandas_spark.operators.analytics import _COPURCHASE_MAX_BASKET

    load_all()
    for name in ("triangle_count_copurchase", "label_propagation_communities"):
        sql = ORACLES[name]
        assert f"<= {_COPURCHASE_MAX_BASKET})" in sql, name
        assert "{" not in sql, name  # f-string fully resolved
