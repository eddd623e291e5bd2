"""Round-10 ADVICE fixes, regression-tested:

1. hard_negative_mining: an anchor whose label has no OTHER same-label vector
   (no hardest positive) is no longer silently dropped — its negatives are
   emitted with semi_hard NULL (left join). The mirrored oracle could never
   catch the old inner-join drop, so this pure-synthetic test pins it.
2. session_close_stream: the handler guards the no-state/no-data/no-timeout
   path (unreachable under Spark's current invocation contract, but a
   contract change now degrades to a no-op instead of an executor
   AttributeError on last.value). Exercised indirectly by the streaming
   suite; the guard is defensive by design.
3. bpe_encode_corpus cache bound + scd2 straggler contract are pinned in
   test_round9_bpe.py / test_streaming.py.
"""

import os

import numpy as np
import pandas as pd


def _write_embeddings(d, labels):
    n = len(labels)
    rng = np.random.RandomState(7)
    pdf = pd.DataFrame(
        {
            "vec_id": range(n),
            "label": labels,
            "embedding": [
                rng.rand(64).astype(np.float32).tolist() for _ in range(n)
            ],
        }
    )
    os.makedirs(d, exist_ok=True)
    pdf.to_parquet(os.path.join(d, "embeddings.parquet"))


def test_hard_negative_mining_keeps_positive_less_anchor(spark, tmp_path):
    # anchor 0 is the ONLY vector with label 99 -> no hardest positive;
    # anchors 1..3 share label 1 among themselves and with vectors 10..19
    labels = [99, 1, 1, 1, 2, 2, 2, 2] + [1] * 10 + [2] * 10
    d = str(tmp_path / "emb_hnm")
    _write_embeddings(d, labels)

    from legate_pandas_spark.operators import QUERIES, load_all

    load_all()
    out = QUERIES["hard_negative_mining"](spark, d).toPandas()
    anchors_out = set(out.anchor_id)
    # every anchor with at least one different-label vector appears,
    # INCLUDING the positive-less anchor 0
    assert 0 in anchors_out
    a0 = out[out.anchor_id == 0]
    assert len(a0) == 5  # top-5 negatives still mined
    assert a0.semi_hard.isna().all()  # no hardest positive -> NULL flag
    # anchors with positives keep a concrete boolean flag
    a1 = out[out.anchor_id == 1]
    assert len(a1) == 5 and a1.semi_hard.notna().all()


def _write_docs(d, texts, start_id=0):
    pdf = pd.DataFrame(
        {
            "doc_id": range(start_id, start_id + len(texts)),
            "text": texts,
            "lang": "en",
            "source": "t",
            "n_chars": [len(t or "") for t in texts],
        }
    )
    os.makedirs(d, exist_ok=True)
    pdf.to_parquet(os.path.join(d, "documents.parquet"))


def test_ingest_store_memo_parity_and_invalidation(spark, tmp_path):
    """VERDICT r9 Next #2: the memoized digest/signature stores must (a) give
    bit-identical tag reports on repeat invocation (memo hit) and (b) rebuild
    when the corpus is rewritten under the same sf_dir (snapshot token)."""
    from legate_pandas_spark.operators import QUERIES, load_all
    from legate_pandas_spark.sources.tables import memo_stats

    load_all()
    d = str(tmp_path / "ingest_memo")
    texts = [f"the quick brown fox number {i} jumps over the lazy dog" for i in range(12)]
    texts[4] = texts[1]  # an exact dup across the shard boundary (4 vs 1)
    _write_docs(d, texts)

    run = lambda: (
        QUERIES["ingest_tag_report"](spark, d)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )

    def counts():
        s = memo_stats("ingest_stores")
        return s["hits"], s["misses"]

    h0, m0 = counts()
    first = run()
    assert counts() == (h0, m0 + 1)  # stores built and memoized
    second = run()  # memo hit — token unchanged, same object reused
    assert counts() == (h0 + 1, m0 + 1)
    pd.testing.assert_frame_equal(first, second)
    assert bool(first.loc[first.doc_id == 4, "is_exact_dup"].iloc[0])

    # rewrite the corpus: doc 4 is no longer a dup of anything prior
    import time as _t

    _t.sleep(0.05)
    _write_docs(d, [f"completely different text {i} here" for i in range(12)])
    third = run()
    assert counts() == (h0 + 1, m0 + 2)  # rebuilt, not stale
    assert not third.is_exact_dup.any()
