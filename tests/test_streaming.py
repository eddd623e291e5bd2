"""Structured Streaming tests: streaming results must match the batch catalog
queries on the same data (streaming/batch parity), plus custom stateful op."""

import shutil

import pytest


@pytest.fixture(scope="module")
def events_dir(sf_dir, tmp_path_factory):
    d = tmp_path_factory.mktemp("events_stream")
    shutil.copy(f"{sf_dir}/events.parquet", d / "events.parquet")
    return str(d)


def test_windowed_counts_match_batch(spark, sf_dir, events_dir):
    from legate_pandas_spark.operators import QUERIES, load_all
    from legate_pandas_spark.streaming import (
        run_available_now,
        stream_events,
        windowed_event_counts,
    )

    load_all()
    stream = windowed_event_counts(stream_events(spark, events_dir))
    run_available_now(stream, "win_counts", output_mode="complete")
    got = spark.table("win_counts").toPandas()
    want = QUERIES["tumbling_window_agg"](spark, sf_dir).toPandas()
    key = ["user_id", "window_start"]
    got = got.sort_values(key).reset_index(drop=True)[want.columns]
    want = want.sort_values(key).reset_index(drop=True)
    import pandas as pd

    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_session_windows(spark, events_dir):
    from legate_pandas_spark.streaming import (
        run_available_now,
        sessionized_event_stats,
        stream_events,
    )

    stream = sessionized_event_stats(stream_events(spark, events_dir))
    run_available_now(stream, "sessions", output_mode="complete")
    pdf = spark.table("sessions").toPandas()
    assert len(pdf) > 0
    assert (pdf["n_events"] >= 1).all()


def test_dedup_stream(spark, events_dir, sf_dir):
    from legate_pandas_spark.sources.tables import load_table
    from legate_pandas_spark.streaming import dedup_stream, run_available_now, stream_events

    stream = dedup_stream(stream_events(spark, events_dir))
    run_available_now(stream, "dedup_ev", output_mode="append")
    n = spark.table("dedup_ev").count()
    assert n == load_table(spark, sf_dir, "events").count()  # ids already unique


def test_stateful_running_totals(spark, events_dir, sf_dir):
    from legate_pandas_spark.sources.tables import load_table
    from legate_pandas_spark.streaming import (
        run_available_now,
        stateful_running_totals,
        stream_events,
    )

    stream = stateful_running_totals(stream_events(spark, events_dir))
    run_available_now(stream, "running", output_mode="update")
    got = spark.table("running").toPandas()
    # final state per user must equal the batch per-user aggregate
    import pyspark.sql.functions as F

    want = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 4).alias("total_value"))
        .toPandas()
    )
    got = got.sort_values("user_id").reset_index(drop=True)[want.columns]
    want = want.sort_values("user_id").reset_index(drop=True)
    import pandas as pd

    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_stateful_first_last_reading_matches_batch(spark, events_dir, sf_dir):
    """Streaming twin of first_nonnull_running: the final per-user state must
    equal the batch running-window query's LAST row per user."""
    import pandas as pd
    import pyspark.sql.functions as F
    from pyspark.sql.window import Window

    from legate_pandas_spark.operators import QUERIES, load_all
    from legate_pandas_spark.streaming import (
        run_available_now,
        stateful_first_last_reading,
        stream_events,
    )

    load_all()
    stream = stateful_first_last_reading(stream_events(spark, events_dir))
    run_available_now(stream, "first_last", output_mode="update")
    got = spark.table("first_last").toPandas()
    # keep only each user's final update
    got = got.groupby("user_id").tail(1)

    # re-attach ts so the final row per user is max (ts, event_id) — the
    # batch window's ordering
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select("event_id", "ts")
    batch = QUERIES["first_nonnull_running"](spark, sf_dir).join(ev, "event_id")
    want = (
        batch.withColumn("_rn", F.row_number().over(
            Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))))
        .filter(F.col("_rn") == 1)
        .select("user_id", "first_reading", "last_reading")
        .toPandas()
    )
    got = got.sort_values("user_id").reset_index(drop=True)[want.columns]
    want = want.sort_values("user_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_checkpoint_state_continuity(spark, sf_dir, tmp_path):
    """Stateful streaming across restarts: batch 1 is processed, the query
    stops, batch 2 arrives, a NEW query with the same checkpoint resumes state —
    dedup must not re-emit batch-1 rows."""
    import shutil

    from legate_pandas_spark.streaming import dedup_stream, stream_events

    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "out")
    shutil.copy(f"{sf_dir}/events.parquet", src / "batch1.parquet")

    def run_once():
        q = (
            dedup_stream(stream_events(spark, str(src)))
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    n1 = spark.read.parquet(out_dir).count()
    # batch 2 = the SAME file again under a new name → all duplicate ids
    shutil.copy(f"{sf_dir}/events.parquet", src / "batch2.parquet")
    run_once()
    n2 = spark.read.parquet(out_dir).count()
    assert n1 > 0
    assert n2 == n1  # resumed state deduplicated every batch-2 row


def test_stream_stream_join_matches_batch(spark, sf_dir, events_dir):
    """Stream-stream purchase←click attribution must equal the equivalent batch
    join on the same data."""
    import pyspark.sql.functions as F

    from legate_pandas_spark.sources.tables import load_table
    from legate_pandas_spark.streaming import (
        purchase_click_attribution,
        run_available_now,
        stream_events,
    )

    stream = purchase_click_attribution(stream_events(spark, events_dir))
    run_available_now(stream, "attribution", output_mode="append")
    got = spark.table("attribution").toPandas()

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
        F.col("value").alias("purchase_value"),
    )
    want = (
        purchases.join(
            clicks,
            (F.col("p_user") == F.col("c_user"))
            & (F.col("click_ts") <= F.col("purchase_ts"))
            & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 hour")),
        )
        .select(
            F.col("p_user").alias("user_id"),
            "purchase_id",
            "click_id",
            F.round("purchase_value", 2).alias("purchase_value"),
        )
        .toPandas()
    )
    key = ["purchase_id", "click_id"]
    got = got.sort_values(key).reset_index(drop=True)[want.columns]
    want = want.sort_values(key).reset_index(drop=True)
    import pandas as pd

    assert len(got) > 0
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


@pytest.fixture(scope="module")
def documents_dir(sf_dir, tmp_path_factory):
    d = tmp_path_factory.mktemp("docs_stream")
    shutil.copy(f"{sf_dir}/documents.parquet", d / "documents.parquet")
    return str(d)


def test_quality_scrub_stream_matches_batch(spark, sf_dir, documents_dir):
    """Stateless curation stage: streaming output must equal the same
    expressions run in batch over the same files."""
    import pandas as pd

    from legate_pandas_spark.streaming import (
        quality_scrub_stream,
        run_available_now,
        stream_documents,
    )

    stream = quality_scrub_stream(stream_documents(spark, documents_dir))
    run_available_now(stream, "scrubbed_docs", output_mode="append")
    got = spark.table("scrubbed_docs").toPandas()
    batch = quality_scrub_stream(spark.read.parquet(documents_dir)).toPandas()
    got = got.sort_values("doc_id").reset_index(drop=True)
    batch = batch.sort_values("doc_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(got, batch, check_dtype=False)


def test_corpus_dedup_stream_distinct_digests(spark, sf_dir, documents_dir, tmp_path):
    """Streaming exact dedup: the surviving digest set must equal the batch
    distinct set (keep-first identity across micro-batches is arrival-order
    dependent, digest presence is not)."""
    import pyspark.sql.functions as F

    from legate_pandas_spark.streaming import (
        corpus_dedup_stream,
        run_available_now,
        stream_documents,
    )

    stream = corpus_dedup_stream(stream_documents(spark, documents_dir))
    run_available_now(stream, "deduped_docs", output_mode="append")
    got = {
        r["digest"]
        for r in spark.table("deduped_docs").select("digest").distinct().collect()
    }
    want = {
        r["digest"]
        for r in spark.read.parquet(documents_dir)
        .select(F.md5("text").alias("digest"))
        .distinct()
        .collect()
    }
    assert got == want
    assert spark.table("deduped_docs").count() == len(want)


def test_ingest_tick_rounds_up_literal_timestamps(spark):
    """The dedup stream's ingest tick is a tenth of the watermark horizon, and
    rounding to it goes up: never below the input, less than one tick above
    it, and an exact tick boundary maps to itself."""
    from datetime import datetime, timezone

    import pyspark.sql.functions as F

    from legate_pandas_spark.streaming.documents import ceil_to_ingest_tick, ingest_tick_us

    ticks = {"10 minutes": 60_000_000, "1 hour": 360_000_000, "30 seconds": 3_000_000}
    assert {w: ingest_tick_us(w) for w in ticks} == ticks
    assert ingest_tick_us("interval 1 hour") == ingest_tick_us("60 MINUTES")
    with pytest.raises(ValueError):
        ingest_tick_us("10 min")

    def us(*dt):
        return int(datetime(*dt, tzinfo=timezone.utc).timestamp()) * 1_000_000

    stamps = [
        us(2026, 10, 17, 19, 30),  # a boundary of every tick above
        us(2026, 10, 17, 19, 30) + 1,
        us(2026, 10, 17, 19, 30) - 1,
        us(2026, 10, 17, 19, 59, 59) + 999_999,
        us(2024, 2, 29, 23, 58, 31) + 250_000,
        0,
        -1,
    ]
    df = spark.createDataFrame([(u,) for u in stamps], "u long").select(
        "u",
        *[
            F.unix_micros(ceil_to_ingest_tick(F.timestamp_micros("u"), w)).alias(w)
            for w in ticks
        ],
    )
    for row in df.collect():
        for w, tick in ticks.items():
            up = row[w]
            assert row["u"] <= up < row["u"] + tick, (w, row)
            assert up % tick == 0, (w, row)
            if row["u"] % tick == 0:
                assert up == row["u"], (w, row)


def _feed_one_file_per_trigger(query, in_dir, frames, start=0):
    """Drop each frame into ``in_dir`` as its own parquet file and run the
    query to completion on it: one trigger per file."""
    import os

    for i, pdf in enumerate(frames, start):
        staged = os.path.join(os.path.dirname(in_dir), f"shard{i:03d}.parquet")
        pdf.to_parquet(staged, index=False)
        os.rename(staged, os.path.join(in_dir, f"shard{i:03d}.parquet"))
        query.processAllAvailable()


def test_corpus_dedup_stream_runs_no_data_batch_once_per_tick(spark, sf_dir, tmp_path):
    """The watermark moves only when the ingest tick does, so Spark's no-data
    eviction batch runs once after the first data batch and at most once per
    tick boundary after that, not after every trigger. Progress entries of
    idle triggers (no batch ran, so no addBatch duration) are not counted."""
    import time

    import pandas as pd

    from legate_pandas_spark.streaming import corpus_dedup_stream, stream_documents
    from legate_pandas_spark.streaming.documents import ingest_tick_us

    docs = pd.read_parquet(f"{sf_dir}/documents.parquet")
    shards = [docs.iloc[i::8] for i in range(8)]
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    tick = ingest_tick_us("10 minutes")
    t0 = time.time_ns() // 1000
    q = (
        corpus_dedup_stream(stream_documents(spark, str(in_dir)))
        .writeStream.format("memory")
        .queryName("dedup_ticks")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        _feed_one_file_per_trigger(q, str(in_dir), shards)
        progress = q.recentProgress
    finally:
        q.stop()
    t1 = time.time_ns() // 1000
    ran = [p for p in progress if "addBatch" in p["durationMs"]]
    assert sum(1 for p in ran if p["numInputRows"]) == len(shards)
    no_data = sum(1 for p in ran if p["numInputRows"] == 0)
    boundaries = -(-t1 // tick) - -(-t0 // tick)  # multiples of the tick in [t0, t1)
    assert no_data <= 1 + boundaries, (no_data, boundaries)
    assert spark.table("dedup_ticks").count() == docs["text"].nunique()


def test_corpus_dedup_stream_restart_matches_batch_twin(spark, sf_dir, tmp_path):
    """Stop the dedup query after k shards, restart it on the same checkpoint
    and feed the rest, including exact duplicates of texts seen before the
    restart: the output holds the batch twin's digest set, each digest once."""
    import pandas as pd
    import pyspark.sql.functions as F

    from legate_pandas_spark.streaming import corpus_dedup_stream, stream_documents
    from legate_pandas_spark.streaming.documents import DOCUMENTS_SCHEMA

    docs = pd.read_parquet(f"{sf_dir}/documents.parquet")
    shards = [docs.iloc[i::6] for i in range(6)]
    k = 3
    seen = pd.concat(shards[:k])
    redo = seen.iloc[::4].assign(doc_id=seen["doc_id"].iloc[::4] + 10**9)
    after = [shards[k], redo, shards[k + 1], pd.concat([shards[k + 2], redo.iloc[:5]])]
    in_dir, out_dir = tmp_path / "in", str(tmp_path / "out")
    in_dir.mkdir()

    def start():
        return (
            corpus_dedup_stream(stream_documents(spark, str(in_dir)))
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .outputMode("append")
            .start()
        )

    q = start()
    try:
        _feed_one_file_per_trigger(q, str(in_dir), shards[:k])
    finally:
        q.stop()
    before = spark.read.parquet(out_dir).count()
    assert before == seen["text"].nunique()
    q = start()
    try:
        _feed_one_file_per_trigger(q, str(in_dir), after, start=k)
    finally:
        q.stop()
    got = spark.read.parquet(out_dir).select("digest").toPandas()["digest"]
    batch = spark.read.schema(DOCUMENTS_SCHEMA).parquet(str(in_dir))
    want = {r[0] for r in batch.select(F.md5("text")).distinct().collect()}
    assert len(redo) > 0 and batch.count() == len(docs) + len(redo) + 5
    assert set(got) == want
    assert len(got) == len(want)  # no digest re-emitted after the restart


def test_windowed_distinct_users_matches_batch(spark, sf_dir, events_dir):
    """Streaming HLL distinct-user counts must equal the same batch
    aggregation (sketch merge is commutative, so batch vs available-now
    micro-batches land identical values)."""
    import pandas as pd
    import pyspark.sql.functions as F

    from legate_pandas_spark.sources.tables import load_table
    from legate_pandas_spark.streaming import (
        run_available_now,
        stream_events,
        windowed_distinct_users,
    )

    stream = windowed_distinct_users(stream_events(spark, events_dir))
    run_available_now(stream, "win_users", output_mode="complete")
    got = spark.table("win_users").toPandas()
    want = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", F.window("ts", "1 hour").alias("win"))
        .agg(F.approx_count_distinct("user_id", 0.02).alias("approx_users"))
        .select(
            "event_type",
            F.date_format(F.col("win.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "approx_users",
        )
        .toPandas()
    )
    key = ["event_type", "window_start"]
    got = got.sort_values(key).reset_index(drop=True)[want.columns]
    want = want.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_topk_leaderboard_matches_batch(spark, events_dir, sf_dir):
    """Complete-mode top-k (agg + orderBy + limit, streaming-legal) must equal
    the batch leaderboard over the same data."""
    import pandas as pd
    import pyspark.sql.functions as F

    from legate_pandas_spark.sources.tables import load_table
    from legate_pandas_spark.streaming import (
        run_available_now,
        stream_events,
        topk_event_type_leaderboard,
    )

    stream = topk_event_type_leaderboard(stream_events(spark, events_dir), k=3)
    run_available_now(stream, "leaderboard", output_mode="complete")
    got = spark.table("leaderboard").toPandas()
    want = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .orderBy(F.desc("total_value"), F.asc("event_type"))
        .limit(3)
        .toPandas()
    )
    pd.testing.assert_frame_equal(
        got.reset_index(drop=True), want.reset_index(drop=True), check_dtype=False
    )


def test_bloom_dedup_stream_flags_exact_dups(spark, sf_dir, documents_dir):
    """Sharded-Bloom streaming dedup: per content digest exactly size-1 copies
    are flagged probable-dup (no false negatives by construction), and at this
    scale the bitmap is big enough that unique contents are never flagged
    (false positives would show as flagged uniques)."""
    import pandas as pd

    from legate_pandas_spark.streaming import (
        bloom_dedup_stream,
        run_available_now,
        stream_documents,
    )

    stream = bloom_dedup_stream(stream_documents(spark, documents_dir))
    run_available_now(stream, "bloom_dedup", output_mode="append")
    got = spark.table("bloom_dedup").toPandas()

    docs = spark.read.parquet(documents_dir).toPandas()
    digests = docs.assign(d=docs["text"]).groupby("text")["doc_id"].agg(list)
    n_docs = len(docs)
    n_distinct = docs["text"].nunique()
    assert len(got) == n_docs
    # total flagged = total - distinct (each content's first pass is unflagged)
    assert int(got["probable_dup"].sum()) == n_docs - n_distinct
    # no unique-content doc may be flagged (false positive check)
    sizes = docs.groupby("text")["doc_id"].transform("size")
    uniques = set(docs.loc[sizes == 1, "doc_id"])
    flagged = set(got.loc[got["probable_dup"], "doc_id"])
    assert not (flagged & uniques)


def test_incremental_dedup_stream_matches_batch(spark, sf_dir, documents_dir):
    """Stream-static incremental dedup (round 6): arriving docs flagged
    against a static corpus digest store must match the same anti-join run in
    batch — the streaming twin of dedup_incremental_shard's exact path."""
    import pyspark.sql.functions as F

    from legate_pandas_spark.streaming import (
        incremental_dedup_stream,
        run_available_now,
        stream_documents,
    )

    docs_batch = spark.read.parquet(documents_dir)
    # store = digests of the doc_id % 4 != 0 "already-ingested" corpus
    store = (
        docs_batch.filter(F.col("doc_id") % 4 != 0)
        .select(F.md5("text").alias("h"))
        .distinct()
    )
    arriving = stream_documents(spark, documents_dir)
    flagged = incremental_dedup_stream(arriving, store)
    run_available_now(flagged, "incr_dedup", output_mode="append")
    got = {
        r["doc_id"]: r["is_exact_dup"]
        for r in spark.table("incr_dedup").collect()
    }
    want = {
        r["doc_id"]: r["hit"]
        for r in docs_batch.select(
            "doc_id", F.md5("text").alias("h")
        )
        .join(store.withColumn("hit", F.lit(True)), "h", "left")
        .select("doc_id", F.coalesce("hit", F.lit(False)).alias("hit"))
        .collect()
    }
    assert got == want
    # every doc from the old corpus is (by construction) in the store
    old_ids = {r["doc_id"] for r in docs_batch.filter(F.col("doc_id") % 4 != 0).select("doc_id").collect()}
    assert all(got[d] for d in old_ids)


@pytest.fixture(scope="module")
def embeddings_dir(sf_dir, tmp_path_factory):
    import pandas as pd

    d = tmp_path_factory.mktemp("emb_stream")
    # normalize to the stream schema (embedding as double array)
    pdf = pd.read_parquet(f"{sf_dir}/embeddings.parquet")
    pdf["embedding"] = pdf["embedding"].map(lambda a: [float(x) for x in a])
    pdf["label"] = pdf["label"].astype(str)
    pdf[["vec_id", "embedding", "label"]].to_parquet(
        d / "embeddings.parquet", index=False
    )
    return str(d)


def test_pq_encode_stream_matches_batch_codes(spark, sf_dir, embeddings_dir):
    """Streaming PQ encode (stateless, codebook as plan constants) must
    produce EXACTLY the batch assign()'s codes for every vector."""
    import pyspark.sql.functions as F

    from legate_pandas_spark.operators.similarity import _pq_train
    from legate_pandas_spark.streaming import (
        pq_encode_stream,
        run_available_now,
        stream_embeddings,
    )

    u, cent1, assign = _pq_train(spark, sf_dir)
    codebook = [
        (r["m"], r["cid"], r["pos"], r["c"]) for r in cent1.collect()
    ]
    batch_codes = {
        (r["vec_id"], r["m"]): r["cid"]
        for r in assign(cent1.select("cid", "pos", "m", "c")).collect()
    }

    arriving = stream_embeddings(spark, embeddings_dir)
    encoded = pq_encode_stream(arriving, codebook)
    run_available_now(encoded, "pq_codes", output_mode="append")
    got = spark.table("pq_codes").collect()
    assert got, "stream produced no rows"
    n_m = len({m for (_, m) in batch_codes})
    mismatches = []
    for r in got:
        for m in range(n_m):
            if r[f"code_{m}"] != batch_codes[(r["vec_id"], m)]:
                mismatches.append((r["vec_id"], m, r[f"code_{m}"], batch_codes[(r["vec_id"], m)]))
    assert not mismatches, mismatches[:5]


def test_dsir_score_stream_matches_batch_scores(spark, sf_dir, documents_dir):
    """Streaming DSIR scorer (model as plan constants, per-row feature FOLD)
    must produce exactly the batch scorer's integer scores (explode +
    groupBy aggregate) for every document — including docs with no
    features (logw 0) and unseen-bucket defaults."""
    import pyspark.sql.functions as F

    from legate_pandas_spark.operators.curation import (
        _dsir_gumbel_expr,
        _dsir_parts,
        dsir_train_model,
    )
    from legate_pandas_spark.streaming import (
        dsir_score_stream,
        run_available_now,
        stream_documents,
    )

    model, default = dsir_train_model(spark, sf_dir)
    assert model and isinstance(default, int)

    # batch reference: the registered query's scoring shape, all docs
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang", "text"
    )
    cells, lam, _ = _dsir_parts(docs)
    docw = (
        docs.select("doc_id")
        .join(cells.select("doc_id", "b", "cnt"), "doc_id", "left")
        .join(F.broadcast(lam), "b", "left")
        .groupBy("doc_id")
        .agg(
            F.coalesce(F.sum(F.col("cnt") * F.col("lam")), F.lit(0))
            .cast("bigint")
            .alias("logw_micro")
        )
    )
    batch = {
        r["doc_id"]: (
            r["logw_micro"],
            r["logw_micro"] + r["g"],
        )
        for r in docw.join(
            docs.select("doc_id", _dsir_gumbel_expr(F.col("doc_id")).alias("g")),
            "doc_id",
        ).collect()
    }

    scored = dsir_score_stream(stream_documents(spark, documents_dir), model, default)
    run_available_now(scored, "dsir_scores", output_mode="append")
    got = spark.table("dsir_scores").collect()
    assert len(got) == len(batch)
    mismatches = [
        (r["doc_id"], r["logw_micro"], batch[r["doc_id"]])
        for r in got
        if (r["logw_micro"], r["score_micro"]) != batch[r["doc_id"]]
    ]
    assert not mismatches, mismatches[:5]


def test_gopher_filter_stream_matches_batch(spark, sf_dir, documents_dir):
    """Streaming Gopher filter must tag every document with exactly the
    batch rules' verdict (shared expressions — parity is column-for-column,
    incl. the pass_all conjunction)."""
    import pyspark.sql.functions as F

    from legate_pandas_spark.operators.textops import gopher_pass_all_expr
    from legate_pandas_spark.streaming import (
        gopher_filter_stream,
        run_available_now,
        stream_documents,
    )

    batch = {
        r["doc_id"]: r["ok"]
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", gopher_pass_all_expr(F.col("text")).alias("ok"))
        .collect()
    }
    tagged = gopher_filter_stream(stream_documents(spark, documents_dir))
    run_available_now(tagged, "gopher_tags", output_mode="append")
    got = spark.table("gopher_tags").collect()
    assert len(got) == len(batch)
    mism = [
        (r["doc_id"], r["pass_gopher"], batch[r["doc_id"]])
        for r in got
        if bool(r["pass_gopher"]) != bool(batch[r["doc_id"]])
    ]
    assert not mism, mism[:5]
    # both verdicts occur in the corpus (non-degenerate test)
    assert any(r["pass_gopher"] for r in got) and not all(
        r["pass_gopher"] for r in got
    )


def test_dsir_model_counts_stream_matches_batch(spark, sf_dir, documents_dir):
    """Streaming DSIR model counts (bounded 2048-bucket state) drained over
    the corpus must equal the batch training tables row-for-row, and the
    logits derived from them must equal dsir_train_model's exactly."""
    import math

    import pyspark.sql.functions as F

    from legate_pandas_spark.operators.curation import (
        _DSIR_B,
        _dsir_parts,
        dsir_train_model,
    )
    from legate_pandas_spark.streaming import (
        dsir_model_counts_stream,
        run_available_now,
        stream_documents,
    )

    counts = dsir_model_counts_stream(stream_documents(spark, documents_dir))
    run_available_now(counts, "dsir_counts", output_mode="complete")
    got = {r["b"]: (r["cr"], r["ct"]) for r in spark.table("dsir_counts").collect()}

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang", "text"
    )
    cells, _lam, tots = _dsir_parts(docs)
    want = {
        r["b"]: (r["cr"], r["ct"] or 0)
        for r in cells.groupBy("b")
        .agg(
            F.sum("cnt").alias("cr"),
            F.sum(F.when(F.col("lang") == "en", F.col("cnt")).otherwise(0)).alias(
                "ct"
            ),
        )
        .collect()
    }
    assert got == want
    # deriving the model from the streamed counts reproduces dsir_train_model
    t = tots.collect()[0]
    r_tot, t_tot = t["r_tot"], t["t_tot"]
    assert r_tot == sum(cr for cr, _ in got.values())
    assert t_tot == sum(ct for _, ct in got.values())
    derived = {
        b: int(
            round(
                1000000.0
                * math.log(
                    ((ct + 1) * (r_tot + _DSIR_B))
                    / ((cr + 1) * (t_tot + _DSIR_B))
                )
            )
        )
        for b, (cr, ct) in got.items()
    }
    model, _default = dsir_train_model(spark, sf_dir)
    assert derived == model


def test_lsh_neardup_stream_matches_batch_bands(spark, sf_dir, documents_dir):
    """Streaming near-dup detector (round-9): per-row minhash signatures must
    equal the batch explode+groupBy signatures bit-for-bit, and streaming the
    corpus against its own band index must reproduce exactly the batch band
    self-collision candidate set with the same signature-agreement
    estimates."""
    import pyspark.sql.functions as F

    from legate_pandas_spark.streaming import (
        build_lsh_index,
        lsh_neardup_stream,
        run_available_now,
        stream_documents,
    )

    docs_batch = spark.read.parquet(documents_dir)
    index = build_lsh_index(docs_batch).persist()

    arriving = stream_documents(spark, documents_dir)
    out = lsh_neardup_stream(arriving, index)
    run_available_now(out, "lsh_neardup", output_mode="append")
    got = {
        (r["doc_id"], r["match_id"], r["band_idx"]): r["est_jaccard"]
        for r in spark.table("lsh_neardup").collect()
    }

    # batch expectation: band-table self-join (candidate pairs, directed)
    a = index.select(
        F.col("match_id").alias("doc_id"),
        "band_idx",
        "band_key",
        F.col("match_sig").alias("sig_a"),
    )
    agree = F.aggregate(
        F.zip_with(
            F.col("sig_a"),
            F.col("match_sig"),
            lambda x, y: F.when(x == y, 1).otherwise(0),
        ),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    want = {
        (r["doc_id"], r["match_id"], r["band_idx"]): r["est"]
        for r in a.join(index, ["band_idx", "band_key"])
        .where(F.col("doc_id") != F.col("match_id"))
        .select(
            "doc_id",
            "match_id",
            "band_idx",
            F.round(agree / F.lit(8.0), 4).alias("est"),
        )
        .collect()
    }
    index.unpersist()
    assert len(want) > 0  # the corpus does carry near-dup band collisions
    assert got == want
    # est_jaccard of an exact clone pair is 1.0 (all 8 slots agree)
    clones = [v for (d, m, b), v in got.items() if v == 1.0]
    assert clones, "expected at least one full-signature collision"


def test_ingest_tag_stream_matches_batch(spark, sf_dir, documents_dir):
    """Composed ingest tagging (round-9): one stateless pass must reproduce
    the batch-computed quality/gopher/exact-dup/signature-near-dup flags for
    every arriving document — streaming the corpus against its own stores
    makes every doc an exact dup and every >=3-token doc a signature
    near-dup, and short docs must flag false on the signature tier."""
    import pyspark.sql.functions as F

    from legate_pandas_spark.operators.textops import gopher_pass_all_expr
    from legate_pandas_spark.streaming import (
        build_lsh_index,
        build_signature_store,
        ingest_tag_stream,
        run_available_now,
        stream_documents,
    )

    docs_batch = spark.read.parquet(documents_dir)
    # stores built from the doc_id % 3 != 0 slice — arriving docs split into
    # store members (dup flags true) and genuinely-new docs
    corpus = docs_batch.filter(F.col("doc_id") % 3 != 0)
    digest_store = corpus.select(F.md5("text").alias("h")).distinct()
    sig_store = build_signature_store(corpus).persist()

    arriving = stream_documents(spark, documents_dir)
    out = ingest_tag_stream(arriving, digest_store, sig_store)
    run_available_now(out, "ingest_tag", output_mode="append")
    got = {r["doc_id"]: r for r in spark.table("ingest_tag").collect()}
    assert len(got) == docs_batch.count()

    # batch twins
    digests = {r["h"] for r in digest_store.collect()}
    sigs = {r["sig_str"] for r in sig_store.collect()}
    idx_all = build_lsh_index(docs_batch)
    my_sig = {
        r["match_id"]: "".join(r["match_sig"])
        for r in idx_all.select("match_id", "match_sig").distinct().collect()
    }
    want_flags = {
        r["doc_id"]: (r["h"] in digests, r["pg"])
        for r in docs_batch.select(
            "doc_id",
            F.md5("text").alias("h"),
            gopher_pass_all_expr(F.col("text")).alias("pg"),
        ).collect()
    }
    sig_store.unpersist()
    n_new, n_short = 0, 0
    for d, row in got.items():
        exact, pg = want_flags[d]
        assert row["is_exact_dup"] == exact, d
        assert row["pass_gopher"] == pg, d
        if d in my_sig:
            assert row["is_sig_neardup"] == (my_sig[d] in sigs), d
        else:
            n_short += 1
            assert not row["is_sig_neardup"], d
        n_new += int(not row["is_exact_dup"])
    assert n_new > 0  # the %3 == 0 slice really is new to the store


def test_perplexity_score_stream_matches_batch(spark, sf_dir, documents_dir):
    """Streaming CCNet perplexity scorer (model as two dense literal count
    arrays, per-row bigram fold) must produce exactly the batch query's
    integer (n_bigrams, logprob_micro) for every document when run as a
    real stream."""
    from legate_pandas_spark.operators import QUERIES, load_all
    from legate_pandas_spark.operators.curation import perplexity_train_model
    from legate_pandas_spark.streaming import run_available_now, stream_documents
    from legate_pandas_spark.streaming.documents import perplexity_score_stream

    load_all()
    cp, cc = perplexity_train_model(spark, sf_dir)
    batch = {
        r["doc_id"]: (r["n_bigrams"], r["logprob_micro"])
        for r in QUERIES["perplexity_lm_filter"](spark, sf_dir).collect()
    }
    scored = perplexity_score_stream(stream_documents(spark, documents_dir), cp, cc)
    run_available_now(scored, "ppl_scores", output_mode="append")
    got = spark.table("ppl_scores").collect()
    assert len(got) == len(batch)
    mismatches = [
        (r["doc_id"], r["n_bigrams"], r["logprob_micro"], batch[r["doc_id"]])
        for r in got
        if (r["n_bigrams"], r["logprob_micro"]) != batch[r["doc_id"]]
    ]
    assert not mismatches, mismatches[:5]


def test_countmin_counters_stream_matches_batch(spark, sf_dir, documents_dir):
    """Streaming count-min counters (bounded 4096-row state, no watermark)
    drained over the corpus must equal the batch sketch's counter table
    row-for-row, and CM estimates derived from the drained table must keep
    the upper-bound guarantee against exact batch counts."""
    import pyspark.sql.functions as F

    from legate_pandas_spark.operators import outer_explode
    from legate_pandas_spark.operators.mlstats import (
        _CM_D,
        _cm_bucket_expr,
        cm_counter_table,
    )
    from legate_pandas_spark.streaming import (
        countmin_counters_stream,
        run_available_now,
        stream_documents,
    )

    counters = countmin_counters_stream(stream_documents(spark, documents_dir))
    run_available_now(counters, "cm_counters", output_mode="complete")
    got = {(r["d"], r["b"]): r["c"] for r in spark.table("cm_counters").collect()}

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("text")
    tok = outer_explode(
        docs, F.split(F.trim(F.col("text")), r"\s+"), "w"
    ).filter(F.col("w") != "")
    want = {(r["d"], r["b"]): r["c"] for r in cm_counter_table(tok).collect()}
    assert got == want

    # estimates from the DRAINED table upper-bound the exact batch counts
    exact = tok.groupBy("w").agg(F.count(F.lit(1)).alias("n"))
    probes = exact.select(
        "w", "n", *[_cm_bucket_expr(d, F.col("w")).alias(f"b{d}") for d in range(_CM_D)]
    ).collect()
    for r in probes:
        est = min(got[(d, r[f"b{d}"])] for d in range(_CM_D))
        assert est >= r["n"]


def test_session_close_stream_timeout_and_gap(spark, tmp_path):
    """session_close_stream emits EXACTLY the closed sessions: an in-batch
    gap close, then an EventTimeTimeout close once a later batch's watermark
    passes the open session's gap — the timeout path NoTimeout stages never
    exercise. Sessions still within the watermark horizon stay open and are
    never emitted."""
    import os
    import time as _time

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from legate_pandas_spark.streaming import session_close_stream

    t0 = pd.Timestamp("2024-01-01 00:00:00")

    def write(path, rows, mtime):
        pdf = pd.DataFrame(
            rows, columns=["event_id", "ts", "user_id", "event_type", "value"]
        )
        pdf["props"] = "{}"
        tbl = pa.Table.from_pandas(pdf, preserve_index=False).set_column(
            1, "ts", pa.array(pdf["ts"], type=pa.timestamp("us"))
        )
        pq.write_table(tbl, path)
        os.utime(path, (mtime, mtime))

    d = tmp_path / "sess_stream"
    d.mkdir()
    m = _time.time()
    # batch 1: user 1 — gap close inside the batch, then an open tail
    write(
        d / "f1.parquet",
        [
            (1, t0, 1, "click", 1.0),
            (2, t0 + pd.Timedelta(minutes=10), 1, "click", 2.0),
            (3, t0 + pd.Timedelta(minutes=50), 1, "click", 4.0),
        ],
        m - 20,
    )
    # batch 2: user 2 far in the future — advances the watermark
    write(d / "f2.parquet", [(4, t0 + pd.Timedelta(hours=10), 2, "view", 1.0)], m - 10)
    # batch 3: user 3 even later — triggers user 1's timeout close
    write(d / "f3.parquet", [(5, t0 + pd.Timedelta(hours=20), 3, "view", 1.0)], m)

    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    )
    events = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    stream = session_close_stream(events)
    q = (
        stream.writeStream.format("memory")
        .queryName("closed_sessions")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = (
        spark.table("closed_sessions")
        .toPandas()
        .sort_values(["user_id", "session_start"])
        .reset_index(drop=True)
    )
    # three closed sessions: user 1's gap close + timeout close, and user 2's
    # timeout close (the final watermark t0+18h passes its t0+10h30m gap via
    # Spark's no-data batch); user 3 (timeout t0+20h30m) stays OPEN — never
    # emitted
    assert list(got.user_id) == [1, 1, 2]
    assert list(got.n_events) == [2, 1, 1]
    assert list(got.total_value) == [3.0, 4.0, 1.0]
    assert got.session_start.iloc[0] == t0
    assert got.session_end.iloc[0] == t0 + pd.Timedelta(minutes=10)
    assert got.session_start.iloc[1] == t0 + pd.Timedelta(minutes=50)
    assert got.session_end.iloc[1] == t0 + pd.Timedelta(minutes=50)
    assert got.session_start.iloc[2] == t0 + pd.Timedelta(hours=10)
    assert 3 not in set(got.user_id)


def test_session_close_stream_straggler_never_regresses_end(spark, tmp_path):
    """A watermark-valid straggler in a LATER batch (contract violation) must
    join the open session WITHOUT regressing its end — the monotonic-last
    guard; no emitted session may ever have session_end < session_start."""
    import os
    import time as _time

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from legate_pandas_spark.streaming import session_close_stream

    t0 = pd.Timestamp("2024-01-01 00:00:00")

    def write(path, rows, mtime):
        pdf = pd.DataFrame(
            rows, columns=["event_id", "ts", "user_id", "event_type", "value"]
        )
        pdf["props"] = "{}"
        tbl = pa.Table.from_pandas(pdf, preserve_index=False).set_column(
            1, "ts", pa.array(pdf["ts"], type=pa.timestamp("us"))
        )
        pq.write_table(tbl, path)
        os.utime(path, (mtime, mtime))

    d = tmp_path / "sess_straggler"
    d.mkdir()
    m = _time.time()
    # batch 1: user 1 at t0 and t0+20min (one open session)
    write(
        d / "f1.parquet",
        [(1, t0, 1, "click", 1.0), (2, t0 + pd.Timedelta(minutes=20), 1, "click", 1.0)],
        m - 20,
    )
    # batch 2: a straggler at t0+10min (before last=t0+20min, watermark-valid)
    write(d / "f2.parquet", [(3, t0 + pd.Timedelta(minutes=10), 1, "click", 1.0)], m - 10)
    # batch 3: far-future user 2 advances the watermark; user 1 times out
    write(d / "f3.parquet", [(4, t0 + pd.Timedelta(hours=30), 2, "view", 1.0)], m)

    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    )
    events = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    stream = session_close_stream(events)
    q = (
        stream.writeStream.format("memory")
        .queryName("straggler_sessions")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("straggler_sessions").toPandas()
    u1 = got[got.user_id == 1]
    # one closed session; the straggler joined it (n=3) and did NOT regress
    # the end below the start or below the prior last
    assert len(u1) == 1
    assert int(u1.n_events.iloc[0]) == 3
    assert u1.session_start.iloc[0] == t0
    assert u1.session_end.iloc[0] == t0 + pd.Timedelta(minutes=20)
    assert (got.session_end >= got.session_start).all()


def test_scd2_change_capture_straggler_versioned_in_arrival_order(spark, tmp_path):
    """ADVICE r9: pin the DOCUMENTED contract for a within-watermark straggler
    landing in a later micro-batch — it is versioned in ARRIVAL order (as any
    single-pass CDC reader would), diverging from the batch
    scd2_user_type_history, which sorts globally and would fold the straggler
    into its earlier run (2 versions, not 3)."""
    import os
    import time as _time

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from legate_pandas_spark.streaming import scd2_change_capture_stream

    t0 = pd.Timestamp("2024-01-01 00:00:00")

    def write(path, rows, mtime):
        pdf = pd.DataFrame(
            rows, columns=["event_id", "ts", "user_id", "event_type", "value"]
        )
        pdf["props"] = "{}"
        tbl = pa.Table.from_pandas(pdf, preserve_index=False).set_column(
            1, "ts", pa.array(pdf["ts"], type=pa.timestamp("us"))
        )
        pq.write_table(tbl, path)
        os.utime(path, (mtime, mtime))

    d = tmp_path / "scd2_straggler"
    d.mkdir()
    m = _time.time()
    # batch 1: type a@t0, type b@t0+20min -> versions 1 (a) and 2 (b)
    write(
        d / "f1.parquet",
        [(1, t0, 1, "a", 1.0), (2, t0 + pd.Timedelta(minutes=20), 1, "b", 1.0)],
        m - 10,
    )
    # batch 2: straggler a@t0+10min (watermark-valid, ts < prior last) ->
    # arrival-order CDC sees b -> a, a THIRD version stamped at the
    # straggler's own event time
    write(d / "f2.parquet", [(3, t0 + pd.Timedelta(minutes=10), 1, "a", 1.0)], m)

    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    )
    events = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    stream = scd2_change_capture_stream(events)
    q = (
        stream.writeStream.format("memory")
        .queryName("scd2_straggler")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = (
        spark.table("scd2_straggler")
        .toPandas()
        .sort_values("version")
        .reset_index(drop=True)
    )
    assert list(got.version) == [1, 2, 3]
    assert list(got.event_type) == ["a", "b", "a"]
    assert got.valid_from.iloc[2] == t0 + pd.Timedelta(minutes=10)
