"""Streaming corpus-curation pipeline: the continuous-ingest twin of the batch
curation operators (operators/curation.py, textops.py) — documents arrive as
files, get quality-scored and PII-scrubbed statelessly, and exact-deduped with
watermark-bounded state.

Scale notes: the stateless stage is pure Catalyst projection per micro-batch
(identical plan to batch — whole-stage codegen, no state). The dedup stage
keys state by content digest; with ingest-time watermarking the state store
evicts digests older than the horizon, bounding memory at (arrival rate ×
watermark), the standard streaming-dedup sizing. The ingest time is rounded
up to a tick of a tenth of the horizon, so every digest is held for at least
the horizon and evicted at tick granularity. The tick is there because the
watermark follows the newest ingest time: on the raw clock it advances on
every trigger, and each advance makes Spark run an extra no-data micro-batch
to evict state; on the tick it advances, and that batch runs, once per tick.
No reference analog (batch-only engine)."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

DOCUMENTS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
        StructField("n_chars", LongType()),
    ]
)

_EMAIL = r"[a-z0-9._]+@[a-z0-9.-]+\.[a-z]+"


def stream_documents(spark: SparkSession, directory: str) -> DataFrame:
    """File-source stream over a directory of documents parquet files."""
    return spark.readStream.schema(DOCUMENTS_SCHEMA).parquet(directory)


def quality_scrub_stream(docs: DataFrame) -> DataFrame:
    """Stateless curation stage: token/repetition quality signals + email
    scrub, computed per micro-batch with the exact expressions of the batch
    path (streaming/batch parity is testable column-for-column)."""
    toks = F.filter(F.split(F.trim("text"), r"\s+"), lambda w: w != F.lit(""))
    return docs.select(
        "doc_id",
        "lang",
        "source",
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.round(
            F.size(F.array_distinct(toks)) * F.lit(1.0) / F.nullif(F.size(toks), F.lit(0)), 4
        ).alias("distinct_ratio"),
        F.md5(F.regexp_replace(F.col("text"), _EMAIL, "<EMAIL>")).alias("scrubbed_md5"),
    )


_INTERVAL_UNIT_US = {
    "microsecond": 1,
    "millisecond": 1_000,
    "second": 1_000_000,
    "minute": 60_000_000,
    "hour": 3_600_000_000,
    "day": 86_400_000_000,
    "week": 7 * 86_400_000_000,
    "month": 31 * 86_400_000_000,  # as Spark sizes a watermark delay
    "year": 12 * 31 * 86_400_000_000,
}


def ingest_tick_us(watermark: str) -> int:
    """The dedup stream's ingest tick for a watermark horizon such as
    ``"10 minutes"``, in microseconds: a tenth of the horizon (1 minute for
    ``"10 minutes"``, 6 minutes for ``"1 hour"``). Accepts the unit words of
    Spark's interval strings, which ``withWatermark`` parses."""
    words = watermark.lower().split()
    if words[:1] == ["interval"]:
        words = words[1:]
    units = [u.removesuffix("s") for u in words[1::2]]
    if not units or len(words) % 2 or not set(units) <= _INTERVAL_UNIT_US.keys():
        raise ValueError(f"not a watermark interval: {watermark!r}")
    horizon = sum(float(n) * _INTERVAL_UNIT_US[u] for n, u in zip(words[::2], units))
    return max(1, round(horizon) // 10)


def ceil_to_ingest_tick(ts: Column, watermark: str) -> Column:
    """``ts`` rounded up to the next multiple of ``ingest_tick_us(watermark)``
    since the epoch; a timestamp on a tick boundary maps to itself."""
    us = F.unix_micros(ts)
    return F.timestamp_micros(us + F.pmod(-us, F.lit(ingest_tick_us(watermark))))


def corpus_dedup_stream(docs: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Streaming exact dedup on the content digest. State is bounded by an
    ingest-time watermark: a digest is held for at least the horizon to catch
    its duplicates (dropDuplicatesWithinWatermark), after which the state store
    evicts it — the standard arrival-rate × horizon sizing.

    ``ingest_ts`` is the trigger time rounded *up* to the ingest tick (a tenth
    of the horizon), so eviction happens at tick granularity. Rounding up
    never evicts a digest earlier than the raw clock would, and a new row is
    never behind the watermark, so no row is dropped as late. The tick keeps
    the watermark still between tick boundaries: on the raw clock it moves on
    every trigger, and Spark follows each move with a no-data micro-batch
    that only evicts state."""
    keyed = docs.select(
        "doc_id",
        F.md5(F.col("text")).alias("digest"),
        ceil_to_ingest_tick(F.current_timestamp(), watermark).alias("ingest_ts"),
    )
    return keyed.withWatermark("ingest_ts", watermark).dropDuplicatesWithinWatermark(
        ["digest"]
    )


_BLOOM_SHARDS = 64
_BLOOM_SHARD_BITS = 1 << 16  # 8 KiB of state per shard
_BLOOM_K = 3  # hash functions per digest


def _bloom_batch(bm, pdf):
    """Pure sharded-Bloom batch core (shared by the streaming update fn and
    the FP-rate property test): given a shard bitmap ``bm`` (uint8 numpy
    array, mutated in place) and a batch frame with position columns
    p0..p{k-1}, return the probable-duplicate flag per row. A row is flagged
    iff its bits were all set BEFORE the batch (bitmap hit) OR an earlier row
    of this batch carries the same position triple (pandas ``duplicated``
    keeps the first occurrence False) — order-equivalent to a row loop, fully
    vectorized. No false negatives by construction: flags are read before any
    bit of the batch is set."""
    import numpy as np

    hit = np.ones(len(pdf), dtype=bool)
    for i in range(_BLOOM_K):
        p = pdf[f"p{i}"].to_numpy()
        hit &= (bm[p >> 3] & (1 << (p & 7)).astype(np.uint8)) != 0
    intra = pdf.duplicated(subset=[f"p{i}" for i in range(_BLOOM_K)]).to_numpy()
    flags = hit | intra
    for i in range(_BLOOM_K):
        p = pdf[f"p{i}"].to_numpy()
        np.bitwise_or.at(bm, p >> 3, (1 << (p & 7)).astype(np.uint8))
    return flags


def bloom_dedup_stream(docs: DataFrame) -> DataFrame:
    """Streaming near-exact dedup with SHARDED Bloom-filter state — the
    streaming face of the batch ``bloom_prefilter_decontaminate`` technique.

    Exact streaming dedup (dropDuplicatesWithinWatermark / corpus_dedup_stream)
    keeps one state row PER DIGEST — at web scale that is the corpus in the
    state store. Here state is O(1): the content-digest keyspace is hashed
    into {shards} groups and each group's entire memory is one {bits}-bit
    Bloom bitmap (8 KiB) in applyInPandasWithState state — total state is
    shards × 8 KiB regardless of how many documents stream through. A doc
    whose k=3 bits are all already set is flagged a PROBABLE duplicate
    (false-positive rate set by bits/expected-docs-per-shard; no false
    negatives), others set their bits and pass as new. Bit positions come
    from JVM-side xxhash64 columns, so the Python hop only does numpy bit
    arithmetic.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        BinaryType,
        BooleanType,
        IntegerType,
    )

    digest = F.md5(F.col("text"))
    # null text yields null hash positions, which would crash the numpy bit
    # arithmetic as float NaN — null-content rows carry nothing to dedup
    docs = docs.filter(F.col("text").isNotNull())
    keyed = docs.select(
        "doc_id",
        F.pmod(F.xxhash64(digest), F.lit(_BLOOM_SHARDS)).cast("int").alias("shard"),
        *[
            F.pmod(F.xxhash64(digest, F.lit(i)), F.lit(_BLOOM_SHARD_BITS))
            .cast("long")
            .alias(f"p{i}")
            for i in range(_BLOOM_K)
        ],
    )

    out_schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("probable_dup", BooleanType()),
        ]
    )
    state_schema = StructType(
        [StructField("bm", BinaryType()), StructField("n_seen", IntegerType())]
    )

    def update(key, pdf_iter, state: GroupState):
        if state.exists:
            bm_bytes, n_seen = state.get
            bm = np.frombuffer(bm_bytes, dtype=np.uint8).copy()
        else:
            bm = np.zeros(_BLOOM_SHARD_BITS // 8, dtype=np.uint8)
            n_seen = 0
        outs = []
        for pdf in pdf_iter:
            pdf = pdf.sort_values("doc_id").reset_index(drop=True)
            flags = _bloom_batch(bm, pdf)
            n_seen += int((~flags).sum())
            outs.append(
                pd.DataFrame(
                    {"doc_id": pdf["doc_id"].astype("int64"), "probable_dup": flags}
                )
            )
        state.update((bm.tobytes(), int(n_seen)))
        yield pd.concat(outs) if outs else pd.DataFrame(
            {"doc_id": pd.Series(dtype="int64"),
             "probable_dup": pd.Series(dtype="bool")}
        )

    return keyed.groupBy("shard").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def incremental_dedup_stream(docs: DataFrame, store: DataFrame) -> DataFrame:
    """Streaming twin of operators/dedup.dedup_incremental_shard: flag each
    arriving document against a STATIC corpus signature store via
    stream-static joins (Structured Streaming re-reads the static side per
    micro-batch; broadcast-hint it because a digest store is join-key-narrow).

    ``store`` schema: (h string) — the corpus digest table (in production a
    persisted parquet the batch pipeline appends survivors to). Output: one
    row per arriving doc with ``is_exact_dup``; a doc that is NOT flagged can
    be appended to the store by the sink. Near-dup banding stays in the batch
    path: streaming marks exact hits cheaply (O(1) per doc against the
    store's hash index), the nightly batch job runs the band+verify pass over
    the day's survivors — the standard split of a production ingest loop."""
    digests = docs.select(
        "doc_id",
        "source",
        F.md5(F.col("text")).alias("h"),
    )
    hit = F.broadcast(store.select(F.col("h"), F.lit(True).alias("__in_store__")))
    return digests.join(hit, "h", "left").select(
        "doc_id",
        "source",
        "h",
        F.coalesce(F.col("__in_store__"), F.lit(False)).alias("is_exact_dup"),
    )


EMBEDDINGS_SCHEMA = StructType(
    [
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(DoubleType())),
        StructField("label", StringType()),
    ]
)


def stream_embeddings(spark: SparkSession, directory: str) -> DataFrame:
    """File-source stream over a directory of embeddings parquet files."""
    return spark.readStream.schema(EMBEDDINGS_SCHEMA).parquet(directory)


def pq_encode_stream(embs: DataFrame, codebook: list) -> DataFrame:
    """Streaming twin of ann_pq_topk's ENCODE stage: compress each arriving
    embedding to its M product-quantization codes against a codebook trained
    by the batch job (operators/similarity.ann_pq_topk / _pq_train).

    ``codebook`` is the collected cent1 rows [(m, cid, pos, c), ...] — 512
    doubles, compiled into PLAIN PLAN CONSTANTS: per (subspace, centroid) the
    squared distance is one fold over zip_with(slice(embedding), literal
    centroid array), and the code is array_position of the minimum — first
    match wins ties, matching the batch argmin's (d, cid) tiebreak because
    the candidate array is ordered by cid. Completely STATELESS (no
    aggregation, no watermark, no state store): the legal-everywhere
    streaming shape, one row in → one row out, whole-stage codegen."""
    by_mc: dict = {}
    for m, cid, pos, c in codebook:
        by_mc.setdefault((int(m), int(cid)), {})[int(pos)] = float(c)
    ms = sorted({k[0] for k in by_mc})
    # subspace width from the pos span of subspace 0
    pos0 = sorted(p for (m, _), d in by_mc.items() if m == 0 for p in d)
    sub_size = pos0[-1] - pos0[0] + 1

    code_cols = []
    for m in ms:
        cids = sorted(c for (mm, c) in by_mc if mm == m)
        dists = []
        for cid in cids:
            dim_map = by_mc[(m, cid)]
            cvec = F.array(
                *[F.lit(dim_map[p]) for p in sorted(dim_map)]
            )
            seg = F.slice(F.col("embedding"), m * sub_size + 1, sub_size)
            diff = F.zip_with(seg, cvec, lambda x, y: (x - y) * (x - y))
            dists.append(
                F.round(F.aggregate(diff, F.lit(0.0), lambda a, v: a + v), 6)
            )
        arr = F.array(*dists)
        # Map the argmin POSITION back to the actual centroid id: a trained
        # codebook can have empty clusters (cids non-contiguous after Lloyd
        # iterations), so position-1 != cid in general and the batch assign()
        # emits cids, not positions.
        cid_arr = F.array(*[F.lit(int(c)) for c in cids])
        code = F.element_at(
            cid_arr, F.array_position(arr, F.array_min(arr)).cast("int")
        )
        code_cols.append(code.cast("int").alias(f"code_{m}"))
    return embs.select("vec_id", "label", *code_cols)


def dsir_score_stream(docs: DataFrame, model: dict, default_lam: int) -> DataFrame:
    """Streaming twin of dsir_importance_resample's SCORING stage: weigh each
    arriving document against a DSIR feature model trained by the batch job
    (operators/curation.dsir_train_model) — the batch->stream handoff pattern
    shared with pq_encode_stream (model as plan constants).

    The B=2048 integer logits compile into ONE literal array indexed by the
    md5 feature bucket; per-document log-weight is a fold over the token/
    bigram feature array (exact integer arithmetic, same values as the batch
    scorer bit-for-bit). Completely STATELESS — no aggregation, watermark, or
    state store; one row in -> one row out, so it runs at any scale as a map
    stage over the ingest stream."""
    from legate_pandas_spark.operators.curation import (
        _DSIR_B,
        _dsir_bucket_expr,
        _dsir_features_expr,
        _dsir_gumbel_expr,
        _dsir_tokens_expr,
    )

    lam_arr = F.array(
        *[F.lit(int(model.get(b, default_lam))) for b in range(_DSIR_B)]
    )
    feats = _dsir_features_expr(_dsir_tokens_expr(F.col("text")))
    per_g = F.transform(
        feats,
        lambda g: F.element_at(lam_arr, (_dsir_bucket_expr(g) + 1).cast("int")),
    )
    # null text null-propagates through split/transform -> aggregate(NULL)
    # is NULL; the batch scorer scores such documents 0 (no feature rows,
    # coalesce'd sum) — match it
    logw = F.coalesce(
        F.aggregate(per_g, F.lit(0).cast("bigint"), lambda acc, v: acc + v),
        F.lit(0).cast("bigint"),
    )
    return docs.select(
        "doc_id",
        logw.alias("logw_micro"),
        (logw + _dsir_gumbel_expr(F.col("doc_id"))).cast("bigint").alias(
            "score_micro"
        ),
    )


def gopher_filter_stream(docs: DataFrame) -> DataFrame:
    """Streaming twin of the Gopher corpus-filter stage (round-9): tag each
    arriving document with the six-rule pass verdict using the EXACT batch
    expressions (operators/textops.gopher_metric_exprs), so the ingest loop
    can route documents before they ever land in the corpus store. Completely
    STATELESS — pure per-row expressions, one row in -> one row out; the
    per-language attrition aggregate stays in the nightly batch job
    (gopher_quality_rules), the same ingest/batch split as
    incremental_dedup_stream."""
    from legate_pandas_spark.operators.textops import (
        gopher_metric_exprs,
        gopher_pass_all_expr,
    )

    me = gopher_metric_exprs(F.col("text"))
    return docs.select(
        "doc_id",
        "lang",
        "source",
        me["nw"].cast("bigint").alias("n_words"),
        me["mwl"].alias("mean_word_len"),
        me["af"].alias("alpha_word_frac"),
        gopher_pass_all_expr(F.col("text")).alias("pass_gopher"),
    )


def dsir_model_counts_stream(docs: DataFrame) -> DataFrame:
    """ONLINE refresh of the DSIR feature model (round-9): a streaming
    aggregate of per-bucket feature counts — raw corpus count and target
    (lang='en') count per md5 bucket — from which the batch logit formula
    (dsir_train_model) derives the model at any trigger. State is BOUNDED BY
    DESIGN at B=2048 rows (the bucket space), so this runs in update/complete
    mode with no watermark and never grows: the streaming-legal way to keep
    an importance-resampling model fresh as the corpus ingests, instead of
    re-training from a full batch scan.

    Uses the EXACT batch tokenizer/feature/bucket expressions
    (operators/curation), so counts drained over the same files equal the
    batch rawc/tgtc tables row-for-row (parity-pinned)."""
    from legate_pandas_spark.operators.curation import (
        _dsir_bucket_expr,
        _dsir_features_expr,
        _dsir_tokens_expr,
    )

    feats = docs.select(
        "lang",
        F.explode(_dsir_features_expr(_dsir_tokens_expr(F.col("text")))).alias(
            "g"
        ),
    )
    return (
        feats.select("lang", _dsir_bucket_expr(F.col("g")).alias("b"))
        .groupBy("b")
        .agg(
            F.count(F.lit(1)).alias("cr"),
            F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
            .cast("long")
            .alias("ct"),
        )
    )


def build_lsh_index(docs: DataFrame) -> DataFrame:
    """Build the static near-dup BAND INDEX a streaming detector joins
    against: one row per (band_idx, band_key, match_id) with the full 8-slot
    minhash signature carried alongside — the batch side of the
    ``lsh_neardup_stream`` handoff, computed with the EXACT batch minhash
    machinery (operators/dedup: 3-gram shingles, 2 md5 digests x 4 slices,
    4 bands of 2). In production this is a parquet table the nightly dedup
    job maintains, partitioned/bucketed by (band_idx, band_key) so the
    stream-static join is an index lookup, not a scan."""
    from legate_pandas_spark.operators.dedup import N_MINHASH, _band_table

    mh = _corpus_minhash(docs).withColumn(
        "match_sig", F.array(*[F.col(f"mh{i}") for i in range(N_MINHASH)])
    )
    return _band_table(mh, carry=["match_sig"]).select(
        F.col("doc_id").alias("match_id"), "band_idx", "band_key", "match_sig"
    )


def _corpus_minhash(docs: DataFrame) -> DataFrame:
    """Batch minhash signature frame (doc_id, mh0..mh7): the shared
    shingle→signature prefix of build_lsh_index and build_signature_store
    (exactly dedup's explode/groupBy machinery — ONE definition so the two
    stores can never drift from each other or from the batch dedup path)."""
    from legate_pandas_spark.operators import outer_explode
    from legate_pandas_spark.operators.dedup import (
        _minhash_signatures,
        shingles_col,
        tokens_col,
    )

    tokenized = docs.select("doc_id", tokens_col().alias("_toks"))
    sh = outer_explode(
        tokenized.filter(F.size("_toks") >= 3),
        shingles_col(F.col("_toks")),
        "s",
        "doc_id",
    )
    return _minhash_signatures(sh)


def _row_minhash_sig(docs: DataFrame, *keep: str, guard: bool = False) -> DataFrame:
    """Per-row minhash signature — the SAME values as the batch
    explode/groupBy signature (parity-pinned), computed as pure array
    expressions so a streaming stage needs no aggregation state. Returns
    ``keep`` columns + ``sig`` (array of 8 8-hex slots). ``guard=False``
    drops docs with < 3 tokens (the batch shingle cutoff — they produce no
    signature); ``guard=True`` keeps them with null slots (null propagates
    through the expression chain, so consumers concat to a null string).
    Shared by lsh_neardup_stream and ingest_tag_stream — one definition of
    the signature, like _corpus_minhash on the batch side."""
    from legate_pandas_spark.operators.dedup import shingles_col, tokens_col

    # materialize the token array once per row BEFORE the shingle lambda
    # (the _doc_shingles discipline): referencing the split expression inside
    # the HOF lambda re-splits the text per element in interpreted eval —
    # O(tokens^2) regex work per document (r12: measured 1.6s of
    # ingest_tag_report's 2.4s was exactly this)
    tokenized = docs.select(*keep, tokens_col(F.col("text")).alias("_toks"))
    toks = F.col("_toks")
    if guard:
        shingled = tokenized.select(
            *keep, F.when(F.size(toks) >= 3, shingles_col(toks)).alias("_sh")
        )
    else:
        shingled = tokenized.where(F.size(toks) >= 3).select(
            *keep, shingles_col(toks).alias("_sh")
        )
    hashed = shingled.select(
        *keep,
        F.transform(
            F.col("_sh"), lambda s: F.md5(F.concat(F.lit("0|"), s))
        ).alias("_h0"),
        F.transform(
            F.col("_sh"), lambda s: F.md5(F.concat(F.lit("1|"), s))
        ).alias("_h1"),
    )

    # NB: the slice lambda must stay UNARY — F.transform treats a binary
    # lambda as (element, index) and would silently rebind the slot offset
    def _slot(col: str, j: int) -> Column:
        return F.array_min(
            F.transform(F.col(col), lambda x: F.substring(x, 8 * j + 1, 8))
        )

    slots = [_slot(f"_h{k}", j) for k in (0, 1) for j in range(4)]
    return hashed.select(*keep, F.array(*slots).alias("sig"))


def lsh_neardup_stream(docs: DataFrame, index: DataFrame) -> DataFrame:
    """Streaming NEAR-dup detection against a static corpus band index — the
    stage incremental_dedup_stream's docstring leaves to the nightly batch
    job, made streaming-legal: each arriving document is minhashed PER ROW
    (pure array expressions — no explode/groupBy, so the signature needs no
    aggregation state) and its 4 LSH band keys are joined against the
    ``build_lsh_index`` table. Stream-static equi-joins are STATELESS in
    Structured Streaming (the static side is re-read per micro-batch), so the
    whole stage runs without a state store or watermark at any scale.

    Per-row minhash == batch minhash by construction: the batch path explodes
    distinct shingles and takes min(substring(md5)) per slot; here the same
    min runs over the in-row shingle array (array_min over transform), same
    values bit-for-bit (parity-pinned). Docs with < 3 tokens have no shingles
    in the batch path and produce no candidates here.

    Output: one row per colliding (arriving doc, index doc, band) with the
    signature-agreement Jaccard estimate (matching slots / 8). A pair
    colliding in several bands appears once per band; exactly-once pair
    reporting belongs to the consumer (dropDuplicatesWithinWatermark on
    (doc_id, match_id), the corpus_dedup_stream pattern) so this stage stays
    state-free. At 100 TB the index side is corpus-scale: persist it
    bucketed by (band_idx, band_key) and the per-batch join prunes to the
    arriving keys' buckets."""
    from legate_pandas_spark.operators.dedup import N_BANDS, N_MINHASH

    sig = _row_minhash_sig(docs, "doc_id")
    band_arr = F.array(
        *[
            F.concat(
                F.element_at(F.col("sig"), 2 * b + 1),
                F.element_at(F.col("sig"), 2 * b + 2),
            )
            for b in range(N_BANDS)
        ]
    )
    # posexplode_OUTER + output-null filter (the outer_explode discipline):
    # a plain generator lets InferFiltersFromGenerate push a size/isnotnull
    # predicate below the projections, re-evaluating the whole md5 signature
    # chain at the scan; band_arr is always 4 non-null keys, so the outer
    # form is semantically identical
    bands = sig.select(
        "doc_id",
        "sig",
        F.posexplode_outer(band_arr).alias("band_idx", "band_key"),
    ).filter(F.col("band_key").isNotNull())
    agree = F.aggregate(
        F.zip_with(
            F.col("sig"),
            F.col("match_sig"),
            lambda a, b: F.when(a == b, 1).otherwise(0),
        ),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return (
        bands.join(index, ["band_idx", "band_key"])
        .where(F.col("doc_id") != F.col("match_id"))
        .select(
            "doc_id",
            "match_id",
            "band_idx",
            F.round(agree / F.lit(float(N_MINHASH)), 4).alias("est_jaccard"),
        )
    )


def build_signature_store(docs: DataFrame) -> DataFrame:
    """Distinct full minhash signatures of the corpus — the static side of
    ``ingest_tag_stream``'s signature-near-dup flag (one 64-hex string per
    distinct signature; at 100 TB a parquet table the nightly dedup job
    maintains, like build_lsh_index's band table)."""
    from legate_pandas_spark.operators.dedup import N_MINHASH

    # straight off the signature aggregate — routing through the band table
    # (build_lsh_index) would UNION 4 copies of the minhash subtree (one per
    # band) just to distinct them away again
    return (
        _corpus_minhash(docs)
        .select(
            F.concat(*[F.col(f"mh{i}") for i in range(N_MINHASH)]).alias(
                "sig_str"
            )
        )
        .distinct()
        .withColumn("__sig_hit__", F.lit(True))
    )


def ingest_tag_stream(
    docs: DataFrame, digest_store: DataFrame, sig_store: DataFrame
) -> DataFrame:
    """The COMPOSED ingest tagging pass: everything a production corpus
    ingest loop wants to know about an arriving document, in ONE stateless
    stream stage — quality signals + Gopher rule verdict (shared batch
    expressions), exact-dup flag against the static digest store
    (incremental_dedup_stream's join), and a signature-near-dup flag: the
    document's per-row minhash signature (lsh_neardup_stream's machinery,
    collapsed to a single 64-hex string) looked up in the static signature
    store — signature identity is the est_jaccard = 1.0 tier of the band
    detector, and a single equi-join keeps the stage one-row-in/one-row-out
    (band-level candidates stay in lsh_neardup_stream, whose output is
    pair-granular). Documents with < 3 tokens have no signature (null
    propagates through the expression chain) and flag false, matching the
    batch path that drops them before shingling.

    Stateless end to end: pure per-row expressions + two stream-static LEFT
    joins against broadcast-hinted stores — no state store, no watermark, so
    it runs at ingest rate at any scale; routing decisions (drop, quarantine,
    append-to-store) belong to the sink."""
    from legate_pandas_spark.operators.dedup import N_MINHASH
    from legate_pandas_spark.operators.textops import (
        gopher_metric_exprs,
        gopher_pass_all_expr,
    )

    sig = _row_minhash_sig(docs, "doc_id", "lang", "source", "text", guard=True)
    # guarded short docs have null slots -> concat null-propagates to a null
    # sig_str -> the left join misses -> flag false, the batch cutoff
    sig_str = F.concat(
        *[F.element_at(F.col("sig"), i + 1) for i in range(N_MINHASH)]
    )
    me = gopher_metric_exprs(F.col("text"))
    tagged = sig.select(
        "doc_id",
        "lang",
        "source",
        F.md5("text").alias("_digest"),
        sig_str.alias("sig_str"),
        me["nw"].cast("bigint").alias("n_words"),
        gopher_pass_all_expr(F.col("text")).alias("pass_gopher"),
    )
    dhit = F.broadcast(
        digest_store.select(
            F.col("h").alias("_digest"), F.lit(True).alias("__d_hit__")
        )
    )
    shit = F.broadcast(sig_store)
    return (
        tagged.join(dhit, "_digest", "left")
        .join(shit, "sig_str", "left")
        .select(
            "doc_id",
            "lang",
            "source",
            "n_words",
            "pass_gopher",
            F.coalesce(F.col("__d_hit__"), F.lit(False)).alias("is_exact_dup"),
            F.coalesce(F.col("__sig_hit__"), F.lit(False)).alias(
                "is_sig_neardup"
            ),
        )
    )


def perplexity_score_stream(docs: DataFrame, cp: list, cc: list) -> DataFrame:
    """Streaming twin of perplexity_lm_filter's SCORING stage: score each
    arriving document under the hashed-bigram LM trained by the batch job
    (operators/curation.perplexity_train_model) — CCNet's "score at crawl
    time" deployment. The two dense count arrays (8192 pair + 2048 context
    buckets) compile into TWO array literals; the per-document score is a
    fold over the bigram index range computing the same
    round(1e6·ln((cp+1)/(cc+V))) integer logit as the batch scorer, so the
    sums agree bit-for-bit (exact integer arithmetic both sides).

    Completely STATELESS — no aggregation, watermark, or state store; one
    row in -> one row out. The corpus-relative keep decision (doc average
    vs corpus average) stays in the nightly batch job by design: a stream
    cannot know the corpus average, so the stream emits the raw integer
    score for the router to threshold against the last batch model's
    published average."""
    from legate_pandas_spark.operators.curation import (
        _PPL_BC,
        _PPL_BP,
        _ppl_bucket,
        _dsir_tokens_expr,
    )

    cp_arr = F.lit([int(x) for x in cp])
    cc_arr = F.lit([int(x) for x in cc])
    toks = _dsir_tokens_expr(F.col("text"))
    pairs = F.when(
        F.size(toks) >= 2,
        F.zip_with(
            F.slice(toks, 1, F.size(toks) - 1),
            F.slice(toks, 2, F.size(toks) - 1),
            lambda a, b: F.struct(a.alias("p"), b.alias("w")),
        ),
    ).otherwise(F.array().cast("array<struct<p:string,w:string>>"))

    def lam(pw):
        cpv = F.element_at(
            cp_arr,
            (_ppl_bucket(F.concat_ws("_", pw["p"], pw["w"]), _PPL_BP) + 1).cast(
                "int"
            ),
        )
        ccv = F.element_at(
            cc_arr, (_ppl_bucket(pw["p"], _PPL_BC) + 1).cast("int")
        )
        return F.round(
            F.lit(1000000.0)
            * F.log((cpv + 1) * F.lit(1.0) / (ccv + F.lit(_PPL_BP)))
        ).cast("bigint")

    per_pair = F.transform(pairs, lam)
    # null text null-propagates -> aggregate(NULL) is NULL; the batch scorer
    # scores such documents (0, 0) — match it
    logprob = F.coalesce(
        F.aggregate(per_pair, F.lit(0).cast("bigint"), lambda acc, v: acc + v),
        F.lit(0).cast("bigint"),
    )
    n_big = F.coalesce(F.size(pairs).cast("bigint"), F.lit(0).cast("bigint"))
    return docs.select(
        "doc_id",
        n_big.alias("n_bigrams"),
        logprob.alias("logprob_micro"),
    )


def countmin_counters_stream(docs: DataFrame) -> DataFrame:
    """ONLINE count-min sketch maintenance: the d x w counter table as a
    streaming aggregate over the ingest stream's token explode. State is
    BOUNDED BY DESIGN at _CM_D * _CM_W (= 4096) rows — the whole point of the
    sketch: runs in update/complete mode with no watermark and never grows,
    and the drained counter table is mergeable across shards/streams by
    simple addition. Uses the EXACT batch expressions (mlstats._cm_db_structs
    via cm_counter_table), so counters drained over the same files equal the
    batch sketch row-for-row (parity-pinned)."""
    from legate_pandas_spark.operators import outer_explode
    from legate_pandas_spark.operators.mlstats import cm_counter_table

    tok = outer_explode(
        docs.select("text"), F.split(F.trim(F.col("text")), r"\s+"), "w"
    ).filter(F.col("w") != "")
    return cm_counter_table(tok)
