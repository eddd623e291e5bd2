"""Text-analysis operators for corpus curation (language ID, quality scoring,
token counting, fingerprinting, n-gram stats).

Extension surface beyond the reference's str accessor (SURVEY §2.8): everything
here is pure Catalyst expression work (regex + explode + hash aggregate) — no
Python UDFs in the hot path, so plans stay inside whole-stage codegen and scale
linearly with one shuffle per aggregation.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from legate_pandas_spark.operators import outer_explode, query
from legate_pandas_spark.sources.tables import load_table, memo, table_path

# Tiny per-language stopword lists for the n-gram/stopword language heuristic.
STOPWORDS = {
    "en": ["the", "a", "of", "to", "and", "is", "in"],
    "de": ["der", "die", "das", "und", "ist", "ein"],
    "es": ["el", "la", "de", "que", "y", "es"],
    "fr": ["le", "la", "les", "et", "est", "un"],
}

_BPE_ISH = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def _stopword_hits(lang: str):
    toks = F.split(F.trim(F.col("text")), r"\s+")
    words = STOPWORDS[lang]
    return F.size(F.filter(toks, lambda t: t.isin(*words)))


def _sql_stopword_hits(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return (
        "len(list_filter(string_split_regex(trim(text), '\\s+'), "
        f"t -> list_contains([{words}], t)))"
    )


@query(
    "lang_id_heuristic",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id, lang,
               {_sql_stopword_hits('en')} AS c_en,
               {_sql_stopword_hits('de')} AS c_de,
               {_sql_stopword_hits('es')} AS c_es,
               {_sql_stopword_hits('fr')} AS c_fr
        FROM documents
    )
    SELECT doc_id, lang AS labeled_lang,
           CAST(c_en AS BIGINT) AS c_en,
           CASE
             WHEN c_en >= c_de AND c_en >= c_es AND c_en >= c_fr AND c_en > 0 THEN 'en'
             WHEN c_de >= c_es AND c_de >= c_fr AND c_de > 0 THEN 'de'
             WHEN c_es >= c_fr AND c_es > 0 THEN 'es'
             WHEN c_fr > 0 THEN 'fr'
             ELSE 'unknown'
           END AS lang_pred
    FROM scored
    """,
)
def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-ratio language ID with a fixed precedence tie-break (en > de >
    es > fr). One pass, no shuffle — per-row array filter counts."""
    docs = load_table(spark, sf_dir, "documents")
    c = {lang: _stopword_hits(lang) for lang in ("en", "de", "es", "fr")}
    pred = (
        F.when((c["en"] >= c["de"]) & (c["en"] >= c["es"]) & (c["en"] >= c["fr"]) & (c["en"] > 0), "en")
        .when((c["de"] >= c["es"]) & (c["de"] >= c["fr"]) & (c["de"] > 0), "de")
        .when((c["es"] >= c["fr"]) & (c["es"] > 0), "es")
        .when(c["fr"] > 0, "fr")
        .otherwise("unknown")
    )
    return docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        c["en"].cast("long").alias("c_en"),
        pred.alias("lang_pred"),
    )


@query(
    "text_quality_score",
    oracle="""
    WITH t AS (
        SELECT doc_id,
               len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
               length(text) AS n_chars_txt,
               len(list_filter(string_split_regex(trim(text), '\\s+'),
                   x -> list_contains(['the','a','of','to','and','is','in'], x))) AS n_stop,
               len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS n_punct
        FROM documents
    )
    SELECT doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(n_chars_txt AS BIGINT) AS n_chars_txt,
           round(n_stop * 1.0 / n_tokens, 4)  AS stopword_ratio,
           round(n_punct * 1.0 / n_chars_txt, 4) AS punct_ratio,
           round((n_chars_txt - n_tokens + 1) * 1.0 / n_tokens, 4) AS avg_token_len,
           round(least(n_tokens / 100.0, 1.0) * (1.0 - n_punct * 1.0 / n_chars_txt), 4)
               AS quality_score
    FROM t
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality metrics: token count, stopword ratio, punctuation ratio,
    avg token length, and a combined [0,1] score — the standard pre-training
    corpus filters, all as Catalyst expressions.

    Left as ONE Project deliberately (r12 negative result): the repeated
    split/regex references across output columns are already shared by
    codegen subexpression elimination — a staged-projection variant
    measured 1.02x (no win) while paying an extra operator; staging only
    pays when the duplication is CSE-unreachable (inside lambda bodies or
    generator arguments, or a HOF result consumed by several columns)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    n_tokens = F.size(toks)
    n_chars_txt = F.length("text")
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS["en"])))
    n_punct = F.size(F.regexp_extract_all("text", F.lit(r"([^A-Za-z0-9\s])")))
    return docs.select(
        "doc_id",
        n_tokens.cast("long").alias("n_tokens"),
        n_chars_txt.cast("long").alias("n_chars_txt"),
        F.round(n_stop / n_tokens, 4).alias("stopword_ratio"),
        F.round(n_punct / n_chars_txt, 4).alias("punct_ratio"),
        F.round((n_chars_txt - n_tokens + 1) / n_tokens, 4).alias("avg_token_len"),
        F.round(
            F.least(n_tokens / F.lit(100.0), F.lit(1.0)) * (1.0 - n_punct / n_chars_txt), 4
        ).alias("quality_score"),
    )


@query(
    "token_count_bpe",
    oracle=f"""
    SELECT doc_id,
           CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS ws_tokens,
           CAST(len(regexp_extract_all(text, '{_BPE_ISH}')) AS BIGINT) AS bpe_ish_tokens,
           CAST(length(text) AS BIGINT) AS n_bytes
    FROM documents
    """,
)
def token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace split and a BPE-ish regex segmentation
    (letters / digits / single punctuation marks)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long").alias("ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(f"({_BPE_ISH})"))).cast("long").alias(
            "bpe_ish_tokens"
        ),
        F.length("text").cast("long").alias("n_bytes"),
    )


@query(
    "doc_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint,
           substr(md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')), 1, 4)
               AS fp_bucket
    FROM documents
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprint over whitespace-normalized lowercase text; the 4-hex
    prefix doubles as a shard/bucket key for distributed near-dup blocking."""
    docs = load_table(spark, sf_dir, "documents")
    normalized = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    fp = F.md5(normalized)
    return docs.select(
        "doc_id", fp.alias("fingerprint"), F.substring(fp, 1, 4).alias("fp_bucket")
    )


@query(
    "text_normalize_pipeline",
    oracle="""
    WITH t AS (
        SELECT doc_id,
               string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g')),
                                  '\\s+') AS toks
        FROM documents
    )
    SELECT doc_id,
           array_to_string(
               list_filter(toks, x -> NOT list_contains(
                   ['the','a','of','to','and','is','in'], x)), ' ') AS normalized,
           CAST(len(list_filter(toks, x -> NOT list_contains(
                   ['the','a','of','to','and','is','in'], x))) AS BIGINT) AS n_kept,
           CAST(len(toks) AS BIGINT) AS n_orig
    FROM t
    """,
)
def text_normalize_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus normalization pipeline: lowercase → strip non-alphanumerics →
    tokenize → stopword removal → re-join. The canonical dedup/training-prep
    preprocessing, entirely as JVM array expressions (zero UDFs).

    r12: staged projections — the single-Project form inlined the
    regex+split into every reference (the filter HOF is CodegenFallback,
    outside codegen subexpression elimination), evaluating the tokenize 3x
    and the stopword filter 2x per row. Materializing ``_toks`` then
    ``_kept`` as multi-referenced non-cheap aliases (CollapseProject keeps
    them un-inlined, the _row_minhash_sig discipline) evaluates each once."""
    docs = load_table(spark, sf_dir, "documents")
    cleaned = F.regexp_replace(F.lower(F.col("text")), r"[^a-z0-9 ]", " ")
    toks = F.split(F.trim(cleaned), r"\s+")
    kept = F.filter(F.col("_toks"), lambda t: ~t.isin(*STOPWORDS["en"]))
    return (
        docs.select("doc_id", toks.alias("_toks"))
        .select(
            "doc_id",
            kept.alias("_kept"),
            F.size("_toks").cast("long").alias("n_orig"),
        )
        .select(
            "doc_id",
            F.array_join("_kept", " ").alias("normalized"),
            F.size("_kept").cast("long").alias("n_kept"),
            "n_orig",
        )
    )


@query(
    "union_by_name_missing_cols",
    oracle="""
    SELECT o_orderkey AS key, round(o_totalprice, 2) AS totalprice,
           CAST(NULL AS DOUBLE) AS quantity, 'orders' AS src
    FROM orders WHERE o_orderkey < 200
    UNION ALL
    SELECT l_orderkey AS key, CAST(NULL AS DOUBLE) AS totalprice,
           round(l_quantity, 2) AS quantity, 'lineitem' AS src
    FROM lineitem WHERE l_orderkey < 100
    """,
)
def union_by_name_missing_cols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """concat of frames with mismatched columns (pandas fills missing with NULL)
    — unionByName(allowMissingColumns=True), the §2.7 concat contract extended."""
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 200).select(
        F.col("o_orderkey").alias("key"),
        F.round("o_totalprice", 2).alias("totalprice"),
        F.lit("orders").alias("src"),
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 100).select(
        F.col("l_orderkey").alias("key"),
        F.round("l_quantity", 2).alias("quantity"),
        F.lit("lineitem").alias("src"),
    )
    return orders.unionByName(li, allowMissingColumns=True).select(
        "key", "totalprice", "quantity", "src"
    )


@query(
    "doc_chunking_sliding",
    oracle="""
    WITH t AS (
        SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents
    ),
    chunks AS (
        SELECT doc_id, len(toks) AS n_toks,
               unnest(range(1, len(toks) + 1, 25)) AS start
        FROM t
    )
    SELECT c.doc_id,
           CAST((c.start - 1) / 25 AS BIGINT) AS chunk_idx,
           array_to_string(list_slice(t.toks, c.start, least(c.start + 49, c.n_toks)), ' ')
               AS chunk_text,
           CAST(least(c.start + 49, c.n_toks) - c.start + 1 AS BIGINT) AS chunk_tokens
    FROM chunks c JOIN t USING (doc_id)
    """,
)
def doc_chunking_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document chunking for embedding/training pipelines: 50-token chunks with
    stride 25 (50% overlap). Chunk boundaries are computed per row as an array
    expression and exploded — narrow and pipelined, no shuffle until whatever
    consumes the chunks."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    tokenized = docs.select("doc_id", toks.alias("_toks"), F.size(toks).alias("_n"))
    starts = F.sequence(F.lit(1), F.col("_n"), F.lit(25))
    chunked = tokenized.select(
        "doc_id", "_toks", "_n", F.explode(starts).alias("start")
    )
    chunk_len = F.least(F.col("start") + 49, F.col("_n")) - F.col("start") + 1
    return chunked.select(
        "doc_id",
        ((F.col("start") - 1) / 25).cast("long").alias("chunk_idx"),
        F.array_join(F.slice(F.col("_toks"), F.col("start"), chunk_len), " ").alias(
            "chunk_text"
        ),
        chunk_len.cast("long").alias("chunk_tokens"),
    )


@query(
    "pack_training_sequences",
    oracle="""
    WITH t AS (
        SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents
    ),
    chunks AS (
        SELECT doc_id, len(toks) AS n_toks,
               unnest(range(1, len(toks) + 1, 25)) AS start
        FROM t
    ),
    sized AS (
        SELECT doc_id, CAST((start - 1) / 25 AS BIGINT) AS chunk_idx,
               least(start + 49, n_toks) - start + 1 AS chunk_tokens
        FROM chunks
    ),
    packed AS (
        SELECT doc_id, chunk_idx, chunk_tokens,
               CAST((sum(chunk_tokens) OVER (ORDER BY doc_id, chunk_idx
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     - chunk_tokens) // 1024 AS BIGINT) AS seq_id
        FROM sized
    )
    SELECT seq_id, count(*) AS n_chunks,
           CAST(sum(chunk_tokens) AS BIGINT) AS total_tokens,
           count(DISTINCT doc_id) AS n_docs
    FROM packed GROUP BY seq_id
    """,
)
def pack_training_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: assign chunks to fixed-budget (1024-token) training
    sequences by exclusive prefix sum over a deterministic chunk order —
    the concat-and-split packing used to build pretraining batches.

    The corpus-sized running sum is the two-phase distributed scan (the
    reference's carry trick, core/column.py:644-687): doc_id splitter
    boundaries bucket the chunk table, per-bucket token totals prefix-combine
    on the driver, and the cumulative window runs PARTITIONED by bucket with
    the broadcast carry added — never a single-task global sort/scan.

    Cost discipline: the query only ever needs token COUNTS, never the token
    arrays — ``regexp_count`` counts separators without allocating a split
    array, and the (doc_id, n) table is lazily persisted (2 longs per doc) so
    the splitter-boundary aggregate doubles as the cache-materializing job —
    three jobs total (boundaries, per-bucket partials, final explode) instead
    of four (an eager checkpoint would spend a whole extra pass). Per-bucket
    partials are a closed-form-ish fold over chunk starts — chunks overlap
    50/25, so the total is NOT just n — and the final phase explodes an
    integer SEQUENCE, not tokens."""
    from pyspark.sql.window import Window

    from legate_pandas_spark.frontend.scan import (
        _rank_boundaries,
        _seq,
        bucket_of,
    )

    docs = load_table(spark, sf_dir, "documents")
    # size(split(x, sep)) == regexp_count(x, sep) + 1 for every input incl.
    # empty text (split('') -> [''] -> 1; regexp_count('') -> 0 -> 1)
    tokenized = docs.select(
        "doc_id",
        (F.regexp_count(F.trim(F.col("text")), F.lit(r"\s+")) + 1).alias("_n"),
    ).persist()
    starts = F.sequence(F.lit(1), F.col("_n"), F.lit(25))
    bounds = _rank_boundaries(tokenized, F.col("doc_id"))
    bucket = bucket_of(bounds, F.col("doc_id"))
    doc_total = F.aggregate(
        starts,
        F.lit(0).cast("long"),
        lambda acc, s: acc + F.least(s + 49, F.col("_n")) - s + 1,
    )
    uniq = next(_seq)
    bkt, car = f"__pb_{uniq}__", f"__pc_{uniq}__"
    # exclusive prefix-combine of the ≤64 per-bucket totals, kept LAZY: a
    # broadcast triangular self-join (b.bkt < a.bkt) instead of a driver
    # collect+createDataFrame round trip — the carry subtree schedules inside
    # the final action, so the query is boundaries + one action, not three jobs
    parts = (
        tokenized.withColumn(bkt, bucket)
        .groupBy(bkt)
        .agg(F.sum(doc_total).alias("__s__"))
    )
    carry = (
        parts.select(F.col(bkt), F.col("__s__"))
        .alias("a")
        .join(
            F.broadcast(parts.select(F.col(bkt).alias("__b2__"), F.col("__s__").alias("__s2__"))),
            F.col("__b2__") < F.col(bkt),
            "left",
        )
        .groupBy(bkt)
        .agg(F.coalesce(F.sum("__s2__"), F.lit(0)).cast("long").alias(car))
    )
    # bucket computed BEFORE the chunk explode: one evaluation per doc, not
    # one per chunk row (the r12 plan audit caught the splitter search being
    # re-evaluated ~n/25 times per doc when it sat above the Generate)
    sized = tokenized.withColumn(bkt, bucket).select(
        "doc_id", "_n", bkt, F.explode(starts).alias("start")
    ).select(
        "doc_id",
        F.col(bkt),
        ((F.col("start") - 1) / 25).cast("long").alias("chunk_idx"),
        (F.least(F.col("start") + 49, F.col("_n")) - F.col("start") + 1).alias(
            "chunk_tokens"
        ),
    )
    w = (
        Window.partitionBy(F.col(bkt))
        .orderBy("doc_id", "chunk_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = (
        sized.join(F.broadcast(carry), bkt, "left")
        .withColumn(
            "_cum",
            F.sum("chunk_tokens").over(w) + F.coalesce(F.col(car), F.lit(0)),
        )
        .withColumn(
            "seq_id",
            F.floor((F.col("_cum") - F.col("chunk_tokens")) / 1024).cast("long"),
        )
    )
    return packed.groupBy("seq_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum("chunk_tokens").cast("long").alias("total_tokens"),
        F.countDistinct("doc_id").alias("n_docs"),
    )


@query(
    "build_token_vocab",
    oracle="""
    WITH tok AS (
        SELECT unnest(string_split_regex(trim(text), '\\s+')) AS token FROM documents
    ),
    counted AS (SELECT token, count(*) AS n FROM tok GROUP BY token)
    SELECT token,
           CAST(row_number() OVER (ORDER BY n DESC, token) - 1 AS BIGINT) AS token_id,
           n
    FROM counted
    """,
)
def build_token_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary construction: corpus token frequencies ranked into stable ids
    (count desc, token asc). The ranking runs over the DISTINCT token table
    (vocab-sized) via the distributed sample-sort row number
    (scan.ordered_row_number: range-partition + per-partition offset carry) —
    a web-scale vocab can reach 10⁸-10⁹ distinct tokens, so even the
    dictionary ranking must not be a single-partition window."""
    from legate_pandas_spark.frontend.scan import ordered_row_number

    docs = load_table(spark, sf_dir, "documents")
    tok = outer_explode(docs, F.split(F.trim(F.col("text")), r"\s+"), "token")
    counted = tok.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    ranked = ordered_row_number(
        counted, [F.desc("n"), F.asc("token")], "token_id"
    )
    return ranked.select("token", F.col("token_id"), "n")


@query(
    "ngram_top_bigrams",
    oracle="""
    WITH d AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents),
    bg AS (
        SELECT unnest(list_transform(range(1, greatest(len(toks), 1)),
                      i -> toks[i] || ' ' || toks[i+1])) AS bigram
        FROM d WHERE len(toks) >= 2
    )
    SELECT bigram, count(*) AS n
    FROM bg GROUP BY bigram
    ORDER BY n DESC, bigram
    LIMIT 20
    """,
)
def ngram_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level top-20 bigrams: explode 2-grams → hash aggregate → top-k.
    Map-side partial aggregation keeps the shuffle tiny (distinct bigrams, not
    corpus size).

    Bigram construction is ``zip_with`` over two slices of the token array —
    NOT ``transform`` + ``element_at(toks, i)``: Catalyst inlines the ``toks``
    split expression into every lambda reference (no CSE across lambdas), so
    the element_at form re-tokenizes the whole document per bigram —
    O(tokens²) per doc, measured 8× slower at sf0.1. Slices evaluate the split
    a constant number of times per row — and staging ``_toks`` as an
    attribute first (r12) brings that constant down to one split per row
    (the plan audit counted 4 inlined copies across the two slices and
    their length bounds)."""
    docs = load_table(spark, sf_dir, "documents")
    staged = docs.select(
        F.split(F.trim(F.col("text")), r"\s+").alias("_toks")
    ).filter(F.size("_toks") >= 2)
    toks = F.col("_toks")
    n = F.greatest(F.size(toks) - 1, F.lit(0))
    bigrams = F.zip_with(
        F.slice(toks, 1, n), F.slice(toks, 2, n), lambda a, b: F.concat_ws(" ", a, b)
    )
    return (
        outer_explode(staged, bigrams, "bigram")
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("bigram"))
        .limit(20)
    )


@query(
    "tfidf_top_terms",
    oracle="""
    WITH words AS (
        SELECT doc_id, unnest(list_filter(string_split_regex(trim(text), '\\s+'),
                                          w -> w <> '')) AS w
        FROM documents
    ), tf AS (
        SELECT doc_id, w, count(*) AS tf FROM words GROUP BY doc_id, w
    ), df AS (
        SELECT w, count(DISTINCT doc_id) AS df FROM words GROUP BY w
    ), n AS (
        SELECT count(DISTINCT doc_id) AS n FROM words
    ), scored AS (
        SELECT tf.doc_id, tf.w,
               round(tf.tf * ln(n.n * 1.0 / df.df), 4) AS tfidf
        FROM tf JOIN df USING (w) CROSS JOIN n
    )
    SELECT doc_id, w AS term, tfidf
    FROM scored
    QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, w) <= 3
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF scoring with per-document top-3 terms (the classic relevance /
    keyword-extraction reduction).

    Scale design (r12, guide §2.3/§2.4): document frequency counts rows of
    the tf aggregate (tf rows ARE the distinct (doc, term) pairs, so
    count-per-term == count_distinct of docs — provably identical; it
    replaces a corpus re-tokenize plus a count_distinct Expand with a
    count over postings — tf is recomputed for it rather than persisted:
    the postings-cache materialization measured 1.34x worse at sf0.1, the
    countmin persist lesson); the doc count aggregates doc_id straight off
    the UN-exploded table (outer_explode preserves the doc_id set exactly,
    so count_distinct there is the same number, with no tokenize and no
    text-column read at all).
    The DF table is vocab-sized and BROADCAST into the scoring join (Zipf
    head words are hot, but a broadcast join has no skewed shuffle); top-3
    is a per-doc row_number window, parallel across docs with a total order
    tiebreak."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    words = outer_explode(
        docs,
        F.filter(F.split(F.trim("text"), r"\s+"), lambda w: w != F.lit("")),
        "w",
        "doc_id",
    )
    tf = words.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count_distinct("doc_id").alias("n"))
    scored = (
        tf.join(F.broadcast(df), "w")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "w",
            F.round(F.col("tf") * F.log(F.col("n") * F.lit(1.0) / F.col("df")), 4).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("w"))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 3)
        .select("doc_id", F.col("w").alias("term"), "tfidf")
    )


@query(
    "tokenize_to_vocab_ids",
    oracle="""
    WITH words AS (
        SELECT doc_id, w, pos FROM (
            SELECT doc_id,
                   unnest(list_filter(string_split_regex(trim(text), '\\s+'),
                                      w -> w <> '')) AS w,
                   generate_subscripts(list_filter(string_split_regex(trim(text), '\\s+'),
                                                   w -> w <> ''), 1) AS pos
            FROM documents
        )
    ), counted AS (
        SELECT w, count(*) AS n FROM words GROUP BY w
    ), vocab AS (
        SELECT w, CAST(row_number() OVER (ORDER BY n DESC, w) - 1 AS BIGINT) AS token_id
        FROM counted
    )
    SELECT words.doc_id, CAST(words.pos AS INTEGER) AS pos, vocab.token_id
    FROM words JOIN vocab USING (w)
    """,
)
def tokenize_to_vocab_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenization to vocabulary ids: the encode step of a training pipeline —
    every document becomes its (position, token_id) stream under the
    frequency-ranked vocabulary (build_token_vocab's id assignment).

    Scale design: posexplode keeps token positions without a window; the
    vocabulary is dictionary-sized and BROADCAST into the id-mapping join, so
    the corpus stream never shuffles at all — the output is produced in the
    scan stage. The id ranking itself is the distributed sample-sort row
    number (scan.ordered_row_number), never a single-partition window."""
    from legate_pandas_spark.frontend.scan import ordered_row_number

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select(
        "doc_id",
        F.posexplode(
            F.filter(F.split(F.trim("text"), r"\s+"), lambda w: w != F.lit(""))
        ).alias("pos0", "w"),
    ).select("doc_id", (F.col("pos0") + 1).cast("int").alias("pos"), "w")
    counted = toks.groupBy("w").agg(F.count(F.lit(1)).alias("n"))
    vocab = ordered_row_number(
        counted, [F.desc("n"), F.asc("w")], "token_id"
    ).select("w", "token_id")
    return toks.join(F.broadcast(vocab), "w").select("doc_id", "pos", "token_id")


_HH_INV_SUPPORT = 400  # heavy hitter = token with count > total_tokens / 400


@query(
    "heavy_hitters_tokens",
    oracle=f"""
    WITH tok AS (
        SELECT unnest(string_split_regex(trim(text), '\\s+')) AS token FROM documents
    ),
    tot AS (SELECT count(*) AS n FROM tok)
    SELECT token, CAST(count(*) AS BIGINT) AS n_occurrences
    FROM tok GROUP BY token
    HAVING count(*) > (SELECT n FROM tot) / {_HH_INV_SUPPORT}.0
    """,
)
def heavy_hitters_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT frequent tokens (count > corpus_tokens/400) via a two-phase
    candidate prefilter — the space-saving/Misra-Gries shape with an exact
    recount, so the answer is identical to the naive global groupBy.

    100 TB design: a naive groupBy(token) shuffles one partial row per
    DISTINCT token per partition — at web scale that is billions of shuffle
    rows for a query whose answer has a few hundred. Phase 1 instead counts
    tokens locally per partition (Arrow-vectorized, shuffle-free) and emits
    only tokens with LOCAL count > local_n/400: by pigeonhole any token with
    GLOBAL count > n/400 must exceed that local threshold in at least one
    partition, so the candidate union (≤ 400 rows per partition) is a strict
    superset of the answer. Phase 2 recounts ONLY candidates via a broadcast
    semi-join (map-side partial agg bounds the shuffle at candidates ×
    partitions) and applies the exact global threshold. Candidate-set
    variation across partitionings cannot change the result — the final
    filter uses exact counts."""
    import pandas as pd

    docs = load_table(spark, sf_dir, "documents")
    tok = outer_explode(docs, F.split(F.trim(F.col("text")), r"\s+"), "token").select(
        "token"
    )

    def phase1(batches):
        parts = []
        for pdf in batches:
            parts.append(pdf["token"].value_counts())
        if not parts:
            return
        vc = pd.concat(parts).groupby(level=0).sum()
        n_p = int(vc.sum())
        heavy = vc[vc * _HH_INV_SUPPORT > n_p]
        out = pd.DataFrame(
            {"token": heavy.index.astype(str), "part_n": [0] * len(heavy)}
        )
        marker = pd.DataFrame({"token": [None], "part_n": [n_p]})
        yield pd.concat([out, marker])

    summary = tok.mapInPandas(phase1, "token string, part_n long").collect()
    total = sum(r["part_n"] for r in summary)
    cand = sorted({r["token"] for r in summary if r["token"] is not None})
    cand_df = spark.createDataFrame([(c,) for c in cand], "token string")
    return (
        tok.join(F.broadcast(cand_df), "token")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .filter(F.col("n_occurrences") > total / float(_HH_INV_SUPPORT))
    )


_SQL_GOPHER = """
    WITH w AS (
      SELECT doc_id, lang,
             string_split_regex(trim(text), '\\s+') AS words,
             string_split(text, chr(10)) AS lines,
             text
      FROM documents
    ),
    m AS (
      SELECT doc_id, lang,
             len(words) AS n_words,
             round(list_sum(list_transform(words, x -> CAST(length(x) AS DOUBLE)))
                   / len(words), 4) AS mean_word_len,
             round(CAST(len(regexp_extract_all(text, '(#|\\.\\.\\.)')) AS DOUBLE)
                   / len(words), 4) AS symbol_word_ratio,
             round(CAST(len(list_filter(lines, l -> l LIKE '-%' OR l LIKE '*%'))
                        AS DOUBLE) / len(lines), 4) AS bullet_line_frac,
             round(CAST(len(list_filter(lines, l -> l LIKE '%...'))
                        AS DOUBLE) / len(lines), 4) AS ellipsis_line_frac,
             round(CAST(len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]')))
                        AS DOUBLE) / len(words), 4) AS alpha_word_frac
      FROM w
    ),
    rules AS (
      SELECT doc_id, lang, n_words, mean_word_len, symbol_word_ratio,
             bullet_line_frac, ellipsis_line_frac, alpha_word_frac,
             (n_words BETWEEN 50 AND 100000)        AS ok_word_count,
             (mean_word_len BETWEEN 3 AND 10)       AS ok_mean_word_len,
             (symbol_word_ratio < 0.1)              AS ok_symbol_ratio,
             (bullet_line_frac < 0.9)               AS ok_bullets,
             (ellipsis_line_frac < 0.3)             AS ok_ellipsis,
             (alpha_word_frac > 0.8)                AS ok_alpha_words
      FROM m
    )
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN ok_word_count THEN 1 ELSE 0 END) AS BIGINT) AS pass_word_count,
           CAST(sum(CASE WHEN ok_mean_word_len THEN 1 ELSE 0 END) AS BIGINT) AS pass_mean_word_len,
           CAST(sum(CASE WHEN ok_symbol_ratio THEN 1 ELSE 0 END) AS BIGINT) AS pass_symbol_ratio,
           CAST(sum(CASE WHEN ok_bullets THEN 1 ELSE 0 END) AS BIGINT) AS pass_bullets,
           CAST(sum(CASE WHEN ok_ellipsis THEN 1 ELSE 0 END) AS BIGINT) AS pass_ellipsis,
           CAST(sum(CASE WHEN ok_alpha_words THEN 1 ELSE 0 END) AS BIGINT) AS pass_alpha_words,
           CAST(sum(CASE WHEN ok_word_count AND ok_mean_word_len AND ok_symbol_ratio
                         AND ok_bullets AND ok_ellipsis AND ok_alpha_words
                    THEN 1 ELSE 0 END) AS BIGINT) AS pass_all
    FROM rules
    GROUP BY lang
"""


def gopher_metric_exprs(text):
    """The six Gopher rule metrics as per-row Catalyst expressions over a
    text column (rounded exactly like the oracle). Shared by
    gopher_quality_rules and the composed DSIR funnel (curation.py).

    Deliberately ONE inline expression set (r12 negative result): the
    metrics reference the token/line split ~9 times between them, but
    codegen subexpression elimination already shares those cross-column
    repeats — a staged ``_gw``/``_gl`` attribute variant measured
    1.12-1.23x SLOWER across gopher_quality_rules / the DSIR funnel /
    ingest_tag_report (in-session interleaved A/B), the extra Project
    paying an UnsafeArrayData materialization per row for duplication
    that was never actually re-evaluated."""
    words = F.split(F.trim(text), r"\s+")
    lines = F.split(text, "\n")
    n_words = F.size(words)
    n_lines = F.size(lines)
    # Σ length(word) via length(concat_ws('')) instead of an interpreted
    # CodegenFallback fold: integer char count == the double fold exactly
    # (small-int adds in double are exact), and it compiles in codegen
    mean_wl = F.round(
        F.length(F.concat_ws("", words)).cast("double") / n_words,
        4,
    )
    symbol_ratio = F.round(
        F.size(F.regexp_extract_all(text, F.lit(r"(#|\.\.\.)"))).cast("double")
        / n_words,
        4,
    )
    bullet_frac = F.round(
        F.size(
            F.filter(lines, lambda l: l.startswith("-") | l.startswith("*"))
        ).cast("double")
        / n_lines,
        4,
    )
    ellipsis_frac = F.round(
        F.size(F.filter(lines, lambda l: l.endswith("..."))).cast("double")
        / n_lines,
        4,
    )
    alpha_frac = F.round(
        F.size(F.filter(words, lambda x: x.rlike("[A-Za-z]"))).cast("double")
        / n_words,
        4,
    )
    return {
        "nw": n_words,
        "mwl": mean_wl,
        "sr": symbol_ratio,
        "bf": bullet_frac,
        "ef": ellipsis_frac,
        "af": alpha_frac,
    }


def gopher_pass_all_expr(text):
    """Conjunction of all six Gopher rules as ONE per-row expression."""
    m = gopher_metric_exprs(text)
    return (
        m["nw"].between(50, 100000)
        & m["mwl"].between(3, 10)
        & (m["sr"] < 0.1)
        & (m["bf"] < 0.9)
        & (m["ef"] < 0.3)
        & (m["af"] > 0.8)
    )


# the same conjunction as DuckDB SQL, parameterized on the source relation —
# byte-for-byte the rule expressions of _SQL_GOPHER
SQL_GOPHER_OK = """
      (len(words) BETWEEN 50 AND 100000)
      AND (round(list_sum(list_transform(words, x -> CAST(length(x) AS DOUBLE)))
                 / len(words), 4) BETWEEN 3 AND 10)
      AND (round(CAST(len(regexp_extract_all(text, '(#|\\.\\.\\.)')) AS DOUBLE)
                 / len(words), 4) < 0.1)
      AND (round(CAST(len(list_filter(lines, l -> l LIKE '-%' OR l LIKE '*%'))
                      AS DOUBLE) / len(lines), 4) < 0.9)
      AND (round(CAST(len(list_filter(lines, l -> l LIKE '%...'))
                      AS DOUBLE) / len(lines), 4) < 0.3)
      AND (round(CAST(len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]')))
                      AS DOUBLE) / len(words), 4) > 0.8)
"""


@query("gopher_quality_rules", oracle=_SQL_GOPHER)
def gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher corpus-filter rule set (Rae et al., "Scaling Language
    Models: Methods, Analysis & Insights from Training Gopher", 2021,
    appendix A1.1), per-language pass counts: word count in [50, 100k], mean
    word length in [3, 10], symbol-to-word ratio (# / ellipsis) < 0.1,
    bullet-started lines < 90%, ellipsis-ended lines < 30%, words with an
    alphabetic character > 80%.

    Every rule is a pure per-row Catalyst expression over the token/line
    arrays (zero shuffle until the final per-language count aggregate), so
    this runs at corpus scale as one linear pass — the same discipline as
    text_quality_score; the funnel form (per-rule attrition) mirrors
    quality_filter_funnel's staged report."""
    docs = load_table(spark, sf_dir, "documents")
    me = gopher_metric_exprs(F.col("text"))
    m = docs.select(
        "lang",
        me["nw"].alias("nw"),
        me["mwl"].alias("mwl"),
        me["sr"].alias("sr"),
        me["bf"].alias("bf"),
        me["ef"].alias("ef"),
        me["af"].alias("af"),
    )
    ok_wc = F.col("nw").between(50, 100000)
    ok_mwl = F.col("mwl").between(3, 10)
    ok_sr = F.col("sr") < 0.1
    ok_bf = F.col("bf") < 0.9
    ok_ef = F.col("ef") < 0.3
    ok_af = F.col("af") > 0.8

    def cnt(c):
        return F.sum(F.when(c, 1).otherwise(0)).cast("long")

    return m.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        cnt(ok_wc).alias("pass_word_count"),
        cnt(ok_mwl).alias("pass_mean_word_len"),
        cnt(ok_sr).alias("pass_symbol_ratio"),
        cnt(ok_bf).alias("pass_bullets"),
        cnt(ok_ef).alias("pass_ellipsis"),
        cnt(ok_af).alias("pass_alpha_words"),
        cnt(ok_wc & ok_mwl & ok_sr & ok_bf & ok_ef & ok_af).alias("pass_all"),
    )


# ---------------------------------------------------------------------------
# BM25 retrieval over the corpus — the ranking stage behind retrieval-based
# decontamination and dataset search (Robertson & Zaragoza 2009; the Lucene
# idf variant, which is what production search stacks actually compute).
# The "queries" are the held-out benchmark slice of the corpus itself
# (doc_id % _BM25_MOD == _BM25_REM), mirroring decontaminate_exact_substring's
# bench-membership convention: for each benchmark doc, which corpus documents
# does lexical retrieval surface as most similar?
# ---------------------------------------------------------------------------

_BM25_MOD = 97
_BM25_REM = 3
_BM25_MAX_QID = 5000  # eval sets are FIXED: the benchmark slice stops growing
# with the corpus (ids >= the cap stay corpus members), so retrieval cost
# scales with corpus postings only, never eval x corpus
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TOPK = 3


@query(
    "bm25_bench_retrieval",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
    ), base AS (
        SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM toks
    ), tf AS (
        SELECT doc_id, dl, term, count(*) AS tf
        FROM base
        WHERE NOT (doc_id % {_BM25_MOD} = {_BM25_REM} AND doc_id < {_BM25_MAX_QID})
        GROUP BY doc_id, dl, term
    ), qterms AS (
        SELECT DISTINCT doc_id AS query_id, term
        FROM base
        WHERE doc_id % {_BM25_MOD} = {_BM25_REM} AND doc_id < {_BM25_MAX_QID}
    ), stats AS (
        SELECT count(*) AS n_docs, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
        FROM (SELECT doc_id, any_value(dl) AS dl FROM tf GROUP BY doc_id)
    ), df AS (
        SELECT term, count(*) AS df FROM tf GROUP BY term
    ), scored AS (
        SELECT q.query_id, f.doc_id,
               sum(ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
                   * f.tf * {_BM25_K1 + 1.0}
                   / (f.tf + {_BM25_K1} * ({1.0 - _BM25_B} + {_BM25_B} * f.dl / s.avgdl)))
                   AS raw
        FROM tf f
        JOIN qterms q USING (term)
        JOIN df d USING (term)
        CROSS JOIN stats s
        GROUP BY q.query_id, f.doc_id
    )
    SELECT query_id, CAST(rank AS INT) AS rank, doc_id, score FROM (
        SELECT query_id, doc_id, round(raw, 4) AS score,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY round(raw, 4) DESC, doc_id) AS rank
        FROM scored
    ) WHERE rank <= {_BM25_TOPK}
    """,
)
def bm25_bench_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-3 retrieval of corpus documents for each held-out benchmark
    document (k1 = 1.2, b = 0.75, Lucene idf ``ln(1 + (N - df + .5)/(df + .5))``
    — always positive).  Query-side term frequency is 1 (distinct query
    terms), the standard form for document-length queries; ranking is by the
    4dp-rounded score with a doc_id total-order tiebreak, so the rank is
    deterministic under cross-engine summation-order ulp noise (score
    magnitudes ~10, ulp ~1e-14, quantum 1e-4 — four orders of margin; the
    round-9 decimal discipline does not apply to bounded log-sums).

    Spark plan: one exploded token stream feeds (a) the per-(doc, term) tf
    hash aggregate (map-side combinable, keyed on xxhash64(term) leading the
    group key, pre-filtered to query-vocab hashes by a broadcast left-semi
    BELOW the aggregate) and (b) the benchmark slice's distinct query terms.
    Corpus stats (N, avgdl) reduce straight from the un-exploded token
    table in one shuffle-free pass — sum in BIGINT then ONE division,
    bit-identical across engines.  df is corpus-wide per-term.  The scoring
    join streams the tf table against the BROADCAST query-term table
    (eval-set-sized), picks up idf from the BROADCAST df row for the
    matched terms only, and aggregates per (query, doc); top-3 is a
    per-query row_number window.

    100 TB shape: tf is the only corpus-scale exchange, and the broadcast
    vocab semi below it cuts its input to eval-vocab-matched tokens (keyed
    (doc, term) — no Zipf hot key, the doc id spreads it); df is
    eval-vocab-sized; everything after the broadcast join is linear in the
    number of (query-term, corpus-doc) postings — the same inverted-index
    volume a search engine scans for these queries. Every hash-keyed join/
    group carries the raw term for post-hash verification (VERDICT r12 #3)."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select(
        "doc_id", F.split(F.trim("text"), r"\s+").alias("t")
    )
    base = outer_explode(
        toks.select("doc_id", F.size("t").alias("dl"), "t"),
        "t",
        "term",
        "doc_id",
        "dl",
    )
    is_q = (F.col("doc_id") % _BM25_MOD == _BM25_REM) & (
        F.col("doc_id") < _BM25_MAX_QID
    )
    # persisted: tf feeds TWO consumers (df, scoring) and qterms two (vocab
    # semi-filter, scoring) — without the persist each consumer re-scans and
    # re-explodes the corpus (measured 6 parquet scans / 15 exchanges; 2
    # scans persisted). r12 (guide §2.3): shuffles/broadcast probes key on
    # xxhash64(term) (8-byte key). r13 (VERDICT r12 #3/#7):
    #   (a) the broadcast qvocab left-semi moved BELOW the tf aggregate — the
    #       exploded token stream is pre-filtered to eval-vocab-matched terms
    #       before the only corpus-scale exchange, so tf shuffles postings of
    #       query terms only (the semi is hash-only: for a true query term t
    #       every corpus row of t carries t's hash, so no posting of t is
    #       lost; a collision can only ADMIT extra rows, removed below);
    #   (b) raw-term verification — the tf group key and every downstream
    #       join key is (th, term), so the 8-byte hash leads the shuffle/
    #       probe key but a hash collision between distinct terms can no
    #       longer merge postings or match a query term it doesn't equal
    #       (at ~100 TB, ≳2^32 distinct terms, a 64-bit birthday collision
    #       is expected — hash-only keys silently corrupt there).
    qterms = (
        base.filter(is_q)
        .select(
            F.col("doc_id").alias("query_id"),
            F.xxhash64("term").alias("th"),
            "term",
        )
        .distinct()
        .persist()
    )
    qvocab = qterms.select("th").distinct()
    tf = (
        base.filter(~is_q)
        .withColumn("th", F.xxhash64("term"))
        .join(F.broadcast(qvocab), "th", "left_semi")
        .groupBy("doc_id", "dl", "th", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .persist()
    )
    # corpus stats straight from the un-exploded token table (r12, guide
    # §2.4): n_docs/avgdl were a full groupBy(doc_id) of the tf table — a
    # corpus-scale exchange — but every doc with a non-null token array
    # contributes exactly one tf group with dl = size(t), so the same two
    # numbers reduce from toks in one pass with no shuffle at all.
    corpus_toks = toks.filter(~is_q).filter(F.col("t").isNotNull())
    stats = corpus_toks.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum(F.size("t")).cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    # df counts the WHOLE corpus posting list per query term: the hash-only
    # semi above keeps every posting of a query term (hash is a function of
    # the term), so grouping the filtered tf by (th, term) is exact; rows a
    # collision admitted form their own (th, term) group and never match a
    # query term below.
    df = tf.groupBy("th", "term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    weight = (
        idf
        * F.col("tf")
        * F.lit(_BM25_K1 + 1.0)
        / (
            F.col("tf")
            + F.lit(_BM25_K1)
            * (F.lit(1.0 - _BM25_B) + F.lit(_BM25_B) * F.col("dl") / F.col("avgdl"))
        )
    )
    _jk = ["th", "term"]
    scored = (
        tf.join(F.broadcast(qterms), _jk)
        .join(F.broadcast(df), _jk)
        .crossJoin(F.broadcast(stats))
        .groupBy("query_id", "doc_id")
        .agg(F.sum(weight).alias("raw"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc(F.round(F.col("raw"), 4)), F.asc("doc_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _BM25_TOPK)
        .select(
            "query_id",
            F.col("rank").cast("int").alias("rank"),
            "doc_id",
            F.round(F.col("raw"), 4).alias("score"),
        )
    )


# --- BPE merge learning -----------------------------------------------------
#
# Symbol strings are '<SEP>'-framed ('·a·b·c·' for "abc"); a merge (a, b) is
# applied with three LITERAL replaces: double every separator ('··a··b··'),
# replace '·a··b·' -> '·ab·', collapse '··' -> '·'. In the doubled form each
# boundary is '··' and the pattern consumes only the INNER separator on each
# side, so the outer '·' stays available to the neighboring occurrence —
# left-to-right non-overlapping replace then merges exactly the pairs greedy
# BPE merges, including odd runs of a self-pair ('aaaaa' -> aa,aa,a; a naive
# framed two-pass replace gets aa,a,aa there because the consumed trailing
# separator shifts the merge parity — caught by the hypothesis fuzz in
# tests/test_round9_bpe.py). The pattern cannot match inside a multi-char
# symbol ('·' before/after 'a' forces 'a' to be a whole symbol), a merged
# symbol cannot re-match (it is no longer the single symbol 'a'), and the
# replacement keeps every boundary at exactly '··', so the final collapse
# never sees runs of 3+ separators.
_BPE_SEP = "·"  # '·' — cannot occur in '[a-z]+' pre-tokenized words



def _bpe_oracle_rounds(k: int) -> str:
    """CTE chain for k learned merges (p1/best1/sym1/.../symk over a sym0 of
    (w, freq, s)), mirroring the doubled-separator merge application
    documented at _BPE_SEP. best{r} carries a no-op SENTINEL pair ('', '')
    ranked below every real pair: its pattern '····' contains an empty
    symbol, which never occurs, so when the vocabulary runs out of mergeable
    pairs the merge is a no-op instead of the CROSS JOIN of an empty argmax
    annihilating the symbol table (review finding: 'ab ab ab' exhausts pairs
    after one merge)."""
    S = _BPE_SEP
    parts = []
    for r in range(1, k + 1):
        parts.append(
            f"""
p{r} AS MATERIALIZED (
    SELECT pr[1] AS pa, pr[2] AS pb, CAST(sum(freq) AS BIGINT) AS n
    FROM (
        SELECT freq,
               unnest(list_transform(range(2, len(arr) - 1),
                                     i -> [arr[i], arr[i + 1]])) AS pr
        FROM (SELECT freq, string_split(s, '{S}') AS arr FROM sym{r - 1})
    )
    GROUP BY pa, pb
),
best{r} AS MATERIALIZED (
    SELECT pa, pb FROM (
        SELECT pa, pb, n FROM p{r}
        UNION ALL SELECT '', '', CAST(-1 AS BIGINT)
    ) ORDER BY n DESC, pa, pb LIMIT 1
),
sym{r} AS MATERIALIZED (
    SELECT w, freq,
           replace(replace(replace(s, '{S}', '{S}{S}'),
                           '{S}' || pa || '{S}{S}' || pb || '{S}',
                           '{S}' || pa || pb || '{S}'),
                   '{S}{S}', '{S}') AS s
    FROM sym{r - 1} CROSS JOIN best{r}
)"""
        )
    return ",".join(parts)


_BPE_MERGE_ORACLE = f"""
WITH wf AS (
    SELECT w, CAST(count(*) AS BIGINT) AS freq
    FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
          FROM documents)
    GROUP BY w
),
sym0 AS MATERIALIZED (
    SELECT w, freq,
           '{_BPE_SEP}' || regexp_replace(w, '(.)', '\\1{_BPE_SEP}', 'g') AS s
    FROM wf
),
{_bpe_oracle_rounds(2)},
t1 AS (SELECT CAST(1 AS INTEGER) AS step, pa, pb, n
       FROM p1 ORDER BY n DESC, pa, pb LIMIT 10),
t2 AS (SELECT CAST(2 AS INTEGER) AS step, pa, pb, n
       FROM p2 ORDER BY n DESC, pa, pb LIMIT 10)
SELECT * FROM t1 UNION ALL SELECT * FROM t2
"""



def _bpe_pair_counts(sym: DataFrame) -> DataFrame:
    """Adjacent-symbol pair counts weighted by word frequency.

    ``sym`` is (freq, s) with s a separator-framed symbol string. Pairing is
    zip_with over two slices (NOT transform + element_at — see
    ngram_top_bigrams: Catalyst inlines the split into every lambda
    reference, making element_at O(symbols²) per word)."""
    arr = F.split(F.col("s"), _BPE_SEP)
    n = F.size(arr)
    pairs = F.zip_with(
        F.slice(arr, 2, n - 3),
        F.slice(arr, 3, n - 3),
        lambda a, b: F.struct(a.alias("pa"), b.alias("pb")),
    )
    exploded = outer_explode(sym.select("freq", pairs.alias("prs")), F.col("prs"), "pr", "freq")
    return exploded.groupBy(
        F.col("pr.pa").alias("pa"), F.col("pr.pb").alias("pb")
    ).agg(F.sum("freq").cast("bigint").alias("n"))


def _bpe_best_pair(p: DataFrame) -> DataFrame:
    """Deterministic argmax pair (n desc, pa, pb) with the same no-op
    SENTINEL ('', '') as the oracle generator — guarantees exactly one row,
    so crossJoin never annihilates the symbol table on pair exhaustion."""
    sentinel = p.sparkSession.range(1).select(
        F.lit("").alias("pa"),
        F.lit("").alias("pb"),
        F.lit(-1).cast("bigint").alias("n"),
    )
    return (
        p.select("pa", "pb", "n")
        .unionAll(sentinel)
        .orderBy(F.desc("n"), F.asc("pa"), F.asc("pb"))
        .limit(1)
        .select("pa", "pb")
    )


def _bpe_apply_merge(sym: DataFrame, best: DataFrame) -> DataFrame:
    """Apply the broadcast 1-row merge to the symbol column 's' with the
    doubled-separator scheme (see _BPE_SEP); all other columns pass through.
    The sentinel pair's pattern '····' contains an empty symbol and never
    matches, so it degrades to double-then-collapse — a no-op."""
    sep, sep2 = F.lit(_BPE_SEP), F.lit(_BPE_SEP + _BPE_SEP)
    pat = F.concat(sep, F.col("pa"), sep2, F.col("pb"), sep)
    rep = F.concat(sep, F.col("pa"), F.col("pb"), sep)
    keep = [c for c in sym.columns if c != "s"]
    return sym.crossJoin(F.broadcast(best)).select(
        *keep,
        F.replace(F.replace(F.replace(F.col("s"), sep, sep2), pat, rep), sep2, sep).alias("s"),
    )


@query("bpe_merge_learn", oracle=_BPE_MERGE_ORACLE)
def bpe_merge_learn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training, one full merge-learning round plus the
    recount that ranks the next round's candidates (Sennrich et al. 2016;
    the merge-application trick is documented at _BPE_SEP above).

    Scale shape (the HuggingFace-trainer structure): the ONLY corpus-sized
    work is the pre-tokenize + word-count shuffle; symbol splitting, pair
    counting, the argmax, and merge application all run on the DISTINCT-word
    table (vocab-sized — bounded by language, not corpus). The chosen merge
    joins back as a broadcast of a 1-row TakeOrderedAndProject, so adding
    merge rounds never re-touches the corpus. All counts are BIGINT sums of
    exact word frequencies — no float drift at any corpus size."""
    docs = load_table(spark, sf_dir, "documents").select("text")
    words = outer_explode(
        docs, F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z]+"), 0), "w"
    )
    wf = words.groupBy("w").agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    sym0 = wf.select(
        "freq",
        F.concat(
            F.lit(_BPE_SEP), F.regexp_replace(F.col("w"), "(.)", "$1" + _BPE_SEP)
        ).alias("s"),
    )
    sym0 = sym0.persist()  # vocab-sized; consumed by p1 and the merge pass
    p1 = _bpe_pair_counts(sym0)
    sym1 = _bpe_apply_merge(sym0, _bpe_best_pair(p1))
    p2 = _bpe_pair_counts(sym1)
    t1 = p1.orderBy(F.desc("n"), F.asc("pa"), F.asc("pb")).limit(10)
    t2 = p2.orderBy(F.desc("n"), F.asc("pa"), F.asc("pb")).limit(10)
    step = lambda k, d: d.select(F.lit(k).cast("int").alias("step"), "pa", "pb", "n")
    return step(1, t1).unionAll(step(2, t2))


_BPE_ENCODE_K = 4


def _release_local_checkpoint(df: DataFrame) -> None:
    """Best-effort release of the storage behind an eager
    ``localCheckpoint`` DataFrame: ``DataFrame.unpersist`` is a no-op there
    (no CacheManager entry — the data lives in the LogicalRDD's persisted
    RDD blocks), so reach through to the RDD and unpersist it. Falls back to
    the ContextCleaner's asynchronous GC if Spark internals move."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass


def _bpe_learn_sym(sym0: DataFrame, k: int) -> DataFrame:
    """Run ``k`` merge-learning rounds over the symbol table with a BOUNDED
    driver and executor footprint (the production form of the 4-round loop):

    - each round is truncated with an eager ``localCheckpoint`` — one
      vocab-sized job — and the PREVIOUS round's checkpoint storage is
      explicitly released, so at any moment at most two vocab-sized tables
      are pinned (ADVICE r9);
    - the truncation happens EVERY round (r13; was every 8 with persist in
      between): Catalyst re-analysis of the accumulated chain (3 nested
      ``replace`` + union/sort/crossJoin per round) is super-linear in
      lineage depth — measured per round at sf0.001/local[8]: lineage 7-8
      cost 17-28 s of pure driver planning per round vs 0.5 s at lineage 1;
      the k=16 learn loop dropped 95 s -> 19 s with per-round truncation,
      output value-identical. The data-side work is vocab-bounded at any k
      either way; the driver plan is the binding constraint (guide §7.3,
      SCALE.md round-10, re-measured round-13).

    The eager per-round action costs k vocab-sized jobs; the corpus-scale
    word-count shuffle behind sym0 runs exactly once (cached by round 0's
    materialization). The FINAL table stays cached for the caller's encode
    join (one table, vocab-sized)."""
    sym = sym0.persist()
    sym.count()  # materialize round 0 — the only corpus-scale shuffle
    prev_is_ckpt = False
    for r in range(1, k + 1):
        nxt = _bpe_apply_merge(sym, _bpe_best_pair(_bpe_pair_counts(sym)))
        nxt = nxt.localCheckpoint(eager=True)  # materialized; lineage cut
        if prev_is_ckpt:
            _release_local_checkpoint(sym)
        else:
            sym.unpersist()
        prev_is_ckpt = True
        sym = nxt
    return sym


def _bpe_encode_oracle(k: int) -> str:
    return f"""
WITH dw AS MATERIALIZED (
    SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
    FROM documents
),
wf AS MATERIALIZED (SELECT w, CAST(count(*) AS BIGINT) AS freq FROM dw GROUP BY w),
sym0 AS MATERIALIZED (
    SELECT w, freq,
           '{_BPE_SEP}' || regexp_replace(w, '(.)', '\\1{_BPE_SEP}', 'g') AS s
    FROM wf
),
{_bpe_oracle_rounds(k)},
wtok AS (
    SELECT w, len(string_split(s, '{_BPE_SEP}')) - 2 AS n_tok
    FROM sym{k}
)
SELECT dw.doc_id,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(wtok.n_tok) AS BIGINT) AS n_bpe_tokens,
       CAST(floor(sum(wtok.n_tok) * 10000.0 / count(*) + 0.5) AS BIGINT)
           AS tokens_per_word_x10000
FROM dw JOIN wtok ON dw.w = wtok.w
GROUP BY dw.doc_id
"""


_BPE_ENCODE_ORACLE = _bpe_encode_oracle(_BPE_ENCODE_K)


def _bpe_sym_for(spark: SparkSession, sf_dir: str, k: int, sym0: DataFrame) -> DataFrame:
    """The learned symbol table, session-memoized per (sf_dir, k): it is a
    pure function of (corpus, k), so a session trains the vocabulary once and
    every encode joins against the stored table (without the memo, each
    encode pinned another vocab-sized table plus its checkpoint RDDs). The
    table is an eager localCheckpoint — materialized RDD blocks, not a
    CacheManager entry — so it survives a blanket clearCache() as-is."""

    def release(sym: DataFrame) -> None:
        sym.unpersist()
        _release_local_checkpoint(sym)  # the learn loop ends checkpointed

    return memo(
        spark,
        "bpe_sym",
        table_path(sf_dir, "documents"),
        lambda: _bpe_learn_sym(sym0, k),
        key=(k,),
        release=release,
    )


def _bpe_encode_with_k(spark: SparkSession, sf_dir: str, k: int) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    dw = outer_explode(
        docs,
        F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z]+"), 0),
        "w",
        "doc_id",
    )
    wf = dw.groupBy("w").agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    sym0 = wf.select(
        "w",
        "freq",
        F.concat(
            F.lit(_BPE_SEP), F.regexp_replace(F.col("w"), "(.)", "$1" + _BPE_SEP)
        ).alias("s"),
    )
    sym = _bpe_sym_for(spark, sf_dir, k, sym0)
    wtok = sym.select(
        "w", (F.size(F.split(F.col("s"), _BPE_SEP)) - 2).cast("bigint").alias("n_tok")
    )
    joined = dw.join(wtok, "w")
    return joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_words"),
        F.sum("n_tok").cast("bigint").alias("n_bpe_tokens"),
        F.floor(F.sum("n_tok") * F.lit(10000.0) / F.count(F.lit(1)) + F.lit(0.5))
        .cast("bigint")
        .alias("tokens_per_word_x10000"),
    )


@query("bpe_encode_corpus", oracle=_BPE_ENCODE_ORACLE)
def bpe_encode_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end tokenizer pipeline: learn 4 BPE merges on the corpus
    vocabulary (bpe_merge_learn's machinery, iterated), then ENCODE the corpus
    with them — per-document word / BPE-token counts and the fertility ratio
    (tokens per word, the metric tokenizer training optimizes).

    Scale shape: the merge-learning loop never touches the corpus (vocab-sized
    per round: pair aggregate -> 1-row TakeOrdered argmax broadcast -> literal
    replace); encoding is ONE corpus pass — explode words, hash-join the
    vocab-sized (word -> token count) table, partial-aggregate to doc_id. The
    whole k-round learn composes with no driver collect between rounds (the
    per-round argmax stays a broadcast 1-row TakeOrdered); each round is
    eagerly materialized so at most two vocab-sized caches are pinned
    (_bpe_learn_sym). Fertility is emitted as an exact integer
    (floor(x·1e4 + 0.5)) — no float hash risk at any corpus size."""
    return _bpe_encode_with_k(spark, sf_dir, _BPE_ENCODE_K)


_BPE_K16 = 16


@query("bpe_encode_k16", oracle=_bpe_encode_oracle(_BPE_K16))
def bpe_encode_k16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-depth BPE training: learn 16 merges, then encode the corpus
    (VERDICT r9 Next #6 — real tokenizers train to a vocabulary TARGET, not a
    fixed 4 rounds; 16 exercises the per-round lineage truncation in
    _bpe_learn_sym at depths the 4-round form never reaches).

    Same scale shape as bpe_encode_corpus: ONE corpus-scale word-count
    shuffle, then k vocab-sized rounds (pair aggregate -> broadcast 1-row
    argmax -> literal replace). Without the checkpoint the per-round plan
    grows by 3 nested replace() + a broadcast join, and Catalyst re-analysis
    of the whole chain becomes super-linear in k on the DRIVER — the binding
    constraint measured in SCALE.md round-10 (the data-side work stays
    vocab-bounded at any k). The pure-Python greedy-BPE differential
    (test_round9_bpe) runs at k=16 as well."""
    return _bpe_encode_with_k(spark, sf_dir, _BPE_K16)
