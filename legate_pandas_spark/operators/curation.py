"""Corpus-curation operators for training-data pipelines: benchmark
contamination checking, intra-document repetition profiling, standalone
n-gram-Jaccard near-dup detection, and a composite quality filter.

All pure Catalyst expression work (split/explode/hash-aggregate/broadcast
join) — no Python UDFs, so every plan stays inside whole-stage codegen. The
pairwise work is always blocked/bucketed, never all-pairs: at 100 TB the
candidate set is bounded by (join key cardinality × per-key bucket size), the
same discipline as the MinHash-LSH path (dedup.py).

Extension surface beyond the reference (which has no corpus tooling; its text
support is the str accessor, reference core/column.py:344-420 / SURVEY §2.8).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from legate_pandas_spark.operators import outer_explode, query
from legate_pandas_spark.sources.tables import load_table, memo, table_path

_N = 5  # contamination n-gram width
_BENCH_MOD = 97  # doc_id % _BENCH_MOD == 0 -> held-out "benchmark" membership


def _word_ngrams(tokens, n: int):
    """Distinct word n-grams of an already-bound token array column (ANSI-safe:
    the sequence is guarded so slice bounds never go negative)."""
    return F.when(
        F.size(tokens) >= n,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(tokens) - (n - 1)),
                lambda i: F.concat_ws(" ", F.slice(tokens, i, n)),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))


# DuckDB twin: bind the token list in a subquery FIRST (never inline a computed
# list into a lambda — it re-evaluates per element), then slice 1-based
# inclusive: t[i:i+n-1] is n elements.
_SQL_GRAMS = f"""
    WITH toks AS (
        SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
    ), grams AS (
        SELECT doc_id,
               CASE WHEN len(t) >= {_N}
                    THEN list_distinct(list_transform(range(1, len(t) - {_N - 2}),
                                                     i -> array_to_string(t[i:i+{_N - 1}], ' ')))
                    ELSE [] END AS gs
        FROM toks
    )
"""


@query(
    "contamination_ngram_check",
    oracle=_SQL_GRAMS
    + f"""
    , bench AS (
        SELECT DISTINCT unnest(gs) AS g FROM grams WHERE doc_id % {_BENCH_MOD} = 0
    ), cand AS (
        SELECT doc_id, unnest(gs) AS g FROM grams WHERE doc_id % {_BENCH_MOD} <> 0
    ), matched AS (
        SELECT c.doc_id, count(*) AS m
        FROM cand c JOIN bench b ON c.g = b.g GROUP BY c.doc_id
    ), totals AS (
        SELECT doc_id, len(gs) AS total FROM grams WHERE doc_id % {_BENCH_MOD} <> 0
    )
    SELECT t.doc_id,
           CAST(coalesce(m.m, 0) AS BIGINT) AS matched_ngrams,
           CAST(t.total AS BIGINT) AS total_ngrams,
           round(coalesce(m.m, 0) * 1.0 / nullif(t.total, 0), 4) AS contamination_ratio
    FROM totals t LEFT JOIN matched m USING (doc_id)
    """,
)
def contamination_ngram_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination scan: fraction of each candidate document's
    distinct word 5-grams that appear in a held-out benchmark slice.

    Scale design: the benchmark n-gram set is DISTINCT'd then broadcast (a
    benchmark is small by construction — eval sets, not corpora); candidates
    explode to (doc, gram) and hit the broadcast hash join, one aggregation
    per doc. Never a doc×doc comparison."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select("doc_id", F.split(F.trim("text"), r"\s+").alias("t"))
    grams = toks.select("doc_id", _word_ngrams(F.col("t"), _N).alias("gs"))
    bench = outer_explode(
        grams.filter(F.col("doc_id") % _BENCH_MOD == 0), "gs", "g"
    ).distinct()
    cand = grams.filter(F.col("doc_id") % _BENCH_MOD != 0)
    cand_grams = outer_explode(cand, "gs", "g", "doc_id")
    matched = (
        cand_grams.join(F.broadcast(bench), "g")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("m"))
    )
    totals = cand.select("doc_id", F.size("gs").cast("bigint").alias("total"))
    return totals.join(matched, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("m"), F.lit(0)).cast("bigint").alias("matched_ngrams"),
        F.col("total").alias("total_ngrams"),
        F.round(
            F.coalesce(F.col("m"), F.lit(0)) * F.lit(1.0) / F.nullif(F.col("total"), F.lit(0)),
            4,
        ).alias("contamination_ratio"),
    )


@query(
    "repetition_profile",
    oracle="""
    WITH toks AS (
        SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'),
                                   w -> w <> '') AS t
        FROM documents
    ), words AS (
        SELECT doc_id, unnest(t) AS w FROM toks
    ), counts AS (
        SELECT doc_id, w, count(*) AS c FROM words GROUP BY doc_id, w
    )
    SELECT doc_id,
           CAST(sum(c) AS BIGINT) AS total_words,
           CAST(count(*) AS BIGINT) AS distinct_words,
           round(1.0 - count(*) * 1.0 / sum(c), 4) AS repetition_ratio,
           round(max(c) * 1.0 / sum(c), 4) AS top_word_share
    FROM counts GROUP BY doc_id
    """,
)
def repetition_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition profile (boilerplate / degenerate-text
    detector): word repetition ratio and most-frequent-word share per doc.

    One explode + one two-level hash aggregate (doc×word, then doc) — both
    map-side combinable; no window, no sort."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    words = outer_explode(
        docs,
        F.filter(F.split(F.trim("text"), r"\s+"), lambda w: w != F.lit("")),
        "w",
        "doc_id",
    )
    counts = words.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("c"))
    return counts.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("total_words"),
        F.count(F.lit(1)).cast("bigint").alias("distinct_words"),
        F.round(F.lit(1.0) - F.count(F.lit(1)) * F.lit(1.0) / F.sum("c"), 4).alias(
            "repetition_ratio"
        ),
        F.round(F.max("c") * F.lit(1.0) / F.sum("c"), 4).alias("top_word_share"),
    )


_J_N = 3  # jaccard n-gram width
_J_THRESHOLD = 0.3


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, lang, n_chars, string_split_regex(trim(text), '\\s+') AS t
        FROM documents
    ), grams AS (
        SELECT doc_id, lang, n_chars // 50 AS band,
               CASE WHEN len(t) >= {_J_N}
                    THEN list_distinct(list_transform(range(1, len(t) - {_J_N - 2}),
                                                      i -> array_to_string(t[i:i+{_J_N - 1}], ' ')))
                    ELSE [] END AS gs
        FROM toks
    ), exploded AS (
        SELECT doc_id, lang, band, len(gs) AS sz, unnest(gs) AS g FROM grams
    ), inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               any_value(a.sz) AS sz_a, any_value(b.sz) AS sz_b,
               count(*) AS isect
        FROM exploded a JOIN exploded b
          ON a.lang = b.lang AND a.band = b.band AND a.g = b.g AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
           round(isect * 1.0 / (sz_a + sz_b - isect), 4) AS jaccard
    FROM inter
    WHERE isect * 1.0 / (sz_a + sz_b - isect) >= {_J_THRESHOLD}
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standalone n-gram-Jaccard near-dup pairs, blocked by (lang, length
    band): |A∩B| via a self-join on (block, gram) + hash aggregate, then
    Jaccard from set sizes — |A∪B| = |A|+|B|-|A∩B| without materializing the
    union.

    Scale design: candidate pairs are generated ONLY where two docs in the
    same block share an actual n-gram (the join key bounds the blow-up the
    same way LSH banding does); there is no doc×doc cartesian anywhere. The
    gram frame is computed once and self-joined (Spark reuses the exchange)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars", "text")
    toks = docs.select(
        "doc_id", "lang", (F.col("n_chars") / 50).cast("bigint").alias("band"),
        F.split(F.trim("text"), r"\s+").alias("t"),
    )
    grams = toks.select(
        "doc_id", "lang", "band", _word_ngrams(F.col("t"), _J_N).alias("gs")
    )
    # r12 (the _containment_pairs discipline): the self-join key leads with
    # xxhash64(lang, band, gram) — an 8-byte hash a hash-join probe can
    # compare first. r13 (VERDICT r12 #3): the raw (lang, band, g) triple is
    # verified in the same join condition, so a 64-bit collision (expected
    # at ~100 TB gram cardinalities) cannot inflate a pair's isect count;
    # the build/probe still short-circuits on the hash.
    exploded = outer_explode(
        grams, "gs", "g", "doc_id", "lang", "band", F.size("gs").alias("sz")
    ).select(
        "doc_id", "sz", F.xxhash64("lang", "band", "g").alias("gh"),
        "lang", "band", "g",
    )
    a = exploded.alias("a")
    b = exploded.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.gh") == F.col("b.gh"))
            & (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.band") == F.col("b.band"))
            & (F.col("a.g") == F.col("b.g"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(
            F.any_value(F.col("a.sz")).alias("sz_a"),
            F.any_value(F.col("b.sz")).alias("sz_b"),
            F.count(F.lit(1)).alias("isect"),
        )
    )
    jac = F.col("isect") * F.lit(1.0) / (F.col("sz_a") + F.col("sz_b") - F.col("isect"))
    return inter.filter(jac >= _J_THRESHOLD).select(
        "doc_a", "doc_b", F.round(jac, 4).alias("jaccard")
    )


@query(
    "quality_filter_pipeline",
    oracle="""
    WITH toks AS (
        SELECT doc_id, lang, n_chars,
               list_filter(string_split_regex(trim(text), '\\s+'), w -> w <> '') AS t,
               length(text) - length(replace(text, '.', '')) AS periods
        FROM documents
    ), feat AS (
        SELECT doc_id, lang, n_chars, len(t) AS n_words,
               CASE WHEN len(t) = 0 THEN 0.0
                    ELSE len(list_distinct(t)) * 1.0 / len(t) END AS lexical_diversity,
               periods
        FROM toks
    )
    SELECT doc_id, lang,
           CAST(n_words AS BIGINT) AS n_words,
           round(lexical_diversity, 4) AS lexical_diversity,
           CASE
             WHEN n_words < 10 THEN 'too_short'
             WHEN n_chars > 20000 THEN 'too_long'
             WHEN lexical_diversity < 0.2 THEN 'repetitive'
             ELSE 'keep'
           END AS verdict
    FROM feat
    """,
)
def quality_filter_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite keep/drop quality filter with labeled drop reasons — the
    shape of a production corpus-filter stage (first matching rule wins).
    Single scan, pure expressions, no shuffle at all."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars", "text")
    t = F.filter(F.split(F.trim("text"), r"\s+"), lambda w: w != F.lit(""))
    feat = docs.select(
        "doc_id",
        "lang",
        "n_chars",
        F.size(t).alias("n_words"),
        F.when(F.size(t) == 0, F.lit(0.0))
        .otherwise(F.size(F.array_distinct(t)) * F.lit(1.0) / F.size(t))
        .alias("lexical_diversity"),
    )
    return feat.select(
        "doc_id",
        "lang",
        F.col("n_words").cast("bigint").alias("n_words"),
        F.round("lexical_diversity", 4).alias("lexical_diversity"),
        F.when(F.col("n_words") < 10, F.lit("too_short"))
        .when(F.col("n_chars") > 20000, F.lit("too_long"))
        .when(F.col("lexical_diversity") < 0.2, F.lit("repetitive"))
        .otherwise(F.lit("keep"))
        .alias("verdict"),
    )


@query(
    "feature_engineering_onehot_bins",
    oracle="""
    SELECT doc_id,
           CAST(lang = 'en' AS TINYINT) AS lang_en,
           CAST(lang = 'de' AS TINYINT) AS lang_de,
           CAST(lang = 'es' AS TINYINT) AS lang_es,
           CAST(lang = 'fr' AS TINYINT) AS lang_fr,
           CAST(ntile(4) OVER (PARTITION BY lang ORDER BY n_chars, doc_id)
                AS INTEGER) AS size_quartile_in_lang,
           CAST(n_chars // 256 AS BIGINT) AS size_bucket
    FROM documents
    """,
)
def feature_engineering_onehot_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-input feature block: one-hot language encoding + per-language
    size quartile + fixed-width size bucket, in one pass.

    Scale design: the quartile window is PARTITIONED by lang (parallel per
    partition, total order via doc_id tiebreak — never a global ntile, which
    would serialize the sort through one task); one-hot and bucketing are pure
    projections."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    w = Window.partitionBy("lang").orderBy(F.asc("n_chars"), F.asc("doc_id"))
    return docs.select(
        "doc_id",
        *[(F.col("lang") == F.lit(l)).cast("tinyint").alias(f"lang_{l}") for l in ("en", "de", "es", "fr")],
        F.ntile(4).over(w).cast("int").alias("size_quartile_in_lang"),
        F.floor(F.col("n_chars") / 256).cast("bigint").alias("size_bucket"),
    )


@query(
    "pii_redaction_scrub",
    oracle="""
    WITH enriched AS (
        SELECT doc_id,
               text || ' contact user' || doc_id || '@mail.example.com or call 555-'
                    || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                    || ' from 10.' || (doc_id % 256) || '.0.' || (doc_id % 100) AS raw
        FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(raw, '[a-z0-9._]+@[a-z0-9.-]+\\.[a-z]+')) AS INTEGER) AS n_emails,
           CAST(len(regexp_extract_all(raw, '\\b555-[0-9]{4}\\b')) AS INTEGER) AS n_phones,
           CAST(len(regexp_extract_all(raw, '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b')) AS INTEGER) AS n_ips,
           md5(regexp_replace(regexp_replace(regexp_replace(raw,
                  '[a-z0-9._]+@[a-z0-9.-]+\\.[a-z]+', '<EMAIL>', 'g'),
                  '\\b555-[0-9]{4}\\b', '<PHONE>', 'g'),
                  '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b', '<IP>', 'g')) AS redacted_md5
    FROM enriched
    """,
)
def pii_redaction_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction pass: scrub emails / phone numbers / IPv4 addresses and
    count what was removed (the corpus has no real PII, so a deterministic
    synthetic footer derived from doc_id is appended first — the scrub itself
    is the operator under test, hash-verified on the full redacted text).

    Scale design: pure per-row regexp projection — embarrassingly parallel,
    whole-stage codegen, zero shuffle. The regex dialect is the RE2-safe
    subset (classes, bounded reps, \\b) so Spark (Java regex) and the DuckDB
    oracle (RE2) agree. Reference has no PII tooling (extension; nearest
    machinery is str.replace, reference core/column.py:344-420)."""
    email = r"[a-z0-9._]+@[a-z0-9.-]+\.[a-z]+"
    phone = r"\b555-[0-9]{4}\b"
    ip = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    raw = F.concat(
        F.col("text"),
        F.lit(" contact user"), F.col("doc_id").cast("string"), F.lit("@mail.example.com or call 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" from 10."), (F.col("doc_id") % 256).cast("string"),
        F.lit(".0."), (F.col("doc_id") % 100).cast("string"),
    )
    enriched = docs.select("doc_id", raw.alias("raw"))
    redacted = F.regexp_replace(
        F.regexp_replace(F.regexp_replace(F.col("raw"), email, "<EMAIL>"), phone, "<PHONE>"),
        ip,
        "<IP>",
    )
    return enriched.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("raw"), F.lit(email), 0)).cast("int").alias("n_emails"),
        F.size(F.regexp_extract_all(F.col("raw"), F.lit(phone), 0)).cast("int").alias("n_phones"),
        F.size(F.regexp_extract_all(F.col("raw"), F.lit(ip), 0)).cast("int").alias("n_ips"),
        F.md5(redacted).alias("redacted_md5"),
    )


@query(
    "repeated_ngram_spans",
    oracle=_SQL_GRAMS
    + """
    , exploded AS (
        SELECT doc_id, unnest(gs) AS g FROM grams
    ), dup_grams AS (
        SELECT g FROM exploded GROUP BY g HAVING count(DISTINCT doc_id) >= 2
    ), hits AS (
        SELECT e.doc_id, count(*) AS dups
        FROM exploded e JOIN dup_grams d USING (g) GROUP BY e.doc_id
    )
    SELECT g.doc_id,
           CAST(coalesce(h.dups, 0) AS BIGINT) AS dup_ngrams,
           CAST(len(g.gs) AS BIGINT) AS total_ngrams,
           round(coalesce(h.dups, 0) * 1.0 / nullif(len(g.gs), 0), 4) AS dup_fraction
    FROM grams g LEFT JOIN hits h USING (doc_id)
    """,
)
def repeated_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated-span detector (the corpus-dedup signal from
    Lee et al., "Deduplicating Training Data Makes Language Models Better"):
    per document, the fraction of its distinct word 5-grams that also occur
    in at least one OTHER document.

    Scale design: one explode to (doc, gram), one hash aggregate per gram
    (count distinct docs, map-side combinable because gram is the shuffle
    key), one shuffle join back on gram, one per-doc aggregate. Never doc×doc;
    cost is bounded by total gram volume, not pairs. At 100 TB the gram
    aggregate is the big shuffle — the gram key is near-uniform (text
    shingles), so no skew salting is needed."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    from pyspark.sql.window import Window

    # split-rebalance: the documents table arrives as few large files, so the
    # expensive gram expansion would otherwise run on a handful of input
    # splits — spread rows across the cluster BEFORE the explode
    n_parts = spark.sparkContext.defaultParallelism
    toks = docs.repartition(n_parts, "doc_id").select(
        "doc_id", F.split(F.trim("text"), r"\s+").alias("t")
    )
    grams = toks.select("doc_id", _word_ngrams(F.col("t"), _N).alias("gs"))
    # single-pass formulation: grams are distinct per doc, so a plain count()
    # over the gram key EQUALS the distinct-doc count — one explode, one
    # shuffle on g (window), one per-doc aggregate; no self-join, and the
    # gram expression is computed exactly once
    # r12 (guide §2.3): the gram text never reaches the output — the window
    # partitions on xxhash64(gram) leading the key. r13 (VERDICT r12 #3):
    # the raw gram is the second partition column, so a 64-bit hash
    # collision (expected at ~100 TB gram cardinalities) cannot merge two
    # grams' doc counts — the shuffle still routes by the 8-byte hash; raw
    # compares only happen on hash-equal runs inside each partition's sort.
    exploded = outer_explode(grams, "gs", "g", "doc_id").select(
        "doc_id", F.xxhash64("g").alias("gh"), "g"
    )
    windowed = exploded.withColumn(
        "nd", F.count(F.lit(1)).over(Window.partitionBy("gh", "g"))
    )
    per_doc = windowed.groupBy("doc_id").agg(
        F.sum((F.col("nd") >= 2).cast("int")).cast("bigint").alias("dup_ngrams"),
        F.count(F.lit(1)).cast("bigint").alias("total_ngrams"),
    )
    # docs too short to produce any gram never reach the explode — append them
    short = toks.filter(F.size("t") < _N).select(
        "doc_id",
        F.lit(0).cast("bigint").alias("dup_ngrams"),
        F.lit(0).cast("bigint").alias("total_ngrams"),
    )
    return per_doc.unionByName(short).select(
        "doc_id",
        "dup_ngrams",
        "total_ngrams",
        F.round(
            F.col("dup_ngrams") * F.lit(1.0) / F.nullif(F.col("total_ngrams"), F.lit(0)),
            4,
        ).alias("dup_fraction"),
    )


@query(
    "exact_substring_spans",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
    ),
    anchors AS MATERIALIZED (
        SELECT doc_id,
               unnest(range(1, greatest(len(t) - {_N - 2}, 1))) AS pos,
               t
        FROM toks WHERE len(t) >= {_N}
    ),
    ganchors AS MATERIALIZED (
        SELECT doc_id, pos, array_to_string(t[pos:pos+{_N - 1}], ' ') AS g
        FROM anchors
    ),
    dupg AS MATERIALIZED (
        SELECT g FROM (SELECT DISTINCT doc_id, g FROM ganchors) _dg
        GROUP BY g HAVING count(*) >= 2
    ),
    danchors AS (
        SELECT a.doc_id, a.pos FROM ganchors a JOIN dupg USING (g)
    ),
    marked AS (
        SELECT doc_id, pos,
               CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                         <= {_N} THEN 0 ELSE 1 END AS brk
        FROM danchors
    ),
    islands AS (
        SELECT doc_id, pos,
               sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                              ROWS UNBOUNDED PRECEDING) AS island
        FROM marked
    )
    SELECT doc_id,
           CAST(min(pos) AS BIGINT) AS span_start,
           CAST(max(pos) + {_N - 1} AS BIGINT) AS span_end,
           CAST(max(pos) + {_N - 1} - min(pos) + 1 AS BIGINT) AS span_tokens,
           CAST(count(*) AS BIGINT) AS n_anchors
    FROM islands GROUP BY doc_id, island
    """,
)
def exact_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAXIMAL cross-document repeated token spans — the actionable output
    of the ExactSubstr method (Lee et al. 2022, "Deduplicating Training Data
    Makes Language Models Better", fixed-k anchor approximation): per
    document, the token-position intervals [span_start, span_end] (1-based,
    inclusive) covered by word k-gram anchors (k = _N = 5) that occur in at
    least one OTHER document. repeated_ngram_spans reports the per-doc dup FRACTION (a
    filter signal); this emits the spans a dedup pass would actually cut.

    Pipeline: positional gram anchors (posexplode; the gram array is
    computed once per row) → distinct-doc count per gram (one hash
    aggregate, map-side combinable) → join back on gram → per-doc
    gaps-and-islands (anchors cover [pos, pos+k-1], equal length, so a new
    island starts exactly when pos − prev_pos > k) → one group per island.

    100 TB shape: never doc×doc — cost is bounded by gram volume. Two
    shuffles on the gram key (aggregate + join back; same exchange
    partitioning, reusable) and one doc-keyed window for the island merge.
    Output rows are unique on (doc_id, span_start): deterministic,
    hash-gateable without tiebreakers."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    n_parts = spark.sparkContext.defaultParallelism
    toks = docs.repartition(n_parts, "doc_id").select(
        "doc_id", F.split(F.trim("text"), r"\s+").alias("t")
    )
    # positional anchors: (doc_id, pos, gram), pos 1-based — NOT distinct
    # (the same gram at two positions covers two intervals)
    # WHEN-guarded like _word_ngrams: Catalyst may evaluate the expression
    # before the row filter (ANSI sequence/slice throw on short docs)
    grams = toks.filter(F.size("t") >= _N).select(
        "doc_id",
        F.when(
            F.size("t") >= _N,
            F.transform(
                F.sequence(F.lit(1), F.size("t") - (_N - 1)),
                lambda i: F.concat_ws(" ", F.slice(F.col("t"), i, _N)),
            ),
        )
        .otherwise(F.array().cast("array<string>"))
        .alias("gs"),
    )
    # posexplode_OUTER + null filter (the outer_explode discipline): inner
    # generators make Catalyst infer size(gs)>0 and re-evaluate the whole
    # gram transform per input row. 64-bit-hash the gram BEFORE the shuffles
    # (the containment-op discipline): 8-byte shuffle keys instead of 5-word
    # strings — the gram aggregate and the join back are the two
    # corpus-scale exchanges. A collision can only ADD a false anchor, which
    # the DuckDB oracle (which compares raw strings) would flag.
    anchors = (
        grams.select("doc_id", F.posexplode_outer("gs").alias("pos0", "g"))
        .filter(F.col("g").isNotNull())
        .select("doc_id", (F.col("pos0") + 1).alias("pos"), F.xxhash64("g").alias("gh"))
    )
    # distinct-doc count per gram, joined back on the same gram key
    nd = (
        anchors.select("doc_id", "gh")
        .distinct()
        .groupBy("gh")
        .agg(F.count(F.lit(1)).alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("gh")
    )
    dup = anchors.join(nd, "gh").select("doc_id", "pos")
    wd = Window.partitionBy("doc_id").orderBy("pos")
    marked = dup.withColumn(
        "brk",
        F.when(F.col("pos") - F.lag("pos").over(wd) <= _N, F.lit(0)).otherwise(
            F.lit(1)
        ),
    )
    islands = marked.withColumn(
        "island", F.sum("brk").over(wd.rowsBetween(Window.unboundedPreceding, 0))
    )
    return islands.groupBy("doc_id", "island").agg(
        F.min("pos").cast("bigint").alias("span_start"),
        (F.max("pos") + (_N - 1)).cast("bigint").alias("span_end"),
        (F.max("pos") + (_N - 1) - F.min("pos") + 1)
        .cast("bigint")
        .alias("span_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_anchors"),
    ).drop("island")


@query(
    "exact_substring_cut",
    oracle=f"""
    WITH toks AS MATERIALIZED (
        SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
    ),
    ganchors AS MATERIALIZED (
        SELECT doc_id, pos, array_to_string(t[pos:pos+{_N - 1}], ' ') AS g
        FROM (
            SELECT doc_id, unnest(range(1, greatest(len(t) - {_N - 2}, 1))) AS pos, t
            FROM toks WHERE len(t) >= {_N}
        ) _a
    ),
    dupg AS MATERIALIZED (
        SELECT g FROM (SELECT DISTINCT doc_id, g FROM ganchors) _dg
        GROUP BY g HAVING count(*) >= 2
    ),
    covered AS MATERIALIZED (
        SELECT DISTINCT a.doc_id, unnest(range(a.pos, a.pos + {_N})) AS pos
        FROM ganchors a JOIN dupg USING (g)
    ),
    positions AS (
        SELECT doc_id, unnest(range(1, len(t) + 1)) AS pos, t
        FROM toks
    ),
    flagged AS (
        SELECT p.doc_id, p.pos, p.t[p.pos] AS tok,
               c.pos IS NOT NULL AS cut
        FROM positions p LEFT JOIN covered c
          ON c.doc_id = p.doc_id AND c.pos = p.pos
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN cut THEN 1 ELSE 0 END) AS BIGINT) AS n_cut,
           md5(coalesce(string_agg(tok, ' ' ORDER BY pos) FILTER (WHERE NOT cut),
                        '')) AS clean_md5
    FROM flagged GROUP BY doc_id
    """,
)
def exact_substring_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The APPLY step of ExactSubstr dedup (Lee et al. 2022 'drop' variant):
    rewrite every document with all cross-document repeated spans removed —
    every token covered by a word k-gram (k = _N = 5) that occurs in at
    least one other document is cut from every document carrying it. Emits
    per doc the token count, the cut count, and the md5 of the cleaned text
    (byte-identity contract, the segment_dedup_reassemble discipline — the
    full rewritten corpus never needs to leave the executors to be gated).

    Plan: the exact_substring_spans anchor pipeline (one posexplode, one
    gram-keyed aggregate + join back), anchors expanded to covered
    positions (≤ k rows per anchor), collapsed to ONE sorted cut-position
    array per doc, LEFT-joined back at doc granularity (both sides already
    hash-partitioned by doc — no new exchange). The cleaned text is rebuilt
    order-exact in-plan by slicing the token array between consecutive cut
    positions (zip_with over the cut array with 0 / n+1 sentinels) — no
    corpus-wide posexplode, no (doc, pos) join, no collect of tokens.

    100 TB shape: linear in token volume; the only corpus-scale shuffles
    are the gram aggregate and the doc-keyed join of position arrays.
    Never doc×doc."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    n_parts = spark.sparkContext.defaultParallelism
    toks = docs.repartition(n_parts, "doc_id").select(
        "doc_id", F.split(F.trim("text"), r"\s+").alias("t")
    )
    grams = toks.select(
        "doc_id",
        F.when(
            F.size("t") >= _N,
            F.transform(
                F.sequence(F.lit(1), F.size("t") - (_N - 1)),
                lambda i: F.concat_ws(" ", F.slice(F.col("t"), i, _N)),
            ),
        )
        .otherwise(F.array().cast("array<string>"))
        .alias("gs"),
    )
    # outer-generator + hashed gram shuffle keys — see exact_substring_spans
    anchors = (
        grams.select("doc_id", F.posexplode_outer("gs").alias("pos0", "g"))
        .filter(F.col("g").isNotNull())
        .select("doc_id", (F.col("pos0") + 1).alias("pos"), F.xxhash64("g").alias("gh"))
    )
    nd = (
        anchors.select("doc_id", "gh")
        .distinct()
        .groupBy("gh")
        .agg(F.count(F.lit(1)).alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("gh")
    )
    # r12 rewrite (guide §2.3/§2.4): the old form posexploded the WHOLE
    # corpus to (doc, pos, tok) rows, left-joined the covered positions and
    # re-assembled every document with a corpus-wide
    # collect_list(struct)+array_sort ObjectHashAggregate — every token of
    # every doc passed through interpreted aggregation buffers. The covered
    # set is the only thing that needs aggregating: collapse it to ONE
    # sorted cut-position array per doc (positions only, never tokens),
    # join it back at doc granularity (both sides already partitioned by
    # doc_id — zero new exchange), and rebuild the cleaned text in-plan
    # with slices between consecutive cut positions: zip_with over
    # [0]+cps / cps+[n+1] emits each kept segment once, O(n + cuts) per
    # doc with no membership probing, no sort, no final aggregate.
    cov = (
        anchors.join(nd, "gh")
        .select(
            "doc_id",
            F.explode(F.sequence(F.col("pos"), F.col("pos") + (_N - 1))).alias("pos"),
        )
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_set("pos")).alias("cps"))
    )
    out = toks.join(cov, "doc_id", "left")
    n = F.size("t")
    cps = F.coalesce(F.col("cps"), F.array().cast("array<int>"))
    # cps is sorted & distinct, so every slice length (next_cut - prev_cut
    # - 1) is >= 0 and ANSI slice never throws; consecutive cuts give
    # zero-length slices, a cut at position n gives start n+1 length 0
    kept = F.flatten(
        F.zip_with(
            F.concat(F.array(F.lit(0)), cps),
            F.concat(cps, F.array(n + 1)),
            lambda a, b: F.slice(F.col("t"), a + 1, b - a - 1),
        )
    )
    return out.select(
        "doc_id",
        n.cast("bigint").alias("n_tokens"),
        F.coalesce(F.size("cps"), F.lit(0)).cast("bigint").alias("n_cut"),
        F.md5(F.concat_ws(" ", kept)).alias("clean_md5"),
    )


@query(
    "unigram_logprob_quality",
    oracle="""
    WITH words AS (
        SELECT doc_id, unnest(list_filter(string_split_regex(trim(text), '\\s+'),
                                          w -> w <> '')) AS w
        FROM documents
    ), vocab AS (
        SELECT w, count(*) AS c FROM words GROUP BY w
    ), n AS (
        SELECT sum(c) AS n FROM vocab
    )
    SELECT words.doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           round(avg(ln(vocab.c * 1.0 / n.n)), 4) AS avg_logprob
    FROM words JOIN vocab USING (w) CROSS JOIN n
    GROUP BY words.doc_id
    """,
)
def unigram_logprob_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model quality score: mean log-probability of a
    document's tokens under the corpus's own unigram distribution (the cheap
    perplexity proxy used to rank web text before expensive model scoring).

    Scale design: two passes over the token stream — (1) hash aggregate to
    the unigram vocab (map-side combinable), (2) join tokens back to vocab on
    the word key and aggregate per doc. The corpus total is a 1-row aggregate
    broadcast via cross join. Vocab follows Zipf — the head words are hot
    keys in the join, but the join is BROADCAST (vocab of distinct words is
    dictionary-sized relative to the corpus), so no skewed shuffle exists."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    words = outer_explode(
        docs,
        F.filter(F.split(F.trim("text"), r"\s+"), lambda w: w != F.lit("")),
        "w",
        "doc_id",
    )
    vocab = words.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    n = vocab.agg(F.sum("c").alias("n"))
    return (
        words.join(F.broadcast(vocab), "w")
        .crossJoin(F.broadcast(n))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.round(F.avg(F.log(F.col("c") * F.lit(1.0) / F.col("n"))), 4).alias("avg_logprob"),
        )
    )


# Deterministic per-source sampling rates: srcN keeps 100%/50%/25%/10% by
# source tier. The uniform variate is the first 8 hex chars of md5(doc_id) —
# identical lowercase hex in Spark and DuckDB, compared LEXICOGRAPHICALLY
# against a hex threshold (equivalent to the numeric compare, no int parsing).
_MIX_TIERS = [(5, "zzzzzzzz"), (10, "80000000"), (15, "40000000"), (10**9, "19999999")]


@query(
    "mixture_weighted_sample",
    oracle="""
    SELECT doc_id, source
    FROM (
        SELECT doc_id, source,
               CAST(substr(source, 4) AS INTEGER) AS srcnum,
               substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS u
        FROM documents
    )
    WHERE u < CASE WHEN srcnum < 5 THEN 'zzzzzzzz'
                   WHEN srcnum < 10 THEN '80000000'
                   WHEN srcnum < 15 THEN '40000000'
                   ELSE '19999999' END
    """,
)
def mixture_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mixture-weighted corpus sampling: each source tier keeps
    a target fraction of its documents (100/50/25/10%), selected by a
    content-stable hash of the row key — the reproducible "data mixture"
    operation of a training pipeline (re-running yields the same sample;
    adding new files never reshuffles previously selected rows).

    Scale design: pure projection + filter, zero shuffle, fully pushed into
    the scan stage; the per-row md5 is whole-stage codegen. Rate changes need
    no re-partitioning — the hash is the permanent sampling coordinate (the
    same trick as A/B bucketing). Extension (reference sampling surface is
    random sample only)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    srcnum = F.substring("source", 4, 10).cast("int")
    u = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8)
    threshold = F.when(srcnum < 5, F.lit("zzzzzzzz")).when(srcnum < 10, F.lit("80000000")).when(
        srcnum < 15, F.lit("40000000")
    ).otherwise(F.lit("19999999"))
    return docs.filter(u < threshold).select("doc_id", "source")


@query(
    "class_balance_downsample",
    oracle="""
    WITH counts AS (
        SELECT label, count(*) AS c FROM embeddings GROUP BY label
    ), m AS (
        SELECT min(c) AS m FROM counts
    ), ranked AS (
        SELECT vec_id, label,
               row_number() OVER (PARTITION BY label
                                  ORDER BY substr(md5(CAST(vec_id AS VARCHAR)), 1, 16), vec_id) AS rn
        FROM embeddings
    )
    SELECT vec_id, label FROM ranked, m WHERE rn <= m.m
    """,
)
def class_balance_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced downsampling: every label keeps exactly min-class-count
    rows, chosen by a deterministic hash order (reproducible across runs and
    cluster sizes — no RNG state, no collect of data).

    Scale design: one small aggregate for the floor count (broadcast as a
    1-row cross join), one per-label row_number window — partitioned by label
    so each class ranks in parallel; the md5 rank key makes the selection
    uniform without a shuffle-wide sort. Skewed label sizes parallelize per
    label; a single giant class would call for the salted two-phase top-m,
    same as the top-k discipline in windows.py."""
    from pyspark.sql.window import Window

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    m = emb.groupBy("label").agg(F.count(F.lit(1)).alias("c")).agg(F.min("c").alias("m"))
    w = Window.partitionBy("label").orderBy(
        F.substring(F.md5(F.col("vec_id").cast("string")), 1, 16), F.asc("vec_id")
    )
    return (
        emb.withColumn("rn", F.row_number().over(w))
        .crossJoin(F.broadcast(m))
        .filter(F.col("rn") <= F.col("m"))
        .select("vec_id", "label")
    )


_WS_K = 50  # weighted-sample size


@query(
    "weighted_sample_es",
    oracle=f"""
    WITH keyed AS (
        SELECT doc_id, source, n_chars,
               ln((CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))
                        AS INTEGER) + 1) / 16777217.0) / n_chars AS k
        FROM documents
    )
    SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars, round(k, 6) AS sample_key
    FROM keyed
    ORDER BY k DESC, doc_id
    LIMIT {_WS_K}
    """,
)
def weighted_sample_es(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement (Efraimidis–Spirakis): take the
    top-k documents by key ln(u)/w, with u a content-stable md5 uniform and
    w = n_chars — each doc's inclusion probability is proportional to its
    weight, and the draw is reproducible across runs and cluster sizes.

    Scale design: pure projection + TakeOrderedAndProject — per-partition
    top-k then a k-sized driver merge, never a global sort; the md5 key means
    no RNG state to coordinate across executors (the distributed-sampling
    property that makes E-S the standard at scale)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 6), 16, 10).cast("long")
        + 1
    ) / F.lit(16777217.0)
    keyed = docs.select(
        "doc_id", "source", F.col("n_chars").cast("bigint").alias("n_chars"),
        (F.log(u) / F.col("n_chars")).alias("k"),
    )
    return (
        keyed.orderBy(F.desc("k"), F.asc("doc_id"))
        .limit(_WS_K)
        .select("doc_id", "source", "n_chars", F.round("k", 6).alias("sample_key"))
    )


@query(
    "train_val_test_split",
    oracle="""
    WITH hashed AS (
        SELECT lang, n_chars,
               ((doc_id * 2654435761) % 4294967296) / 4294967296.0 AS h
        FROM documents
    ),
    tagged AS (
        SELECT lang, n_chars,
               CASE WHEN h < 0.8 THEN 'train'
                    WHEN h < 0.9 THEN 'val'
                    ELSE 'test' END AS split
        FROM hashed
    )
    SELECT split, lang,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM tagged GROUP BY split, lang
    """,
)
def train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split — the standard training-data
    partitioning: a Knuth multiplicative hash of the STABLE doc_id maps every
    document to [0,1) identically on any engine/cluster size (no RNG, no
    shuffle-order dependence), then fraction thresholds assign splits.
    Reported per (split, lang) so class balance is auditable. Pure
    expression + one aggregate: scale-free. Exact integer arithmetic keeps
    the DuckDB oracle bit-identical."""
    docs = load_table(spark, sf_dir, "documents")
    h = ((F.col("doc_id") * F.lit(2654435761)) % F.lit(4294967296)) / F.lit(
        4294967296.0
    )
    tagged = docs.select(
        "lang",
        "n_chars",
        F.when(h < 0.8, "train").when(h < 0.9, "val").otherwise("test").alias("split"),
    )
    return tagged.groupBy("split", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )


def _split_expr(col):
    h = ((col * F.lit(2654435761)) % F.lit(4294967296)) / F.lit(4294967296.0)
    return F.when(h < 0.8, "train").when(h < 0.9, "val").otherwise("test")


def _leakage_oracle():
    # round-11: built on the clone-collapsed pair chain (dedup.py) — the
    # naive chain re-derived the full LSH pipeline per member and was the
    # 99 GB-RSS offender at the 100×-docs corpus. The expansion join streams
    # straight into the 6-row split aggregate; the quadratic never
    # materializes.
    from legate_pandas_spark.operators.dedup import (
        _SQL_COLLAPSED_CTES,
        _SQL_COLLAPSED_PAIRS_SELECT,
    )

    return f"""
    WITH {_SQL_COLLAPSED_CTES},
    pairs AS ({_SQL_COLLAPSED_PAIRS_SELECT}),
    splits AS (
        SELECT doc_id,
               CASE WHEN ((doc_id * 2654435761) % 4294967296) / 4294967296.0 < 0.8
                    THEN 'train'
                    WHEN ((doc_id * 2654435761) % 4294967296) / 4294967296.0 < 0.9
                    THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
    )
    SELECT sa.split AS split_a, sb.split AS split_b,
           count(*) AS n_pairs,
           round(sum(p.jaccard), 4) AS sum_jaccard
    FROM pairs p
    JOIN splits sa ON sa.doc_id = p.doc_a
    JOIN splits sb ON sb.doc_id = p.doc_b
    WHERE sa.split <> sb.split
    GROUP BY sa.split, sb.split
    """


@query("cross_split_leakage", oracle=_leakage_oracle())
def cross_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test contamination audit: near-duplicate pairs (MinHash-LSH +
    exact Jaccard verify) that STRADDLE the deterministic train/val/test
    split — the leakage a held-out eval set must not have. Composes the
    sub-linear LSH candidate generation with the hash-based split (both
    engine-deterministic), so the whole audit is oracle-checkable; the
    splits join is a broadcast of two tiny columns onto the pair list.

    The pair list is the session-memoized lsh_verified_pairs stage — when
    dedup_minhash_lsh (or connected components) already ran in this session,
    the audit reuses the persisted pairs instead of re-deriving the LSH
    pipeline from raw shingles (round-7 verdict Next #4)."""
    from legate_pandas_spark.operators.dedup import lsh_verified_pairs

    pairs = lsh_verified_pairs(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    sa = docs.select(
        F.col("doc_id").alias("doc_a"), _split_expr(F.col("doc_id")).alias("split_a")
    )
    sb = docs.select(
        F.col("doc_id").alias("doc_b"), _split_expr(F.col("doc_id")).alias("split_b")
    )
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(F.col("split_a") != F.col("split_b"))
        .groupBy("split_a", "split_b")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.sum("jaccard"), 4).alias("sum_jaccard"),
        )
    )


_BLOOM_BITS = 1 << 20  # m: bitmap width (128 KiB); production: size for ~10 bits/elem
_BLOOM_K = 3  # hash count


def _bloom_positions(gcol):
    """K bit positions per gram, computed JVM-side (xxhash64 with k distinct
    salt columns — identical expressions on build and probe side, so the two
    stages agree by construction; no Python hashing anywhere)."""
    return [
        F.pmod(F.xxhash64(gcol, F.lit(i)), F.lit(_BLOOM_BITS)).alias(f"__bp{i}__")
        for i in range(_BLOOM_K)
    ]


@query(
    "bloom_prefilter_decontaminate",
    oracle=_SQL_GRAMS
    + f"""
    , bench AS (
        SELECT DISTINCT unnest(gs) AS g FROM grams WHERE doc_id % {_BENCH_MOD} = 0
    ), cand AS (
        SELECT DISTINCT doc_id, g FROM (
            SELECT doc_id, unnest(gs) AS g FROM grams WHERE doc_id % {_BENCH_MOD} <> 0
        )
    )
    SELECT c.doc_id, CAST(count(*) AS BIGINT) AS matched_ngrams
    FROM cand c JOIN bench b USING (g)
    GROUP BY c.doc_id
    """,
)
def bloom_prefilter_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination via a Bloom-filter prefilter — the scale path
    for when the benchmark n-gram set is too big to broadcast as strings.

    100 TB design: a 1B-gram benchmark is ~50 GB of strings (unbroadcastable)
    but ~1.2 GB as a 10-bit/elem Bloom bitmap. Build = one pass over bench
    grams: each partition sets bits in a LOCAL m-bit numpy bitmap and ships
    only the m/8 bytes (treeAggregate shape — cost independent of data size);
    the driver ORs num_partitions bitmaps and broadcasts the result once.
    Probe = JVM-side xxhash64 positions + an Arrow-vectorized bitmap lookup,
    then the few surviving (doc, gram) candidates take the EXACT verify join —
    Bloom filters have no false negatives, so the final answer is exact and
    the oracle is the plain join. False positives only cost verify-join input.

    Beyond the reference (no corpus tooling there); the two-stage
    prefilter+verify discipline mirrors dedup_minhash_lsh."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select("doc_id", F.split(F.trim("text"), r"\s+").alias("t"))
    grams = toks.select("doc_id", _word_ngrams(F.col("t"), _N).alias("gs"))
    bench = outer_explode(
        grams.filter(F.col("doc_id") % _BENCH_MOD == 0), "gs", "g"
    ).distinct()

    # --- build: per-partition bitmaps, OR-combined on the driver ---
    pos_cols = [f"__bp{i}__" for i in range(_BLOOM_K)]
    bench_pos = bench.select(*_bloom_positions(F.col("g")))

    def build(batches):
        bm = np.zeros(_BLOOM_BITS // 8, dtype=np.uint8)
        for pdf in batches:
            for c in pos_cols:
                p = pdf[c].to_numpy()
                np.bitwise_or.at(bm, p >> 3, (1 << (p & 7)).astype(np.uint8))
        yield pd.DataFrame({"bm": [bm.tobytes()]})

    bloom = np.zeros(_BLOOM_BITS // 8, dtype=np.uint8)
    for row in bench_pos.mapInPandas(build, "bm binary").collect():
        bloom |= np.frombuffer(row["bm"], dtype=np.uint8)
    bloom_bc = spark.sparkContext.broadcast(bloom.tobytes())

    # --- probe: vectorized bitmap membership on JVM-computed positions ---
    @pandas_udf("boolean")
    def _might_contain(p0, p1, p2):
        bm = np.frombuffer(bloom_bc.value, dtype=np.uint8)
        ok = np.ones(len(p0), dtype=bool)
        for p in (p0, p1, p2):
            pv = p.to_numpy()
            ok &= (bm[pv >> 3] & (1 << (pv & 7)).astype(np.uint8)) != 0
        return pd.Series(ok)

    # nondeterministic mark (guide §4.4): as a deterministic filter on the
    # join key the probe was COPIED to the bench side by constraint
    # propagation — a second full ArrowEvalPython pass that by construction
    # removes nothing (every bench gram is in the filter). The mark stops
    # the optimizer duplicating it; the probe stays where it pays.
    might_contain = _might_contain.asNondeterministic()

    # probe BEFORE the distinct, explicitly: the optimizer used to place it
    # there itself by pushing the deterministic filter down, but the
    # nondeterministic mark freezes placement — so write the beneficial
    # order (probe cuts the distinct's shuffle input) by hand
    cand = outer_explode(
        grams.filter(F.col("doc_id") % _BENCH_MOD != 0), "gs", "g", "doc_id"
    ).select("doc_id", "g", *_bloom_positions(F.col("g")))
    survivors = (
        cand.filter(might_contain(*[F.col(c) for c in pos_cols]))
        .select("doc_id", "g")
        .distinct()
    )
    # exact verify: no false negatives upstream, so this join IS the answer
    return (
        survivors.join(bench, "g")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("matched_ngrams"))
    )


_C_THRESHOLD = 0.6  # directional containment cut
_C_MIN_GRAMS = 5  # ignore docs too short for containment to mean anything


# Clone-collapsed containment oracle (round-11, same program as the dedup.py
# pair chain — the pair-granular OUTPUT stays, only the quadratic WORK
# collapses). Group key is (lang, md5(text)): containment joins on lang, and
# the 100×-docs corpus has text groups spanning two langs, so text alone
# would over-merge. Within a group, containment is exactly 1.0 in both
# directions (identical gram sets), emitted iff the rep clears the
# {_C_MIN_GRAMS}-gram floor; cross-group member pairs inherit the rep pair's
# directional containment verbatim (doc_a is the CONTAINED side, so the
# expansion keeps rep-pair orientation — no least/greatest).
_SQL_CONTAINMENT_COLLAPSED = f"""
    WITH cgrp AS MATERIALIZED (
        SELECT doc_id, lang || '|' || md5(text) AS gk
        FROM documents WHERE text IS NOT NULL AND lang IS NOT NULL
    ),
    cgsz AS MATERIALIZED (
        SELECT gk, min(doc_id) AS rep, count(*) AS gsize FROM cgrp GROUP BY gk
    ),
    rdocs AS MATERIALIZED (
        SELECT g.rep AS doc_id, d.lang, d.text
        FROM cgsz g JOIN documents d ON d.doc_id = g.rep
    ),
    toks AS (
        SELECT doc_id, lang, string_split_regex(trim(text), '\\s+') AS t
        FROM rdocs
    ), grams AS (
        SELECT doc_id, lang,
               CASE WHEN len(t) >= {_N}
                    THEN list_distinct(list_transform(range(1, len(t) - {_N - 2}),
                                                      i -> array_to_string(t[i:i+{_N - 1}], ' ')))
                    ELSE [] END AS gs
        FROM toks
    ), exploded AS MATERIALIZED (
        SELECT doc_id, lang, len(gs) AS sz, unnest(gs) AS g FROM grams
        WHERE len(gs) >= {_C_MIN_GRAMS}
    ), inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               any_value(a.sz) AS sz_a, count(*) AS isect
        FROM exploded a JOIN exploded b
          ON a.lang = b.lang AND a.g = b.g AND a.doc_id <> b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    rep_pairs AS MATERIALIZED (
        SELECT doc_a, doc_b, round(isect * 1.0 / sz_a, 4) AS containment
        FROM inter
        WHERE isect * 1.0 / sz_a >= {_C_THRESHOLD}
    ),
    eligible AS MATERIALIZED (SELECT DISTINCT doc_id FROM exploded)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(1.0 AS DOUBLE) AS containment
    FROM cgsz r
    JOIN cgrp a ON a.gk = r.gk
    JOIN cgrp b ON b.gk = r.gk
    WHERE a.doc_id <> b.doc_id AND r.rep IN (SELECT doc_id FROM eligible)
    UNION ALL
    SELECT m1.doc_id AS doc_a, m2.doc_id AS doc_b, p.containment
    FROM rep_pairs p
    JOIN cgsz g1 ON g1.rep = p.doc_a
    JOIN cgsz g2 ON g2.rep = p.doc_b
    JOIN cgrp m1 ON m1.gk = g1.gk
    JOIN cgrp m2 ON m2.gk = g2.gk
"""


@query("dedup_containment_pairs", oracle=_SQL_CONTAINMENT_COLLAPSED)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIRECTIONAL containment near-dup pairs: containment(A→B) =
    |grams(A) ∩ grams(B)| / |grams(A)| — catches a document whose content is
    embedded inside a much larger one, which symmetric Jaccard (and its
    length-band blocking) structurally cannot: a 100-gram doc quoted inside a
    10,000-gram doc has Jaccard ≈ 0.01 but containment 1.0. The standard
    training-data case is boilerplate-wrapped copies and quote-heavy
    aggregator pages.

    Scale design: same shared-gram self-join discipline as
    ``dedup_ngram_jaccard`` (candidates exist only where two same-lang docs
    share an actual n-gram — never a doc×doc cartesian), minus the length
    band, which containment must not use; short docs (fewer than 5 grams) are
    dropped before the join. Round-5 worst-case guard: the self-join costs
    O(Σ_g df_g²) rows, which a hot boilerplate gram (df ~ 10⁵ at web scale)
    turns catastrophic — so grams are keyed by a 64-bit hash (8-byte shuffle
    keys instead of multi-word strings), the gram table is persisted (one
    text scan, not two), and an adaptive posting-list cap kicks in ONLY when
    hot grams exist: candidate pairs then come from rare grams alone
    (df ≤ cap) and the exact intersection is re-counted per candidate against
    the full gram table, so the output stays exact either way. The branch
    decision is one scalar aggregate (the connected-components adaptive
    pattern, dedup.py); a pair ALL of whose shared grams are hot is the one
    shape the capped branch can miss — containment ≥ 0.6 through nothing but
    ubiquitous boilerplate is definitionally not a near-duplicate signal."""
    return _containment_pairs(
        load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    )


_C_HOT_GRAM_CAP = 512  # posting-list length above which a gram is "hot"


def _containment_pairs(docs: DataFrame, cap: int = _C_HOT_GRAM_CAP) -> DataFrame:
    from pyspark.storagelevel import StorageLevel

    toks = docs.select(
        "doc_id", "lang", F.split(F.trim("text"), r"\s+").alias("t")
    )
    grams = toks.select("doc_id", "lang", _word_ngrams(F.col("t"), _N).alias("gs"))
    exploded = (
        outer_explode(
            grams.filter(F.size("gs") >= _C_MIN_GRAMS),
            "gs",
            "g",
            "doc_id",
            "lang",
            F.size("gs").alias("sz"),
        )
        # 64-bit gram key: collision odds ~ (distinct grams)²/2⁶⁴ — vanishing,
        # and a collision merely perturbs one isect count by 1
        .select("doc_id", "sz", F.xxhash64("lang", "g").alias("gh"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    df_g = exploded.groupBy("gh").agg(F.count(F.lit(1)).alias("__df__"))
    hot = df_g.filter(F.col("__df__") > cap).select("gh")
    n_hot = hot.count()

    a = exploded.alias("a")
    if n_hot == 0:
        # fast exact path: every posting list is bounded, the shared-gram
        # self-join IS the intersection count. shuffle-hash hint: Catalyst's
        # size estimate predates the explode, so it would happily broadcast a
        # corpus-sized gram table
        b = exploded.hint("shuffle_hash").alias("b")
        inter = (
            a.join(
                b,
                (F.col("a.gh") == F.col("b.gh"))
                & (F.col("a.doc_id") != F.col("b.doc_id")),
            )
            .groupBy(
                F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
            )
            .agg(
                F.first(F.col("a.sz")).alias("sz_a"),
                F.count(F.lit(1)).alias("isect"),
            )
        )
    else:
        # guarded path: candidates from rare grams only (bounded df ≤ cap per
        # gram → bounded pair fan-out), then exact per-candidate recount
        # against the FULL gram table (hot grams included, so isect is exact)
        cold = exploded.join(hot, "gh", "left_anti")
        cand = (
            cold.alias("ca")
            .join(
                cold.hint("shuffle_hash").alias("cb"),
                (F.col("ca.gh") == F.col("cb.gh"))
                & (F.col("ca.doc_id") != F.col("cb.doc_id")),
            )
            .select(
                F.col("ca.doc_id").alias("doc_a"),
                F.col("cb.doc_id").alias("doc_b"),
            )
            .distinct()
        )
        inter = (
            cand.join(a, F.col("doc_a") == F.col("a.doc_id"))
            .join(
                exploded.hint("shuffle_hash").alias("b"),
                (F.col("doc_b") == F.col("b.doc_id"))
                & (F.col("a.gh") == F.col("b.gh")),
            )
            .groupBy("doc_a", "doc_b")
            .agg(
                F.first(F.col("a.sz")).alias("sz_a"),
                F.count(F.lit(1)).alias("isect"),
            )
        )
    return inter.filter(
        F.col("isect") / F.col("sz_a") >= _C_THRESHOLD
    ).select(
        "doc_a",
        "doc_b",
        F.round(F.col("isect") / F.col("sz_a"), 4).alias("containment"),
    )


@query(
    "sensitive_term_redaction",
    oracle=r"""
    WITH red AS (
        SELECT doc_id, lang,
               len(regexp_extract_all(text, '\b(key|value|customer)\b')) AS n_hits,
               length(regexp_replace(text, '\b(key|value|customer)\b',
                                     '[REDACTED]', 'g')) AS len_after
        FROM documents
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CAST(n_hits > 0 AS INT)) AS BIGINT) AS docs_redacted,
           CAST(sum(n_hits) AS BIGINT) AS total_redactions,
           CAST(sum(len_after) AS BIGINT) AS total_len_after
    FROM red
    GROUP BY lang
    """,
)
def sensitive_term_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII-style redaction pipeline: global regex replacement of sensitive
    terms with a fixed token, plus per-language audit counts — the exact
    shape of email/phone/SSN scrubbing in a training-data pipeline (swap the
    term alternation for PII patterns in production; the synthetic corpus has
    no real PII, so deterministic word targets stand in). One JVM-side
    projection (regexp_count for exact hit counts + regexp_replace for the
    rewritten text) and a partial-aggregatable groupBy — zero Python, one
    scan, no shuffle beyond the 5-row language rollup."""
    docs = load_table(spark, sf_dir, "documents")
    pat = r"\b(key|value|customer)\b"
    red = docs.select(
        "lang",
        F.regexp_count("text", F.lit(pat)).alias("n_hits"),
        F.length(F.regexp_replace("text", pat, "[REDACTED]")).alias("len_after"),
    )
    return red.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("n_hits") > 0).cast("int")).cast("long").alias("docs_redacted"),
        F.sum("n_hits").cast("long").alias("total_redactions"),
        F.sum("len_after").cast("long").alias("total_len_after"),
    )


@query(
    "lang_balanced_sample",
    oracle="""
    WITH ranked AS (
        SELECT doc_id, lang,
               row_number() OVER (PARTITION BY lang
                                  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
                   AS rn
        FROM documents
    )
    SELECT lang, doc_id
    FROM ranked WHERE rn <= 60
    """,
)
def lang_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-balanced resampling: cap each language at 60 documents,
    selected by a DETERMINISTIC pseudo-random order (md5 of the doc id —
    identical bytes in every engine, so the draw is reproducible across
    Spark, DuckDB, and reruns; a seeded salt concat'd into the hash input
    re-rolls the sample). The standard mixture-balancing step before
    training-data packing: head languages are downsampled to the cap, tail
    languages keep everything. One partitioned window per language — no
    global sort, no driver round trip."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 60)
        .select("lang", "doc_id")
    )


@query(
    "dedup_apply_survivors",
    oracle="""
    WITH ranked AS (
        SELECT doc_id, lang, n_chars, md5(text) AS digest,
               row_number() OVER (PARTITION BY md5(text)
                                  ORDER BY n_chars DESC, doc_id) AS rn,
               count(*)     OVER (PARTITION BY md5(text)) AS group_sz
        FROM documents
    )
    SELECT doc_id, lang, CAST(group_sz AS BIGINT) AS group_sz,
           CAST(group_sz - 1 AS BIGINT) AS dropped
    FROM ranked WHERE rn = 1
    """,
)
def dedup_apply_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup APPLY step — detection queries (dedup_exact_hash,
    dedup_minhash_lsh, …) only FIND duplicates; a pipeline must then choose
    one canonical document per cluster and drop the rest. Exact-hash
    clusters, canonical = longest text with doc_id as the tiebreak
    (deterministic), plus the per-cluster drop count for the curation audit
    log. One digest-partitioned window — parallel per cluster, no global
    ordering anywhere."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars", F.md5("text").alias("digest")
    )
    w = Window.partitionBy("digest").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    wc = Window.partitionBy("digest")
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .withColumn("group_sz", F.count(F.lit(1)).over(wc))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            "lang",
            F.col("group_sz").cast("long").alias("group_sz"),
            (F.col("group_sz") - 1).cast("long").alias("dropped"),
        )
    )


@query(
    "quality_filter_funnel",
    oracle=r"""
    WITH staged AS (
        SELECT doc_id,
               CAST(lang IN ('en', 'de', 'fr', 'es') AS INT) AS pass_lang,
               CAST(n_chars BETWEEN 200 AND 20000 AS INT)    AS pass_len,
               CAST(len(string_split_regex(trim(text), '\s+')) >=
                    2 * len(list_distinct(string_split_regex(trim(text), '\s+')))
                    AS INT) AS fail_rep
        FROM documents
    )
    SELECT CAST(count(*) AS BIGINT)                                   AS n_input,
           CAST(sum(pass_lang) AS BIGINT)                             AS pass_lang,
           CAST(sum(pass_lang * pass_len) AS BIGINT)                  AS pass_len,
           CAST(sum(pass_lang * pass_len * (1 - fail_rep)) AS BIGINT) AS pass_repetition,
           round(sum(pass_lang * pass_len * (1 - fail_rep)) * 1.0
                 / count(*), 4)                                       AS survival_rate
    FROM staged
    """,
)
def quality_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation-funnel accounting: how many documents survive each filter
    stage (language allowlist → length band → repetition cut) — the
    attrition report every corpus-curation run ships with. All stages are
    computed as 0/1 flags in ONE scan and combined with conditional
    aggregates (stage N's count conditions on stages 1..N-1), so the funnel
    costs one pass regardless of stage count — never one job per stage."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim("text"), r"\s+")
    staged = docs.select(
        F.col("lang").isin("en", "de", "fr", "es").cast("int").alias("pass_lang"),
        F.col("n_chars").between(200, 20000).cast("int").alias("pass_len"),
        (F.size(toks) >= 2 * F.size(F.array_distinct(toks)))
        .cast("int")
        .alias("fail_rep"),
    )
    survived = F.col("pass_lang") * F.col("pass_len") * (1 - F.col("fail_rep"))
    return staged.agg(
        F.count(F.lit(1)).cast("long").alias("n_input"),
        F.sum("pass_lang").cast("long").alias("pass_lang"),
        F.sum(F.col("pass_lang") * F.col("pass_len")).cast("long").alias("pass_len"),
        F.sum(survived).cast("long").alias("pass_repetition"),
        F.round(F.sum(survived) / F.count(F.lit(1)), 4).alias("survival_rate"),
    )


# ---------------------------------------------------------------------------
# Exact-substring (suffix-style) decontamination — real benchmark-
# contamination checks match LONG exact token substrings (production: ~50
# tokens; here W=8 against the short synthetic docs), not whole n-gram SETS:
# a single verbatim window is a hit regardless of how much of the rest of the
# document differs.
# ---------------------------------------------------------------------------

_SUB_W = 8  # exact-substring window width (tokens)
_SUB_MOD = 10  # doc_id % 10 == 8 -> the held-out eval/"benchmark" slice

_SQL_SUBSTR_DECON = f"""
    WITH toks AS (
        SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
    ), wins AS (
        SELECT doc_id,
               unnest(range(1, len(t) - {_SUB_W - 2})) AS pos,
               unnest(list_transform(range(1, len(t) - {_SUB_W - 2}),
                                     i -> array_to_string(t[i:i+{_SUB_W - 1}], ' '))) AS w
        FROM toks WHERE len(t) >= {_SUB_W}
    ),
    bench AS (
        SELECT DISTINCT doc_id AS bench_id, w FROM wins
        WHERE doc_id % {_SUB_MOD} = {_SUB_MOD - 2}
    ),
    corp AS (
        SELECT doc_id, pos, w FROM wins WHERE doc_id % {_SUB_MOD} <> {_SUB_MOD - 2}
    )
    SELECT c.doc_id, b.bench_id,
           CAST(count(*) AS BIGINT) AS matched_windows,
           CAST(min(c.pos) AS BIGINT) AS span_start,
           CAST(max(c.pos) + {_SUB_W - 1} AS BIGINT) AS span_end
    FROM corp c JOIN bench b ON c.w = b.w
    GROUP BY c.doc_id, b.bench_id
"""


@query("decontaminate_exact_substring", oracle=_SQL_SUBSTR_DECON)
def decontaminate_exact_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring decontamination: (corpus doc, benchmark doc) pairs that
    share at least one verbatim W-token window, with the count of matching
    corpus window positions and the [span_start, span_end] token range they
    cover — the span report is what a removal pass consumes.

    Pipeline: tokenize → sliding W-token windows WITH positions (posexplode)
    → benchmark side DISTINCT'd per bench doc → equi-join on the window text
    → one (doc, bench) hash aggregate.

    100 TB shape: the benchmark window table is eval-set-sized (broadcast);
    corpus windows stream through the broadcast hash join — linear, never
    doc×doc. Boilerplate ("hot") windows are naturally rare at W≥8 — window
    document-frequency falls off exponentially with W, which is exactly why
    production uses wide windows; if a corpus carried pathological verbatim
    boilerplate the same capped-posting + exact-recount guard as
    dedup_containment_pairs applies, keyed per (window, bench_id). The join
    keys on xxhash64(window) (8-byte probe key instead of a ~60-byte string)
    with post-join text verification — exactly the production recipe."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select("doc_id", F.split(F.trim("text"), r"\s+").alias("t"))
    wins_arr = F.transform(
        F.sequence(F.lit(1), F.size("t") - (_SUB_W - 1)),
        lambda i: F.concat_ws(" ", F.slice(F.col("t"), i, _SUB_W)),
    )
    wins = (
        toks.filter(F.size("t") >= _SUB_W)
        .select("doc_id", F.posexplode(wins_arr).alias("pos0", "w"))
        .select("doc_id", (F.col("pos0") + 1).cast("bigint").alias("pos"), "w")
    )
    is_bench = F.col("doc_id") % _SUB_MOD == _SUB_MOD - 2
    # r12 (guide §2.3, the exact_substring_spans discipline): the join key is
    # xxhash64(window) — an 8-byte probe/broadcast key instead of a ~60-byte
    # window string. r13 (VERDICT r12 #3): the broadcast side also carries
    # the raw window and the join re-checks string equality — at ~100 TB
    # (≳2^32 distinct windows) a 64-bit birthday collision is EXPECTED and
    # would silently add a false (doc, bench) contamination pair; the raw
    # re-check costs nothing on the corpus side (w is already computed to be
    # hashed, and the corpus stream is never shuffled — broadcast join).
    bench = (
        wins.filter(is_bench)
        .select(
            F.col("doc_id").alias("bench_id"),
            F.xxhash64("w").alias("wh"),
            F.col("w").alias("bw"),
        )
        .distinct()
    )
    corp = wins.filter(~is_bench).select(
        "doc_id", "pos", F.xxhash64("w").alias("wh"), "w"
    )
    return (
        corp.join(F.broadcast(bench), "wh")
        .filter(F.col("w") == F.col("bw"))
        .groupBy("doc_id", "bench_id")
        .agg(
            F.count(F.lit(1)).alias("matched_windows"),
            F.min("pos").alias("span_start"),
            (F.max("pos") + (_SUB_W - 1)).alias("span_end"),
        )
    )


# ---------------------------------------------------------------------------
# Per-source boilerplate n-gram profiling (C4-style): n-grams that recur
# across many documents OF THE SAME SOURCE are navigation chrome / templates /
# legal footers; a document dominated by them carries little training signal.
# ---------------------------------------------------------------------------

_BP_N = 3  # boilerplate n-gram width
_BP_MIN_DF_RATIO = 0.05  # gram is boilerplate when df/docs_in_source >= this

_SQL_BOILERPLATE = f"""
    WITH toks AS (
        SELECT doc_id, source, string_split_regex(trim(text), '\\s+') AS t
        FROM documents
    ), grams AS (
        SELECT doc_id, source,
               unnest(list_distinct(list_transform(
                   range(1, len(t) - {_BP_N - 2}),
                   i -> array_to_string(t[i:i+{_BP_N - 1}], ' ')))) AS g
        FROM toks WHERE len(t) >= {_BP_N}
    ),
    src AS (SELECT source, count(*) AS nd FROM documents GROUP BY source),
    df AS (SELECT source, g, count(*) AS c FROM grams GROUP BY source, g),
    bp AS (
        SELECT d.source, d.g FROM df d JOIN src s USING (source)
        WHERE d.c * 1.0 / s.nd >= {_BP_MIN_DF_RATIO}
    )
    SELECT gr.doc_id,
           CAST(count(*) AS BIGINT) AS total_ngrams,
           CAST(count(b.g) AS BIGINT) AS boilerplate_ngrams,
           round(count(b.g) * 1.0 / count(*), 4) AS boilerplate_ratio
    FROM grams gr
    LEFT JOIN bp b ON gr.source = b.source AND gr.g = b.g
    GROUP BY gr.doc_id
"""


@query("boilerplate_ngram_ratio", oracle=_SQL_BOILERPLATE)
def boilerplate_ngram_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document boilerplate share: the fraction of a doc's distinct
    3-grams whose within-SOURCE document frequency exceeds a ratio threshold
    — the cross-doc complement of repetition_profile's intra-doc signal, and
    the standard template/footer filter in web-corpus curation (C4 lineage).

    Pipeline: one gram explode (distinct per doc) → (source, gram) hash
    aggregate for document frequency → broadcast per-source doc counts →
    boilerplate gram table → one equi-join back on (source, gram) → per-doc
    aggregate.

    100 TB shape: everything keys on (source, gram) — partial aggregation
    compresses the df pass map-side; the join back is a plain shuffled
    equi-join (the boilerplate table is corpus-scale but filtered to hot
    grams, a tiny fraction); per-source totals are a broadcast. No all-pairs
    anywhere, no window."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    toks = docs.select(
        "doc_id", "source", F.split(F.trim("text"), r"\s+").alias("t")
    )
    # r12 (guide §2.3, the decontaminate discipline): every shuffle/probe
    # keys on xxhash64(gram) — 8-byte hash leading the key. r13 (VERDICT r12
    # #3): the raw gram rides along in the df group key and the join-back
    # key, so a 64-bit collision (expected at ~100 TB gram cardinalities)
    # can no longer merge two grams' df counts or mark a non-boilerplate
    # gram hot — the hash still leads the shuffle key, raw equality is only
    # checked on hash-equal runs.
    grams = outer_explode(
        toks.filter(F.size("t") >= _BP_N).select(
            "doc_id", "source", _word_ngrams(F.col("t"), _BP_N).alias("gs")
        ),
        "gs",
        "g",
        "doc_id",
        "source",
    ).select("doc_id", "source", F.xxhash64("g").alias("gh"), "g")
    _keys = ["source", "gh", "g"]
    src = docs.groupBy("source").agg(F.count(F.lit(1)).alias("nd"))
    df = grams.groupBy(*_keys).agg(F.count(F.lit(1)).alias("c"))
    bp = (
        df.join(F.broadcast(src), "source")
        .filter(F.col("c") * F.lit(1.0) / F.col("nd") >= _BP_MIN_DF_RATIO)
        .select(*_keys)
        .withColumn("__bp__", F.lit(True))
    )
    return (
        grams.join(bp, _keys, "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("total_ngrams"),
            F.count(F.col("__bp__")).alias("boilerplate_ngrams"),
            F.round(
                F.count(F.col("__bp__")) * F.lit(1.0) / F.count(F.lit(1)), 4
            ).alias("boilerplate_ratio"),
        )
    )


# ---------------------------------------------------------------------------
# Temperature-based mixture reweighting — the standard multilingual /
# multi-source training-mix formula: sampling share ∝ (n_s/N)^α with α < 1
# up-weights small sources (α=1 is proportional, α=0 is uniform).
# ---------------------------------------------------------------------------

_TEMP_TARGET_FRAC = 0.5  # target corpus size = 50% of N


@query(
    "temperature_mixture_sample",
    oracle=f"""
    WITH counts AS (
        SELECT source, count(*) AS n FROM documents GROUP BY source
    ),
    tot AS (SELECT sum(sqrt(n)) AS z, sum(n) AS nn FROM counts),
    rates AS (
        SELECT c.source, c.n,
               round(least(1.0,
                     ({_TEMP_TARGET_FRAC} * t.nn) * (sqrt(c.n) / t.z) / c.n), 9)
                   AS rate
        FROM counts c CROSS JOIN tot t
    ),
    kept AS (
        SELECT d.source, count(*) AS n_kept
        FROM documents d JOIN rates r ON d.source = r.source
        WHERE ((d.doc_id * 2654435761) % 4294967296) / 4294967296.0 < r.rate
        GROUP BY d.source
    )
    SELECT r.source,
           CAST(r.n AS BIGINT) AS n_docs,
           round(r.rate, 6) AS keep_rate,
           CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept
    FROM rates r LEFT JOIN kept k USING (source)
    """,
)
def temperature_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-reweighted mixture sampling (α = 0.5): per-source keep
    rates derived FROM the data — share_s = n_s^α / Σ n_t^α, keep_rate_s =
    min(1, K·share_s/n_s) for target size K = 0.5·N — then a deterministic
    Knuth-hash draw per document (same reproducible-coordinate trick as
    train_val_test_split; re-runs and cluster-size changes never reshuffle
    the sample). α = 0.5 is computed with sqrt, which IEEE requires to be
    correctly rounded, so the rate arithmetic is bit-identical across
    engines; the rate is additionally rounded to 9 dp so summation-order ulp
    noise in Σ√n can never flip a boundary document.

    100 TB shape: one count aggregate (source-cardinality rows) → driver-free
    broadcast of the tiny rate table → pure per-row hash filter + one final
    aggregate. The corpus is scanned twice (count, then filter); fusing to
    one pass would need the rates ahead of time — exactly what a production
    pipeline does by persisting the rate table between ingests."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    tot = counts.agg(
        F.sum(F.sqrt("n")).alias("z"), F.sum("n").alias("nn")
    )
    rates = (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n",
            F.round(
                F.least(
                    F.lit(1.0),
                    (F.lit(_TEMP_TARGET_FRAC) * F.col("nn"))
                    * (F.sqrt("n") / F.col("z"))
                    / F.col("n"),
                ),
                9,
            ).alias("rate"),
        )
    )
    h = ((F.col("doc_id") * F.lit(2654435761)) % F.lit(4294967296)) / F.lit(
        4294967296.0
    )
    kept = (
        docs.join(F.broadcast(rates.select("source", "rate")), "source")
        .filter(h < F.col("rate"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )
    return (
        rates.join(kept, "source", "left")
        .select(
            "source",
            F.col("n").cast("bigint").alias("n_docs"),
            F.round("rate", 6).alias("keep_rate"),
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("bigint").alias("n_kept"),
        )
    )


@query(
    "split_token_distribution_shift",
    oracle="""
    WITH hashed AS (
        SELECT lang, text,
               ((doc_id * 2654435761) % 4294967296) / 4294967296.0 AS h
        FROM documents
    ),
    tagged AS (
        SELECT lang, text,
               CASE WHEN h < 0.8 THEN 'train'
                    WHEN h < 0.9 THEN 'val' ELSE 'test' END AS split
        FROM hashed
    ),
    toks AS (
        SELECT split, lang,
               unnest(list_filter(string_split_regex(trim(text), '\\s+'),
                                  w -> w <> '')) AS w
        FROM tagged WHERE split IN ('train', 'val')
    ),
    cnt AS (
        SELECT lang, w,
               count(*) FILTER (split = 'train') AS ct,
               count(*) FILTER (split = 'val') AS cv
        FROM toks GROUP BY lang, w
    ),
    tot AS (
        SELECT lang, sum(ct) AS nt, sum(cv) AS nv, count(*) AS v
        FROM cnt GROUP BY lang
    ),
    probs AS (
        SELECT c.lang,
               (c.ct + 1.0) / (t.nt + t.v) AS p,
               (c.cv + 1.0) / (t.nv + t.v) AS q
        FROM cnt c JOIN tot t USING (lang)
    )
    SELECT lang,
           round(sum(p * ln(p / q)), 6) AS kl_train_val,
           round(sum(q * ln(q / p)), 6) AS kl_val_train,
           CAST(count(*) AS BIGINT) AS vocab_size
    FROM probs GROUP BY lang
    """,
)
def split_token_distribution_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-shift audit between the train and val splits (same
    deterministic Knuth-hash split as train_val_test_split): per-language
    add-one-smoothed unigram distributions and both KL divergences — the
    standard sanity check that a split didn't skew token distributions (a
    large asymmetric KL flags leakage-prone or topic-skewed splits before a
    training run wastes compute).

    100 TB shape: one token explode → (lang, token) hash aggregate with
    conditional counts per split (map-side combinable) → broadcast per-lang
    totals → one final per-lang aggregate. No window, no all-pairs; the
    smoothing vocabulary is the observed (lang, token) domain, so adding data
    never needs a schema change. Divergences rounded to 6 dp — cross-engine
    float-sum ordering noise is ~1e-12, far below the rounding grid."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    h = ((F.col("doc_id") * F.lit(2654435761)) % F.lit(4294967296)) / F.lit(
        4294967296.0
    )
    tagged = docs.select(
        "lang",
        "text",
        F.when(h < 0.8, "train").when(h < 0.9, "val").otherwise("test").alias("split"),
    ).filter(F.col("split").isin("train", "val"))
    toks = outer_explode(
        tagged.select(
            "split",
            "lang",
            F.filter(
                F.split(F.trim("text"), r"\s+"), lambda w: w != F.lit("")
            ).alias("ws"),
        ),
        "ws",
        "w",
        "split",
        "lang",
    )
    cnt = toks.groupBy("lang", "w").agg(
        F.sum(F.when(F.col("split") == "train", 1).otherwise(0)).alias("ct"),
        F.sum(F.when(F.col("split") == "val", 1).otherwise(0)).alias("cv"),
    )
    tot = cnt.groupBy("lang").agg(
        F.sum("ct").alias("nt"), F.sum("cv").alias("nv"), F.count(F.lit(1)).alias("v")
    )
    probs = cnt.join(F.broadcast(tot), "lang").select(
        "lang",
        ((F.col("ct") + 1.0) / (F.col("nt") + F.col("v"))).alias("p"),
        ((F.col("cv") + 1.0) / (F.col("nv") + F.col("v"))).alias("q"),
    )
    return probs.groupBy("lang").agg(
        F.round(F.sum(F.col("p") * F.log(F.col("p") / F.col("q"))), 6).alias(
            "kl_train_val"
        ),
        F.round(F.sum(F.col("q") * F.log(F.col("q") / F.col("p"))), 6).alias(
            "kl_val_train"
        ),
        F.count(F.lit(1)).cast("bigint").alias("vocab_size"),
    )


_DSIR_B = 2048  # hashed n-gram feature buckets
_DSIR_K = 100  # resampled selection size


def _dsir_tokens_expr(text_col):
    """Lowercased alnum tokens of a text column (empty tokens dropped)."""
    return F.filter(F.split(F.lower(text_col), "[^a-z0-9]+"), lambda x: x != "")


def _dsir_features_expr(toks_col):
    """Unigrams + '_'-joined bigrams of an already-bound token array."""
    bigrams = F.when(
        F.size(toks_col) >= 2,
        F.zip_with(
            F.slice(toks_col, 1, F.size(toks_col) - 1),
            F.slice(toks_col, 2, F.size(toks_col) - 1),
            lambda a, b: F.concat_ws("_", a, b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.concat(toks_col, bigrams)


def _dsir_bucket_expr(g_col):
    """Deterministic md5 feature bucket in [0, _DSIR_B) — same arithmetic as
    the DuckDB oracle's ('0x' || substr(md5(g),1,6))::BIGINT % B."""
    return F.conv(F.substring(F.md5(g_col), 1, 6), 16, 10).cast("bigint") % _DSIR_B


def _dsir_gumbel_expr(doc_id_col):
    """Integer-scaled deterministic Gumbel key: u = (md5-hex8 + 0.5)/2^32 is
    strictly inside (0,1), g = round(-1e6 * ln(-ln(u)))."""
    u = (
        F.conv(F.substring(F.md5(doc_id_col.cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        + F.lit(0.5)
    ) / F.lit(4294967296.0)
    return F.round(F.lit(-1000000.0) * F.log(-F.log(u))).cast("bigint")


def _dsir_parts(docs):
    """(cells, lam, tots) for a documents frame: per-(doc,lang,bucket) counts
    (persisted — three consumers), the B-row integer-logit model, and the
    corpus totals aggregate."""
    feats = docs.select(
        "doc_id", "lang", _dsir_tokens_expr(F.col("text")).alias("toks")
    ).select(
        "doc_id",
        "lang",
        F.explode(_dsir_features_expr(F.col("toks"))).alias("g"),
    )
    cells = (
        feats.select("doc_id", "lang", _dsir_bucket_expr(F.col("g")).alias("b"))
        .groupBy("doc_id", "lang", "b")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .persist()
    )
    # r12: the bucket model made THREE passes over the persisted cell table
    # (rawc, tgtc, tots as separate aggregates); ONE groupBy(b) computes the
    # raw and target counts together (tgtc's missing-bucket coalesce(ct,0)
    # becomes the conditional sum's natural 0), and the corpus totals are its
    # B-row re-aggregate — one cell pass total (guide §2.4). bmodel is
    # persisted because lam and tots both consume it; it is bounded by
    # B=2048 rows at any corpus size.
    bmodel = (
        cells.groupBy("b")
        .agg(
            F.sum("cnt").alias("cr"),
            F.sum(F.when(F.col("lang") == "en", F.col("cnt")).otherwise(0)).alias(
                "ct"
            ),
        )
        .persist()
    )
    tots = bmodel.agg(
        F.sum("cr").alias("r_tot"), F.sum("ct").alias("t_tot")
    )
    lam = bmodel.crossJoin(F.broadcast(tots)).select(
        "b",
        F.round(
            F.lit(1000000.0)
            * F.log(
                ((F.col("ct") + 1) * (F.col("r_tot") + _DSIR_B))
                * 1.0
                / ((F.col("cr") + 1) * (F.col("t_tot") + _DSIR_B))
            )
        )
        .cast("bigint")
        .alias("lam"),
    )
    return cells, lam, tots


def dsir_train_model(spark: SparkSession, sf_dir: str):
    """Collect the trained DSIR feature model for use as plan constants in
    the streaming scorer (streaming/documents.dsir_score_stream): returns
    ({bucket: lam_micro}, default_lam_micro) where the default applies to
    buckets unseen in training — the smoothed logit ln((R+B)/(T+B)) both
    counts at zero. B=2048 rows + 2 scalars: a model-sized collect, the same
    batch->stream handoff as the PQ codebook."""
    import math

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    _cells, lam, tots = _dsir_parts(docs)
    model = {int(r["b"]): int(r["lam"]) for r in lam.collect()}
    t = tots.collect()[0]
    default = int(
        round(
            1000000.0
            * math.log((t["r_tot"] + _DSIR_B) / (t["t_tot"] + _DSIR_B))
        )
    )
    return model, default


# the DSIR WITH-chain (feature cells -> bucket model -> per-doc weights ->
# Gumbel keys), shared by dsir_importance_resample and the round-9 composed
# funnel (dsir_gopher_dedup_funnel)
_SQL_DSIR_CTES = f"""docs AS (
      SELECT doc_id, lang,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS toks
      FROM documents
    ),
    feats AS (
      SELECT doc_id, lang,
             unnest(list_concat(
               toks,
               list_transform(range(1, len(toks)),
                              i -> toks[i] || '_' || toks[i + 1]))) AS g
      FROM docs
    ),
    cells AS (
      SELECT doc_id, lang,
             ('0x' || substr(md5(g), 1, 6))::BIGINT % {_DSIR_B} AS b,
             count(*) AS cnt
      FROM feats GROUP BY 1, 2, 3
    ),
    rawc AS (SELECT b, CAST(sum(cnt) AS BIGINT) AS cr FROM cells GROUP BY b),
    tgtc AS (SELECT b, CAST(sum(cnt) AS BIGINT) AS ct FROM cells
             WHERE lang = 'en' GROUP BY b),
    tots AS (
      SELECT CAST(sum(cnt) AS BIGINT) AS r_tot,
             CAST(sum(CASE WHEN lang = 'en' THEN cnt ELSE 0 END) AS BIGINT) AS t_tot
      FROM cells
    ),
    lam AS (
      SELECT rawc.b,
             CAST(round(1000000.0 * ln(
               ((COALESCE(ct, 0) + 1) * (r_tot + {_DSIR_B})) * 1.0
               / ((cr + 1) * (t_tot + {_DSIR_B})))) AS BIGINT) AS lam
      FROM rawc LEFT JOIN tgtc ON rawc.b = tgtc.b, tots
    ),
    docw AS (
      SELECT d.doc_id,
             CAST(COALESCE(sum(c.cnt * l.lam), 0) AS BIGINT) AS logw_micro
      FROM docs d
      LEFT JOIN cells c ON d.doc_id = c.doc_id
      LEFT JOIN lam l ON c.b = l.b
      GROUP BY d.doc_id
    ),
    gum AS (
      SELECT doc_id,
             CAST(round(-1000000.0 * ln(-ln(
               (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT + 0.5)
               / 4294967296.0))) AS BIGINT) AS g
      FROM documents
    )"""


@query(
    "dsir_importance_resample",
    oracle=f"""
    WITH {_SQL_DSIR_CTES}
    SELECT m.doc_id, m.source, m.lang, w.logw_micro,
           CAST(w.logw_micro + g.g AS BIGINT) AS score_micro
    FROM docw w
    JOIN gum g ON w.doc_id = g.doc_id
    JOIN documents m ON w.doc_id = m.doc_id
    ORDER BY score_micro DESC, m.doc_id
    LIMIT {_DSIR_K}
    """,
)
def dsir_importance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every raw document by
    a hashed-n-gram bag-of-words importance weight log(p_target/p_raw) and
    Gumbel-top-k resample. Target domain here: lang='en' documents; raw:
    the whole corpus.

    Cross-engine exactness by construction: the per-feature logit is scaled
    to an INTEGER (round(1e6*ln(...)) of a ratio of integer counts), so the
    per-document weighted sum is exact integer arithmetic — no float
    summation-order drift anywhere. The Gumbel key is integer-scaled too,
    derived from a deterministic md5 uniform (never 0 or 1: (h+0.5)/2^32).

    100 TB shape: one text scan feeds the n-gram explode -> per-(doc,bucket)
    count aggregate (map-side combine; persisted — it is consumed by the
    bucket model, the totals, and the per-doc scores); the feature model is
    a B=2048-row broadcast; scoring is one groupBy(doc_id); selection is a
    TakeOrderedAndProject top-K. No driver collect, no unbounded state.

    Extension surface (the reference has no corpus tooling — SURVEY §2.8).
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "text"
    )
    cells, lam, _tots = _dsir_parts(docs)
    # r12: aggregate FIRST, attach the spine after (guide §2.3/§2.4). The old
    # docw joined the doc spine onto the FULL cell table before the per-doc
    # aggregate — a corpus-scale join that added nothing (cells already carry
    # doc_id). Aggregating cells directly and left-joining the doc-count-sized
    # score table onto the spine afterwards moves the join from cell
    # granularity to doc granularity; a doc with no features (no alnum token)
    # is absent from cells and coalesces to logw 0, exactly where the old
    # left-join form put it.
    docw = _dsir_docw(cells, lam)
    # the Gumbel key is a pure expression of doc_id — compute it inline on
    # the scored rows instead of joining a separate documents scan
    g = _dsir_gumbel_expr(F.col("doc_id"))
    lw = F.coalesce(F.col("logw_micro"), F.lit(0)).cast("bigint")
    return (
        docs.select("doc_id", "source", "lang")
        .join(docw, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            "lang",
            lw.alias("logw_micro"),
            (lw + g).cast("bigint").alias("score_micro"),
        )
        .orderBy(F.desc("score_micro"), F.asc("doc_id"))
        .limit(_DSIR_K)
    )


def _dsir_docw(cells, lam):
    """Doc-count-sized integer log-weight table from the persisted cell
    table: one broadcast model join + one per-doc aggregate, NO doc-spine
    join (r12 — the spine attaches after aggregation at doc granularity;
    see dsir_importance_resample). The model join is inner: lam covers every
    bucket present in cells by construction, so no cell row is lost."""
    return (
        cells.select("doc_id", "b", "cnt")
        .join(F.broadcast(lam), "b")
        .groupBy("doc_id")
        .agg(F.sum(F.col("cnt") * F.col("lam")).cast("bigint").alias("logw_micro"))
    )


def _dsir_selected_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DSIR top-K selection as a doc_id frame (shared scoring path:
    same persisted cell table, broadcast model, TakeOrderedAndProject)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    cells, lam, _tots = _dsir_parts(docs)
    docw = _dsir_docw(cells, lam)
    score = (
        F.coalesce(F.col("logw_micro"), F.lit(0))
        + _dsir_gumbel_expr(F.col("doc_id"))
    ).cast("bigint")
    return (
        docs.select("doc_id")
        .join(docw, "doc_id", "left")
        .select("doc_id", score.alias("score_micro"))
        .orderBy(F.desc("score_micro"), F.asc("doc_id"))
        .limit(_DSIR_K)
        .select("doc_id")
    )


def _funnel_oracle() -> str:
    from legate_pandas_spark.operators.textops import SQL_GOPHER_OK

    return f"""
    WITH {_SQL_DSIR_CTES},
    sel AS (
      SELECT m.doc_id, m.source, m.text
      FROM docw w
      JOIN gum g ON w.doc_id = g.doc_id
      JOIN documents m ON w.doc_id = m.doc_id
      ORDER BY w.logw_micro + g.g DESC, m.doc_id
      LIMIT {_DSIR_K}
    ),
    gm AS (
      SELECT doc_id, source, text,
             string_split_regex(trim(text), '\\s+') AS words,
             string_split(text, chr(10)) AS lines
      FROM sel
    ),
    gr AS (
      SELECT doc_id, source, md5(text) AS h,
             ({SQL_GOPHER_OK}) AS ok
      FROM gm
    ),
    ded AS (
      SELECT doc_id, source, ok,
             (ok AND doc_id = min(CASE WHEN ok THEN doc_id END)
                        OVER (PARTITION BY h)) AS keep
      FROM gr
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_selected,
           CAST(sum(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_gopher,
           CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_after_dedup
    FROM ded
    GROUP BY source
    ORDER BY source
    """


@query("dsir_gopher_dedup_funnel", oracle=_funnel_oracle())
def dsir_gopher_dedup_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed pretraining-data funnel (round-9, VERDICT r8 Next #3):
    DSIR top-K selection -> Gopher quality rules -> exact keep-first dedup,
    reported as per-source attrition (n_selected / n_pass_gopher /
    n_after_dedup).

    Composition discipline: the DSIR stage reuses the SAME persisted
    per-(doc,bucket) cell table and broadcast bucket model as
    dsir_importance_resample (one text scan feeds model + scores); the
    selected-id frame is eval-set-sized (K=_DSIR_K) so the join back to the
    documents text is a BROADCAST join; the Gopher rules are pure per-row
    expressions on those K rows; dedup is one window over md5(text) among
    the K-row set, with the canonical chosen only among rule-passing rows
    (min(CASE WHEN ok THEN doc_id END)) so the dedup stage composes with the
    filter without a second pass. Plan-audited: exactly one
    TakeOrderedAndProject, no CartesianProduct, broadcast joins only after
    selection."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    sel = _dsir_selected_ids(spark, sf_dir)
    picked = docs.join(F.broadcast(sel), "doc_id")
    from legate_pandas_spark.operators.textops import gopher_pass_all_expr

    flagged = picked.select(
        "doc_id",
        "source",
        F.md5("text").alias("h"),
        gopher_pass_all_expr(F.col("text")).alias("ok"),
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("h")
    canon_ok = F.min(F.when(F.col("ok"), F.col("doc_id"))).over(w)
    ded = flagged.select(
        "source",
        "ok",
        (F.col("ok") & (F.col("doc_id") == canon_ok)).alias("keep"),
    )
    return (
        ded.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_selected"),
            F.sum(F.when(F.col("ok"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_pass_gopher"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_after_dedup"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Segment-level exact dedup with document reassembly — the MassiveText /
# RefinedWeb "line-wise deduplication" stage (Penedo et al. 2023 §3.3)
# adapted to this corpus's line-free texts: the dedup unit is a fixed-width
# token segment instead of a newline-delimited line.  Unlike the doc-level
# dedup family (dedup_exact_hash etc.) the SURVIVOR here is sub-document:
# a repeated segment is removed from every document except its first
# occurrence, and the remaining segments are stitched back into a new text.
# ---------------------------------------------------------------------------

_SEG_W = 8  # dedup segment width (tokens); last partial segment kept as-is


@query(
    "segment_dedup_reassemble",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
    ), segs AS (
        SELECT doc_id,
               unnest(range(0, CAST(ceil(len(t) / {_SEG_W}.0) AS BIGINT))) AS i,
               unnest(list_transform(
                   range(0, CAST(ceil(len(t) / {_SEG_W}.0) AS BIGINT)),
                   i -> array_to_string(t[i*{_SEG_W}+1 : i*{_SEG_W}+{_SEG_W}], ' '))) AS w
        FROM toks
    ), kept AS (
        SELECT doc_id, count(*) AS n_kept,
               string_agg(w, ' ' ORDER BY i) AS new_text
        FROM (
            SELECT doc_id, i, w,
                   row_number() OVER (PARTITION BY w ORDER BY doc_id, i) AS rn
            FROM segs
        ) WHERE rn = 1 GROUP BY doc_id
    )
    SELECT tk.doc_id,
           CAST(ceil(len(tk.t) / {_SEG_W}.0) AS BIGINT) AS n_segments,
           CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
           CAST(length(coalesce(k.new_text, '')) AS BIGINT) AS kept_chars,
           md5(coalesce(k.new_text, '')) AS kept_md5
    FROM toks tk LEFT JOIN kept k USING (doc_id)
    """,
)
def segment_dedup_reassemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document exact dedup + reassembly: every document is cut into
    fixed 8-token segments (position-stamped), a segment occurrence survives
    iff it is the corpus-wide FIRST occurrence of its text (ordered by
    (doc_id, segment index) — exact keep-first at segment granularity), and
    each document is stitched back together from its surviving segments in
    order.  Output is the removal report a curation pipeline consumes:
    segment counts before/after plus the md5 of the reassembled text (the
    cross-engine value check — both engines must rebuild byte-identical
    strings).

    Spark plan: tokenize → posexplode of the segment array (explode_outer +
    output-null filter, the outer_explode discipline — InferFiltersFromGenerate
    would otherwise re-evaluate the segment transform at the scan) → ONE
    hash-shuffle window on the segment text for global keep-first → per-doc
    aggregate that sorts the surviving (i, w) structs and joins them back
    into the new text → left join onto the doc spine so fully-deduped
    documents still report (0 kept, empty md5).

    100 TB shape: two shuffles, both on bounded keys — segment text (the
    keep-first window; hash-partitioned, no hot key since segments at W=8
    are near-unique) and doc_id (the reassembly aggregate; per-group state
    is one document's segments, doc-bounded).  At production scale the
    keep-first key becomes xxhash64(w) with the text carried alongside,
    an 8-byte shuffle key.  Linear end to end; never doc x doc."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select(
        "doc_id", F.split(F.trim("text"), r"\s+").alias("t")
    )
    nseg = F.ceil(F.size("t") / F.lit(float(_SEG_W))).cast("bigint")
    seg_arr = F.transform(
        F.sequence(F.lit(0), nseg - 1),
        lambda i: F.concat_ws(
            " ", F.slice(F.col("t"), (i * _SEG_W + 1).cast("int"), _SEG_W)
        ),
    )
    spine = toks.select("doc_id", nseg.alias("n_segments"))
    segs = (
        toks.select("doc_id", F.posexplode_outer(seg_arr).alias("i", "w"))
        .filter(F.col("w").isNotNull())
    )
    wfirst = Window.partitionBy("w").orderBy(F.asc("doc_id"), F.asc("i"))
    firsts = segs.withColumn("_rn", F.row_number().over(wfirst)).filter(
        F.col("_rn") == 1
    )
    kept = firsts.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "w"))),
                lambda x: x["w"],
            ),
            " ",
        ).alias("new_text"),
    )
    return spine.join(kept, "doc_id", "left").select(
        "doc_id",
        "n_segments",
        F.coalesce(F.col("n_kept"), F.lit(0)).cast("bigint").alias("n_kept"),
        F.length(F.coalesce(F.col("new_text"), F.lit(""))).cast("bigint").alias(
            "kept_chars"
        ),
        F.md5(F.coalesce(F.col("new_text"), F.lit(""))).alias("kept_md5"),
    )


# ---------------------------------------------------------------------------
# Batch twin of the composed streaming ingest tagging (streaming/documents.
# ingest_tag_stream): the SAME stage code run over a batch "arriving" slice
# against stores built from the prior corpus — which makes the streaming
# composition itself an oracle-paired catalog row (the driver grades it).
# Arriving slice convention matches dedup_incremental_shard: doc_id % 4 == 0
# is the new shard, the rest is the already-ingested corpus.
# ---------------------------------------------------------------------------

def _sql_ingest_tag() -> str:
    from legate_pandas_spark.operators.dedup import _SQL_MINHASH
    from legate_pandas_spark.operators.textops import SQL_GOPHER_OK

    return f"""
    WITH arr AS (
        SELECT doc_id, lang, source, text,
               string_split_regex(trim(text), '\\s+') AS words,
               string_split(text, chr(10)) AS lines
        FROM documents WHERE doc_id % 4 = 0
    ),
    store_h AS (
        SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 4 <> 0
    ),
    mh AS ({_SQL_MINHASH}),
    sigs AS (
        SELECT doc_id,
               mh0||mh1||mh2||mh3||mh4||mh5||mh6||mh7 AS sig
        FROM mh
    ),
    store_s AS (
        SELECT DISTINCT s.sig FROM sigs s WHERE s.doc_id % 4 <> 0
    )
    SELECT a.doc_id, a.lang, a.source,
           CAST(len(a.words) AS BIGINT) AS n_words,
           ({SQL_GOPHER_OK}) AS pass_gopher,
           (md5(a.text) IN (SELECT h FROM store_h)) AS is_exact_dup,
           coalesce(s.sig IN (SELECT sig FROM store_s), FALSE) AS is_sig_neardup
    FROM arr a LEFT JOIN sigs s ON a.doc_id = s.doc_id
    """


def _ingest_stores(spark: SparkSession, sf_dir: str):
    """The digest + signature stores, session-memoized: they are the nightly
    batch job's persisted artifacts (at 100 TB, parquet tables the ingest
    tagging pass only joins), so the catalog row measures the tagging pass,
    not the store build. ``persist()`` is idempotent and re-registers the
    stores if a blanket clearCache() dropped their blocks mid-session."""
    from legate_pandas_spark.streaming.documents import build_signature_store

    def build():
        docs = load_table(spark, sf_dir, "documents")
        corpus = docs.filter(F.col("doc_id") % 4 != 0)
        digest_store = corpus.select(F.md5("text").alias("h")).distinct().persist()
        sig_store = build_signature_store(corpus).persist()
        digest_store.count()
        sig_store.count()
        return digest_store, sig_store

    def release(stores) -> None:
        for store in stores:
            store.unpersist()

    digest_store, sig_store = memo(
        spark, "ingest_stores", table_path(sf_dir, "documents"), build, release=release
    )
    return digest_store.persist(), sig_store.persist()


@query("ingest_tag_report", oracle=_sql_ingest_tag())
def ingest_tag_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed ingest tagging pass as a batch catalog row: the EXACT
    streaming stage (streaming/documents.ingest_tag_stream — quality +
    Gopher verdict + exact-dup + signature-near-dup flags, stateless
    one-row-per-doc) run over the arriving shard (doc_id % 4 == 0) against
    digest/signature stores built from the prior corpus, so the streaming
    composition itself is differential-gated against DuckDB, not just
    parity-pinned in tests.

    100 TB shape is the stream stage's: pure per-row expressions + two
    broadcast joins against the stores (both corpus-DISTINCT-sized, the
    persisted artifacts a nightly dedup job maintains). The store builds —
    one minhash aggregate + one digest distinct over the prior corpus, the
    batch job that maintains those artifacts — are session-memoized with
    snapshot invalidation (_ingest_stores, VERDICT r9 Next #2), so repeat
    invocations measure the TAGGING pass, matching the 100 TB shape where
    the stores pre-exist as parquet."""
    from legate_pandas_spark.streaming.documents import ingest_tag_stream

    docs = load_table(spark, sf_dir, "documents")
    digest_store, sig_store = _ingest_stores(spark, sf_dir)
    arriving = docs.filter(F.col("doc_id") % 4 == 0)
    return ingest_tag_stream(arriving, digest_store, sig_store)


# ---------------------------------------------------------------------------
# CCNet-style hashed-bigram LM perplexity filter (Wenzek et al. 2020, "CCNet:
# Extracting High Quality Monolingual Datasets from Web Crawl Data"). CCNet
# scores every crawled document with a language model trained on a clean
# corpus and keeps the low-perplexity slice. Here the "clean" training slice
# is the lang='en' documents, the LM is a hashed add-one-smoothed bigram
# model (bounded at _PPL_BP pair buckets / _PPL_BC context buckets no matter
# the corpus size), and the keep rule is corpus-relative: a document is kept
# iff its per-bigram average log-probability beats the corpus-wide average —
# compared in exact integer arithmetic (decimal/HUGEINT cross-multiplication)
# so the flag can never drift between engines.

_PPL_BP = 8192  # hashed bigram-pair buckets == add-one smoothing vocabulary V
_PPL_BC = 2048  # hashed context (previous-token) buckets


def _ppl_bucket(col, m: int):
    """md5 bucket in [0, m) — same arithmetic as the DuckDB oracle's
    ('0x' || substr(md5(x),1,6))::BIGINT % m."""
    return F.conv(F.substring(F.md5(col), 1, 6), 16, 10).cast("bigint") % m


def _ppl_bigrams(docs) -> DataFrame:
    """One row per document bigram: (doc_id, lang, bp, bc) with bp the
    hashed pair bucket and bc the hashed context bucket. Pure codegen
    (split → zip_with → explode → md5) — cheap to recompute per pass, so
    callers never persist it."""
    toks = docs.select(
        "doc_id", "lang", _dsir_tokens_expr(F.col("text")).alias("t")
    )
    pairs = F.when(
        F.size("t") >= 2,
        F.zip_with(
            F.slice("t", 1, F.size("t") - 1),
            F.slice("t", 2, F.size("t") - 1),
            lambda a, b: F.struct(a.alias("p"), b.alias("w")),
        ),
    ).otherwise(F.array().cast("array<struct<p:string,w:string>>"))
    big = outer_explode(toks, pairs, "pw", "doc_id", "lang")
    return big.select(
        "doc_id",
        "lang",
        _ppl_bucket(F.concat_ws("_", F.col("pw.p"), F.col("pw.w")), _PPL_BP).alias(
            "bp"
        ),
        _ppl_bucket(F.col("pw.p"), _PPL_BC).alias("bc"),
    )


_SQL_PPL = f"""
    WITH toks AS (
      SELECT doc_id, lang,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS t
      FROM documents
    ), big AS (
      SELECT doc_id, lang,
             unnest(list_transform(range(1, len(t)), i -> t[i] || '_' || t[i+1])) AS g,
             unnest(list_transform(range(1, len(t)), i -> t[i])) AS p
      FROM toks
    ), cells AS (
      SELECT doc_id, lang,
             ('0x' || substr(md5(g), 1, 6))::BIGINT % {_PPL_BP} AS bp,
             ('0x' || substr(md5(p), 1, 6))::BIGINT % {_PPL_BC} AS bc,
             count(*) AS cnt
      FROM big GROUP BY 1, 2, 3, 4
    ),
    cpair AS (SELECT bp, CAST(sum(cnt) AS BIGINT) AS cp FROM cells
              WHERE lang = 'en' GROUP BY bp),
    cctx AS (SELECT bc, CAST(sum(cnt) AS BIGINT) AS cc FROM cells
             WHERE lang = 'en' GROUP BY bc),
    scores AS (
      SELECT c.doc_id,
             CAST(sum(c.cnt) AS BIGINT) AS n_bigrams,
             CAST(sum(c.cnt * CAST(round(1000000.0 * ln(
               (COALESCE(cp, 0) + 1) * 1.0 / (COALESCE(cc, 0) + {_PPL_BP})
             )) AS BIGINT)) AS BIGINT) AS logprob_micro
      FROM cells c LEFT JOIN cpair USING (bp) LEFT JOIN cctx USING (bc)
      GROUP BY c.doc_id
    ),
    tots AS (
      SELECT CAST(sum(logprob_micro) AS BIGINT) AS sum_lp,
             CAST(sum(n_bigrams) AS BIGINT) AS sum_n
      FROM scores
    )
    SELECT d.doc_id, d.lang, d.source,
           COALESCE(s.n_bigrams, 0) AS n_bigrams,
           COALESCE(s.logprob_micro, 0) AS logprob_micro,
           COALESCE(CAST(floor(s.logprob_micro * 1.0 / s.n_bigrams) AS BIGINT), 0)
             AS avg_logprob_micro,
           (COALESCE(s.logprob_micro, 0)::HUGEINT * t.sum_n
            > t.sum_lp::HUGEINT * COALESCE(s.n_bigrams, 0)) AS keep
    FROM documents d
    LEFT JOIN scores s USING (doc_id), tots t
    """


@query("perplexity_lm_filter", oracle=_SQL_PPL)
def perplexity_lm_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality filter: score every document by a hashed
    add-one bigram model trained on the lang='en' slice; keep documents
    whose per-bigram average log-probability beats the corpus average.

    Cross-engine exactness: per-(pair-bucket, context-bucket) logits are
    round(1e6·ln(ratio-of-integer-counts)) — integers — so per-document
    scores are exact integer sums; the keep flag compares doc-average vs
    corpus-average via decimal(38,0)/HUGEINT cross-multiplication, never a
    float ratio; avg_logprob_micro is floor() of ONE IEEE division of two
    integers (bit-identical in both engines).

    100 TB shape: TWO text passes, neither persisting anything corpus-
    sized — (1) the model pass aggregates the lang='en' bigrams straight to
    (kind, bucket) counts, a hash state bounded at 8192 + 2048 entries per
    task BY CONSTRUCTION (hashed vocabulary, the CCNet trick for web
    scale; only the tiny partials shuffle), persisted as a ≤10240-row
    table; (2) the scoring pass joins each bigram row to the two broadcast
    model tables and partial-aggregates straight to doc_id (per-task state
    = docs per task, shuffling doc-count rows, never bigram-count). The
    corpus average is a 1-row broadcast. No driver collect, no unbounded
    state. (A first cut pre-aggregated per-(doc, bp, bc) cells like DSIR —
    but bigram cells don't compress (cnt≈1), so that shuffled and persisted
    the whole exploded corpus; dropped, and the doc-count scores table is
    persisted instead since the totals and the output both consume it.
    Cold-cache best-of-2: 2.44s at sf0.1, 0.91× at the 10× corpus, 2.65×
    at 100× documents — sub-linear, model-partial fixed costs dominate.)

    Extension surface (the reference has no corpus tooling — SURVEY §2.8).
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "text"
    )
    big = _ppl_bigrams(docs)
    model = (
        big.filter(F.col("lang") == "en")
        .select(
            F.explode(
                F.array(
                    F.struct(F.lit(0).alias("k"), F.col("bp").alias("b")),
                    F.struct(F.lit(1).alias("k"), F.col("bc").alias("b")),
                )
            ).alias("kb")
        )
        .groupBy(F.col("kb.k").alias("k"), F.col("kb.b").alias("b"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .persist()
    )
    cpair = model.filter(F.col("k") == 0).select(
        F.col("b").alias("bp"), F.col("cnt").alias("cp")
    )
    cctx = model.filter(F.col("k") == 1).select(
        F.col("b").alias("bc"), F.col("cnt").alias("cc")
    )
    lam = (
        F.round(
            F.lit(1000000.0)
            * F.log(
                (F.coalesce(F.col("cp"), F.lit(0)) + 1)
                * F.lit(1.0)
                / (F.coalesce(F.col("cc"), F.lit(0)) + _PPL_BP)
            )
        ).cast("bigint")
    )
    scores = (
        big.join(F.broadcast(cpair), "bp", "left")
        .join(F.broadcast(cctx), "bc", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.sum(lam).cast("bigint").alias("logprob_micro"),
        )
        .persist()  # doc-count rows; consumed by the totals AND the output
    )
    tots = scores.agg(
        F.sum("logprob_micro").cast("bigint").alias("sum_lp"),
        F.sum("n_bigrams").cast("bigint").alias("sum_n"),
    )
    return (
        docs.select("doc_id", "lang", "source")
        .join(scores, "doc_id", "left")
        .crossJoin(F.broadcast(tots))
        .select(
            "doc_id",
            "lang",
            "source",
            F.coalesce(F.col("n_bigrams"), F.lit(0)).alias("n_bigrams"),
            F.coalesce(F.col("logprob_micro"), F.lit(0)).alias("logprob_micro"),
            F.coalesce(
                F.floor(F.col("logprob_micro") * F.lit(1.0) / F.col("n_bigrams")),
                F.lit(0),
            )
            .cast("bigint")
            .alias("avg_logprob_micro"),
            (
                F.coalesce(F.col("logprob_micro"), F.lit(0)).cast("decimal(38,0)")
                * F.col("sum_n")
                > F.col("sum_lp").cast("decimal(38,0)")
                * F.coalesce(F.col("n_bigrams"), F.lit(0))
            ).alias("keep"),
        )
    )


def perplexity_train_model(spark: SparkSession, sf_dir: str):
    """Collect the trained hashed-bigram LM for use as plan constants in the
    streaming scorer (streaming/documents.perplexity_score_stream): two DENSE
    integer count arrays (index == bucket) of _PPL_BP pair counts and _PPL_BC
    context counts — 10k ints total, the same model-sized batch->stream
    handoff as dsir_train_model / the PQ codebook. The driver-side rows are
    the two BOUNDED bucket aggregates (8192 + 2048), never the raw (bp, bc)
    pair counts (those don't compress — up to 16.7M rows at corpus scale)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    big = _ppl_bigrams(docs).filter(F.col("lang") == "en")
    cp = [0] * _PPL_BP
    cc = [0] * _PPL_BC
    for r in big.groupBy("bp").agg(F.count(F.lit(1)).alias("cnt")).collect():
        cp[int(r["bp"])] = int(r["cnt"])
    for r in big.groupBy("bc").agg(F.count(F.lit(1)).alias("cnt")).collect():
        cc[int(r["bc"])] = int(r["cnt"])
    return cp, cc
