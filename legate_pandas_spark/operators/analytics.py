"""Round-2 analytics catalog: fuzzy matching, gap filling, basket analysis,
distinct-user accounting, quantile bucketing, robust stats, vector centroids.

All queries are oracle-paired (DuckDB SQL) and built from shuffle-on-key
primitives only: blocked self-joins (never all-pairs), partitioned windows
(never a global window), partial-aggregatable reductions. Extensions beyond
the reference (its operator surface ends at SURVEY §2.8); they reuse its data
model — ordered, null-aware columns — on the testdata tables.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.window import Window

from legate_pandas_spark.operators import query
from legate_pandas_spark.sources.tables import load_table


@query(
    "fuzzy_match_levenshtein",
    oracle="""
    SELECT a.p_brand AS brand,
           a.p_partkey AS key_a, b.p_partkey AS key_b,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS edit_dist
    FROM part a JOIN part b
      ON a.p_brand = b.p_brand AND a.p_size = b.p_size
     AND a.p_partkey < b.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) <= 4
    """,
)
def fuzzy_match_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy duplicate part names via edit distance, BLOCKED by (brand, size)
    so candidate pairs stay bounded per block — the same blocking discipline as
    dedup_embedding_cosine_blocked; an unblocked all-pairs levenshtein would be
    O(n²) at 100 TB. Catalyst evaluates levenshtein JVM-side (codegen)."""
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_name", "p_brand", "p_size"
    )
    a = part.alias("a")
    b = part.alias("b")
    dist = F.levenshtein(F.col("a.p_name"), F.col("b.p_name"))
    return (
        a.join(
            b,
            (F.col("a.p_brand") == F.col("b.p_brand"))
            & (F.col("a.p_size") == F.col("b.p_size"))
            & (F.col("a.p_partkey") < F.col("b.p_partkey")),
        )
        .filter(dist <= 4)
        .select(
            F.col("a.p_brand").alias("brand"),
            F.col("a.p_partkey").alias("key_a"),
            F.col("b.p_partkey").alias("key_b"),
            dist.cast("long").alias("edit_dist"),
        )
    )


@query(
    "date_spine_gap_fill",
    oracle="""
    WITH bounds AS (
      SELECT CAST(min(ts) AS DATE) AS lo, CAST(max(ts) AS DATE) AS hi FROM events
    ),
    spine AS (
      -- DuckDB generate_series cannot take lateral column params: generate a
      -- wide fixed spine and clamp to the observed bounds
      SELECT CAST(gs.d AS DATE) AS day
      FROM generate_series(DATE '2000-01-01', DATE '2035-12-31', INTERVAL 1 DAY)
           AS gs(d), bounds
      WHERE CAST(gs.d AS DATE) BETWEEN bounds.lo AND bounds.hi
    ),
    types AS (SELECT DISTINCT event_type FROM events),
    daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT t.event_type, s.day, CAST(coalesce(d.n, 0) AS BIGINT) AS n
    FROM spine s CROSS JOIN types t
    LEFT JOIN daily d ON d.event_type = t.event_type AND d.day = s.day
    """,
)
def date_spine_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily event counts with missing days zero-filled: a generated date spine
    (sequence+explode from ONE min/max aggregate — two scalars, never data, to
    the driver side of the plan) cross-joined with the small distinct-type dim,
    left-joined to the daily aggregate. The spine is tiny (days × types), so
    Catalyst broadcasts it; the only big-data shuffle is the daily groupBy."""
    ev = load_table(spark, sf_dir, "events").select(
        F.col("event_type"), F.to_date("ts").alias("day")
    )
    bounds = ev.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("interval 1 day"))).alias("day")
    )
    types = ev.select("event_type").distinct()
    daily = ev.groupBy("event_type", "day").agg(F.count(F.lit(1)).alias("n"))
    return (
        spine.crossJoin(types)
        .join(daily, ["event_type", "day"], "left")
        .select(
            "event_type", "day", F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n")
        )
    )


@query(
    "locf_gap_fill",
    oracle="""
    SELECT event_id, user_id,
           round(last_value(CASE WHEN event_type = 'view' THEN NULL ELSE value END
                            IGNORE NULLS)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
             AS value_locf
    FROM events
    """,
)
def locf_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-observation-carried-forward per user: 'view' events carry no
    reading (masked to null) and inherit the user's previous value —
    last(ignorenulls) over a window PARTITIONED by user_id (parallel per user;
    the facade's ffill documents the global-order variant as small-data-only)."""
    ev = load_table(spark, sf_dir, "events")
    masked = F.when(F.col("event_type") != "view", F.col("value"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.last(masked, ignorenulls=True).over(w), 4).alias("value_locf"),
    )


@query(
    "market_basket_pairs",
    oracle="""
    WITH basket AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM basket a JOIN basket b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
    ORDER BY n_orders DESC, part_a, part_b
    LIMIT 100
    """,
)
def market_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-occurring part pairs within an order (market-basket support count):
    self-join on l_orderkey. Pair blowup is bounded by basket size (≤7 lines
    per order in TPC-H shape — k² per order, not n²); the join and the pair
    count shuffle on their keys. Top-100 with a total-order tiebreak.

    The (orderkey, partkey) baskets are DISTINCT'd before pairing: duplicate
    lines for the same part would otherwise multiply pair counts k_a×k_b
    (both wrong for "n_orders" and a pair-volume blowup at scale — the
    pre-aggregation is a map-side-combinable shuffle that the quadratic
    stage then never sees)."""
    # r12 (guide §2.4): one collect_set aggregate per order replaces the
    # distinct + self-join — the basket arrives as a ≤7-element array and
    # the k² pair expansion happens in-plan (nested transform/filter), so
    # the whole query is TWO exchanges (basket agg, pair count) and no join.
    baskets = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.collect_set("l_partkey").alias("ps"))
    )
    pair_arr = F.flatten(
        F.transform(
            F.col("ps"),
            lambda x: F.transform(
                F.filter(F.col("ps"), lambda y: y > x),
                lambda y: F.struct(x.alias("part_a"), y.alias("part_b")),
            ),
        )
    )
    pairs = baskets.select(F.explode(pair_arr).alias("p")).select(
        F.col("p.part_a"), F.col("p.part_b")
    )
    return (
        pairs.groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.desc("n_orders"), "part_a", "part_b")
        .limit(100)
    )


@query(
    "running_distinct_users",
    oracle="""
    WITH first_seen AS (
      SELECT event_type, user_id, min(CAST(ts AS DATE)) AS first_day
      FROM events GROUP BY 1, 2
    ),
    new_per_day AS (
      SELECT event_type, first_day AS day, CAST(count(*) AS BIGINT) AS new_users
      FROM first_seen GROUP BY 1, 2
    )
    SELECT event_type, day, new_users,
           CAST(sum(new_users) OVER (PARTITION BY event_type ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cumulative_users
    FROM new_per_day
    """,
)
def running_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users per event type by day WITHOUT a distinct-
    inside-window (unsupported/quadratic): first-seen day per (type, user) is
    one hash aggregate; new-users-per-day another; the running total then runs
    over the tiny per-day frame. Every stage partial-aggregates."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "user_id", F.to_date("ts").alias("day")
    )
    first_seen = ev.groupBy("event_type", "user_id").agg(F.min("day").alias("first_day"))
    new_per_day = first_seen.groupBy(
        "event_type", F.col("first_day").alias("day")
    ).agg(F.count(F.lit(1)).alias("new_users"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return new_per_day.select(
        "event_type",
        "day",
        "new_users",
        F.sum("new_users").over(w).cast("long").alias("cumulative_users"),
    )


@query(
    "ntile_quantile_buckets",
    oracle="""
    WITH ranked AS (
      SELECT c.c_mktsegment AS segment, o.o_totalprice,
             ntile(4) OVER (PARTITION BY c.c_mktsegment
                            ORDER BY o.o_totalprice, o.o_orderkey) AS bucket
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    )
    SELECT segment, CAST(bucket AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n,
           round(min(o_totalprice), 2) AS lo,
           round(max(o_totalprice), 2) AS hi
    FROM ranked GROUP BY 1, 2
    """,
)
def ntile_quantile_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quartile buckets of order value within each market segment (the qcut
    shape): ntile over a window partitioned by segment with a TOTAL order
    (price, orderkey tiebreak — ties across engines otherwise land in
    different buckets). One shuffle on segment, then a hash aggregate."""
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice", "o_orderkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    w = Window.partitionBy("c_mktsegment").orderBy("o_totalprice", "o_orderkey")
    ranked = (
        o.join(c, o.o_custkey == c.c_custkey)
        .select(
            F.col("c_mktsegment").alias("segment"),
            "o_totalprice",
            F.ntile(4).over(w).alias("bucket"),
        )
    )
    return ranked.groupBy("segment", F.col("bucket").cast("long").alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("o_totalprice"), 2).alias("lo"),
        F.round(F.max("o_totalprice"), 2).alias("hi"),
    )


@query(
    "regexp_extract_numbers",
    oracle="""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_numbers,
           CAST(coalesce(list_max(list_transform(
                regexp_extract_all(substr(text, 1, 2000), '[0-9]{1,6}'),
                x -> CAST(x AS BIGINT))), -1) AS BIGINT) AS max_number
    FROM documents
    """,
)
def regexp_extract_numbers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-occurrence regex extraction over document text (regexp_extract_all
    — JVM-side, one narrow pass, no UDF): numeric-token count and the largest
    ≤6-digit number in the head of the doc (−1 when none)."""
    docs = load_table(spark, sf_dir, "documents")
    nums = F.regexp_extract_all(F.col("text"), F.lit("[0-9]+"), 0)
    head_nums = F.regexp_extract_all(
        F.substring(F.col("text"), 1, 2000), F.lit("[0-9]{1,6}"), 0
    )
    return docs.select(
        "doc_id",
        F.size(nums).cast("long").alias("n_numbers"),
        F.coalesce(
            F.array_max(F.transform(head_nums, lambda x: x.cast("long"))), F.lit(-1)
        ).cast("long").alias("max_number"),
    )


@query(
    "grouped_mode_event",
    oracle="""
    WITH counts AS (
      SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    ranked AS (
      SELECT user_id, event_type, n,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY n DESC, event_type) AS rn
      FROM counts
    )
    SELECT user_id, event_type AS modal_type, n AS modal_count
    FROM ranked WHERE rn = 1
    """,
)
def grouped_mode_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user modal event type (grouped mode): hash-count then a row_number
    window over the already-aggregated counts (small per user) with a
    lexicographic tiebreak — deterministic, unlike engine-native mode()."""
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("user_id").orderBy(F.desc("n"), "event_type")
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("modal_type"),
            F.col("n").alias("modal_count"),
        )
    )


@query(
    "event_transition_matrix",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_type
      FROM events
    )
    SELECT prev_type, event_type AS next_type, CAST(count(*) AS BIGINT) AS n
    FROM seq WHERE prev_type IS NOT NULL
    GROUP BY 1, 2
    """,
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov transition counts between consecutive event types per user:
    lag over a user-partitioned window, then one hash aggregate over the tiny
    (type × type) key space — map-side partial aggregation collapses it."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    return seq.groupBy("prev_type", F.col("event_type").alias("next_type")).agg(
        F.count(F.lit(1)).alias("n")
    )


@query(
    "mad_robust_stats",
    oracle="""
    WITH med AS (
      SELECT event_type, median(value) AS med FROM events GROUP BY 1
    )
    SELECT e.event_type,
           round(any_value(m.med), 4) AS med,
           round(median(abs(e.value - m.med)), 4) AS mad
    FROM events e JOIN med m ON e.event_type = m.event_type
    GROUP BY e.event_type
    """,
)
def mad_robust_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median absolute deviation per event type — the robust outlier scale.
    Two grouped medians: per-type median (tiny result, broadcast back), then
    the median of absolute residuals. Exact interpolated medians in both
    engines; approx_percentile is the documented 100 TB swap."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    med = ev.groupBy("event_type").agg(F.median("value").alias("med"))
    joined = ev.join(F.broadcast(med), "event_type")
    return joined.groupBy("event_type").agg(
        F.round(F.any_value("med"), 4).alias("med"),
        F.round(F.median(F.abs(F.col("value") - F.col("med"))), 4).alias("mad"),
    )


@query(
    "label_centroid_distance",
    oracle="""
    WITH unnested AS (
      SELECT vec_id, label,
             generate_subscripts(embedding, 1) AS pos,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    ),
    centroid AS (
      SELECT label, pos, avg(v) AS c FROM unnested GROUP BY 1, 2
    ),
    dist AS (
      SELECT u.vec_id, u.label, sqrt(sum((u.v - c.c) * (u.v - c.c))) AS d
      FROM unnested u JOIN centroid c ON u.label = c.label AND u.pos = c.pos
      GROUP BY 1, 2
    )
    SELECT label, CAST(count(*) AS BIGINT) AS n,
           round(avg(d), 4) AS avg_dist, round(max(d), 4) AS max_dist
    FROM dist GROUP BY label
    """,
)
def label_centroid_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid then each vector's L2 distance to its centroid —
    the compactness measure behind IVF list quality and semdedup pruning.
    Dimension-wise plan: posexplode → (label, pos) avg (partial-aggregatable)
    → broadcast the tiny centroid table → per-vector sum of squares. No
    vector ever collects to the driver; no UDF."""
    emb = load_table(spark, sf_dir, "embeddings")
    unnested = emb.select(
        "vec_id",
        "label",
        F.posexplode(F.col("embedding")).alias("pos0", "vf"),
    ).select(
        "vec_id", "label", (F.col("pos0") + 1).alias("pos"), F.col("vf").cast("double").alias("v")
    )
    centroid = unnested.groupBy("label", "pos").agg(F.avg("v").alias("c"))
    dist = (
        unnested.join(F.broadcast(centroid), ["label", "pos"])
        .groupBy("vec_id", "label")
        .agg(F.sqrt(F.sum((F.col("v") - F.col("c")) * (F.col("v") - F.col("c")))).alias("d"))
    )
    return dist.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("d"), 4).alias("avg_dist"),
        F.round(F.max("d"), 4).alias("max_dist"),
    )


@query(
    "kmeans_two_rounds",
    oracle="""
    WITH unnested AS (
      SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    ),
    cent0 AS (
      SELECT vec_id AS cid, generate_subscripts(embedding, 1) AS pos,
             CAST(unnest(embedding) AS DOUBLE) AS c
      FROM embeddings WHERE vec_id < 8
    ),
    d1 AS (
      SELECT u.vec_id, c.cid, round(sum((u.v - c.c) * (u.v - c.c)), 6) AS d
      FROM unnested u JOIN cent0 c USING (pos)
      GROUP BY 1, 2
    ),
    a1 AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
        FROM d1) t WHERE rn = 1
    ),
    cent1 AS (
      SELECT a1.cid, u.pos, round(avg(u.v), 6) AS c
      FROM unnested u JOIN a1 USING (vec_id)
      GROUP BY 1, 2
    ),
    d2 AS (
      SELECT u.vec_id, c.cid, round(sum((u.v - c.c) * (u.v - c.c)), 6) AS d
      FROM unnested u JOIN cent1 c USING (pos)
      GROUP BY 1, 2
    ),
    a2 AS (
      SELECT vec_id, cid, d FROM (
        SELECT vec_id, cid, d,
               row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
        FROM d2) t WHERE rn = 1
    )
    SELECT cid AS cluster, CAST(count(*) AS BIGINT) AS n_members,
           round(avg(sqrt(d)), 4) AS avg_dist
    FROM a2 GROUP BY cid
    """,
)
def kmeans_two_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two Lloyd's iterations of k-means (K=8, L2) over the embedding corpus —
    the iterative-refinement shape (the IVF coarse quantizer is exactly
    1-round k-means; semdedup consumes such clusters).

    Fully declarative and deterministic, so it is DuckDB-oracle-checked even
    though iterative: distances and recomputed centroids round at 6dp (turning
    cross-engine float-order noise into exact ties) and every argmin tiebreaks
    on cid. Scale shape per round: dimension-wise explode (linear), a
    broadcast join against the K×dim centroid table, one partial-aggregatable
    argmin, one (cid, pos) average. Rounds are a fixed small constant — the
    driver loop materializes nothing."""
    emb = load_table(spark, sf_dir, "embeddings")
    unnested = emb.select(
        "vec_id", F.posexplode("embedding").alias("pos", "vf")
    ).select("vec_id", "pos", F.col("vf").cast("double").alias("v"))

    def centroids_from(assign):
        return (
            unnested.join(assign, "vec_id")
            .groupBy("cid", "pos")
            .agg(F.round(F.avg("v"), 6).alias("c"))
        )

    def assign_to(cent, keep_dist=False):
        from pyspark.sql.window import Window

        d = (
            unnested.join(F.broadcast(cent), "pos")
            .groupBy("vec_id", "cid")
            .agg(F.round(F.sum((F.col("v") - F.col("c")) * (F.col("v") - F.col("c"))), 6).alias("d"))
        )
        w = Window.partitionBy("vec_id").orderBy("d", "cid")
        out = d.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
        cols = ["vec_id", "cid"] + (["d"] if keep_dist else [])
        return out.select(*cols)

    cent0 = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), F.posexplode("embedding").alias("pos", "cf")
    ).select("cid", "pos", F.col("cf").cast("double").alias("c"))
    a1 = assign_to(cent0)
    cent1 = centroids_from(a1)
    a2 = assign_to(cent1, keep_dist=True)
    return a2.groupBy(F.col("cid").alias("cluster")).agg(
        F.count(F.lit(1)).alias("n_members"),
        F.round(F.avg(F.sqrt("d")), 4).alias("avg_dist"),
    )


def pagerank(
    edges: DataFrame,
    iterations: int,
    damping: float = 0.85,
    checkpoint_every: int = 3,
    broadcast_rank: bool = True,
) -> DataFrame:
    """Reusable Pregel-on-joins PageRank primitive over an (src, dst) edge
    table: uniform 1/n init, no dangling redistribution (callers must pass a
    graph where every node has out-edges — e.g. a bidirectional graph).
    Returns a (node, r) rank vector.

    100 TB shape: the edge table is persisted once (the only fact-sized
    input); every iteration is one hash join of edges against the node-sized
    rank vector plus an aggregation. With ``broadcast_rank`` the rank/degree
    joins stay map-side (the small-rank-vector optimization — at web scale,
    where the vector outgrows the broadcast budget, pass False and AQE picks
    the shuffle join). ``localCheckpoint`` every ``checkpoint_every``
    iterations truncates the lineage (the connected-components cadence,
    dedup.py) so the plan stays bounded for any n.

    Cache contract (ADVICE r12): the persisted frames (edges/deg/wedges/
    nodes_nn) are deliberately NOT unpersisted here — the returned rank
    frame is lazy, so an eager unpersist would drop the caches before the
    caller's action ever materializes them. Repeated calls re-use the same
    entries (CacheManager dedupes identical plans, it does not accumulate);
    a caller that needs the storage back after materializing should
    ``spark.catalog.clearCache()`` (the cached plans re-persist themselves
    on next access)."""
    from pyspark.storagelevel import StorageLevel

    edges = edges.persist(StorageLevel.MEMORY_AND_DISK)
    # deg's aggregate output IS the distinct-src set (one row per node): the
    # node spine and the node count both derive from it, so the edge table
    # is aggregated ONCE instead of three times (deg + nodes distinct +
    # count distinct — guide §2.4, remove repeated passes outright). deg is
    # node-sized, so the extra persist is bounded.
    deg = (
        edges.groupBy("src")
        .agg(F.count(F.lit(1)).alias("d"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # fold the out-degree into the edge table ONCE — each iteration then needs
    # a single rank join instead of rank + degree joins over the edges
    wedges = (
        edges.join(F.broadcast(deg) if broadcast_rank else deg, "src")
        .select("src", "dst", (1.0 / F.col("d")).alias("w"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    nodes_nn = (
        deg.select(F.col("src").alias("node"))
        .crossJoin(F.broadcast(deg.agg(F.count(F.lit(1)).alias("n_nodes"))))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    rank = nodes_nn.select("node", (1.0 / F.col("n_nodes")).alias("r"))
    for i in range(iterations):
        rvec = rank.select(F.col("node").alias("src"), "r")
        if broadcast_rank:
            rvec = F.broadcast(rvec)
        contrib = (
            wedges.join(rvec, "src")
            .groupBy("dst")
            .agg(F.sum(F.col("r") * F.col("w")).alias("m"))
        )
        rank = (
            nodes_nn.join(contrib, F.col("node") == contrib.dst, "left")
            .select(
                "node",
                (
                    (1.0 - damping) / F.col("n_nodes")
                    + damping * F.coalesce(F.col("m"), F.lit(0.0))
                ).alias("r"),
            )
        )
        if (i + 1) % checkpoint_every == 0 and (i + 1) < iterations:
            rank = rank.localCheckpoint()
    return rank


def _trade_graph_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bidirectional customer↔supplier trade graph: one DISTINCT edge
    projection over lineitem ⋈ orders (the only fact-sized work)."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    # distinct over the (custkey, suppkey) LONG pair, node labels built after
    # — the dedup shuffle moves 16-byte keys, not ~20-char strings
    from pyspark.storagelevel import StorageLevel

    e0 = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select("o_custkey", "l_suppkey")
        .distinct()
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("c"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("s"),
        )
        # both direction branches of the union consume e0: persist, or the
        # fact join + distinct run twice (guide §2.4 — the same discipline
        # pagerank() applies to the union output itself)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    return e0.select(F.col("c").alias("src"), F.col("s").alias("dst")).unionAll(
        e0.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )


@query(
    "pagerank_two_iter",
    oracle="""
    WITH e0 AS MATERIALIZED (
      SELECT DISTINCT 'c' || o_custkey AS c, 's' || l_suppkey AS s
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    -- MATERIALIZED throughout (the round-10 bpe-k16 lesson): DuckDB inlines
    -- repeated CTE references, and `edges` fans out to deg/nodes/m0/m1 —
    -- the inlined form recomputed the 60M-row e0 join ~10x and spilled
    -- >46 GB at the 100x relational corpus before dying on disk
    edges AS MATERIALIZED (
      SELECT c AS src, s AS dst FROM e0 UNION ALL SELECT s, c FROM e0
    ),
    deg AS MATERIALIZED (SELECT src, count(*) AS d FROM edges GROUP BY src),
    nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges),
    nn AS MATERIALIZED (SELECT count(*) AS n FROM nodes),
    m0 AS MATERIALIZED (
      SELECT dst, sum(1.0/d) AS m FROM edges JOIN deg USING (src) GROUP BY dst
    ),
    r1 AS MATERIALIZED (
      SELECT node,
             0.15/(SELECT n FROM nn)
             + 0.85*coalesce(m.m, 0)/(SELECT n FROM nn) AS r
      FROM nodes LEFT JOIN m0 m ON m.dst = nodes.node),
    m1 AS MATERIALIZED (
      SELECT e.dst, sum(r1.r/deg.d) AS m
      FROM edges e JOIN r1 ON r1.node = e.src JOIN deg ON deg.src = e.src
      GROUP BY e.dst),
    r2 AS (SELECT node, 0.15/(SELECT n FROM nn) + 0.85*coalesce(m1.m, 0) AS r
           FROM nodes LEFT JOIN m1 ON m1.dst = nodes.node)
    SELECT node, round(r*1000, 8) AS score_x1000
    FROM r2 WHERE node LIKE 's%'
    """,
)
def pagerank_two_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two PageRank iterations (damping 0.85) over the customer↔supplier trade
    graph via the parameterized ``pagerank`` primitive, reporting supplier
    scores. Graph-analytics family twin of kmeans_two_rounds / connected
    components: deterministic bounded-round iteration, fully oracle-paired."""
    rank = pagerank(_trade_graph_edges(spark, sf_dir), iterations=2)
    return rank.filter(F.col("node").like("s%")).select(
        "node", F.round(F.col("r") * 1000, 8).alias("score_x1000")
    )


_COPURCHASE_MAX_BASKET = 64


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected unique (u < v) customer co-purchase edges: two customers
    are adjacent iff they bought the same part in the same calendar month —
    the scale-stable graph (customers AND parts grow with data, per-bucket
    density fixed) shared by triangle_count_copurchase and
    label_propagation_communities."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p")
    )
    od = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("ok"),
        F.col("o_custkey").alias("c"),
        (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("m"),
    )
    from pyspark.storagelevel import StorageLevel

    # cp is consumed three times (the basket-size filter plus BOTH sides of
    # the pair self-join): persist the distinct output once, or each consumer
    # re-runs the fact-scale lineitem ⋈ orders join — the before-plan showed
    # 40 parquet scans for triangle_count (guide §2.4/§5: this is the repo's
    # own pagerank/LSH persist discipline, it was just missing here)
    cp = (
        li.join(od, "ok")
        .select("p", "m", "c")
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # basket cap (round-10, found by the Zipf-skew gate): a hot part bought
    # by k customers in a month contributes C(k,2) edges — 607 customers on
    # the skew corpus's hot key vs max 7 on uniform sf0.1, densifying the
    # graph quadratically and voiding the linear-edges scaling claim. Groups
    # past _COPURCHASE_MAX_BASKET are dropped (standard co-occurrence-mining
    # practice: ubiquitous items carry no pair signal; the SemDedup k-cap
    # precedent). Below the cap — every uniform corpus — results are
    # bit-identical to the uncapped form. Same (p, m) key as the distinct,
    # so the guard adds no new exchange.
    # cap filter as an unordered count window over the SAME (p, m) key the
    # pair self-join uses, instead of groupBy + join-back: one pass over cp,
    # no second consumer, and the window's hash(p, m) partitioning is exactly
    # the join's requirement, so the filter adds no exchange (guide §2.4
    # "window partitioned like the preceding operation needs no 2nd shuffle")
    from pyspark.sql.window import Window as _W

    cp = (
        cp.withColumn("_k", F.count(F.lit(1)).over(_W.partitionBy("p", "m")))
        .filter(F.col("_k") <= _COPURCHASE_MAX_BASKET)
        .drop("_k")
    )
    a, b = cp.alias("a"), cp.alias("b")
    out = (
        a.join(
            b,
            (F.col("a.p") == F.col("b.p"))
            & (F.col("a.m") == F.col("b.m"))
            & (F.col("a.c") < F.col("b.c")),
        )
        .select(F.col("a.c").alias("u"), F.col("b.c").alias("v"))
        .distinct()
        # the edge list feeds degree counting AND ranking in triangle_count
        # (2 consumers) / both union branches in LPA and its CacheManager
        # twin — persist so the bucket self-join above runs once per corpus
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    return out


@query(
    "triangle_count_copurchase",
    oracle=f"""
    WITH cp AS MATERIALIZED (
        SELECT DISTINCT l_partkey AS p,
               year(o_orderdate) * 12 + month(o_orderdate) AS m,
               o_custkey AS c
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    cpb AS MATERIALIZED (
        -- basket cap (round-10): drop (part, month) groups with more than
        -- _COPURCHASE_MAX_BASKET customers; a hot item connects everyone and
        -- carries no community signal, and without the cap edges grow as
        -- C(k,2) on skewed data. Interpolated from the SAME Python constant
        -- as the Spark path (ADVICE r10) so the two engines cannot diverge.
        SELECT cp.* FROM cp
        JOIN (SELECT p, m FROM cp GROUP BY p, m
              HAVING count(*) <= {_COPURCHASE_MAX_BASKET}) g
          USING (p, m)
    ),
    e0 AS (
        SELECT DISTINCT a.c AS u, b.c AS v
        FROM cpb a JOIN cpb b ON a.p = b.p AND a.m = b.m AND a.c < b.c
    ),
    deg AS (
        SELECT node, count(*) AS d
        FROM (SELECT u AS node FROM e0 UNION ALL SELECT v FROM e0)
        GROUP BY node
    ),
    e AS (
        SELECT CASE WHEN (du.d, u) < (dv.d, v) THEN u ELSE v END AS src,
               CASE WHEN (du.d, u) < (dv.d, v) THEN v ELSE u END AS dst
        FROM e0 JOIN deg du ON du.node = u JOIN deg dv ON dv.node = v
    ),
    tri AS (
        SELECT e1.src AS a
        FROM e e1
        JOIN e e2 ON e2.src = e1.dst
        JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst
    )
    SELECT a AS custkey, CAST(count(*) AS BIGINT) AS n_tri
    FROM tri GROUP BY a
    """,
)
def triangle_count_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed triangle counting over the customer co-purchase graph (two
    customers are adjacent iff they bought the same part in the same calendar
    month), reported per anchor node — the graph-statistics primitive behind
    clustering-coefficient / community-density features.

    Graph choice matters for the scaling claim: customers AND parts both grow
    with the data while per-(part, month) co-purchase density stays fixed, so
    edges and triangles grow LINEARLY with corpus size (a first cut on the
    supplier co-supply graph densified to a near-clique at sf0.1 — a
    fixed-size dimension saturates its co-occurrence graph and triangle work
    explodes cubically; measured and rejected).

    The algorithm is the degree-ordered orientation (Suri & Vassilvitskii
    WWW'11): every undirected edge points from its lower (degree, id)
    endpoint to the higher, so each triangle is enumerated exactly once from
    its minimum-rank corner AND the wedge fan-out per node is bounded by its
    oriented out-degree — O(m^1.5) total work, immune to hub skew. The
    (degree, id) rank is an exact integer struct compare in both engines, so
    per-anchor counts are value-hash exact. Shuffle shape: bucket-keyed
    self-join for edges, edge dedup, wedge join keyed on dst, closing
    semi-join keyed on (src, dst) — all hash exchanges, nothing driver-side;
    the oriented edge list persists (consumed three times)."""
    e0 = _copurchase_edges(spark, sf_dir)
    deg = (
        e0.select(F.col("u").alias("node"))
        .unionAll(e0.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    du, dv = deg.alias("du"), deg.alias("dv")
    ranked = (
        e0.join(du, F.col("u") == F.col("du.node"))
        .join(dv, F.col("v") == F.col("dv.node"))
        .select(
            "u",
            "v",
            (
                F.struct(F.col("du.d"), F.col("u"))
                < F.struct(F.col("dv.d"), F.col("v"))
            ).alias("fwd"),
        )
    )
    e = ranked.select(
        F.when(F.col("fwd"), F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(F.col("fwd"), F.col("v")).otherwise(F.col("u")).alias("dst"),
    )
    e = e.persist()  # consumed three times by the triangle join
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.src") == F.col("e1.dst"))
        .join(
            e3,
            (F.col("e3.src") == F.col("e1.src")) & (F.col("e3.dst") == F.col("e2.dst")),
        )
        .select(F.col("e1.src").alias("custkey"))
    )
    return tri.groupBy("custkey").agg(F.count(F.lit(1)).cast("bigint").alias("n_tri"))


@query(
    "label_propagation_communities",
    oracle=f"""
    WITH cp AS MATERIALIZED (
        SELECT DISTINCT l_partkey AS p,
               year(o_orderdate) * 12 + month(o_orderdate) AS m,
               o_custkey AS c
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    cpb AS MATERIALIZED (
        -- basket cap (round-10): drop (part, month) groups with more than
        -- _COPURCHASE_MAX_BASKET customers; a hot item connects everyone and
        -- carries no community signal, and without the cap edges grow as
        -- C(k,2) on skewed data. Interpolated from the SAME Python constant
        -- as the Spark path (ADVICE r10) so the two engines cannot diverge.
        SELECT cp.* FROM cp
        JOIN (SELECT p, m FROM cp GROUP BY p, m
              HAVING count(*) <= {_COPURCHASE_MAX_BASKET}) g
          USING (p, m)
    ),
    e0 AS (
        SELECT DISTINCT a.c AS u, b.c AS v
        FROM cpb a JOIN cpb b ON a.p = b.p AND a.m = b.m AND a.c < b.c
    ),
    e AS (SELECT u AS src, v AS dst FROM e0 UNION ALL SELECT v, u FROM e0),
    l1 AS (
        SELECT src AS node, lbl FROM (
            SELECT src, lbl, row_number() OVER (PARTITION BY src
                       ORDER BY cnt DESC, lbl) AS rn
            FROM (SELECT e.src, e.dst AS lbl, count(*) AS cnt
                  FROM e GROUP BY e.src, e.dst)
        ) WHERE rn = 1
    ),
    l2 AS (
        SELECT src AS node, lbl FROM (
            SELECT src, lbl, row_number() OVER (PARTITION BY src
                       ORDER BY cnt DESC, lbl) AS rn
            FROM (SELECT e.src, l1.lbl, count(*) AS cnt
                  FROM e JOIN l1 ON l1.node = e.dst
                  GROUP BY e.src, l1.lbl)
        ) WHERE rn = 1
    )
    SELECT l2.node AS custkey, l2.lbl AS community,
           CAST(count(*) OVER (PARTITION BY l2.lbl) AS BIGINT) AS community_size
    FROM l2
    """,
)
def label_propagation_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection via two SYNCHRONOUS label-propagation rounds
    (Raghavan et al. 2007) over the customer co-purchase graph: start with
    label(v) = v, each round every node adopts its neighbors' most frequent
    label with the deterministic (count desc, label asc) tie-break — the
    tie-break is what makes LPA, normally run with random tie-breaking,
    oracle-pairable cross-engine.

    Scale shape: each round is one join (edges x labels, hash-partitioned on
    the neighbor key) + one (node, label) aggregate + one per-node top-1
    window — all shuffles keyed, label table is node-sized, edges persist
    across rounds (consumed once per round from cache). Bounded rounds, like
    pagerank_two_iter / kmeans_two_rounds: deterministic iteration count, no
    driver-side convergence loop. Round 1 folds init (label(v)=v) into the
    edge list itself: the neighbor's initial label IS the neighbor id."""
    from pyspark.sql.window import Window

    e0 = _copurchase_edges(spark, sf_dir)
    e = (
        e0.select(F.col("u").alias("src"), F.col("v").alias("dst"))
        .unionAll(e0.select(F.col("v").alias("src"), F.col("u").alias("dst")))
        .persist()
    )
    w = Window.partitionBy("src").orderBy(F.desc("cnt"), F.asc("lbl"))

    def top1(counted: DataFrame) -> DataFrame:
        return (
            counted.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(F.col("src").alias("node"), "lbl")
        )

    l1 = top1(
        e.select("src", F.col("dst").alias("lbl"))
        .groupBy("src", "lbl")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    l2 = top1(
        e.join(l1, e["dst"] == l1["node"])
        .select("src", "lbl")
        .groupBy("src", "lbl")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    wsize = Window.partitionBy("lbl")
    return l2.select(
        F.col("node").alias("custkey"),
        F.col("lbl").alias("community"),
        F.count(F.lit(1)).over(wsize).cast("bigint").alias("community_size"),
    )
