"""COMPLEX sketch columns and the bitmap/zone-map index filter family (S2.9, S1f-S1k).

Part of the :mod:`..druid_source` package split (r11, pure move) —
shared segment builders and the /tmp cache discipline live in the
package __init__; see its docstring for the layout."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import query
from . import (
    S1H_VALUE_CUT,
    _cached_build,
    _ensure_hll_segments,
    _ensure_mvd_segments,
    _ensure_registered,
    _ensure_segments,
    _ensure_value_banded_segments,
    _segment_root,
)


@query(
    "cx_theta_set_ops",
    oracle="""
    WITH ev AS (
      SELECT event_type, user_id,
             CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)
                  AS BIGINT) AS h
      FROM events WHERE event_type IN ('click', 'error')),
    d AS (SELECT DISTINCT event_type, h FROM ev),
    rk AS (SELECT event_type, h,
                  row_number() OVER (PARTITION BY event_type ORDER BY h) AS r
           FROM d),
    sk AS (SELECT event_type, list(h ORDER BY h) AS s
           FROM rk WHERE r <= 64 GROUP BY event_type),
    ab AS (SELECT
             coalesce((SELECT s FROM sk WHERE event_type = 'click'),
                      CAST([] AS BIGINT[])) AS a,
             coalesce((SELECT s FROM sk WHERE event_type = 'error'),
                      CAST([] AS BIGINT[])) AS b),
    comb AS (SELECT a, b, list_sort(list_distinct(a || b)) AS c FROM ab),
    th AS (SELECT a, b, c,
                  CASE WHEN len(c) >= 64 THEN CAST(c[64] AS DOUBLE)
                       ELSE 1152921504606846976.0 END AS theta,
                  len(c) >= 64 AS is_full
           FROM comb),
    nb AS (SELECT theta, is_full, c,
                  len(list_filter(list_intersect(a, b),
                                  x -> CAST(x AS DOUBLE) < theta)) AS n_inter
           FROM th),
    exact AS (SELECT
        COUNT(DISTINCT CASE WHEN event_type = 'click' THEN user_id END)
          AS exact_a,
        COUNT(DISTINCT CASE WHEN event_type = 'error' THEN user_id END)
          AS exact_b,
        COUNT(DISTINCT user_id) AS exact_union
      FROM ev),
    inter AS (SELECT COUNT(*) AS exact_intersection FROM (
        SELECT user_id FROM ev
        GROUP BY user_id HAVING COUNT(DISTINCT event_type) = 2))
    SELECT exact_a, exact_b, exact_union, exact_intersection,
           n2.est_union, n2.est_intersection,
           abs(n2.est_union - exact_union)
             <= (3.0 / sqrt(62.0)) * exact_union AS union_within_contract,
           abs(n2.est_intersection - exact_intersection)
             <= (3.0 / sqrt(62.0)) * exact_union AS inter_within_contract
    FROM exact, inter,
         (SELECT nb.theta, nb.is_full,
                 CASE WHEN nb.is_full
                      THEN 63.0 * 1152921504606846976.0 / nb.theta
                      ELSE CAST(len(nb.c) AS DOUBLE) END AS est_union,
                 CASE WHEN nb.is_full
                      THEN CAST(nb.n_inter AS DOUBLE)
                           * (63.0 * 1152921504606846976.0 / nb.theta) / 63.0
                      ELSE CAST(nb.n_inter AS DOUBLE) END AS est_intersection
          FROM nb) AS n2
    """,
)
def cx_theta_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ThetaSketch-style set algebra (§2.9 beyond-parity): KMV k=64
    sketches of distinct click-users and error-users, merged for union
    and intersection distinct-count estimates, next to the exact
    answers and 3-sigma contract flags (rsd ~ 1/sqrt(k-2)). The sketch
    hash is md5-derived, so the DuckDB oracle reproduces every bit —
    estimates included. Reference context: COMPLEX sketch columns fail
    on read in the reference (src/column/mod.rs:59-61); this is the
    query-time set-algebra capability Druid ships ThetaSketch for."""
    import math

    from ...catalog import table as _table
    from ...operators.sketches import kmv_sketch, theta_set_estimates

    k = 64
    ev = _table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "error")
    )
    sk = kmv_sketch(ev, "event_type", "user_id", k=k)
    # aggregate each side to exactly ONE row, empty-sketch when the
    # event type is absent — a filter+crossJoin would collapse to ZERO
    # rows on an empty side while the oracle's scalar subqueries still
    # emit one row (the set algebra is well-defined on empty sketches:
    # union estimate = the other side's count, intersection = 0)
    empty = F.expr("CAST(array() AS array<bigint>)")
    ska = sk.filter(F.col("g") == "click").agg(
        F.coalesce(F.first("sketch"), empty).alias("ska")
    )
    skb = sk.filter(F.col("g") == "error").agg(
        F.coalesce(F.first("sketch"), empty).alias("skb")
    )
    exact = ev.agg(
        F.countDistinct(
            F.when(F.col("event_type") == "click", F.col("user_id"))
        ).alias("exact_a"),
        F.countDistinct(
            F.when(F.col("event_type") == "error", F.col("user_id"))
        ).alias("exact_b"),
        F.countDistinct("user_id").alias("exact_union"),
    )
    inter = (
        ev.groupBy("user_id")
        .agg(F.countDistinct("event_type").alias("nt"))
        .filter(F.col("nt") == 2)
        .agg(F.count("*").alias("exact_intersection"))
    )
    est = ska.crossJoin(skb).select(
        *theta_set_estimates(F.col("ska"), F.col("skb"), k=k)
    )
    bound = 3.0 / math.sqrt(k - 2.0)
    return (
        exact.crossJoin(inter)
        .crossJoin(est)
        .select(
            "exact_a",
            "exact_b",
            "exact_union",
            "exact_intersection",
            "est_union",
            "est_intersection",
            (
                F.abs(F.col("est_union") - F.col("exact_union"))
                <= F.lit(bound) * F.col("exact_union")
            ).alias("union_within_contract"),
            (
                F.abs(F.col("est_intersection") - F.col("exact_intersection"))
                <= F.lit(bound) * F.col("exact_union")
            ).alias("inter_within_contract"),
        )
    )


@query(
    "cx_count_min_heavy",
    oracle="""
    WITH ev AS (SELECT CAST(user_id AS VARCHAR) AS item FROM events),
    pairs AS (
      SELECT item, j,
             CAST('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || item),
                                 1, 15) AS BIGINT) % 256 AS bucket
      FROM ev, (SELECT unnest([0, 1, 2, 3]) AS j) seeds),
    sketch AS (SELECT j, bucket, COUNT(*) AS c FROM pairs GROUP BY 1, 2),
    truec AS (SELECT item, COUNT(*) AS true_count FROM ev GROUP BY 1),
    cand AS (SELECT DISTINCT item, j, bucket FROM pairs),
    est AS (SELECT item, MIN(c) AS est_count
            FROM cand JOIN sketch USING (j, bucket) GROUP BY item)
    SELECT CAST(item AS BIGINT) AS user_id, est_count, true_count,
           est_count >= true_count AS never_underestimates
    FROM est JOIN truec USING (item)
    ORDER BY est_count DESC, user_id
    LIMIT 20
    """,
)
def cx_count_min_heavy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch heavy hitters over events.user_id (§2.9
    beyond-parity: Druid's datasketches frequency aggregator family;
    the reference cannot read any COMPLEX column,
    src/column/mod.rs:59-61). Depth 4 x width 256, md5-derived row
    hashes, so the DuckDB oracle reproduces EVERY counter — estimates
    are compared bit-exactly, plus the CMS contract column (estimates
    never underestimate). The sketch shuffle is bounded at
    depth x width counters per input partition regardless of input
    size; the estimate join broadcasts the 1024-row counter table.
    The exact per-user counts here exist only to exhibit the contract
    — at 100 TB only the sketch pass scans the fact table."""
    from ...catalog import table as _table
    from ...operators.sketches import cms_estimate, count_min_sketch

    depth, width = 4, 256
    ev = _table(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("item")
    )
    sketch = count_min_sketch(ev, "item", depth=depth, width=width)
    truec = ev.groupBy("item").agg(F.count("*").alias("true_count"))
    est = cms_estimate(truec, sketch, "item", depth=depth, width=width)
    return (
        est.join(truec, "item")
        .select(
            F.col("item").cast("bigint").alias("user_id"),
            "est_count",
            "true_count",
            (F.col("est_count") >= F.col("true_count")).alias(
                "never_underestimates"
            ),
        )
        .orderBy(F.desc("est_count"), "user_id")
        .limit(20)
    )


@query(
    "s11b_partition_prune_scan",
    oracle="""
    SELECT CAST(CAST(ts AS DATE) AS TIMESTAMP) AS d, event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(38,4))) AS DOUBLE) AS total
    FROM events
    WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-08' AND DATE '2024-01-14'
    GROUP BY CAST(ts AS DATE), event_type
    ORDER BY d, event_type
    """,
)
def s11b_partition_prune_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned layout + partition-pruned read-back: events are
    written partitioned by event date (the layout a 100 TB event store
    uses — one directory per day, Druid's segment-per-interval analog,
    reference interval metadata at src/segment/metadata.rs:22-23 which
    the reference parses but never prunes with), then a one-week query
    reads back ONLY those directories: the date predicate binds to the
    partition column, so Catalyst prunes at file-listing time
    (PartitionFilters in the scan — asserted in tests/test_plans.py)
    and the other 23 days are never opened. The oracle runs the same
    week over the unpartitioned source, proving the layout round-trips
    losslessly. Money via the decimal pattern; partition count is
    bounded (days), values high-cardinality-free."""
    from ...catalog import table as _table

    tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    out = os.path.join("/tmp", "ddbs_sinks", tag, "events_by_day")
    ev = _table(spark, sf_dir, "events")
    (
        ev.select("event_id", "ts", "event_type", "value", F.to_date("ts").alias("d"))
        .write.mode("overwrite")
        .partitionBy("d")
        .parquet(out)
    )
    back = spark.read.parquet(out)
    return (
        back.filter(
            F.col("d").between(F.lit("2024-01-08").cast("date"), F.lit("2024-01-14").cast("date"))
        )
        .groupBy(F.col("d").cast("timestamp").alias("d"), F.col("event_type"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(38,4)")).cast("double").alias("total"),
        )
        .orderBy("d", "event_type")
    )


@query(
    "s1f_druid_segment_in_filter",
    oracle="""
    WITH r AS (
      SELECT date_trunc('hour', ts) AS h, event_type, COUNT(*) AS c
      FROM events WHERE event_type IN ('click', 'purchase')
      GROUP BY h, event_type)
    SELECT event_type, COUNT(*) AS n_buckets, CAST(SUM(c) AS BIGINT) AS n_events
    FROM r GROUP BY event_type ORDER BY event_type
    """,
)
def s1f_druid_segment_in_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-list scan over real segments: event_type IN (click, purchase)
    is answered by UNIONING the two values' inverted-index bitmaps
    before any value column decodes (the disjunctive extension of
    s1d's single-value path; the reference parses bitmap blobs but
    never applies them, bitmap.rs:16-40). The oracle recomputes the
    rollup from the raw events table."""
    root = _ensure_hll_segments(spark, sf_dir)
    df = (
        spark.read.format("druidsegment")
        .option("path", root)
        .option("dim_eq", '{"event_type": ["click", "purchase"]}')
        .load()
    )
    return (
        df.filter(F.col("event_type").isin("click", "purchase"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_buckets"),
            F.sum("n_events").alias("n_events"),
        )
        .orderBy("event_type")
    )


@query(
    "s1g_druid_segment_mvd_in_filter",
    oracle="""
    SELECT COUNT(*) AS n_docs, CAST(SUM(doc_id) AS BIGINT) AS sum_id,
           CAST(SUM(CASE WHEN list_contains(tags, 'hash') THEN 1 ELSE 0 END) AS BIGINT) AS n_hash,
           CAST(SUM(CASE WHEN list_contains(tags, 'merge') THEN 1 ELSE 0 END) AS BIGINT) AS n_merge
    FROM (SELECT doc_id, string_split(text, ' ')[1:3] AS tags FROM documents)
    WHERE list_has_any(tags, ['hash', 'merge'])
    """,
)
def s1g_druid_segment_mvd_in_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-list filter on a MULTI-VALUE dimension, answered by the
    inverted index: tags-contains-any-of(hash, merge) unions the two
    values' bitmaps on the MVD column itself — Druid's selector
    semantics on multi-value dims (a value filter matches a row when
    ANY of its values matches). Completes s1d/s1f's single-value path
    on the codec the reference parses the hasMultipleValues flag of
    but never honors (string.rs:27-44); zero-match segments skip value
    decode entirely, and matched row sets push into the decode itself
    (only blocks holding selected rows decompress; the MVD layout is
    the one variable-width exception — it decodes then takes). Null
    text maps to [] (never
    matches) on both sides; Spark re-applies the array_contains filter
    on top, so the index stays acceleration-only."""
    root = _ensure_mvd_segments(spark, sf_dir)
    df = (
        spark.read.format("druidsegment")
        .option("path", root)
        .option("dim_eq", '{"tags": ["hash", "merge"]}')
        .load()
    )
    matched = F.array_contains("tags", "hash") | F.array_contains("tags", "merge")
    return df.filter(matched).agg(
        F.count("*").alias("n_docs"),
        F.sum("doc_id").alias("sum_id"),
        F.sum(F.array_contains("tags", "hash").cast("bigint")).alias("n_hash"),
        F.sum(F.array_contains("tags", "merge").cast("bigint")).alias("n_merge"),
    )


@query(
    "s1i_druid_segment_dim_bound_filter",
    oracle="""
    SELECT COUNT(*) AS n, CAST(SUM(n_nationkey) AS BIGINT) AS sum_key,
           MIN(n_name) AS first_name, MAX(n_name) AS last_name
    FROM nation
    WHERE n_name >= 'E' AND n_name < 'N'
    """,
)
def s1i_druid_segment_dim_bound_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicographic BOUND filter answered by the inverted index:
    'E' <= n_name < 'N' binary-searches the SORTED dictionary for the
    contiguous id range inside the bound and unions those ids' row
    bitmaps — Druid's BoundFilter, the range sibling of s1d/s1f's
    selector/IN path, on index structures the reference parses but
    never applies (bitmap.rs:16-40). Strictness is exact in the index
    (no loose hull); a segment whose dictionary has no id in range
    reads as an empty batch without a value decode. Spark re-applies
    the predicate row-level, so
    the index stays acceleration-only."""
    root = _ensure_segments(spark, sf_dir)
    df = (
        spark.read.format("druidsegment")
        .option("path", root)
        .option("dim_bound", '{"n_name": ["E", "N", false, true]}')
        .load()
    )
    return df.filter((F.col("n_name") >= "E") & (F.col("n_name") < "N")).agg(
        F.count("*").alias("n"),
        F.sum("n_nationkey").alias("sum_key"),
        F.min("n_name").alias("first_name"),
        F.max("n_name").alias("last_name"),
    )


@query(
    "s1k_druid_segment_prefix_filter",
    oracle="""
    SELECT COUNT(*) AS n, CAST(SUM(n_nationkey) AS BIGINT) AS sum_key,
           MIN(n_name) AS first_name, MAX(n_name) AS last_name
    FROM nation
    WHERE n_name LIKE 'I%'
    """,
)
def s1k_druid_segment_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Druid PrefixFilter (LIKE 'I%') answered by the sorted
    dictionary: a prefix is exactly the bound [p, next_prefix(p)), so
    the same binary-search + bitmap-union machinery as s1i serves it —
    the dim_prefix option is pure sugar over dim_bound. Acceleration
    only; the startswith filter re-applies row-level."""
    root = _ensure_segments(spark, sf_dir)
    df = (
        spark.read.format("druidsegment")
        .option("path", root)
        .option("dim_prefix", '{"n_name": "I"}')
        .load()
    )
    return df.filter(F.col("n_name").startswith("I")).agg(
        F.count("*").alias("n"),
        F.sum("n_nationkey").alias("sum_key"),
        F.min("n_name").alias("first_name"),
        F.max("n_name").alias("last_name"),
    )


@query(
    "s1h_druid_segment_metric_prune",
    oracle=f"""
    SELECT event_type, COUNT(*) AS n, CAST(SUM(event_id) AS BIGINT) AS sum_id
    FROM events WHERE value >= {S1H_VALUE_CUT}
    GROUP BY event_type ORDER BY event_type
    """,
)
def s1h_druid_segment_metric_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric metric predicate answered with SEGMENT pruning: the
    value-banded segment forest persists per-column min/max in
    metadata.drd (write_segment), and the DataSource's num_range window
    skips every segment whose stored range excludes `value >= 300`
    before any value column decodes — the numeric analog of s1c's
    __time interval pruning, on the metadata plane the reference never
    consults (its metadata.drd is parsed but unused,
    src/segment/mod.rs:37-68). Surviving segments further restrict the
    decode to candidate COMPRESSED BLOCKS via per-block min/max zone
    maps (write_segment persists them; block-skip contract pinned in
    tests/test_druid_datasource.py::test_numeric_zone_maps_decode_only_candidate_blocks).
    The banded build refuses a layout where
    the cut prunes nothing, and
    tests/test_druid_datasource.py::test_numeric_range_pruning_is_metadata_only
    pins the planner-side partition list + no-decode contract. Pruning
    stays acceleration-only: the df.filter re-applies the exact
    predicate row-level."""
    import json as _json

    root = _ensure_value_banded_segments(spark, sf_dir)
    df = (
        spark.read.format("druidsegment")
        .option("path", root)
        .option("num_range", _json.dumps({"value": [S1H_VALUE_CUT, None]}))
        .load()
    )
    return (
        df.filter(F.col("value") >= S1H_VALUE_CUT)
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), F.sum("event_id").alias("sum_id"))
        .orderBy("event_type")
    )


@query(
    "dm_segment_stats_plane",
    oracle="""
    WITH ranked AS (
      SELECT value, row_number() OVER (ORDER BY value) - 1 AS r,
             COUNT(*) OVER () AS n
      FROM events)
    SELECT CASE WHEN r < n//4 THEN 0 WHEN r < (2*n)//4 THEN 1
                WHEN r < (3*n)//4 THEN 2 ELSE 3 END AS band,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(value) AS min_value, MAX(value) AS max_value
    FROM ranked GROUP BY 1 ORDER BY 1
    """,
)
def dm_segment_stats_plane(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted stats PLANE itself, verified against the data: one
    row per value-banded segment holding the min/max/row-count that
    write_segment stored in metadata.drd — the numbers s1h's pruning
    and the zone maps trust. The oracle independently recomputes each
    band's extrema from raw events (row_number cuts mirroring the
    builder's integer-division slicing bit-exactly), so a green row
    proves the metadata plane tells the truth. Reads are
    metadata-only — column_stats() never touches a value chunk; the
    4-row result is driver-side by nature (it IS planner metadata, the
    same bytes partitions() consults)."""
    from ...sources.datasource import find_segment_dirs
    from ...sources.segment import DruidSegment

    root = _ensure_value_banded_segments(spark, sf_dir)
    rows = []
    for band, seg_dir in enumerate(sorted(find_segment_dirs(root))):
        seg = DruidSegment(seg_dir)
        try:
            st = seg.column_stats()["value"]
        finally:
            seg.close()
        rows.append((band, st["rows"], st["min"], st["max"]))
    return spark.createDataFrame(
        rows, "band int, n_rows bigint, min_value double, max_value double"
    ).orderBy("band")


# --- fixed-buckets quantile histogram (Druid fixedBucketsHistogram) ----

QHIST_BUCKETS = 64
QHIST_WIDTH = 16.0  # covers events.value (~[0, 600]); overflow clips to last


def _ensure_qhist_segments(spark: SparkSession, sf_dir: str) -> str:
    """Hourly rollup of events with a fixed-buckets value histogram per
    (hour, event_type), persisted as Druid segments. The digest is
    Druid's fixedBucketsHistogram aggregator (lowerLimit=0,
    upperLimit=1024, numBuckets=64, outlier mode "clip"): 64 exact
    bucket counts, serialized as the COMPLEX column's opaque payload
    (comma-joined longs). Counts merge by addition, so the raw rows can
    be dropped at ingest and quantiles stay answerable forever — and
    unlike KLL/t-digest the digest is fully deterministic, so every
    merged counter is bit-checkable against an oracle."""
    from ...catalog import table
    from ...sources.ingest import write_druid_segments

    _ensure_registered(spark)

    root = _segment_root(sf_dir, "events_qhist")
    def _build() -> None:
        from ...operators.sketches import hist_bucket

        ev = table(spark, sf_dir, "events")
        pos = hist_bucket(F.col("value"), QHIST_BUCKETS, QHIST_WIDTH)
        # One pass, map-side combined: 64 conditional counts per group
        # (a groupBy-bucket-then-pivot would add a second shuffle).
        rolled = ev.groupBy(
            F.date_trunc("hour", "ts").alias("__time"), "event_type"
        ).agg(
            F.count("*").alias("n_rows"),
            F.concat_ws(
                ",",
                *[
                    F.sum(F.when(pos == b, 1).otherwise(0)).cast("string")
                    for b in range(QHIST_BUCKETS)
                ],
            ).alias("value_hist"),
        )
        write_druid_segments(rolled, root, granularity="P1D").collect()

    _cached_build(root, sf_dir, "events", _build)
    return root


@query(
    "cx_qhist_rollup_merge",
    oracle=f"""
    WITH b AS (
      SELECT event_type,
             GREATEST(0, LEAST(CAST(FLOOR(value / {QHIST_WIDTH}) AS BIGINT),
                               {QHIST_BUCKETS - 1})) AS pos,
             COUNT(*) AS cnt
      FROM events GROUP BY event_type, pos),
    t AS (SELECT event_type, CAST(SUM(cnt) AS BIGINT) AS n
          FROM b GROUP BY event_type),
    c AS (
      SELECT event_type, pos, CAST(cnt AS BIGINT) AS cnt,
             CAST(SUM(cnt) OVER (
               PARTITION BY event_type ORDER BY pos) AS BIGINT) AS cum
      FROM b),
    med AS (
      SELECT c.event_type,
             (pos + ((CAST(0.5 AS DOUBLE) * t.n) - (cum - cnt)) / cnt) * {QHIST_WIDTH}
               AS p50_est
      FROM c JOIN t USING (event_type)
      WHERE cum >= CAST(0.5 AS DOUBLE) * t.n AND (cum - cnt) < CAST(0.5 AS DOUBLE) * t.n),
    hi AS (
      SELECT c.event_type,
             (pos + ((CAST(0.95 AS DOUBLE) * t.n) - (cum - cnt)) / cnt) * {QHIST_WIDTH}
               AS p95_est
      FROM c JOIN t USING (event_type)
      WHERE cum >= CAST(0.95 AS DOUBLE) * t.n AND (cum - cnt) < CAST(0.95 AS DOUBLE) * t.n)
    SELECT t.event_type, t.n AS n_events, med.p50_est, hi.p95_est,
           TRUE AS within_one_bucket
    FROM t JOIN med USING (event_type) JOIN hi USING (event_type)
    ORDER BY event_type
    """,
)
def cx_qhist_rollup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-time merge of persisted quantile digests (§2.9: the Druid
    sketch-column family — HLL, theta, count-min, and now quantiles via
    fixedBucketsHistogram; the reference cannot read any COMPLEX
    column, src/column/mod.rs:59-61). Hourly rollup segments carry 64
    exact bucket counts of `value` per event type; this query never
    touches a raw row: it splits each digest back into counters,
    merges by addition, and interpolates the median and the p95 inside
    the bucket whose cumulative count crosses each target rank (both
    quantiles come from ONE pass over the |types x 64| counter table —
    the segment-decode lineage executes once, never per ask, and never
    touches raw data).

    Every output is bit-exact against the oracle (counts are integers;
    the interpolation is the same IEEE double expression both engines
    evaluate over exactly-representable inputs). `within_one_bucket`
    additionally asserts the digest's error contract — the estimate
    sits within one bucket width of the true quantile (p50 AND p95) —
    computed
    genuinely on the Spark side from percentile() over raw events.

    Scale: the merge shuffles |hours x types x 64| counters, never the
    fact table; the digest column is ~1 KB per rollup row regardless of
    raw cardinality. The contract's exact-percentile pass exists only
    to exhibit the bound."""
    root = _ensure_qhist_segments(spark, sf_dir)
    from ...catalog import table as _table

    back = spark.read.format("druidsegment").option("path", root).load()
    counters = back.select(
        "event_type",
        F.posexplode(
            F.transform(
                F.split("value_hist", ","), lambda x: x.cast("long")
            )
        ).alias("pos", "cnt"),
    )
    from ...operators.sketches import quantiles_from_counters

    merged = counters.groupBy("event_type", "pos").agg(
        F.sum("cnt").alias("cnt")
    )
    # both quantiles from ONE pass over the counter table — the merged
    # lineage (segment decode + split + posexplode + agg) executes once,
    # not once per quantile ask
    est = quantiles_from_counters(
        merged, ["event_type"], QHIST_WIDTH, {"p50_est": 0.5, "p95_est": 0.95}
    ).withColumnRenamed("n", "n_events")
    exact = (
        _table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.expr("percentile(value, 0.5)").alias("exact_p50"),
            F.expr("percentile(value, 0.95)").alias("exact_p95"),
        )
    )
    return (
        est.join(exact, "event_type")
        .select(
            "event_type",
            "n_events",
            "p50_est",
            "p95_est",
            (
                (
                    F.abs(F.col("p50_est") - F.col("exact_p50"))
                    <= F.lit(QHIST_WIDTH)
                )
                & (
                    F.abs(F.col("p95_est") - F.col("exact_p95"))
                    <= F.lit(QHIST_WIDTH)
                )
            ).alias("within_one_bucket"),
        )
        .orderBy("event_type")
    )
