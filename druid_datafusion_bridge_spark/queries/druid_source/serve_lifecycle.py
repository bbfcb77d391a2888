"""Search/pattern scans, ordered limits, retention rules, and version overshadow (S1l-S1q, S13, X10).

Part of the :mod:`..druid_source` package split (r11, pure move) —
shared segment builders and the /tmp cache discipline live in the
package __init__; see its docstring for the layout."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import query
from . import (
    _cached_build,
    _ensure_hll_segments,
    _ensure_registered,
    _ensure_segments,
    _ensure_value_banded_segments,
    _segment_root,
)


@query(
    "s1l_druid_segment_regex_filter",
    oracle="""
    WITH r AS (
      SELECT date_trunc('hour', ts) AS h, event_type, COUNT(*) AS c
      FROM events WHERE regexp_matches(event_type, '^(cl|pu)')
      GROUP BY h, event_type)
    SELECT event_type, COUNT(*) AS n_buckets, CAST(SUM(c) AS BIGINT) AS n_events
    FROM r GROUP BY event_type ORDER BY event_type
    """,
)
def s1l_druid_segment_regex_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Druid RegexDimFilter over real segments: the pattern is
    evaluated ONCE PER DISTINCT VALUE against each segment's sorted
    dictionary — O(cardinality), never O(rows) — and the surviving
    ids' row bitmaps union into the row selection that slices value
    decode to matching blocks (zero-match segments read as an empty
    batch, matched ones skip non-candidate block decompression).
    Completes the filter-family ladder s1d (=), s1f (IN), s1i (bound),
    s1k (prefix) with the predicate form the sorted dictionary canNOT
    bisect; the reference parses these dictionaries (string.rs:27-44)
    but applies no filter of any kind (bitmap.rs:16-40 dead code).
    Acceleration only: the rlike filter re-applies row-level, and the
    pattern stays in the RE2/Java-regex common subset
    (DruidSegment.bitmap_rows_for_filter evaluates it with Arrow's
    match_substring_regex kernel)."""
    root = _ensure_hll_segments(spark, sf_dir)
    df = (
        spark.read.format("druidsegment")
        .option("path", root)
        .option("dim_regex", '{"event_type": "^(cl|pu)"}')
        .load()
    )
    return (
        df.filter(F.col("event_type").rlike("^(cl|pu)"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_buckets"),
            F.sum("n_events").alias("n_events"),
        )
        .orderBy("event_type")
    )


@query(
    "s1m_druid_segment_search_filter",
    oracle="""
    WITH r AS (
      SELECT date_trunc('hour', ts) AS h, event_type, COUNT(*) AS c
      FROM events WHERE contains(lower(event_type), 'rchas')
      GROUP BY h, event_type)
    SELECT event_type, COUNT(*) AS n_buckets, CAST(SUM(c) AS BIGINT) AS n_events
    FROM r GROUP BY event_type ORDER BY event_type
    """,
)
def s1m_druid_segment_search_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Druid search filter (ContainsSearchQuerySpec, caseSensitive=
    false) over real segments: case-insensitive substring match runs
    once per distinct dictionary value, then bitmap-union row
    selection — the same dictionary-predicate machinery as s1l with a
    non-regex matcher. The Spark-side residual filter is an EXPRESSION
    (lower() + contains), so no Filter pushdown exists even in theory;
    the dim_icontains option is how the engine's own planner layer
    hands the search spec to the scan — exactly Druid's split between
    filter spec (query JSON) and per-segment evaluation."""
    root = _ensure_hll_segments(spark, sf_dir)
    df = (
        spark.read.format("druidsegment")
        .option("path", root)
        .option("dim_icontains", '{"event_type": "RCHAS"}')
        .load()
    )
    return (
        df.filter(F.lower(F.col("event_type")).contains("rchas"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_buckets"),
            F.sum("n_events").alias("n_events"),
        )
        .orderBy("event_type")
    )


@query(
    "s1n_druid_segment_like_filter",
    oracle="""
    WITH r AS (
      SELECT date_trunc('hour', ts) AS h, event_type, COUNT(*) AS c
      FROM events WHERE event_type LIKE '_i%'
      GROUP BY h, event_type)
    SELECT event_type, COUNT(*) AS n_buckets, CAST(SUM(c) AS BIGINT) AS n_events
    FROM r GROUP BY event_type ORDER BY event_type
    """,
)
def s1n_druid_segment_like_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Druid LikeDimFilter over real segments: the SQL pattern
    ('_i%' — one-char wildcard then any run) compiles to an anchored
    match evaluated once per distinct dictionary value (Arrow's
    match_like kernel, SQL %/_/backslash), bitmap-union row selection
    after. Spark and
    DuckDB agree on LIKE semantics (whole-string, backslash escape),
    so the residual row-level filter is the plain .like() the user
    would write anyway — the option only accelerates it."""
    root = _ensure_hll_segments(spark, sf_dir)
    df = (
        spark.read.format("druidsegment")
        .option("path", root)
        .option("dim_like", '{"event_type": "_i%"}')
        .load()
    )
    return (
        df.filter(F.col("event_type").like("_i%"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_buckets"),
            F.sum("n_events").alias("n_events"),
        )
        .orderBy("event_type")
    )


@query(
    "dm_search_query",
    oracle="""
    SELECT event_type AS value, COUNT(*) AS n
    FROM events WHERE contains(event_type, 'i')
    GROUP BY 1 ORDER BY 1
    """,
)
def dm_search_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Druid Search query (the native query type, not a filter): which
    values of a dimension match a spec, with row counts — answered
    WITHOUT decoding a single value chunk. Each segment task walks the
    sorted dictionary once and sums bitmap cardinalities; the broker
    merge is a groupBy over (value, n) pairs whose volume is matching
    cardinality × segments, independent of row count. The oracle
    recomputes the counts the slow way from the raw events table, so a
    green row proves dictionary + bitmap cardinalities tell the truth
    on every segment. Runs over the 4 value-banded raw-event segments
    (each holding all 5 event types, so every segment contributes)."""
    from ...model.druid_model import search_dimension

    root = _ensure_value_banded_segments(spark, sf_dir)
    return search_dimension(
        spark, root, "event_type", "contains", "i"
    ).orderBy("value")


@query(
    "s1o_druid_segment_split_scan",
    oracle="""
    SELECT n_regionkey, COUNT(*) AS n, CAST(SUM(n_nationkey) AS BIGINT) AS sum_key
    FROM nation GROUP BY n_regionkey ORDER BY n_regionkey
    """,
)
def s1o_druid_segment_split_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-window planning on a small root: the planner cuts a segment
    into row windows only when it holds at least twice
    max(ceil(planned rows / cores), MIN_WINDOW_ROWS) rows, so the two
    nation segments (25 rows) plan as one unit each, never split. The
    oracle proves the scan tiles the table exactly: no row lost, none
    duplicated."""
    root = _ensure_segments(spark, sf_dir)
    df = spark.read.format("druidsegment").option("path", root).load()
    return (
        df.groupBy("n_regionkey")
        .agg(F.count("*").alias("n"), F.sum("n_nationkey").alias("sum_key"))
        .orderBy("n_regionkey")
    )


def _ensure_event_time_segments(spark: SparkSession, sf_dir: str) -> str:
    """Events as 6 time-sliced segments (rows sorted by ts, count-equal
    slices) — disjoint ascending intervals, the layout a granularity
    bucket writer produces and the one ordered-limit planning prunes."""
    from ...sources import write_segment

    _ensure_registered(spark)
    root = _segment_root(sf_dir, "events_time_sliced")

    def _build() -> None:
        import pyarrow.compute as pc

        t = pq.read_table(
            os.path.join(sf_dir, "events.parquet"),
            columns=["event_id", "ts", "event_type", "value"],
        )
        t = t.take(pc.sort_indices(t, sort_keys=[("ts", "ascending")]))
        t = pa.table(
            {
                "__time": t.column("ts"),
                "event_id": t.column("event_id"),
                "event_type": t.column("event_type"),
                "value": t.column("value"),
            }
        )
        n = t.num_rows
        for i in range(6):
            lo, hi = i * n // 6, (i + 1) * n // 6
            write_segment(
                t.slice(lo, hi - lo), os.path.join(root, f"seg_{i:03d}")
            )

    _cached_build(root, sf_dir, "events", _build)
    return root


@query(
    "s1p_druid_segment_ordered_limit",
    oracle="""
    SELECT CAST(event_id AS BIGINT) AS event_id, event_type,
           epoch_ms(date_trunc('milliseconds', ts)) AS t_ms
    FROM events
    ORDER BY t_ms, event_id
    LIMIT 50
    """,
)
def s1p_druid_segment_ordered_limit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Druid Scan-query time ordering + limit as PLANNING-level IO
    pruning: order_limit=50 keeps only the earliest segments whose
    header row counts cover 50 rows (here 1 of the 6 time slices —
    metadata-plane cost, no value decode for the other 5), a provable
    top-k superset; Spark's orderBy+limit does the exact cut. Druid
    streams segments time-ordered and stops at the limit
    (ScanQueryEngine); the reference plans the whole table as one
    partition and has no limit pushdown at all (execution_plan.rs:42).
    The oracle orders by the SAME key the segment stores — ms-truncated
    time (sub-ms truncates at write, src/column/time.rs:10-14) with
    event_id tie-break."""
    root = _ensure_event_time_segments(spark, sf_dir)
    df = (
        spark.read.format("druidsegment")
        .option("path", root)
        .option("order_limit", "50")
        .load()
    )
    return (
        df.select(
            "event_id",
            "event_type",
            F.unix_millis("__time").alias("t_ms"),
        )
        .orderBy("t_ms", "event_id")
        .limit(50)
    )


S1Q_CUTOFF_MS = 1705708800000  # 2024-01-20T00:00:00Z, inside the events span


@query(
    "s1q_druid_segment_recent_limit",
    oracle=f"""
    SELECT CAST(event_id AS BIGINT) AS event_id, event_type,
           epoch_ms(date_trunc('milliseconds', ts)) AS t_ms
    FROM events
    WHERE epoch_ms(date_trunc('milliseconds', ts)) >= {S1Q_CUTOFF_MS}
    ORDER BY t_ms DESC, event_id DESC
    LIMIT 40
    """,
)
def s1q_druid_segment_recent_limit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Druid's canonical recency query — latest k within an interval —
    as composed planning-level pruning: the interval drops
    out-of-range segments, then the DESCENDING ordered-limit prefix
    keeps only the latest segments whose header counts cover k (a
    partially-overlapping boundary segment rides along without
    counting, so the superset stays provable). Spark re-applies the
    time filter row-level and lands the exact cut; surviving segments
    skip non-candidate blocks via the __time zone maps."""
    root = _ensure_event_time_segments(spark, sf_dir)
    df = (
        spark.read.format("druidsegment")
        .option("path", root)
        .option("order_limit", "40")
        .option("order_desc", "true")
        .option("time_lower_ms", str(S1Q_CUTOFF_MS))
        .load()
    )
    return (
        df.filter(F.col("__time") >= F.timestamp_millis(F.lit(S1Q_CUTOFF_MS)))
        .select(
            "event_id",
            "event_type",
            F.unix_millis("__time").alias("t_ms"),
        )
        .orderBy(F.desc("t_ms"), F.desc("event_id"))
        .limit(40)
    )


def _ensure_daily_event_segments(spark: SparkSession, sf_dir: str) -> str:
    """Events as one segment per UTC day (30 for the generator's
    January span) — the layout a DAY segmentGranularity writer
    produces, and the one retention rules act on: every segment's
    interval sits inside a single day, so a day-aligned rule's
    segment-level keep/drop is row-level expressible for the oracle."""
    from ...sources import write_segment

    _ensure_registered(spark)
    root = _segment_root(sf_dir, "events_daily")

    def _build() -> None:
        import pyarrow.compute as pc

        t = pq.read_table(
            os.path.join(sf_dir, "events.parquet"),
            columns=["event_id", "ts", "event_type", "value"],
        )
        t = t.take(pc.sort_indices(t, sort_keys=[("ts", "ascending")]))
        t = pa.table(
            {
                "__time": t.column("ts"),
                "event_id": t.column("event_id"),
                "event_type": t.column("event_type"),
                "value": t.column("value"),
            }
        )
        days = pc.strftime(t.column("__time"), format="%Y%m%d").to_pylist()
        lo = 0
        for i in range(1, t.num_rows + 1):
            if i == t.num_rows or days[i] != days[lo]:
                write_segment(
                    t.slice(lo, i - lo),
                    os.path.join(root, f"seg_{days[lo]}"),
                )
                lo = i

    _cached_build(root, sf_dir, "events", _build)
    return root


def _retention_scan(
    spark: SparkSession, sf_dir: str, rules: list[dict], now_ms: int
) -> DataFrame:
    """Shared retention plumbing: evaluate ``rules`` against the daily
    root's planning manifest (metadata plane — no segment opens beyond
    the one cached manifest read), then scan with the dropped segments
    excluded in the relation's options — the same mechanism the broker
    bakes into its registrations (broker.py _register_datasource_root)."""
    import json as _json

    from ...retention import unused_segments
    from ...sources.datasource import find_segment_dirs, load_plan_meta

    root = _ensure_daily_event_segments(spark, sf_dir)
    dirs = find_segment_dirs(root)
    dropped = unused_segments(
        rules, [], load_plan_meta(root, dirs), now_ms
    )
    reader = spark.read.format("druidsegment").option("path", root)
    if dropped:
        reader = reader.option(
            "exclude_segments", _json.dumps(sorted(dropped))
        )
    return reader.load()


#: Fixed "now" for period-rule evaluation in the registry queries: the
#: day after the events generator's span ends, so the oracle's
#: equivalent row cut is a constant. The broker uses real wall-clock.
LR_NOW_MS = 1706745600000  # 2024-02-01T00:00:00Z


@query(
    "lr_retention_drop_interval",
    oracle="""
    SELECT strftime(ts, '%Y-%m-%d') AS day,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(38,4))) AS DOUBLE) AS sum_value
    FROM events
    WHERE NOT (ts >= TIMESTAMP '2024-01-10 00:00:00'
               AND ts < TIMESTAMP '2024-01-15 00:00:00')
    GROUP BY day
    ORDER BY day
    """,
)
def lr_retention_drop_interval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Coordinator retention: ``[dropByInterval 2024-01-10/01-15,
    loadForever]`` over day-granularity segments (rule-configuration.md
    — first match wins; the interval rule's CONTAINMENT test drops
    exactly the five January days inside it, everything else falls
    through to loadForever). The drop happens at PLANNING (excluded
    segments never open — at 100 TB that is retention deleting IO, not
    filtering rows); day alignment makes the segment-level drop
    row-expressible for the oracle."""
    from ..exact import exact_sum

    rules = [
        {"type": "dropByInterval",
         "interval": "2024-01-10T00:00:00Z/2024-01-15T00:00:00Z"},
        {"type": "loadForever"},
    ]
    df = _retention_scan(spark, sf_dir, rules, LR_NOW_MS)
    return (
        df.groupBy(F.date_format("__time", "yyyy-MM-dd").alias("day"))
        .agg(
            F.count("*").alias("n_events"),
            exact_sum("value", "sum_value"),
        )
        .orderBy("day")
    )


@query(
    "lr_retention_period_load",
    oracle="""
    SELECT strftime(ts, '%Y-%m-%d') AS day, COUNT(*) AS n_events
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-25 00:00:00'
    GROUP BY day
    ORDER BY day
    """,
)
def lr_retention_period_load(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Retention's canonical idiom — "serve the last week": a single
    ``loadByPeriod P7D`` chain with an EMPTY default; a segment
    matching no rule is not served (Druid's coordinator leaves it
    unassigned), so everything older than now-P7D drops. Period rules
    anchor at "now" (fixed here at 2024-02-01T00:00:00Z so the oracle
    is a constant cut; the broker anchors at wall-clock): the window
    [2024-01-25, inf) keeps the six final generator days. Overlap
    matching keeps boundary-straddling segments WHOLE — with
    day-contained segments that reduces to the oracle's day cut."""
    rules = [{"type": "loadByPeriod", "period": "P7D",
              "includeFuture": True}]
    df = _retention_scan(spark, sf_dir, rules, LR_NOW_MS)
    return (
        df.groupBy(F.date_format("__time", "yyyy-MM-dd").alias("day"))
        .agg(F.count("*").alias("n_events"))
        .orderBy("day")
    )


@query(
    "lr_retention_drop_before",
    oracle="""
    SELECT strftime(ts, '%Y-%m-%d') AS day, COUNT(*) AS n_events
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-22 00:00:00'
    GROUP BY day
    ORDER BY day
    """,
)
def lr_retention_drop_before(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The age-out idiom — ``dropBeforeByPeriod P10D`` then
    ``loadForever``: every segment whose interval ENDS at or before
    now-P10D drops; everything newer falls through to loadForever and
    stays whole (a boundary-straddling segment survives, unlike
    dropByPeriod's containment test). Anchored at the fixed
    2024-02-01 now: a day-d segment's interval ends within day d, so
    end <= Jan 22 00:00 exactly when d <= Jan 21 — the oracle's
    ts >= 2024-01-22 row cut. Like every retention query, the drop is
    PLANNING-level: aged-out segments never open."""
    rules = [
        {"type": "dropBeforeByPeriod", "period": "P10D"},
        {"type": "loadForever"},
    ]
    df = _retention_scan(spark, sf_dir, rules, LR_NOW_MS)
    return (
        df.groupBy(F.date_format("__time", "yyyy-MM-dd").alias("day"))
        .agg(F.count("*").alias("n_events"))
        .orderBy("day")
    )


@query(
    "lr_retention_load_interval_overlap",
    oracle="""
    SELECT strftime(ts, '%Y-%m-%d') AS day, COUNT(*) AS n_events
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
      AND ts < TIMESTAMP '2024-01-16 00:00:00'
    GROUP BY day
    ORDER BY day
    """,
)
def lr_retention_load_interval_overlap(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """``loadByInterval`` matches on OVERLAP (Druid's IntervalLoadRule
    via Rules.eligibleForLoad), pinned through the driver gate with a
    rule interval whose boundaries cut INTO days 10 and 15
    (06:00/18:00): both straddling day segments still serve WHOLE —
    a containment test (the r7 bug this query regression-pins) would
    silently drop them. The empty default chain drops everything the
    rule doesn't reach, so the oracle is exactly the six whole days
    Jan 10-15."""
    rules = [{
        "type": "loadByInterval",
        "interval": "2024-01-10T06:00:00Z/2024-01-15T18:00:00Z",
    }]
    df = _retention_scan(spark, sf_dir, rules, LR_NOW_MS)
    return (
        df.groupBy(F.date_format("__time", "yyyy-MM-dd").alias("day"))
        .agg(F.count("*").alias("n_events"))
        .orderBy("day")
    )


def _ensure_versioned_segments(spark: SparkSession, sf_dir: str) -> str:
    """A root where the first three January days are PUBLISHED TWICE:
    version b0 with the raw event values, then a correcting re-ingest
    b1 with every value doubled — the layout a streaming replay or an
    interval re-publish leaves behind. Days 4-5 have only b0. Exactly
    Druid's overshadow scenario: both versions sit on disk, one must
    serve."""
    from ...sources import write_segment

    _ensure_registered(spark)
    root = _segment_root(sf_dir, "events_versioned")

    def _build() -> None:
        import pyarrow.compute as pc

        t = pq.read_table(
            os.path.join(sf_dir, "events.parquet"),
            columns=["event_id", "ts", "event_type", "value"],
        )
        t = t.take(pc.sort_indices(t, sort_keys=[("ts", "ascending")]))
        t = pa.table({
            "__time": t.column("ts"),
            "event_id": t.column("event_id"),
            "event_type": t.column("event_type"),
            "value": t.column("value"),
        })
        days = pc.strftime(t.column("__time"), format="%Y%m%d").to_pylist()
        day_ms = {}
        lo = 0
        for i in range(1, t.num_rows + 1):
            if i == t.num_rows or days[i] != days[lo]:
                day_ms[days[lo]] = (lo, i - lo)
                lo = i
        wanted = sorted(day_ms)[:5]
        for rank, d in enumerate(wanted):
            lo, n = day_ms[d]
            sl = t.slice(lo, n)
            bucket = int(
                sl.column("__time")[0].as_py().timestamp() // 86400
            ) * 86_400_000
            write_segment(
                sl, os.path.join(root, f"segment_{bucket}_0000_b0")
            )
            if rank < 3:  # the corrected re-publish: values doubled
                fixed = sl.set_column(
                    sl.schema.get_field_index("value"), "value",
                    pc.multiply(sl.column("value"), 2.0),
                )
                write_segment(
                    fixed,
                    os.path.join(root, f"segment_{bucket}_0000_b1"),
                )

    _cached_build(root, sf_dir, "events", _build)
    return root


@query(
    "s13_version_overshadow_scan",
    oracle="""
    SELECT strftime(ts, '%Y-%m-%d') AS day,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(
               CASE WHEN ts < TIMESTAMP '2024-01-04 00:00:00'
                    THEN value * 2 ELSE value END AS DECIMAL(38,4)))
             AS DOUBLE) AS sum_value
    FROM events
    WHERE ts < TIMESTAMP '2024-01-06 00:00:00'
    GROUP BY day
    ORDER BY day
    """,
)
def s13_version_overshadow_scan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Version overshadowing at scan time (Druid's used-segment
    timeline, sources/datasource.py overshadowed_segments): days 1-3
    exist on disk under TWO versions — b0 raw, b1 a correcting
    re-publish with doubled values — and days 4-5 only under b0. The
    scan must see exactly one version per interval: days 1-3 come back
    doubled and NOT duplicated (a planner without overshadowing
    returns 2x the rows), days 4-5 raw. The oracle states that row-
    for-row from the source events."""
    root = _ensure_versioned_segments(spark, sf_dir)
    from ..exact import exact_sum

    df = spark.read.format("druidsegment").option("path", root).load()
    return (
        df.groupBy(F.date_format("__time", "yyyy-MM-dd").alias("day"))
        .agg(
            F.count("*").alias("n_events"),
            exact_sum("value", "sum_value"),
        )
        .orderBy("day")
    )
