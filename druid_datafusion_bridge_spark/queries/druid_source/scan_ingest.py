"""Segment scan, compaction, schema evolution, and sink round-trips (S1-S2, S5, S9-S12).

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
    BASE_MS,
    _cached_build,
    _ensure_hll_segments,
    _ensure_mvd_segments,
    _ensure_registered,
    _ensure_segments,
    _segment_root,
    _segments_df,
)


@query(
    "s1b_druid_segment_scan",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey
    FROM nation
    ORDER BY n_nationkey
    """,
)
def s1b_druid_segment_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full scan of real Druid v9 segments (2 segments => 2 partitions),
    dictionary strings + compressed longs decoded executor-side."""
    return (
        _segments_df(spark, sf_dir)
        .select("n_nationkey", "n_name", "n_regionkey")
        .orderBy("n_nationkey")
    )


@query(
    "mv_tag_counts",
    oracle="""
    SELECT tag, COUNT(*) AS n, COUNT(DISTINCT doc_id) AS n_docs
    FROM (SELECT doc_id, unnest(string_split(text, ' ')[1:3]) AS tag
          FROM documents)
    GROUP BY tag
    ORDER BY n DESC, tag
    """,
)
def mv_tag_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-value dimension explode-on-group (Druid's documented MVD
    grouping behavior, SURVEY §1.3): segments store tags as a real
    multi-value string column (hasMultipleValues honored — the reference
    parses the flag but never honors it, string.rs:27-44)."""
    root = _ensure_mvd_segments(spark, sf_dir)
    df = spark.read.format("druidsegment").option("path", root).load()
    return (
        df.select("doc_id", F.explode("tags").alias("tag"))
        .groupBy("tag")
        .agg(F.count("*").alias("n"), F.countDistinct("doc_id").alias("n_docs"))
        .orderBy(F.col("n").desc(), "tag")
    )


@query(
    "s1c_druid_segment_time_prune",
    oracle=f"""
    SELECT n_regionkey, COUNT(*) AS n, CAST(SUM(n_nationkey) AS BIGINT) AS sum_key
    FROM nation
    WHERE ({BASE_MS} + 60000 * n_nationkey) >= {BASE_MS + 60_000 * 12}
    GROUP BY n_regionkey
    ORDER BY n_regionkey
    """,
)
def s1c_druid_segment_time_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """__time-filtered rollup over segments; the time_lower_ms scan
    option prunes segment 0 at planning time via its index.drd interval
    (the pruning the reference never implemented — SURVEY §4.1).
    Options are part of the relation identity, so Spark's scan caching
    stays correct (see register_druid_datasource); the df.filter below
    is still applied by Spark — the option only skips IO."""
    root = _ensure_segments(spark, sf_dir)
    cutoff_ms = BASE_MS + 60_000 * 12
    df = (
        spark.read.format("druidsegment")
        .option("path", root)
        .option("time_lower_ms", str(cutoff_ms))
        .load()
    )
    cutoff = F.timestamp_millis(F.lit(cutoff_ms))
    return (
        df.filter(F.col("__time") >= cutoff)
        .groupBy("n_regionkey")
        .agg(F.count("*").alias("n"), F.sum("n_nationkey").alias("sum_key"))
        .orderBy("n_regionkey")
    )


@query(
    "s1d_druid_segment_dim_filter",
    oracle="""
    WITH r AS (
      SELECT date_trunc('hour', ts) AS h, COUNT(*) AS c
      FROM events WHERE event_type = 'click' GROUP BY h)
    SELECT COUNT(*) AS n_buckets, CAST(SUM(c) AS BIGINT) AS n_events
    FROM r
    """,
)
def s1d_druid_segment_dim_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension-equality scan over real segments: the dim_eq
    event_type = 'click' predicate is answered by the roaring inverted
    index (dictionary lookup + bitmap row selection before any value
    column decodes) — the index path the reference parses but never
    applies (bitmap.rs:16-40). The oracle recomputes the hourly rollup
    from the raw events table."""
    root = _ensure_hll_segments(spark, sf_dir)
    df = (
        spark.read.format("druidsegment")
        .option("path", root)
        .option("dim_eq", '{"event_type": "click"}')
        .load()
    )
    return df.filter(F.col("event_type") == "click").agg(
        F.count("*").alias("n_buckets"),
        F.sum("n_events").alias("n_events"),
    )


@query(
    "s1e_druid_segment_zstd_scan",
    oracle="""
    SELECT s_nationkey, COUNT(*) AS n,
           CAST(SUM(CAST(s_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS bal
    FROM supplier
    GROUP BY s_nationkey
    ORDER BY s_nationkey
    """,
)
def s1e_druid_segment_zstd_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan of a ZSTD-compressed Druid segment end-to-end: supplier is
    written with compression strategy 0x02 (standard zstd frames per
    block, as zstd-jni emits) and decoded back through the DataSource.
    The reference ERRORS on ZSTD blocks (src/compression/mod.rs:43-44)
    even though modern Druid deployments default to it — beyond-parity
    surface, exercised here through the full scan path rather than only
    codec unit tests. The balance sum goes through exact decimal on
    both engines (float summation is order-dependent; exact.py
    pattern)."""
    from ...sources import write_segment
    from ...sources.druid_format import ZSTD

    _ensure_registered(spark)
    root = _segment_root(sf_dir, "supplier_zstd")
    def _build() -> None:
        t = pq.read_table(
            os.path.join(sf_dir, "supplier.parquet"),
            columns=["s_suppkey", "s_name", "s_nationkey", "s_acctbal"],
        )
        ms = pa.array(
            [BASE_MS + 1000 * int(k) for k in t.column("s_suppkey").to_pylist()],
            pa.timestamp("ms"),
        )
        t = t.append_column("__time", ms)
        write_segment(t, os.path.join(root, "seg_000"), strategy=ZSTD)

    _cached_build(root, sf_dir, "supplier", _build)
    df = spark.read.format("druidsegment").option("path", root).load()
    return (
        df.groupBy("s_nationkey")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("s_acctbal").cast("decimal(18,4)"))
            .cast("double")
            .alias("bal"),
        )
        .orderBy("s_nationkey")
    )


@query(
    "s5b_smoosh_multichunk_scan",
    oracle="""
    SELECT c_nationkey, COUNT(*) AS n,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS bal
    FROM customer
    GROUP BY c_nationkey
    ORDER BY c_nationkey
    """,
)
def s5b_smoosh_multichunk_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full scan of a MULTI-CHUNK smoosh segment: customer is written
    with max_chunk_size = the largest logical file, so the column files
    span several NNNNN.smoosh chunks (Druid's >2 GB rollover layout,
    reference src/segment/smoosh.rs:27-131 — its reader handles the
    chunk table but the repo's writer previously only ever emitted one
    chunk, leaving the multi-chunk read path untested end-to-end). The
    build REFUSES a single-chunk layout, so a green correctness row
    proves the chunk-boundary table was actually decoded through the
    DataSource. Balance sums go through exact decimal on both engines."""
    from ...sources import write_segment
    from ...sources.druid_format import DruidFormatError, SmooshReader

    _ensure_registered(spark)
    root = _segment_root(sf_dir, "customer_mchunk")

    def _build() -> None:
        t = pq.read_table(
            os.path.join(sf_dir, "customer.parquet"),
            columns=["c_custkey", "c_name", "c_nationkey", "c_acctbal"],
        )
        ms = pa.array(
            [BASE_MS + 1000 * int(k) for k in t.column("c_custkey").to_pylist()],
            pa.timestamp("ms"),
        )
        t = t.append_column("__time", ms)
        seg = os.path.join(root, "seg_000")
        write_segment(t, seg, max_chunk_size="min")
        rd = SmooshReader(seg)
        try:
            if rd.num_chunks < 2:
                raise DruidFormatError(
                    "multichunk build produced a single chunk"
                )
        finally:
            rd.close()

    _cached_build(root, sf_dir, "customer", _build)
    df = spark.read.format("druidsegment").option("path", root).load()
    return (
        df.groupBy("c_nationkey")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("c_acctbal").cast("decimal(18,4)"))
            .cast("double")
            .alias("bal"),
        )
        .orderBy("c_nationkey")
    )


@query(
    "s2b_segment_compaction",
    oracle="""
    SELECT CAST(COUNT(DISTINCT date_trunc('day', ts)) AS BIGINT) AS n_days,
           COUNT(*) AS n_rows,
           CAST(COUNT(DISTINCT (date_trunc('hour', ts), event_type)) AS BIGINT)
             AS n_rollup_rows
    FROM events
    """,
)
def s2b_segment_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Druid compaction (a lifecycle operation the reference has no
    write path for at all): the hourly-rollup segment forest is
    rewritten at P1D granularity through compact_segments — a
    distributed scan + distributed re-write, nothing through the
    driver — and the compacted set must preserve every rollup row. The
    oracle derives day count / rollup-row count from raw events."""
    root = _ensure_hll_segments(spark, sf_dir)
    dst = _segment_root(sf_dir, "events_hll_compacted")
    from ...sources import compact_segments

    def _build() -> None:
        compact_segments(spark, root, dst, granularity="P1D").collect()

    _cached_build(dst, sf_dir, "events", _build)
    back = spark.read.format("druidsegment").option("path", dst).load()
    return back.agg(
        F.countDistinct(F.date_trunc("day", "__time")).alias("n_days"),
        F.sum("n_events").alias("n_rows"),
        F.count("*").alias("n_rollup_rows"),
    )


def _ensure_evolved_segments(spark: SparkSession, sf_dir: str) -> str:
    """Two nation segments written at different 'schema generations':
    the older half lacks the n_name_len column the newer half has —
    the accreting-datasource layout a long-lived Druid table ends up
    with."""
    from ...sources import write_segment

    _ensure_registered(spark)

    root = _segment_root(sf_dir, "nation_evolved")
    def _build() -> None:
        t = pq.read_table(os.path.join(sf_dir, "nation.parquet"))
        ms = pa.array(
            [BASE_MS + 60_000 * int(k) for k in t.column("n_nationkey").to_pylist()],
            pa.timestamp("ms"),
        )
        t = t.append_column("__time", ms)
        half = t.num_rows // 2
        old = t.slice(0, half)
        new = t.slice(half)
        new = new.append_column(
            "n_name_len",
            pa.array([len(s) for s in new.column("n_name").to_pylist()], pa.int64()),
        )
        write_segment(old, os.path.join(root, "seg_000"))
        write_segment(new, os.path.join(root, "seg_001"))

    _cached_build(root, sf_dir, "nation", _build)
    return root


@query(
    "s2c_schema_evolution_scan",
    oracle="""
    SELECT n_regionkey,
           COUNT(*) AS n,
           COUNT(CASE WHEN n_nationkey >= 12 THEN 1 END) AS n_with_len,
           CAST(SUM(CASE WHEN n_nationkey >= 12 THEN length(n_name) END)
                AS BIGINT) AS sum_len
    FROM nation GROUP BY n_regionkey ORDER BY n_regionkey
    """,
)
def s2c_schema_evolution_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union-schema scan across segments from different schema
    generations: the older segment predates the n_name_len column, so
    its rows surface NULL there (exactly Druid's broker-merge
    semantics); counts and sums must therefore split along the
    generation boundary (n_nationkey >= 12 = the newer segment). The
    oracle recomputes the late-added column from the raw table."""
    root = _ensure_evolved_segments(spark, sf_dir)
    df = spark.read.format("druidsegment").option("path", root).load()
    return (
        df.groupBy("n_regionkey")
        .agg(
            F.count("*").alias("n"),
            F.count("n_name_len").alias("n_with_len"),
            F.sum("n_name_len").alias("sum_len"),
        )
        .orderBy("n_regionkey")
    )


@query(
    "cx_hll_rollup_merge",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           TRUE AS users_within_5pct
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def cx_hll_rollup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-time merge of persisted HLL sketch columns: re-aggregate
    the hourly rollup segments to per-event-type approx distinct users
    WITHOUT the raw data (reference README.md:16 claims this surface;
    its COMPLEX read path errors — src/column/mod.rs:59-61).

    Oracle-exact columns: n_events (row counts are exact through the
    rollup — the segments must reproduce the raw table's counts) and
    the sketch error CONTRACT as a flag — the merged-HLL estimate must
    land within 5% of the exact distinct count computed from the raw
    events table (lgK=12 => rsd ~1.6%, 3 sigma ~5%)."""
    root = _ensure_hll_segments(spark, sf_dir)
    from ...catalog import table as _table

    back = spark.read.format("druidsegment").option("path", root).load()
    merged = back.groupBy("event_type").agg(
        F.sum("n_events").alias("n_events"),
        F.hll_sketch_estimate(F.hll_union_agg("user_sketch")).alias(
            "approx_users"
        ),
    )
    exact = (
        _table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("exact_users"))
    )
    err = F.abs(F.col("approx_users") - F.col("exact_users")) / F.col("exact_users")
    return (
        merged.join(exact, "event_type")
        .select("event_type", "n_events", (err <= 0.05).alias("users_within_5pct"))
        .orderBy("event_type")
    )


@query(
    "s9_json_sink_roundtrip",
    oracle="""
    SELECT o_orderstatus, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def s9_json_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines sink round-trip (S9, reference src/main.rs:170-174):
    write a projection of orders as JSON, read it back, aggregate, and
    the oracle checks against the source table — proving the sink loses
    nothing. Money goes through the decimal pattern: a double written
    as JSON text and re-read can drop ULPs, a decimal(12,2) string
    cannot."""
    from ...catalog import table as _table

    tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    out = os.path.join("/tmp", "ddbs_sinks", tag, "orders_json")
    (
        _table(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            "o_orderstatus",
            F.col("o_totalprice").cast("decimal(12,2)").alias("o_totalprice"),
        )
        .write.mode("overwrite")
        .json(out)
    )
    back = spark.read.schema(
        "o_orderkey long, o_orderstatus string, o_totalprice decimal(12,2)"
    ).json(out)
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
            .cast("double")
            .alias("total"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "s10_csv_sink_roundtrip",
    oracle="""
    SELECT o_orderstatus, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def s10_csv_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV-with-header sink round-trip (S10, reference
    src/main.rs:175-180), same decimal-exactness discipline as the JSON
    sink."""
    from ...catalog import table as _table

    tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    out = os.path.join("/tmp", "ddbs_sinks", tag, "orders_csv")
    (
        _table(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            "o_orderstatus",
            F.col("o_totalprice").cast("decimal(12,2)").alias("o_totalprice"),
        )
        .write.mode("overwrite")
        .option("header", True)
        .csv(out)
    )
    back = (
        spark.read.option("header", True)
        .schema("o_orderkey long, o_orderstatus string, o_totalprice decimal(12,2)")
        .csv(out)
    )
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
            .cast("double")
            .alias("total"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "s12_orc_sink_roundtrip",
    oracle="""
    SELECT l_returnflag, COUNT(*) AS n,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,4))) AS DOUBLE)
             AS revenue
    FROM lineitem
    WHERE l_quantity >= 25
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def s12_orc_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink/source round-trip (S11-family file formats): write a
    lineitem projection as ORC, read it back with a pushdown-eligible
    predicate, aggregate, and check against the source table. ORC is a
    binary columnar format — doubles round-trip bit-exactly (unlike the
    text sinks, which go through the decimal pattern for money), and
    the quantity predicate reaches the ORC reader as a PushedFilter the
    same way parquet predicates do."""
    from ...catalog import table as _table

    tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    out = os.path.join("/tmp", "ddbs_sinks", tag, "lineitem_orc")
    (
        _table(spark, sf_dir, "lineitem")
        .select("l_returnflag", "l_quantity", "l_extendedprice")
        .write.mode("overwrite")
        .orc(out)
    )
    back = spark.read.orc(out).filter(F.col("l_quantity") >= 25)
    return (
        back.groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("l_extendedprice").cast("decimal(38,4)"))
            .cast("double")
            .alias("revenue"),
        )
        .orderBy("l_returnflag")
    )
