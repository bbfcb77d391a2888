"""Streaming operators over the events table.

Each operator takes a *streaming* DataFrame (readStream) and returns the
transformed streaming DataFrame; `stream_events` builds the source from
the driver's parquet testdata (file source — swap for kafka in
production; the transformations are source-agnostic).

Semantics mirror the batch rollup queries (queries/druid_model.py), so
tests can run a stream to completion and diff it against the batch
answer on the same files.

Scale notes: watermark + windowed aggregation keeps state bounded (late
rows beyond the watermark are dropped); state lives in the state store
partitioned by group key, so throughput scales with executors;
dropDuplicatesWithinWatermark bounds dedup state the same way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream of the events table.

    The file source needs an explicit schema; probe it from the parquet
    footer with a batch read (one tiny driver-side metadata fetch), then
    normalize ts exactly like the batch catalog so streaming and batch
    queries see identical types regardless of testdata generation
    (TIMESTAMP(NANOS)-as-long vs TIMESTAMP_NTZ micros). If the file
    does not exist yet (a directory that fills over time — the normal
    streaming deployment), fall back to the canonical events schema so
    the stream can be defined before the first file lands.
    """
    from ..catalog import normalize_timestamps

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # per-read for driver-supplied sessions, same as catalog.table()
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    try:
        file_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    except Exception:
        # Canonical events schema (TESTDATA.md). Known limit: a legacy
        # TIMESTAMP(NANOS) generation surfaces ts as INT64 under
        # nanosAsLong, which this fallback cannot anticipate without the
        # file — a stream defined before such a file lands would fail
        # its first batch with a parquet type mismatch. Current
        # generations store micros (matching this schema), and every
        # registry/streaming entry point probes the existing file first,
        # so the fallback only covers the fill-over-time deployment.
        file_schema = (
            "event_id long, ts timestamp, user_id long, "
            "event_type string, value double, props string"
        )
    raw = (
        spark.readStream.schema(file_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return normalize_timestamps(raw, "events")


def tumbling_rollup(events: DataFrame, width: str = "15 minutes") -> DataFrame:
    """Druid granularity rollup as a tumbling-window streaming aggregate
    (the streaming twin of dm_rollup_pt15m)."""
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(38,4)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("bucket_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_rollup(
    events: DataFrame, width: str = "30 minutes", slide: str = "10 minutes"
) -> DataFrame:
    """Sliding-window aggregate (overlapping buckets)."""
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", width, slide).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("bucket_start"), "event_type", "n_events")
    )


def session_rollup(events: DataFrame, gap: str = "5 minutes") -> DataFrame:
    """Per-user sessionization via session_window (dynamic-gap windows —
    state closes once the watermark passes the gap)."""
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(38,4)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
            "sum_value",
        )
    )


def dedup_within_watermark(events: DataFrame, delay: str = "30 minutes") -> DataFrame:
    """Stateful stream dedup on event_id with bounded state
    (dropDuplicatesWithinWatermark)."""
    return events.withWatermark("ts", delay).dropDuplicatesWithinWatermark(["event_id"])


def stateful_running_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): per-user
    running event count and value total, re-emitted on every update.

    This is the §2.10 "custom stateful operator" escape hatch for
    semantics windowed aggregation can't express (here: unbounded
    running totals with the full state machine exposed). State is one
    (count, cents) pair per user — value accumulates in integer cents,
    so totals are exact regardless of batch boundaries and arrival
    order. State store partitions by user_id, so state scales out with
    executors like every other stateful operator.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdfs, state):
        # Self-contained: no module-level references (unpickled on
        # workers possibly without this repo on sys.path).
        import pandas as pd

        n, cents = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)  # COUNT(*) semantics: null values still count
            # SUM semantics: nulls contribute nothing — dropping them
            # BEFORE the cents cast also keeps astype('int64') from
            # raising on NaN and killing the whole streaming query
            vals = pdf["value"].dropna().to_numpy()
            # half-AWAY-FROM-ZERO, matching SQL round() (DuckDB oracle,
            # Spark round): numpy/pandas .round() is banker's half-even,
            # which differs on exact half-cents (122.5 -> 122 vs 123)
            import numpy as np

            cents += int(
                (np.sign(vals) * np.floor(np.abs(vals) * 100 + 0.5))
                .astype("int64")
                .sum()
            )
        state.update((n, cents))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value": [cents / 100.0],
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        "user_id long, n_events long, total_value double",
        "n long, cents long",
        "update",
        GroupStateTimeout.NoTimeout,
    )


def stream_stream_click_purchase(events: DataFrame) -> DataFrame:
    """Stream-stream interval join: each purchase matched to the same
    user's clicks in the preceding 10 minutes. Both sides carry
    watermarks, and the join condition bounds event-time distance, so
    the join state is bounded (clicks expire once the purchase-side
    watermark passes click_ts + 10 min)."""
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "30 minutes")
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "30 minutes")
    )
    return purchases.join(
        clicks,
        F.expr(
            """
            p_user = c_user AND
            click_ts <= purchase_ts AND
            click_ts > purchase_ts - INTERVAL 10 MINUTES
            """
        ),
    ).select("purchase_id", "click_id", "p_user", "purchase_ts", "click_ts")


def run_to_memory(stream_df: DataFrame, name: str, output_mode: str = "complete"):
    """Drive a streaming query over the (finite) file source to
    completion into an in-memory table; returns the StreamingQuery.
    Test/demo helper — production sinks are kafka/parquet/foreachBatch."""
    q = (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    return q
