"""Distributed Druid-segment ingestion: DataFrame -> segment directories.

The reference is read-only (no write path anywhere, SURVEY §1.1); this is
the Druid *ingestion* side re-expressed on Spark: partition rows by a
time granularity (Druid's segmentGranularity), then every executor
writes its interval's rows as a real Druid v9 segment directory via
applyInArrow (type-exact — no pandas float64 coercion of nullable
ints) — the driver never sees the data, so ingestion throughput
scales with the cluster, and the output is readable back through the
'druidsegment' data source (and by the reference itself).

Scale notes: one shuffle on the interval bucket (same shape as any
date-partitioned write); skewed intervals are the classic hot-day
problem — pass `max_rows_per_segment` to shard an interval into
multiple segment dirs (Druid's numShards analog).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.druid_sql import segment_bucket
from .segment import TIME_COLUMN

MANIFEST_SCHEMA = (
    "segment_dir string, interval_start_ms long, interval_end_ms long, "
    "num_rows long"
)


def write_druid_segments(
    df: DataFrame,
    path: str,
    granularity: str | None = "P1D",
    dimensions: list[str] | None = None,
    max_rows_per_segment: int = 5_000_000,
    version: str = "",
    sort_by: list[str] | None = None,
) -> DataFrame:
    """Write `df` as a directory of Druid v9 segments, one (or more, for
    hot intervals) per `granularity` bucket of `__time`. `granularity`
    is any spec functions.druid_sql.segment_bucket accepts (a Druid
    name, an ISO period, or None / ``"ALL"`` for one bucket).

    Returns the manifest DataFrame (segment_dir, interval bounds,
    num_rows); collecting it triggers the distributed write.

    ``version`` suffixes every segment directory name (Druid's segment
    version tag, stamped at handoff time): streaming ingestion hands
    off one batch per trigger into the SAME datasource root, so batch
    k's segments must not collide with batch j's for a shared interval.
    Same-name re-writes (a retried batch with the same version) simply
    overwrite — which is what makes the streaming handoff idempotent.
    """
    if TIME_COLUMN not in df.columns:
        raise ValueError(f"write_druid_segments requires a {TIME_COLUMN} column")

    from ..sources.datasource import ship_package

    ship_package(df.sparkSession)
    os.makedirs(path, exist_ok=True)
    data_cols = list(df.columns)

    def write_bucket(key, table):
        # Runs on executors; import from the shipped package zip.
        # applyInArrow (not applyInPandas): a pandas round-trip coerces
        # nullable int64 columns to float64 (nulls -> NaN), which would
        # drift the written column type to DOUBLE for the batch that
        # happens to contain a null — poisoning the datasource root's
        # schema — and silently round int values past 2^53. Arrow
        # preserves every column's type and null mask exactly;
        # write_segment owns the null semantics (numeric null -> 0,
        # Druid v9 legacy).
        import pyarrow as pa
        import pyarrow.compute as pc

        from druid_datafusion_bridge_spark.sources.datasource import (
            drop_spark_zip_finders,
        )
        from druid_datafusion_bridge_spark.sources.segment import write_segment

        try:
            bucket_ms = key[0].cast(pa.timestamp("ms")).cast(pa.int64()).as_py()
            shard = int(key[1].as_py())
            # rows sort by __time then the caller's cluster keys (Druid's
            # CLUSTERED BY: segment-local row order for locality/rollup)
            order = [(TIME_COLUMN, "ascending")] + [
                (c, "ascending") for c in (sort_by or [])
            ]
            table = table.drop_columns(["__bucket", "__shard"]).sort_by(order)
            t_idx = table.column_names.index(TIME_COLUMN)
            table = table.set_column(
                t_idx,
                TIME_COLUMN,
                # safe=False: sub-millisecond input truncates (Druid stores
                # epoch millis — reference src/column/time.rs:10-14)
                table.column(TIME_COLUMN).cast(pa.timestamp("ms"), safe=False),
            )
            name = f"segment_{bucket_ms}_{shard:04d}" + (f"_{version}" if version else "")
            seg_dir = os.path.join(path, name)
            write_segment(table, seg_dir, dimensions=dimensions)

            if table.num_rows:
                mm = pc.min_max(table.column(TIME_COLUMN).cast(pa.int64())).as_py()
                lo, hi = mm["min"], mm["max"]
            else:
                lo = hi = 0
            return pa.table(
                {
                    "segment_dir": pa.array([seg_dir], pa.string()),
                    "interval_start_ms": pa.array([lo], pa.int64()),
                    "interval_end_ms": pa.array([hi + 1], pa.int64()),
                    "num_rows": pa.array([table.num_rows], pa.int64()),
                }
            )
        finally:
            drop_spark_zip_finders()

    bucketed = df.select(
        *data_cols, segment_bucket(TIME_COLUMN, granularity).alias("__bucket")
    )
    # Hot-interval sharding (Druid numShards): count per bucket (cheap
    # partial-agg pass), broadcast the tiny bucket->shard-count table
    # back, and spread rows with a deterministic hash. A single skewed
    # day then becomes ceil(n/max_rows) parallel segment writes instead
    # of one giant task.
    counts = bucketed.groupBy("__bucket").agg(F.count("*").alias("__n"))
    n_shards = F.greatest(
        F.ceil(F.col("__n") / F.lit(max_rows_per_segment)), F.lit(1)
    ).cast("int")
    sharded = bucketed.join(
        F.broadcast(counts.select("__bucket", n_shards.alias("__n_shards"))),
        "__bucket",
    ).withColumn(
        "__shard",
        F.pmod(F.xxhash64(*[F.col(c) for c in data_cols]), F.col("__n_shards")).cast(
            "int"
        ),
    ).drop("__n_shards")
    return sharded.groupBy("__bucket", "__shard").applyInArrow(
        write_bucket, MANIFEST_SCHEMA
    )


def compact_segments(
    spark,
    src_root: str,
    dst_root: str,
    granularity: str | None = "P1D",
    dimensions: list[str] | None = None,
    max_rows_per_segment: int = 5_000_000,
    intervals: list[str] | None = None,
) -> DataFrame:
    """Druid compaction: rewrite a forest of small segments as a fresh,
    coarser-granularity segment set (streaming ingest + late batches
    leave many tiny segments per interval; compaction restores the
    one-segment-per-interval layout queries want). The whole operation
    is the engine's own primitives composed — distributed scan of the
    source segments through the 'druidsegment' DataSource, then the
    distributed segment writer — so nothing flows through the driver
    and the rewrite parallelizes like any other query. Returns the new
    manifest; the source tree is left untouched (Druid's atomic-swap
    model: publish the new set, then drop the old)."""
    from . import register_druid_datasource

    # self-contained: the read half needs the datasource registered, and
    # a standalone call on a fresh session would otherwise fail with
    # "Failed to find data source: druidsegment"
    register_druid_datasource(spark)
    df = spark.read.format("druidsegment").option("path", src_root).load()
    if intervals:
        # interval-scoped compaction (Druid's ioConfig.inputSpec):
        # only source rows inside the intervals are rewritten
        from ..native_query import _interval_pred

        df = df.filter(_interval_pred(TIME_COLUMN, intervals))
    return write_druid_segments(
        df,
        dst_root,
        granularity=granularity,
        dimensions=dimensions,
        max_rows_per_segment=max_rows_per_segment,
    )
