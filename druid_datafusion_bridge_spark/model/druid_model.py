"""Druid segment data model over Spark DataFrames (SURVEY.md §7 Phase C).

Reference semantics being re-expressed:
- a segment is an immutable, time-indexed columnar table with a mandatory
  `__time` column (reference src/segment/mod.rs:19-24,103-109);
- columns split into string *dimensions* and numeric *metrics*
  (index.drd lists, src/segment/metadata.rs:19-24);
- a segment carries a time interval [start, end) (metadata.rs:22-23,59-67);
- ingestion may *roll up* raw rows to a queryGranularity time bucket with
  per-metric aggregators (metadata.drd, tests/wikipedia_segment_test.rs:99-110).

Spark mapping: `__time` => TimestampType column; dimension/metric split =>
StructField metadata {"druid.role": ...}; interval => min/max stats;
rollup => groupBy(granularity bucket + dims).agg(metric aggs), the
bucket being functions.druid_sql.segment_bucket — the one
granularity rule segment writes, ingestion specs and native queries
share. Segments are written by sources.ingest (write_druid_segments).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.druid_sql import segment_bucket

TIME_COLUMN = "__time"


@dataclass(frozen=True)
class SegmentInfo:
    """`druid-segment info` analog (reference src/main.rs:97-126)."""

    num_rows: int
    columns: list[tuple[str, str]]  # (name, spark type simpleString)
    dimensions: list[str]
    metrics: list[str]
    # Druid timeBoundary semantics: INCLUSIVE min/max row timestamps.
    # (A segment INTERVAL's exclusive end is max_time + 1 ms — that
    # convention lives in the segment writer/reader, sources/segment.py;
    # naming these min/max keeps the two from being conflated.)
    min_time: object
    max_time: object


class DruidTable:
    """A Druid-modeled table: enforced `__time`, dimension/metric roles,
    interval metadata, rollup writer."""

    def __init__(self, df: DataFrame, time_col: str = TIME_COLUMN):
        if time_col not in df.columns:
            raise ValueError(f"missing mandatory time column {time_col!r}")
        if time_col != TIME_COLUMN:
            df = df.withColumnRenamed(time_col, TIME_COLUMN)
        tf = next(f for f in df.schema.fields if f.name == TIME_COLUMN)
        if not isinstance(tf.dataType, (T.TimestampType, T.TimestampNTZType)):
            raise TypeError(f"{TIME_COLUMN} must be timestamp, got {tf.dataType}")
        self.df = df

    @property
    def dimensions(self) -> list[str]:
        """String columns are dimensions (reference index.drd dimension
        list holds the string columns; fixtures/README.md:10-34)."""
        return [
            f.name
            for f in self.df.schema.fields
            if isinstance(f.dataType, T.StringType) and f.name != TIME_COLUMN
        ]

    @property
    def metrics(self) -> list[str]:
        return [
            f.name
            for f in self.df.schema.fields
            if isinstance(f.dataType, (T.LongType, T.IntegerType, T.FloatType, T.DoubleType))
            and f.name != TIME_COLUMN
        ]

    def info(self) -> SegmentInfo:
        """Schema + interval + row count in one distributed pass
        (reference computes num_rows by decoding __time, mod.rs:103-109;
        we aggregate instead of materializing)."""
        row = self.df.agg(
            F.count("*").alias("n"),
            F.min(TIME_COLUMN).alias("t0"),
            F.max(TIME_COLUMN).alias("t1"),
        ).collect()[0]
        return SegmentInfo(
            num_rows=row["n"],
            columns=[(f.name, f.dataType.simpleString()) for f in self.df.schema.fields],
            dimensions=self.dimensions,
            metrics=self.metrics,
            min_time=row["t0"],
            max_time=row["t1"],
        )

    def rollup(
        self,
        granularity: str,
        dims: list[str] | None = None,
        aggs: dict[str, str] | None = None,
    ) -> DataFrame:
        """Ingestion-time rollup (metadata.drd aggregators +
        queryGranularity semantics): bucket __time, group by dims,
        aggregate metrics. aggs maps metric -> one of sum|min|max|count.
        Decimal-exact sums for float metrics (oracle-comparable)."""
        dims = self.dimensions if dims is None else dims
        if aggs is None:
            aggs = {m: "sum" for m in self.metrics}
        agg_cols = [F.count("*").alias("rollup_count")]
        for metric, how in aggs.items():
            typ = dict(self.df.dtypes)[metric]
            if how == "sum" and typ in ("double", "float"):
                agg_cols.append(
                    F.sum(F.col(metric).cast("decimal(38,4)"))
                    .cast("double")
                    .alias(f"sum_{metric}")
                )
            elif how == "sum":
                agg_cols.append(F.sum(metric).alias(f"sum_{metric}"))
            elif how == "min":
                agg_cols.append(F.min(metric).alias(f"min_{metric}"))
            elif how == "max":
                agg_cols.append(F.max(metric).alias(f"max_{metric}"))
            elif how == "count":
                agg_cols.append(F.count(metric).alias(f"count_{metric}"))
            else:
                raise ValueError(f"unsupported aggregator {how!r}")
        bucket = segment_bucket(TIME_COLUMN, granularity).alias(TIME_COLUMN)
        return self.df.groupBy(bucket, *[F.col(d) for d in dims]).agg(*agg_cols)


def search_dimension(
    spark, root: str, column: str, kind: str, arg: str
) -> DataFrame:
    """Druid Search query over real segment directories: matching
    dimension VALUES with their row counts — the query type that never
    touches a value chunk. Topology mirrors Druid's
    historical-fanout + broker-merge: the root's served segments are
    LPT-packed by rows into at most one task per usable core (the scan
    planner's pack_units — each Python task pays a fixed start-up, kept
    small by ending each task with drop_spark_zip_finders), and each
    task evaluates the spec per segment against the sorted
    dictionary and sums bitmap CARDINALITIES (search_value_counts —
    O(dictionary + matching bitmaps) per segment, independent of row
    count). The only exchange is the final groupBy over (value, n)
    pairs, bounded by matching-cardinality × segments, not rows.
    ``kind``/``arg`` name a dictionary-predicate spec
    (regex/contains/icontains/endswith/like), evaluated by the Arrow
    kernels of DruidSegment's dictionary-id step (the one
    bitmap_rows_for_filter uses).

    Requires an indexed string dimension (every Druid dimension has
    one); a segment without the index raises rather than silently
    scanning — search is defined as an index-plane query."""
    from ..sources.datasource import (
        SERVED,
        pack_units,
        segment_timeline,
        usable_cores,
    )

    # served segments only (overshadow-aware): a search is a query, so
    # only one version of each interval may count values
    served = [s for s in segment_timeline(root) if s.state == SERVED]
    groups = [
        [served[i].dir for i in group]
        for group in pack_units(
            [s.meta["rows"] for s in served], usable_cores()
        )
    ]

    def scan(batches):
        import pyarrow as pa

        from ..sources.datasource import drop_spark_zip_finders
        from ..sources.segment import DruidSegment

        try:
            for b in batches:
                vals: list = []
                counts: list = []
                for gid in b.column(0).to_pylist():
                    for seg_dir in groups[gid]:
                        seg = DruidSegment(seg_dir)
                        try:
                            pairs = seg.search_value_counts(column, (kind, arg))
                        finally:
                            seg.close()
                        if pairs is None:
                            raise ValueError(
                                f"search_dimension: {column!r} has no inverted "
                                f"index in {seg_dir!r}"
                            )
                        for v, c in pairs:
                            vals.append(v)
                            counts.append(c)
                yield pa.RecordBatch.from_arrays(
                    [pa.array(vals, pa.string()), pa.array(counts, pa.int64())],
                    names=["value", "n"],
                )
        finally:
            drop_spark_zip_finders()

    per_group = spark.range(
        len(groups), numPartitions=len(groups)
    ).mapInArrow(scan, "value string, n bigint")
    return per_group.groupBy("value").agg(F.sum("n").alias("n"))
