"""Druid batch ingestion specs -> distributed segment writes.

The other half of switching off Druid: users keep not only their
queries (native_query.py) but their INGESTION SPECS — the
``index_parallel`` JSON task body (public Druid docs, ingestion-spec.md)
— and :func:`ingest` executes them on Spark: read the input files,
apply timestampSpec / transformSpec / dimensionsSpec, roll up by
queryGranularity with the metricsSpec aggregators, and hand the result
to the distributed segment writer (sources/ingest.py), producing real
Druid v9 segment directories partitioned by segmentGranularity.

Reuse is deliberate: the transformSpec filter IS the native-query
filter tree (same `_filter_pred`), metricsSpec IS the native
aggregator family (same `_aggregator`), granularity strings are the
same table — one semantics for query time and ingest time, exactly as
in Druid.

Scale: the plan is read -> narrow transforms -> (optional) one rollup
shuffle -> one interval-bucket shuffle for the write; executors write
their intervals' segments directly (the driver sees only the
manifest). Hot intervals shard via tuningConfig
partitionsSpec.maxRowsPerSegment (Druid's dynamic partitioning).

Deliberate subset, loud otherwise:
- inputSource: ``local`` (baseDir + filter glob), ``inline`` (rows
  travel in the spec), ``druid`` (reindex an existing datasource's
  served segments, optionally one interval); inputFormat: json
  (newline-delimited), csv/tsv (header or explicit columns, custom
  delimiter), parquet (local only) — unknown inputFormat FIELDS raise
  too, not just unknown types (a silently-ignored skipHeaderRows
  would ingest header rows as data);
- transform expressions are evaluated as Spark SQL (the Druid SQL
  dialect functions are registered first, so TIME_FLOOR/LOOKUP-style
  calls work); Druid's own expression language overlaps but is not
  identical — the common arithmetic/concat/function-call forms parse
  unchanged, exotic forms raise at parse time rather than silently
  differing;
- unsupported spec pieces raise ValueError naming the field.
"""

from __future__ import annotations

import json
import os
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .functions.druid_sql import (
    granularity_period,
    granularity_spec,
    segment_bucket,
    segment_max_rows,
)
from .native_query import _aggregator, _filter_pred
from .sources.ingest import write_druid_segments
from .sources.segment import TIME_COLUMN

__all__ = ["ingest", "transform_rows"]


# inputFormat fields each type supports; anything else raises (the
# module discipline: a silently-ignored skipHeaderRows would ingest
# header rows as data)
_FORMAT_FIELDS = {
    "json": {"type"},
    "csv": {"type", "delimiter", "findColumnsFromHeader", "columns"},
    "tsv": {"type", "delimiter", "findColumnsFromHeader", "columns"},
    "parquet": {"type"},
}


def _checked_format(fmt: dict) -> str:
    kind = fmt.get("type")
    allowed = _FORMAT_FIELDS.get(kind)
    if allowed is None:
        raise ValueError(f"unsupported inputFormat type {kind!r}")
    extra = sorted(set(fmt) - allowed)
    if extra:
        raise ValueError(
            f"unsupported inputFormat field(s) {extra} for type {kind!r}"
        )
    return kind


def _read_input(
    spark: SparkSession, io_config: dict, deep_storage: str | None = None
) -> DataFrame:
    src = io_config.get("inputSource", {})
    if src.get("type") == "druid":
        # Druid's reindexing inputSource (native-batch docs): read an
        # EXISTING datasource's served segments — optionally one
        # interval — as the ingestion input. This is how granularity/
        # dimension reshaping and datasource-to-datasource reingestion
        # work; rows arrive with their __time column and every stored
        # dim/metric, exactly like real Druid hands them to the
        # reindex task. Served through the druidsegment DataSource,
        # so retention-unused and version-overshadowed segments are
        # never reingested.
        if deep_storage is None:
            raise ValueError(
                "druid inputSource requires deep storage (broker/CLI "
                "ingestion paths pass it; EXTERN does not — query the "
                "table instead)"
            )
        root = os.path.join(deep_storage, src["dataSource"])
        if not os.path.isdir(root):
            raise ValueError(
                f"druid inputSource: unknown dataSource "
                f"{src['dataSource']!r}"
            )
        from .sources import register_druid_datasource

        register_druid_datasource(spark)
        df = spark.read.format("druidsegment").option("path", root).load()
        interval = src.get("interval")
        if interval:
            from .retention import interval_ms

            lo, hi = interval_ms(interval)
            df = df.filter(
                (F.unix_millis(F.col("__time")) >= lo)
                & (F.unix_millis(F.col("__time")) < hi)
            )
        return df
    if src.get("type") == "inline":
        # inline inputSource (native-batch docs; every Druid tutorial
        # spec ships one): the rows travel IN the spec as one string.
        # Parsed through the same inputFormat readers as files, via a
        # single-column DataFrame (no temp files, no driver-side row
        # parsing beyond the split).
        data = src.get("data", "")
        rows = [ln for ln in data.splitlines() if ln.strip()]
        fmt = io_config.get("inputFormat", {})
        kind = _checked_format(fmt)
        if kind == "json":
            raw = spark.createDataFrame(
                [(ln,) for ln in rows], "value string"
            )
            return spark.read.json(raw.rdd.map(lambda r: r.value))
        if kind in ("csv", "tsv"):
            sep = fmt.get("delimiter", "\t" if kind == "tsv" else ",")
            names = None
            if fmt.get("findColumnsFromHeader"):
                if not rows:
                    raise ValueError(
                        "inline inputSource: findColumnsFromHeader "
                        "with no rows"
                    )
                # peel EXACTLY the first physical line driver-side
                # (the data is already in the spec): Spark's
                # header=true over a dataset drops EVERY line that
                # textually equals the header, losing data rows
                import csv as _csv
                import io as _io

                names = next(
                    _csv.reader(_io.StringIO(rows[0]), delimiter=sep)
                )
                rows = rows[1:]
            if names is not None and not rows:
                return spark.createDataFrame(
                    [], ", ".join(f"`{n}` string" for n in names)
                )
            raw = spark.createDataFrame(
                [(ln,) for ln in rows], "value string"
            )
            df = (
                spark.read.option("header", False).option("sep", sep)
                .csv(raw.rdd.map(lambda r: r.value))
            )
            cols = names or fmt.get("columns")
            if cols:
                if len(cols) != len(df.columns):
                    raise ValueError(
                        f"inputFormat.columns lists {len(cols)} names "
                        f"for {len(df.columns)} CSV fields"
                    )
                df = df.toDF(*cols)
            return df
        raise ValueError(
            f"inline inputSource does not support inputFormat {kind!r} "
            "(json, csv, tsv)"
        )
    if src.get("type") != "local":
        raise ValueError(
            f"unsupported inputSource type {src.get('type')!r} "
            "(local, inline, and druid only)"
        )
    path = os.path.join(src["baseDir"], src.get("filter", "*"))
    fmt = io_config.get("inputFormat", {})
    kind = _checked_format(fmt)
    if kind == "json":
        return spark.read.json(path)
    if kind in ("csv", "tsv"):
        sep = fmt.get("delimiter", "\t" if kind == "tsv" else ",")
        header = bool(fmt.get("findColumnsFromHeader", False))
        reader = spark.read.option("header", header).option("sep", sep)
        df = reader.csv(path)
        cols = fmt.get("columns")
        if cols and not header:
            if len(cols) != len(df.columns):
                raise ValueError(
                    f"inputFormat.columns lists {len(cols)} names for "
                    f"{len(df.columns)} CSV fields"
                )
            df = df.toDF(*cols)
        return df
    if kind == "parquet":
        return spark.read.parquet(path)
    raise ValueError(f"unsupported inputFormat type {kind!r}")


def _apply_timestamp(df: DataFrame, ts_spec: dict) -> DataFrame:
    col_name = ts_spec.get("column", "timestamp")
    fmt = ts_spec.get("format", "auto")
    src = F.col(col_name)
    field = dict(zip(df.columns, df.schema.fields)).get(col_name)
    if field is not None and isinstance(
        field.dataType, (T.TimestampType, T.TimestampNTZType, T.DateType)
    ):
        ts = src.cast("timestamp")  # already temporal (e.g. parquet)
    elif fmt == "iso":
        ts = F.to_timestamp(F.replace(src, F.lit("Z"), F.lit("")))
    elif fmt == "millis":
        ts = F.timestamp_millis(src.cast("long"))
    elif fmt in ("posix", "seconds"):
        ts = F.timestamp_seconds(src.cast("long"))
    elif fmt == "auto":
        # Druid's auto: digits -> millis, else ISO
        ts = F.when(
            src.cast("string").rlike("^[0-9]+$"),
            F.timestamp_millis(src.cast("long")),
        ).otherwise(
            F.to_timestamp(F.replace(src.cast("string"), F.lit("Z"), F.lit("")))
        )
    else:  # explicit java DateTimeFormatter pattern
        ts = F.to_timestamp(src, fmt)
    return df.withColumn(TIME_COLUMN, ts)


_DIM_TYPES = {
    "string": "string",
    "long": "long",
    "double": "double",
    "float": "float",
}


def _row_metric(a: dict) -> Column:
    """A metricsSpec aggregator applied to ONE row (the rollup=false
    storage semantics): count stores 1, sum/min/max/first/last store
    the field value in the aggregator's type."""
    kind, name = a["type"], a["name"]
    if kind == "count":
        return F.lit(1).cast("long").alias(name)
    base = (
        kind.replace("long", "").replace("double", "")
        .replace("float", "").replace("string", "")
    )
    if base in ("Sum", "Min", "Max", "First", "Last", "Mean"):
        if kind.startswith("string"):
            return F.col(a["fieldName"]).cast("string").alias(name)
        cast = "long" if kind.startswith("long") else "double"
        return F.col(a["fieldName"]).cast(cast).alias(name)
    raise ValueError(
        f"unsupported metricsSpec aggregator {kind!r} with rollup disabled"
    )


def ingest(
    spark: SparkSession, spec: dict | str, deep_storage: str
) -> DataFrame:
    """Execute a Druid ``index_parallel`` ingestion spec; segments land
    under ``deep_storage/<dataSource>``. Returns the write manifest
    (segment_dir, interval bounds, num_rows) — collecting it runs the
    distributed write (sources/ingest.py contract)."""
    if isinstance(spec, str):
        spec = json.loads(spec)
    if spec.get("type") == "compact":
        return _compact_task(spark, spec, deep_storage)
    if spec.get("type") not in (None, "index", "index_parallel"):
        raise ValueError(f"unsupported task type {spec.get('type')!r}")
    inner = spec.get("spec", spec)
    schema = inner["dataSchema"]
    io_config = inner.get("ioConfig", {})
    # resolved before any input is read or storage touched: a bad
    # segmentGranularity fails the task up front
    period = granularity_period(
        schema.get("granularitySpec", {}).get("segmentGranularity", "day")
    )
    max_rows = segment_max_rows(inner.get("tuningConfig", {}))

    from .functions import register_druid_sql_functions

    register_druid_sql_functions(spark)
    df = _read_input(spark, io_config, deep_storage)
    df = transform_rows(df, schema)
    out_dir = os.path.join(deep_storage, schema["dataSource"])
    return write_druid_segments(
        df, out_dir, granularity=period, max_rows_per_segment=max_rows
    )


def transform_rows(df: DataFrame, schema: dict) -> DataFrame:
    """Apply a ``dataSchema``'s row pipeline to a DataFrame: timestamp
    parsing, transformSpec expressions + filter, granularitySpec
    interval clip, dimension typing, queryGranularity bucketing, and
    rollup (or per-row metric storage). Shared verbatim between batch
    ingestion (:func:`ingest`) and streaming supervisors
    (streaming/supervisor.py), which run it inside ``foreachBatch`` —
    one ingestion semantics for both paths, exactly as Druid specs
    promise."""
    df = _apply_timestamp(df, schema.get("timestampSpec", {}))

    transform = schema.get("transformSpec", {})
    for t in transform.get("transforms", []):
        if t.get("type", "expression") != "expression":
            raise ValueError(f"unsupported transform type {t.get('type')!r}")
        df = df.withColumn(t["name"], F.expr(t["expression"]))
    if transform.get("filter") is not None:
        df = df.filter(_filter_pred(transform["filter"], TIME_COLUMN))

    gran_spec = schema.get("granularitySpec", {})
    from .native_query import _interval_pred, _normalize_intervals

    ivs = _normalize_intervals(gran_spec.get("intervals"))
    if ivs:
        df = df.filter(_interval_pred(TIME_COLUMN, ivs))

    dims_spec = schema.get("dimensionsSpec", {}).get("dimensions", [])
    dims: list[tuple[str, Column]] = []
    for d in dims_spec:
        if isinstance(d, str):
            dims.append((d, F.col(d).cast("string")))
            continue
        dtype = _DIM_TYPES.get(d.get("type", "string"))
        if dtype is None:
            raise ValueError(f"unsupported dimension type {d.get('type')!r}")
        dims.append((d["name"], F.col(d["name"]).cast(dtype)))
    if not dims:
        # schemaless: every other column rides along as-is — except the
        # timestampSpec source column, which became __time (Druid
        # excludes it from discovered dimensions too)
        ts_col = schema.get("timestampSpec", {}).get("column", "timestamp")
        dims = [
            (c, F.col(c)) for c in df.columns if c not in (TIME_COLUMN, ts_col)
        ]

    query_gran: Any = gran_spec.get("queryGranularity", "none")
    rollup = bool(gran_spec.get("rollup", True))
    if granularity_spec(query_gran or "none") is None:
        # Druid's ALL queryGranularity (any spelling) collapses every
        # row of a segment into one time bucket — the segment's own
        # interval start
        query_gran = gran_spec.get("segmentGranularity", "day")
    keys = [
        segment_bucket(TIME_COLUMN, query_gran or "none").alias(TIME_COLUMN),
        *[c.alias(n) for n, c in dims],
    ]
    metrics = schema.get("metricsSpec") or []
    if rollup:
        # rollup means GROUP duplicate (time, dims) rows — with no
        # metrics that is still a distinct, not a pass-through
        if metrics:
            aggs = [_aggregator(a, TIME_COLUMN) for a in metrics]
            df = df.groupBy(*keys).agg(*aggs)
        else:
            df = df.select(*keys).distinct()
    else:
        # rollup disabled: every row stores as-is; metric columns hold
        # the aggregator applied to that single row (count -> 1,
        # sum/min/max/first/last -> the field value)
        df = df.select(*keys, *[_row_metric(a) for a in metrics])
    return df


def _compact_task(
    spark: SparkSession, spec: dict, deep_storage: str
) -> DataFrame:
    """Druid ``compact`` task JSON (public Druid compaction.md): rewrite
    the dataSource's segment forest at a (usually coarser)
    segmentGranularity. Follows Druid's atomic-swap model — the new set
    publishes beside the old under ``<dataSource>_compacted`` (or
    ``dstDataSource``); sources are never touched. An
    ``ioConfig.inputSpec`` of type ``interval`` scopes the rewrite to
    that interval (rows outside it are NOT carried over — publish the
    result beside the untouched out-of-interval source segments, as
    Druid's coordinator does). Re-typing fields (``dimensionsSpec`` /
    ``metricsSpec`` on a compact task) are unsupported and loud."""
    for unsupported in ("dimensionsSpec", "metricsSpec"):
        if spec.get(unsupported):
            raise ValueError(
                f"compact task {unsupported} is unsupported (segments "
                "are rewritten with their stored schema)"
            )
    ds = spec["dataSource"]
    period = granularity_period(
        spec.get("granularitySpec", {}).get("segmentGranularity", "day")
    )
    max_rows = segment_max_rows(spec.get("tuningConfig", {}))
    input_spec = spec.get("ioConfig", {}).get("inputSpec", {})
    intervals = None
    if input_spec:
        if input_spec.get("type") != "interval":
            raise ValueError(
                f"unsupported compact inputSpec type "
                f"{input_spec.get('type')!r}"
            )
        iv = input_spec.get("interval") or input_spec.get("intervals")
        intervals = [iv] if isinstance(iv, str) else list(iv or [])
    from .sources.ingest import compact_segments

    dst = spec.get("dstDataSource", f"{ds}_compacted")
    return compact_segments(
        spark,
        os.path.join(deep_storage, ds),
        os.path.join(deep_storage, dst),
        granularity=period,
        max_rows_per_segment=max_rows,
        intervals=intervals,
    )
