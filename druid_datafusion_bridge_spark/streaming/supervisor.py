"""Streaming ingestion supervisors — Druid's supervisor API on Spark.

Druid's streaming ingestion is driven by a SUPERVISOR (public Druid
docs, supervisor-api.md / kafka-ingestion.md): a long-running
controller submitted as JSON to ``POST /druid/indexer/v1/supervisor``
that keeps reading from a stream, periodically handing segments off to
deep storage, until suspended or terminated. This module is that
controller on Structured Streaming:

- the spec's ``dataSchema`` is the SAME object batch ingestion takes —
  and it runs through the same code (``ingestion_spec.transform_rows``)
  inside ``foreachBatch``, so a user's rollup/transform/timestamp
  semantics are identical across their batch and streaming specs,
  exactly as in Druid;
- handoff is ``streaming/ingest.py``'s model: each micro-batch writes
  real v9 segments with the batch id as the segment version
  (idempotent on retry — exactly-once on top of the checkpointed
  source); the checkpoint lives under
  ``<deep_storage>/_supervisor/<id>/checkpoint`` so suspend/resume
  continues from the committed offset;
- supported ``ioConfig`` sources: ``inputSource.type == "local"``
  (Spark's file stream source — the sandbox stand-in for a topic: drop
  files into the directory and they ingest on the next trigger; schema
  inferred from files present at submit time, or built from the
  dataSchema when the directory is still empty), ``"rate"`` (Spark's
  rate source, for demos/smoke), and a Kafka ``topic`` +
  ``consumerProperties`` form that compiles onto Spark's Kafka source
  when the spark-sql-kafka package is on the classpath (loud
  ValueError here, where it isn't).

States follow Druid's supervisor lifecycle subset this controller has
truthful values for: PENDING -> RUNNING -> SUSPENDED (suspend/resume)
-> TERMINATED (stopped for good; checkpoint retained).
"""

from __future__ import annotations

import os
import threading
from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.druid_sql import granularity_period, segment_max_rows

__all__ = ["StreamingSupervisor"]


def _schema_from_dataschema(schema: dict) -> T.StructType:
    """Build an input schema from the dataSchema alone (timestamp
    column as string, typed dimensions, double metric fields) — what a
    Kafka topic or an empty drop directory can't tell us."""
    ts_col = schema.get("timestampSpec", {}).get("column", "timestamp")
    fields = [T.StructField(ts_col, T.StringType())]
    for d in schema.get("dimensionsSpec", {}).get("dimensions", []):
        if isinstance(d, str):
            name, typ = d, T.StringType()
        else:
            name = d["name"]
            typ = {
                "string": T.StringType(), "long": T.LongType(),
                "double": T.DoubleType(), "float": T.FloatType(),
            }.get(d.get("type", "string"), T.StringType())
        fields.append(T.StructField(name, typ))
    for m in schema.get("metricsSpec") or []:
        fn = m.get("fieldName")
        if fn and fn not in {f.name for f in fields}:
            fields.append(T.StructField(fn, T.DoubleType()))
    return T.StructType(fields)


def _read_stream_input(
    spark: SparkSession, io_config: dict, schema: dict
) -> DataFrame:
    """Build the streaming source DataFrame for a supervisor ioConfig."""
    src = io_config.get("inputSource") or {}
    styp = src.get("type")
    if styp == "local":
        base = src["baseDir"]
        fmt = io_config.get("inputFormat", {})
        kind = fmt.get("type", "json")
        if kind not in ("json", "csv", "tsv", "parquet"):
            raise ValueError(f"unsupported inputFormat type {kind!r}")
        glob = src.get("filter")
        path = os.path.join(base, glob) if glob else base
        # file stream sources need a fixed schema up front: infer from
        # whatever is already in the directory, else derive from the
        # dataSchema (so a supervisor can start BEFORE data arrives, or
        # against a directory holding only schemaless marker files)
        inferred = None
        try:
            if kind == "json":
                inferred = spark.read.json(path).schema
            elif kind in ("csv", "tsv"):
                sep = fmt.get("delimiter", "\t" if kind == "tsv" else ",")
                inferred = (
                    spark.read.option(
                        "header", bool(fmt.get("findColumnsFromHeader"))
                    ).option("sep", sep).csv(path).schema
                )
            else:
                inferred = spark.read.parquet(path).schema
        except Exception:
            inferred = None
        if inferred is None or not inferred.fields:
            inferred = _schema_from_dataschema(schema)
        if kind == "json":
            reader = spark.readStream.schema(inferred).json(path)
        elif kind in ("csv", "tsv"):
            sep = fmt.get("delimiter", "\t" if kind == "tsv" else ",")
            reader = (
                spark.readStream.schema(inferred)
                .option("header", bool(fmt.get("findColumnsFromHeader")))
                .option("sep", sep).csv(path)
            )
        else:
            reader = spark.readStream.schema(inferred).parquet(path)
        cols = fmt.get("columns")
        if cols and kind in ("csv", "tsv") and not fmt.get(
            "findColumnsFromHeader"
        ):
            if len(cols) != len(reader.columns):
                raise ValueError(
                    f"inputFormat.columns lists {len(cols)} names for "
                    f"{len(reader.columns)} CSV fields"
                )
            reader = reader.toDF(*cols)
        return reader
    if styp == "rate":
        rows = spark.readStream.format("rate").option(
            "rowsPerSecond", int(src.get("rowsPerSecond", 10))
        ).load()
        # rate rows (timestamp, value) masquerade as events
        return rows.select(
            F.col("timestamp").cast("string").alias(
                schema.get("timestampSpec", {}).get("column", "timestamp")
            ),
            F.col("value"),
        )
    if io_config.get("topic"):
        props = io_config.get("consumerProperties", {})
        servers = props.get("bootstrap.servers")
        if not servers:
            raise ValueError(
                "kafka ioConfig needs consumerProperties"
                "['bootstrap.servers']"
            )
        try:
            raw = (
                spark.readStream.format("kafka")
                .option("kafka.bootstrap.servers", servers)
                .option("subscribe", io_config["topic"])
                .load()
            )
        except Exception as e:  # pragma: no cover - no kafka in sandbox
            raise ValueError(
                "kafka source unavailable: the spark-sql-kafka package "
                "is not on this cluster's classpath"
            ) from e
        value = F.col("value").cast("string")
        return raw.select(
            F.from_json(
                value,
                _schema_from_dataschema(schema),
            ).alias("j")
        ).select("j.*")
    raise ValueError(
        f"unsupported supervisor inputSource type {styp!r} "
        "(local, rate, or kafka topic)"
    )


class StreamingSupervisor:
    """One running supervisor: spec in, segments out until terminated.

    ``on_handoff(dataSource)`` fires after every micro-batch that
    published at least one segment — the broker uses it to (re)register
    the datasource for querying, Druid's handoff-then-serve moment.
    """

    def __init__(
        self,
        spark: SparkSession,
        spec: dict,
        deep_storage: str,
        supervisor_id: str | None = None,
        on_handoff: Callable[[str], None] | None = None,
    ):
        if spec.get("type") not in ("kafka", "index_kafka", "local",
                                    "rate", None):
            raise ValueError(
                f"unsupported supervisor type {spec.get('type')!r}"
            )
        inner = spec.get("spec", spec)
        try:
            self.data_source = inner["dataSchema"]["dataSource"]
        except KeyError:
            raise ValueError("supervisor spec has no dataSchema.dataSource")
        self.id = supervisor_id or self.data_source
        self.spark = spark
        self.spec = spec
        self._schema = inner["dataSchema"]
        self._io = inner.get("ioConfig", {})
        # resolved at submit: a bad segmentGranularity is a 400, not a
        # failure in every micro-batch's handoff
        self._max_rows = segment_max_rows(inner.get("tuningConfig", {}))
        self._period = granularity_period(
            self._schema.get("granularitySpec", {}).get(
                "segmentGranularity", "day"
            )
        )
        self.deep_storage = deep_storage
        self.out_root = os.path.join(deep_storage, self.data_source)
        self.checkpoint = os.path.join(
            deep_storage, "_supervisor", self.id, "checkpoint"
        )
        self.on_handoff = on_handoff
        self.state = "PENDING"
        self.segments_published = 0
        self.batches_processed = 0
        self.rows_processed = 0
        self._stats_started: float | None = None  # set at start()
        self.recent_errors: list[str] = []
        self._query = None
        self._lock = threading.Lock()

    # -- lifecycle -----------------------------------------------------
    def start(self) -> "StreamingSupervisor":
        from ..functions import register_druid_sql_functions
        from ..ingestion_spec import transform_rows
        from ..sources.ingest import write_druid_segments

        register_druid_sql_functions(self.spark)
        stream = _read_stream_input(self.spark, self._io, self._schema)

        def handoff(batch_df: DataFrame, batch_id: int) -> None:
            try:
                rows = transform_rows(batch_df, self._schema)
                manifest = write_druid_segments(
                    rows,
                    self.out_root,
                    granularity=self._period,
                    max_rows_per_segment=self._max_rows,
                    version=f"b{batch_id}",
                ).collect()  # driver sees only the tiny manifest
                with self._lock:
                    self.batches_processed += 1
                    self.segments_published += len(manifest)
                    # free counter: the manifest already carries each
                    # segment's row count — no extra count() job
                    self.rows_processed += sum(
                        m["num_rows"] for m in manifest
                    )
                if manifest and self.on_handoff is not None:
                    self.on_handoff(self.data_source)
            except Exception as e:
                with self._lock:
                    self.recent_errors = (
                        self.recent_errors + [str(e)[:500]]
                    )[-5:]
                raise

        # ioConfig.period is an ISO clock period (PT30S, PT1M, PT1H...);
        # parse it properly — naive string slicing turned PT1M into an
        # invalid Spark interval
        from ..functions.druid_sql import parse_period

        months, millis = parse_period(self._io.get("period") or "PT1S")
        if months:
            raise ValueError(
                "supervisor ioConfig.period must be a clock period "
                "(PT...), not a calendar period"
            )
        self._query = (
            stream.writeStream.foreachBatch(handoff)
            .option("checkpointLocation", self.checkpoint)
            .trigger(processingTime=f"{max(1, millis // 1000)} seconds")
            .start()
        )
        import time as _time

        with self._lock:
            if self._stats_started is None:  # survives suspend/resume
                self._stats_started = _time.monotonic()
        self.state = "RUNNING"
        return self

    def _stop_query(self) -> None:
        if self._query is not None:
            try:
                self._query.stop()
            except Exception:
                pass
            self._query = None

    def suspend(self) -> None:
        # only a running supervisor suspends: TERMINATED is final (real
        # Druid rejects actions on terminated supervisors), so a
        # suspend-then-resume can never resurrect a dead stream
        if self.state == "RUNNING":
            self._stop_query()
            self.state = "SUSPENDED"

    def resume(self) -> None:
        if self.state == "SUSPENDED":
            self.start()  # checkpoint resumes from committed offsets

    def terminate(self) -> None:
        self._stop_query()
        self.state = "TERMINATED"

    def reset(self) -> None:
        """POST /druid/indexer/v1/supervisor/{id}/reset
        (supervisor-api.md): clear stored offsets and restart from the
        inputSource's beginning — stop + delete the streaming
        checkpoint + start. A replay publishes same-interval segments
        under new batch versions beside the old ones; version
        OVERSHADOWING (sources/datasource.py overshadowed_segments,
        Druid's used-segment timeline invariant) makes exactly one
        version of each interval visible to every planning path, so an
        identically-chunked replay dedupes cleanly. The residual
        documented hazard matches real Druid's reset ("may result in
        missing or duplicate data"): a replay whose micro-batches
        chunk into DIFFERENT intervals than the original run can still
        duplicate across interval boundaries. Use it for what Druid
        uses it for — recovering a wedged stream — not as a
        reprocessing tool. TERMINATED stays final."""
        if self.state == "TERMINATED":
            return
        import shutil

        was_running = self.state == "RUNNING"
        self._stop_query()
        shutil.rmtree(self.checkpoint, ignore_errors=True)
        # a SUSPENDED supervisor stays suspended (real Druid's reset
        # does not resume ingestion the operator paused — it resumes
        # from the cleared offsets only when THEY resume it)
        if was_running:
            self.start()

    def process_available(self) -> None:
        """Block until everything currently readable has handed off —
        the test/CLI hook for deterministic 'ingest what's there now'."""
        if self._query is not None:
            self._query.processAllAvailable()

    # -- introspection -------------------------------------------------
    def status(self) -> dict[str, Any]:
        """The supervisor status payload (supervisor-api.md shape,
        the subset with truthful values here)."""
        with self._lock:
            return {
                "dataSource": self.data_source,
                "stream": (
                    self._io.get("topic")
                    or (self._io.get("inputSource") or {}).get("baseDir")
                    or (self._io.get("inputSource") or {}).get("type")
                ),
                "state": self.state,
                "healthy": self.state in ("RUNNING", "SUSPENDED")
                and not self.recent_errors,
                "segmentsPublished": self.segments_published,
                "batchesProcessed": self.batches_processed,
                "recentErrors": list(self.recent_errors),
            }

    def stats(self) -> dict[str, Any]:
        """``GET /druid/indexer/v1/supervisor/{id}/stats``
        (supervisor-api.md "supervisor ingestion stats"): Druid's
        taskGroup -> taskId -> {movingAverages, totals} shape. This
        single-process controller runs one task group (0) with one
        task; counters come straight from the handoff manifests
        (rows/segments per batch — no extra Spark jobs), and the
        moving average is the lifetime rows/sec, the truthful value a
        one-window controller has."""
        import time as _time

        with self._lock:
            elapsed = (
                _time.monotonic() - self._stats_started
                if self._stats_started is not None else 0.0
            )
            rate = self.rows_processed / elapsed if elapsed > 0 else 0.0
            build = {
                "processed": self.rows_processed,
                "processedWithError": 0,
                "thrownAway": 0,
                "unparseable": 0,
            }
            return {
                "0": {
                    f"index_{self.id}_0": {
                        "movingAverages": {
                            "buildSegments": {
                                "5m": {"processed": rate},
                                "15m": {"processed": rate},
                            }
                        },
                        "totals": {"buildSegments": build},
                        "segmentsPublished": self.segments_published,
                        "batchesProcessed": self.batches_processed,
                    }
                }
            }
