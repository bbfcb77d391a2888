"""The traced run: spans around calls into each layer, recorded from
this directory's code only (no package file changes), and the per-layer
metrics derived from them.

Two kinds of spans are recorded:

- wrapper spans, from module functions the broker calls while serving
  an op (``broker._segment_state_digest``, ``broker.native_query``,
  ``SparkSession.sql``, ``ingestion_spec.ingest``), installed only while
  a traced op runs;
- probe spans, from an in-process replay of an op after it answered:
  compile, plan, execute, a noop scan of the op's segments and columns,
  and a direct decode of those segments with ``DruidSegment``.

Spans are kept in memory as (name, start, end, parent, op) and written
as JSON lines when the run ends.
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
from contextlib import contextmanager

import numpy as np

from harness import median
from ops import time_pred, ts_millis

_LAYER_METRICS = [
    ("broker.overhead_ms", "ms"),
    ("broker.freshness_ms", "ms"),
    ("broker.result_bytes", "bytes"),
    ("native_query.compile_ms", "ms"),
    ("datasource.plan_ms", "ms"),
    ("datasource.load_plan_meta_ms", "ms"),
    ("datasource.scan_tasks", "count"),
    ("datasource.segments_total", "count"),
    ("datasource.prune_ratio", "ratio"),
    ("boundary.scan_ms", "ms"),
    ("boundary.overhead_ms", "ms"),
    ("boundary.per_segment_ms", "ms"),
    ("segment.open_ms", "ms"),
    ("segment.bitmap_ms", "ms"),
    ("segment.decode_ms", "ms"),
    ("druid_format.decompress_ms", "ms"),
    ("segment.decoded_mb", "MB"),
    ("spark.execute_ms", "ms"),
    ("spark.compute_ms", "ms"),
    ("ingest.task_ms", "ms"),
    ("ingest.transform_ms", "ms"),
    ("segment.encode_ms", "ms"),
    ("druid_format.compress_ms", "ms"),
    ("druid_format.bitmap_encode_ms", "ms"),
    ("ingest.first_query_ms", "ms"),
    ("ingest.segments_written", "count"),
    ("ingest.rows_out", "count"),
]
_CONTEXT_METRICS = [
    ("trace.overhead_ms", "ms"),
    ("host.cpu_anchor_s", "s"),
    ("host.io_anchor_s", "s"),
    ("host.cpus", "count"),
    ("host.default_parallelism", "count"),
    ("host.affinity_cpus", "count"),
]


def per_layer_metrics() -> list[tuple[str, str]]:
    """(metric, unit) of every per-layer metric. Every traced run prints
    all of them, 0 where the workload does not exercise the layer."""
    from bench import HEADLINE

    return [
        *_LAYER_METRICS,
        *[(f"headline.{q}_ms", "ms") for q in HEADLINE],
        *_CONTEXT_METRICS,
    ]


class Tracer:
    """In-memory span recorder. ``op`` is the id of the op in flight;
    spans opened on other threads (the broker's handler threads) attach
    to that op's root span."""

    def __init__(self):
        self.spans: list[dict] = []
        self.op: int | None = None
        self.op_span: int | None = None
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str):
        sid = next(self._ids)
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        parent = stack[-1] if stack else self.op_span
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield sid
        finally:
            end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append({"id": sid, "name": name, "start": start,
                                   "end": end, "parent": parent, "op": self.op})

    @contextmanager
    def op_scope(self, op: int):
        self.op = op
        with self.span("op") as sid:
            self.op_span = sid
            try:
                yield
            finally:
                self.op_span = None

    @contextmanager
    def wrapped(self, *targets: tuple[object, str, str]):
        """Within the block, each ``(owner, attr, span_name)`` target is
        replaced by a wrapper that records a span around the call."""
        saved = []
        for owner, attr, name in targets:
            fn = getattr(owner, attr)
            saved.append((owner, attr, fn))
            setattr(owner, attr, self._recording(fn, name))
        try:
            yield
        finally:
            for owner, attr, fn in reversed(saved):
                setattr(owner, attr, fn)

    def _recording(self, fn, name: str):
        def wrapper(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return wrapper

    def total_ms(self, name: str, op: int) -> float:
        return 1000 * sum(
            s["end"] - s["start"] for s in self.spans
            if s["name"] == name and s["op"] == op
        )

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def broker_targets(spark) -> list[tuple[object, str, str]]:
    """The broker-side entry points a served op passes through, as
    :meth:`Tracer.wrapped` targets."""
    from druid_datafusion_bridge_spark import broker, ingestion_spec

    return [
        (broker, "_segment_state_digest", "broker.freshness"),
        (broker, "native_query", "native_query.compile"),
        (spark, "sql", "native_query.compile"),
        (ingestion_spec, "ingest", "ingest.task"),
    ]


def _scan_tasks(sc, group: str) -> int:
    """Tasks of the op's scan stage: the largest stage run under the
    op's job group (later stages read AQE-coalesced shuffle output)."""
    tracker = sc.statusTracker()
    tasks = 0
    for job in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job)
        for stage in info.stageIds if info else ():
            st = tracker.getStageInfo(stage)
            if st is not None:
                tasks = max(tasks, st.numTasks)
    return tasks


def probe_read(b, op: dict, op_id: str) -> dict:
    """Replay a read op in-process, layer by layer. Returns the op's
    per-layer values."""
    from druid_datafusion_bridge_spark.native_query import native_query
    from druid_datafusion_bridge_spark.sources import druid_format
    from druid_datafusion_bridge_spark.sources.datasource import (
        find_segment_dirs,
        load_plan_meta,
    )
    from druid_datafusion_bridge_spark.sources.segment import DruidSegment

    tr, spark = b.tracer, b.spark
    tr.op = op_id
    root = os.path.join(b.deep_storage, op["datasource"])
    sc = spark.sparkContext
    group = f"perfbench-op{op_id}"
    with tr.span("native_query.compile"):
        if op["endpoint"] == "/druid/v2":
            df = native_query(None, op["body"], time_col="__time",
                              tables=b.broker.tables)
        else:
            df = spark.sql(op["body"]["query"])
    with tr.span("datasource.plan"):
        df._jdf.queryExecution().executedPlan()
    sc.setJobGroup(group, "perfbench probe")
    try:
        with tr.span("spark.execute"):
            df.collect()
    finally:
        sc._jsc.clearJobGroup()
    scan_tasks = _scan_tasks(sc, group)

    dirs = find_segment_dirs(root)
    with tr.span("datasource.load_plan_meta"):
        metas = load_plan_meta(root, dirs)

    reader = spark.read.format("druidsegment").option("path", root).load()
    with tr.span("boundary.scan"):
        reader.where(time_pred(op["interval"])).select(*op["columns"]).write.mode(
            "overwrite"
        ).format("noop").save()

    lo_ms, hi_ms = (ts_millis(s) for s in op["interval"])
    scanned = dirs if scan_tasks >= len(dirs) else [
        d for d in dirs
        if d in metas and metas[d]["start"] < hi_ms and metas[d]["end"] > lo_ms
    ]
    decoded = 0
    with tr.wrapped((druid_format, "decompress_block", "druid_format.decompress")):
        for d in scanned:
            with tr.span("segment.open"):
                seg = DruidSegment(d)
            with tr.span("segment.bitmap"):
                for col, values in op["string_filters"]:
                    seg.bitmap_rows_for_any(col, values)
            with tr.span("segment.decode"):
                batch = seg.read_batch(op["columns"])
            decoded += batch.nbytes
            seg.close()

    ms = lambda name: tr.total_ms(name, op_id)  # noqa: E731
    scan_ms = ms("boundary.scan")
    in_proc = (ms("segment.open") + ms("segment.decode")) / max(1, min(b.cpus, scan_tasks))
    return {
        "native_query.compile_ms": ms("native_query.compile"),
        "datasource.plan_ms": ms("datasource.plan"),
        "datasource.load_plan_meta_ms": ms("datasource.load_plan_meta"),
        "datasource.scan_tasks": scan_tasks,
        "datasource.segments_total": len(dirs),
        "datasource.prune_ratio": 1 - scan_tasks / len(dirs) if dirs else 0.0,
        "boundary.scan_ms": scan_ms,
        "boundary.overhead_ms": scan_ms - in_proc,
        "boundary.per_segment_ms": scan_ms / max(1, scan_tasks),
        "segment.open_ms": ms("segment.open"),
        "segment.bitmap_ms": ms("segment.bitmap"),
        "segment.decode_ms": ms("segment.decode"),
        "druid_format.decompress_ms": ms("druid_format.decompress"),
        "segment.decoded_mb": decoded / 1e6,
        "spark.execute_ms": ms("spark.execute"),
        "spark.compute_ms": ms("spark.execute") - scan_ms,
    }


_BUCKET_UNIT = {"day": "D", "month": "M", "year": "Y"}


def probe_ingest(b, task: dict, granularity: str, op_id: int) -> dict:
    """Replay an ingest task's write path in-process: the row pipeline
    (transform_rows + noop write), then one write_segment per
    segment-granularity bucket."""
    import pyarrow as pa

    from druid_datafusion_bridge_spark.ingestion_spec import _read_input, transform_rows
    from druid_datafusion_bridge_spark.sources import druid_format
    from druid_datafusion_bridge_spark.sources.segment import write_segment

    tr, spark = b.tracer, b.spark
    tr.op = op_id
    spec = task["spec"]
    with tr.span("ingest.transform"):
        df = transform_rows(
            _read_input(spark, spec["ioConfig"], b.deep_storage), spec["dataSchema"]
        )
        df.write.mode("overwrite").format("noop").save()
    table = df.toArrow()
    table = table.set_column(
        table.column_names.index("__time"), "__time",
        table.column("__time").cast(pa.timestamp("ms"), safe=False),
    )
    bucket = (
        table.column("__time").to_numpy()
        .astype(f"datetime64[{_BUCKET_UNIT[granularity]}]").astype(np.int64)
    )
    out = os.path.join(b.work, f"probe_segments_{op_id}")
    with tr.wrapped((druid_format, "compress_block", "druid_format.compress"),
                    (druid_format, "write_bitmap_blob", "druid_format.bitmap_encode")):
        for k in np.unique(bucket):
            part = table.filter(pa.array(bucket == k)).sort_by([("__time", "ascending")])
            with tr.span("segment.encode"):
                write_segment(part, os.path.join(out, f"segment_{int(k)}"))
    ms = lambda name: tr.total_ms(name, op_id)  # noqa: E731
    return {
        "ingest.transform_ms": ms("ingest.transform"),
        "segment.encode_ms": ms("segment.encode"),
        "druid_format.compress_ms": ms("druid_format.compress"),
        "druid_format.bitmap_encode_ms": ms("druid_format.bitmap_encode"),
        "ingest.rows_out": table.num_rows,
    }


def probe_headline(b) -> dict:
    """The registry path (catalog mirrors, queries/, operators/): each of
    bench.HEADLINE's queries once untimed, then once timed, forced by a
    noop write as bench.py does. The written row count is checked
    against the DuckDB oracle."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from bench import HEADLINE
    from druid_datafusion_bridge_spark.catalog import build_scan_mirrors
    from druid_datafusion_bridge_spark.queries import all_oracles, all_queries

    queries, oracles = all_queries(), all_oracles()
    build_scan_mirrors(b.spark, b.data_dir)
    metrics = {}
    for k, name in enumerate(HEADLINE):
        want = b.con.sql(f"SELECT COUNT(*) FROM ({oracles[name]})").fetchone()[0]
        queries[name](b.spark, b.data_dir).write.mode("overwrite").format("noop").save()
        obs = Observation(f"headline_{k}")
        t0 = time.perf_counter()
        queries[name](b.spark, b.data_dir).observe(
            obs, F.count(F.lit(1)).alias("n")
        ).write.mode("overwrite").format("noop").save()
        latency = time.perf_counter() - t0
        metrics[f"headline.{name}_ms"] = 1000 * latency
        got = obs.get["n"]
        b.check(f"headline {name}", got == want, f"{got} rows, oracle has {want}")
    return metrics


def host_facts(b, with_anchors: bool) -> dict:
    """Cores requested, Spark's parallelism and usable cores; with
    ``with_anchors`` also bench.py's two host anchors (seconds for fixed
    CPU and IO work that no change to the engine moves)."""
    facts = {
        "host.cpus": b.cpus,
        "host.default_parallelism": b.spark.sparkContext.defaultParallelism,
        "host.affinity_cpus": len(os.sched_getaffinity(0)),
    }
    if with_anchors:
        from bench import _calibration_anchor, _io_anchor

        facts["host.cpu_anchor_s"] = _calibration_anchor(b.spark)
        facts["host.io_anchor_s"] = _io_anchor(b.spark, b.data_dir)
    return facts


def summarize(b, records: list[dict], probes: list[dict], extra: dict) -> dict:
    """Per-layer metrics: medians over probed ops, wrapper spans of the
    traced ops, and ``extra`` (the workload's set-up probe, host facts)."""
    tr = b.tracer
    traced = [r for r in records if r["traced"]]
    out = {name: 0.0 for name, _ in per_layer_metrics()}
    for key in probes[0] if probes else ():
        out[key] = median([p[key] for p in probes])
    if traced:
        out["broker.freshness_ms"] = median(
            [tr.total_ms("broker.freshness", r["op"]) for r in traced])
        out["broker.result_bytes"] = median([r["result_bytes"] for r in traced])
    # each body ran plain and traced: the overhead is the median
    # difference within those pairs
    pairs: dict[int, dict[bool, float]] = {}
    for r in records:
        pairs.setdefault(r["body"], {})[r["traced"]] = r["latency_s"]
    diffs = [1000 * (p[True] - p[False]) for p in pairs.values() if len(p) == 2]
    if diffs:
        out["trace.overhead_ms"] = median(diffs)
    out.update(extra)
    return out
