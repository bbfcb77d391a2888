"""The workloads. Each one draws its ops and their oracle answers in
``prepare`` (the benchmark's own work, not timed), loads the engine in
``setup`` and runs untimed ``warmup`` ops (both timed as ``setup_s``),
and then serves ``op(i)`` calls from the closed loop in run.py.

``op`` returns an :class:`OpResult`; a failed or wrong op is a result
with ``ok=False``, never an exception. In a traced run, ``probe``
replays one op layer by layer and ``probe_setup`` replays the write
path of the workload's set-up ingest.

Both workloads read the same lineitem rows through the broker: as 83
monthly segments (narrow_dashboard) or 7 yearly ones (fullscan_rollup).
"""

from __future__ import annotations

import json
import os
import time
from contextlib import ExitStack
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq

import layers
import ops
from harness import dir_bytes

# narrow_dashboard ops are drawn from a seeded pool and cycled; with the
# result cache off a repeated body is served exactly like a fresh one
NARROW_POOL = 8
# span op id of the set-up ingest in a traced run
SETUP_OP = -1
# rows of the throwaway ingest that warms the JVM's write path before
# the timed set-up ingest
WARM_INGEST_ROWS = 2000
WARM_DATASOURCE = "perfbench_warm"

LINEITEM_DIMS = [
    {"type": "long", "name": "l_orderkey"},
    {"type": "long", "name": "l_partkey"},
    {"type": "long", "name": "l_suppkey"},
    {"type": "long", "name": "l_linenumber"},
    {"type": "double", "name": "l_quantity"},
    {"type": "double", "name": "l_extendedprice"},
    {"type": "double", "name": "l_discount"},
    {"type": "double", "name": "l_tax"},
    "l_returnflag",
    "l_linestatus",
]


@dataclass
class OpResult:
    latency_s: float
    ok: bool
    error: str = ""
    info: dict = field(default_factory=dict)


def lineitem_task(ds: str, src_dir: str, granularity: str) -> dict:
    """``index_parallel`` over lineitem.parquet, ``__time`` = l_shipdate.
    The typed dimension list is required: the schemaless form keeps
    l_shipdate as a tz-aware timestamp column the segment writer rejects."""
    return {
        "type": "index_parallel",
        "spec": {
            "dataSchema": {
                "dataSource": ds,
                "timestampSpec": {"column": "l_shipdate"},
                "dimensionsSpec": {"dimensions": LINEITEM_DIMS},
                "granularitySpec": {"segmentGranularity": granularity,
                                    "queryGranularity": "none", "rollup": False},
            },
            "ioConfig": {
                "inputSource": {"type": "local", "baseDir": src_dir,
                                "filter": "lineitem.parquet"},
                "inputFormat": {"type": "parquet"},
            },
        },
    }


class SegmentRead:
    """narrow_dashboard and fullscan_rollup: ingest lineitem through the
    overlord at one segment granularity, then post seeded queries to the
    broker and compare each answer with the oracle's."""

    def __init__(self, name: str, datasource: str, granularity: str, make_ops,
                 registry_probe: bool = False):
        self.name = name
        self.datasource = datasource
        self.granularity = granularity
        self.make_ops = make_ops
        self.registry_probe = registry_probe

    def prepare(self, b) -> None:
        """Draw the ops and their oracle answers, and write the warm-up
        ingest's input: the first WARM_INGEST_ROWS lineitem rows."""
        self.pool, self.warm = self.make_ops(b, self.datasource)
        # the loop times at least one op of every kind, however slow
        self.min_ops = len({op["kind"] for op in self.pool})
        self.warm_dir = os.path.join(b.work, "warm_input")
        os.makedirs(self.warm_dir)
        rows = pq.read_table(os.path.join(b.data_dir, "lineitem.parquet"))
        pq.write_table(rows.slice(0, WARM_INGEST_ROWS),
                       os.path.join(self.warm_dir, "lineitem.parquet"))

    def setup(self, b) -> None:
        """Ingest a small throwaway datasource and kill it, so that the
        first Spark jobs, Python workers and JIT warm-up of the write
        path do not land in the timed ingest; then the timed ingest."""
        status = b.client.run_task(lineitem_task(WARM_DATASOURCE, self.warm_dir, "year"))
        b.check("warm-up ingest", status.get("status") == "SUCCESS",
                f"{status.get('status')}: {status.get('errorMsg')}")
        status = b.client.run_task({"type": "kill", "dataSource": WARM_DATASOURCE,
                                    "interval": ops.ALL_TIME})
        b.check("warm-up kill", status.get("status") == "SUCCESS",
                f"{status.get('status')}: {status.get('errorMsg')}")
        self.task = lineitem_task(self.datasource, b.data_dir, self.granularity)
        with ExitStack() as stack:
            if b.args.trace:
                stack.enter_context(b.tracer.op_scope(SETUP_OP))
                stack.enter_context(b.tracer.wrapped(*layers.broker_targets(b.spark)))
            t0 = time.perf_counter()
            status = b.client.run_task(self.task)
            self.task_s = time.perf_counter() - t0
        b.check("set-up ingest", status.get("status") == "SUCCESS",
                 f"{status.get('status')}: {status.get('errorMsg')}")
        self.segments_written = status.get("segments", 0)
        rows = b.row_counts["lineitem"]
        b.ingest_rows_per_s = rows / self.task_s
        b.stored_bytes_per_row = (
            dir_bytes(os.path.join(b.deep_storage, self.datasource)) / rows
        )

    def corrupt(self) -> None:
        self.pool[0] = {**self.pool[0], "want": self.pool[0]["want"] + [{"corrupted": 1}]}

    def _run(self, b, op: dict) -> OpResult:
        t0 = time.perf_counter()
        code, raw = b.client.post(op["endpoint"], op["body"])
        latency = time.perf_counter() - t0
        info = {"result_bytes": len(raw), "kind": op["kind"]}
        if code != 200:
            return OpResult(latency, False, f"HTTP {code}: {raw[:300]!r}", info)
        got = ops.flatten(op["body"], json.loads(raw))
        if not ops.rows_match(got, op["want"], op["ordered"]):
            return OpResult(latency, False, f"wrong answer: {got[:3]}", info)
        return OpResult(latency, True, "", info)

    def warmup(self, b) -> None:
        for k, op in enumerate(self.warm):
            res = self._run(b, op)
            b.check(f"warm-up {op['kind']}", res.ok, res.error)
            if k == 0:
                self.first_query_s = res.latency_s

    def op_at(self, i: int) -> dict:
        return self.pool[i % len(self.pool)]

    def op(self, b, i: int) -> OpResult:
        return self._run(b, self.op_at(i))

    def probe(self, b, i: int, res: OpResult) -> dict:
        # replay spans get their own op id, apart from the served op's
        p = layers.probe_read(b, self.op_at(i), f"replay-{i}")
        p["broker.overhead_ms"] = 1000 * res.latency_s - (
            p["native_query.compile_ms"] + p["datasource.plan_ms"] + p["spark.execute_ms"]
        )
        return p

    def probe_setup(self, b) -> dict:
        """Per-layer values of the set-up ingest's write path, plus the
        headline registry queries when this workload carries them."""
        metrics = {
            **layers.probe_ingest(b, self.task, self.granularity, SETUP_OP),
            "ingest.task_ms": 1000 * self.task_s,
            "ingest.first_query_ms": 1000 * self.first_query_s,
            "ingest.segments_written": self.segments_written,
        }
        if self.registry_probe:
            metrics.update(layers.probe_headline(b))
        return metrics


def narrow_ops(b, ds: str) -> tuple[list[dict], list[dict]]:
    """One query kind per run, NARROW_KINDS[seed % 6], with seeded
    windows, filters and columns. At HEAD one narrow op outlasts the
    window, so a run that mixed kinds would time only the first; with
    one kind per run, what a run times does not depend on how fast the
    engine is, and any six consecutive seeds time every kind."""
    kind = ops.NARROW_KINDS[b.seed % len(ops.NARROW_KINDS)]
    rng = np.random.default_rng([b.seed, 1])
    pool = [ops.narrow_op(rng, b.con, ds, kind) for _ in range(NARROW_POOL)]
    warm = ops.narrow_op(np.random.default_rng([b.seed, 2]), b.con, ds, kind)
    return pool, [warm]


def fullscan_ops(b, ds: str) -> tuple[list[dict], list[dict]]:
    """The three kinds (Q1 SQL, groupBy at a seeded granularity, month
    timeseries) once each, in a seeded order. The loop times each at
    least once, and each is warmed up first, so no timed op pays a
    first-time plan compile."""
    rng = np.random.default_rng([b.seed, 1])
    gran = str(rng.choice(ops.GROUPBY_GRANULARITIES))
    variants = [("q1_sql", None), ("groupBy", gran), ("timeseries", "month")]
    pool = [ops.fullscan_op(variants[k], b.con, ds) for k in rng.permutation(3)]
    return pool, list(pool)


WORKLOADS = ("narrow_dashboard", "fullscan_rollup")


def make(name: str) -> SegmentRead:
    if name == "narrow_dashboard":
        return SegmentRead(name, "lineitem_month", "month", narrow_ops)
    if name == "fullscan_rollup":
        # its traced run also times the registry's headline queries
        return SegmentRead(name, "lineitem_year", "year", fullscan_ops,
                           registry_probe=True)
    raise ValueError(f"unknown workload {name!r}")
