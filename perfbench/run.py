"""Druid-client benchmark for the Spark Druid engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload narrow_dashboard --seed 1 --seconds 10 --trace 0

One process generates its inputs from ``--seed`` and computes every
op's expected answer with DuckDB. It then starts one SparkSession
(``local[<usable cpus>]``) and one in-process ``DruidBrokerShim`` over a
fresh deep-storage root, ingests lineitem through the broker, and
drives a closed loop (one request in flight) for ``--seconds`` seconds,
checking every answer. ``setup_s`` is the engine's share of that set-up:
Spark, broker, ingest and warm-up ops, not the benchmark's own input
generation and oracle.

The last line of stdout is the result object: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1`` (see
layers.py). ``attempted`` and ``failed`` count every checked op: the
timed ones, the set-up ingest and the warm-ups. The line before it is a
detail object with the sample count, the latency tail when enough
samples define one, and the host facts. README.md in this directory
describes workloads, metrics and known gaps.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time

import harness
import layers
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "druid_datafusion_bridge_spark"

END_TO_END = [
    ("latency_p50_ms", "ms"),
    ("throughput_ops_per_s", "1/s"),
    ("peak_rss_mb", "MB"),
    ("stored_bytes_per_row", "B/row"),
    ("setup_s", "s"),
]

# traced runs replay this many ops layer by layer
PROBED_OPS = 1
# the set-up phases that are the engine's work; their sum is setup_s
ENGINE_PHASES = ("spark", "broker", "ingest", "warmup")


class Bench:
    """One benchmark process: inputs, oracle, session, broker, loop."""

    def __init__(self, args, work: str):
        self.args = args
        self.seed = args.seed
        self.work = work
        self.data_dir = os.path.join(work, "data")
        self.deep_storage = os.path.join(work, "deep")
        self.cpus = len(os.sched_getaffinity(0))
        self.spark = None
        self.broker = None
        self.client = None
        self.tracer = layers.Tracer()
        self.ingest_rows_per_s = 0.0
        self.stored_bytes_per_row = 0.0
        # checked ops outside the timed window (set-up ingest, warm-ups,
        # traced-run extras): they count in attempted/failed, not in timings
        self.side_ops: list[dict] = []

    def check(self, label: str, ok: bool, error: str = "") -> None:
        if not ok:
            print(f"{label} failed: {error}", file=sys.stderr)
        self.side_ops.append({"op": label, "ok": ok})

    def setup(self, workload) -> None:
        import duckdb

        import datagen

        phases = self.setup_phases = {}
        t = time.perf_counter()

        def phase(name: str) -> None:
            nonlocal t
            now = time.perf_counter()
            phases[name] = now - t
            t = now

        # the registry's tables are only read by the headline probe
        tables = datagen.TABLES if self.args.trace and workload.registry_probe else ["lineitem"]
        self.row_counts = datagen.write_tables(self.data_dir, self.seed, self.args.scale,
                                               tables)
        self.con = duckdb.connect()
        for name in self.row_counts:
            self.con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM '{self.data_dir}/{name}.parquet'"
            )
        self.con.execute(
            "CREATE VIEW lineitem_seg AS SELECT *, l_shipdate AS __time FROM lineitem"
        )
        workload.prepare(self)
        if self.args.corrupt_oracle:
            workload.corrupt()
        phase("inputs")
        self.spark = harness.start_spark(self.work, self.cpus)
        phase("spark")
        from druid_datafusion_bridge_spark.broker import DruidBrokerShim

        self.broker = DruidBrokerShim(
            self.spark, {}, deep_storage=self.deep_storage, result_cache_entries=0
        )
        self.client = harness.Client(f"http://127.0.0.1:{self.broker.start()}")
        phase("broker")
        workload.setup(self)
        phase("ingest")
        workload.warmup(self)
        phase("warmup")

    def close(self) -> None:
        """Stop the broker and Spark, then end the JVM and wait until
        every process this one started (JVM, Python workers) is gone."""
        children = [p for p in harness.tree_pids(os.getpid()) if p != os.getpid()]
        if self.broker is not None:
            self.broker.stop()
        if self.spark is not None:
            from pyspark import SparkContext

            gateway = SparkContext._gateway
            self.spark.stop()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                # the gateway JVM exits when its stdin closes
                proc.stdin.close()
                proc.wait(timeout=60)
        harness.wait_gone(children, timeout_s=60)


def run_loop(b: Bench, workload, seconds: float, trace: bool):
    """The closed loop: start ops until ``seconds`` of measuring have
    passed and at least one op of each of the workload's kinds has run,
    so that what a run times does not depend on the engine's speed. A
    traced run sends each op twice, plain and with the span wrappers
    installed, plain first in every other pair so that warming up
    between the twins cancels out. It sends at least one such pair; the
    first PROBED_OPS traced ops are then replayed layer by layer, and
    replay time is not counted."""
    records, probes = [], []
    paused = 0.0
    min_ops = 2 if trace else workload.min_ops
    start = time.perf_counter()
    i = 0
    with harness.RssSampler() as rss:
        while time.perf_counter() - start - paused < seconds or i < min_ops:
            traced = trace and (i + i // 2) % 2 == 1
            k = i // 2 if trace else i
            if traced:
                with b.tracer.op_scope(i), b.tracer.wrapped(
                    *layers.broker_targets(b.spark)
                ):
                    res = workload.op(b, k)
            else:
                res = workload.op(b, k)
            if res.error:
                print(f"op {i} failed: {res.error}", file=sys.stderr)
            records.append({"op": i, "body": k, "latency_s": res.latency_s, "ok": res.ok,
                            "traced": traced, **res.info})
            if traced and res.ok and len(probes) < PROBED_OPS:
                t0 = time.perf_counter()
                probes.append(workload.probe(b, k, res))
                paused += time.perf_counter() - t0
            i += 1
    return records, probes, rss.peak


def end_to_end(b: Bench, records: list[dict], peak_rss: int, setup_s: float):
    ok = [r for r in records if r["ok"]] or records
    tail = harness.tail([r["latency_s"] for r in ok])
    by_kind: dict[str, list[float]] = {}
    for r in ok:
        by_kind.setdefault(r["kind"], []).append(1000 * r["latency_s"])
    kind_p50 = [harness.median(v) for v in by_kind.values()]
    # kinds differ in cost up to 2x and the window holds a varying mix of
    # them, so every kind weighs the same in both numbers
    values = {
        "latency_p50_ms": math.exp(statistics.fmean(map(math.log, kind_p50))),
        # the rate of one closed-loop client sending each kind in turn
        "throughput_ops_per_s": 1000 * len(kind_p50) / sum(kind_p50),
        "peak_rss_mb": peak_rss / 2**20,
        "stored_bytes_per_row": b.stored_bytes_per_row,
        "setup_s": setup_s,
    }
    return values, {
        # host load moves one ~6 s ingest by up to the largest bound a
        # metric may have (ten-seed spreads of 0.12-0.33), so the rate is
        # reported here, not bounded
        "ingest_rows_per_s": b.ingest_rows_per_s,
        "samples": len(ok),
        "latency_tail": tail and {"percentile": tail[0], "ms": 1000 * tail[1]},
        "ms_by_kind": {k: [len(v), round(harness.median(v), 1)] for k, v in by_kind.items()},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=0.1,
                    help="TPC-H scale factor of the generated inputs")
    ap.add_argument("--corrupt-oracle", action="store_true",
                    help="corrupt one expected answer (self-test of the checker)")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"{PACKAGE}/ not found next to {os.path.basename(HERE)}/: "
              "run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(1, ROOT)

    work = os.path.join(ROOT, ".bench_work", f"{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)  # a dead run with the same pid
    os.makedirs(work)
    # every scratch location lives under the per-process work dir; the
    # JVM options also reach spark-submit's short-lived launcher JVM
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_MIRROR_ROOT"] = os.path.join(work, "mirror")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.makedirs(tmp)

    workload = workloads.make(args.workload)
    b = Bench(args, work)
    try:
        b.setup(workload)
        setup_s = sum(b.setup_phases[p] for p in ENGINE_PHASES)
        records, probes, peak = run_loop(b, workload, args.seconds, bool(args.trace))
        # the anchors take 4-6 s of fixed work; untraced runs leave them
        # out so that a full set of runs stays within its time budget
        facts = layers.host_facts(b, with_anchors=bool(args.trace))
        detail = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                  "scale": args.scale, "versions": _versions(),
                  "setup_phases_s": {k: round(v, 3) for k, v in b.setup_phases.items()},
                  **facts}
        if args.trace:
            values = layers.summarize(b, records, probes, {**workload.probe_setup(b), **facts})
            units = dict(layers.per_layer_metrics())
            b.tracer.write(os.path.join(
                ROOT, ".bench_out", f"spans-{args.workload}-seed{args.seed}.jsonl"))
        else:
            values, info = end_to_end(b, records, peak, setup_s)
            detail.update(info)
            units = dict(END_TO_END)
    finally:
        b.close()
        shutil.rmtree(work, ignore_errors=True)

    checked = records + b.side_ops
    failed = sum(1 for r in checked if not r["ok"])
    detail["error_rate"] = failed / len(checked)
    print(json.dumps(detail))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(checked),
        "failed": failed,
        "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units.items()},
    }))
    return 0


def _versions() -> dict:
    import pyarrow
    import pyspark

    return {"spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "python": sys.version.split()[0]}


if __name__ == "__main__":
    sys.exit(main())
