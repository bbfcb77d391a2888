"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ..., "cpus": ..., "default_parallelism":
..., "affinity_cpus": ...}.

Each query is forced with a noop write (full plan executes on the
executors; nothing is collected to the driver). Times are HOT runs: each
query executes once untimed (codegen compilation, broadcast builds,
parquet footers, page cache) and the second, steady-state run is what's
recorded — the regime a resident engine serves queries in.

The JSON also carries "anchor_seconds": the best-of-3 time of a FIXED
code-independent workload (a 500M-row codegen sum plus one small
shuffle) measured on the same session right before the timed loop. The
anchor moves with host state (CPU contention, frequency scaling) and
not with this repo's code, so cross-round comparisons should normalize
by it: reported_time * (anchor_ref / anchor_now). Two prior rounds each
burned an adjudication on uniform 1.3-1.5x host-noise inflation
(r7 pq_adc 63-90 s vs 22 s; r8 11.55 s vs an A/B 8.93 s of identical
code) — the anchor makes that distinction part of the artifact.

Since r11 there is a SECOND anchor, "io_anchor_seconds": a fixed raw
parquet scan (spark.read.parquet on the unmirrored lineitem file, all
columns, noop write — IO + decompression + decode, minimal codegen
arithmetic). The CPU anchor and the query mix respond differently to
host states (README r10: that conflation is the ±15% error bar), so
the two anchors normalize the two components separately: scan-heavy
query drift should track io_anchor, codegen-heavy drift the CPU
anchor; drift neither anchor shows is a real code change.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from druid_datafusion_bridge_spark import get_spark
from druid_datafusion_bridge_spark.queries import all_queries
from druid_datafusion_bridge_spark.sources.datasource import usable_cores

# Representative, scale-sensitive subset: scan-agg, wide-agg, multi-join,
# star join, filter-agg, time rollup, window, top-k per group, dedup LSH,
# similarity top-k, text stats, 7-table broadcast star, window-over-agg,
# Druid-SQL compat functions, two-phase TopN (per-partition hash aggregate
# plus a row_number window, then a global aggregate). None of these runs a
# Python exec or a DataSource scan.
HEADLINE = [
    "flagship_rollup",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "a12_time_bucket",
    "w3_agg_over_window",
    "o3b_topk_per_group",
    "dd_minhash_lsh_pairs",
    "sim_topk_per_probe",
    "txt_token_stats",
    "q8_market_share",
    "q21_waiting_suppliers",
    "fd_time_functions",
    "tn_topn_two_phase",
]


def _calibration_anchor(spark) -> float:
    """Best-of-3 seconds for a fixed code-independent workload: a
    500M-row whole-stage-codegen aggregate (CPU-bound, no IO) plus one
    small shuffle (exchange infrastructure). Depends only on host state,
    never on this repo's code — the per-round normalizer that separates
    noisy-neighbor inflation from real regressions (module docstring).
    Runs once untimed first, like the queries."""

    def run() -> None:
        spark.range(500_000_000).selectExpr(
            "sum(id * 2654435761 % 1000) AS s"
        ).write.mode("overwrite").format("noop").save()
        spark.range(2_000_000).selectExpr(
            "id % 1000 AS k", "id AS v"
        ).groupBy("k").sum("v").write.mode("overwrite").format("noop").save()

    run()  # warm
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        run()
        best = min(best, time.perf_counter() - t0)
    return round(best, 3)


def _io_anchor(spark, sf_dir: str) -> float:
    """Best-of-3 seconds for a fixed IO-path workload: full scan +
    decode of the raw lineitem parquet (read directly, NOT through the
    catalog's mirrors, so layout changes in this repo never move it).
    Captures page-cache / memory-bandwidth / decompression host state —
    the axis the pure-CPU anchor misses (module docstring)."""
    path = os.path.join(sf_dir, "lineitem.parquet")

    def run() -> None:
        spark.read.parquet(path).write.mode("overwrite").format(
            "noop"
        ).save()

    run()  # warm
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        run()
        best = min(best, time.perf_counter() - t0)
    return round(best, 3)


def _master_cpus(spark) -> int:
    """Cores the local master asks for: N of local[N], one for local,
    every host core for local[*] (and for a non-local master, which
    names none)."""
    m = re.fullmatch(
        r"local(?:\[(\d+|\*)(?:,\d+)?\])?", spark.sparkContext.master
    )
    if m is None or m.group(1) == "*":
        return os.cpu_count()
    return int(m.group(1) or 1)


def _scaled_bench_dir(spark, sf_dir: str, factor: int) -> str:
    """Materialize (once, fingerprinted) a factor× scale-up of sf_dir
    under /tmp and return its path — the OPT-IN bench profile for
    scaling studies (r12 verdict #7: at sf0.1 every headline query is
    sub-second, so the 8-vs-32-core ratio reads the fixed-cost floor,
    not the parallelism). `SPARK_GRAFT_BENCH_SCALE_FACTOR=10 python
    bench.py` times the SAME queries with the same methodology over a
    10× input (bench_scale.make_scaled_dir: key-shifted disjoint
    copies, referential integrity preserved). UNSET = this function is
    never called and the bench is byte-for-byte the driver contract.
    This scales the INPUT before anything is timed (an ingest-time
    artifact like the scan mirrors, fingerprinted to source+factor);
    no query result or intermediate is ever reused across runs."""
    import hashlib

    from bench_scale import _SCALE_KEYS, make_scaled_dir

    sig_parts = [f"factor={factor}"]
    for t in sorted(_SCALE_KEYS) + ["region", "nation"]:
        st = os.stat(os.path.join(sf_dir, f"{t}.parquet"))
        sig_parts.append(f"{t}:{st.st_size}:{st.st_mtime_ns}")
    fp = ";".join(sig_parts)
    tag = hashlib.md5(
        (os.path.abspath(sf_dir) + fp).encode()
    ).hexdigest()[:12]
    dest = f"/tmp/ddbs_bench_scaled/{tag}"
    stamp = os.path.join(dest, "_FINGERPRINT")
    try:
        with open(stamp, encoding="utf-8") as f:
            if f.read() == fp:
                return dest
    except OSError:
        pass
    make_scaled_dir(spark, sf_dir, dest, factor)
    with open(stamp, "w", encoding="utf-8") as f:
        f.write(fp)
    return dest


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    spark = get_spark(app_name="ddbs-bench")
    queries = all_queries()

    # Opt-in scaling profile (see _scaled_bench_dir). Default 1 = off:
    # the timed inputs, queries and methodology are exactly the driver
    # contract.
    scale_factor = int(os.environ.get("SPARK_GRAFT_BENCH_SCALE_FACTOR", "1"))
    if scale_factor > 1:
        sf_dir = _scaled_bench_dir(spark, sf_dir, scale_factor)
        if sf.replace(".", "").isdigit():
            sf = str(float(sf) * scale_factor)

    # Ingest-time step, run explicitly BEFORE anything is timed: the
    # scan-mirror re-layout is a table rewrite and belongs to serve
    # start, not to whichever query first touches a table (the lazy
    # build inside table() stays as the fallback).
    from druid_datafusion_bridge_spark.catalog import build_scan_mirrors

    build_scan_mirrors(spark, sf_dir)

    # Warm up: JVM, parquet footers, first-shuffle infra.
    queries["q6_forecast_revenue"](spark, sf_dir).write.mode("overwrite").format(
        "noop"
    ).save()

    anchor = _calibration_anchor(spark)
    io_anchor = _io_anchor(spark, sf_dir)

    # 1 untimed warm run per query, then best-of-5 timed runs taken in
    # ROUND-ROBIN passes (q1..qN, q1..qN, ...) rather than back-to-back
    # runs per query: the host shows multi-second noisy-neighbor windows
    # (measured: an identical full-scan noop swings 0.34-0.70 s run to
    # run), and consecutive runs would let one window poison every
    # sample of a single query — interleaving means a window has to
    # persist across a whole pass to bias any min, and five passes give
    # each query five independent draws against the noise.
    for name in HEADLINE:
        queries[name](spark, sf_dir).write.mode("overwrite").format("noop").save()
    best: dict[str, float] = {name: float("inf") for name in HEADLINE}
    for _ in range(5):
        for name in HEADLINE:
            df = queries[name](spark, sf_dir)
            t0 = time.perf_counter()
            df.write.mode("overwrite").format("noop").save()
            best[name] = min(best[name], time.perf_counter() - t0)
    timings = {name: round(v, 3) for name, v in best.items()}

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline_query_wall_seconds",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "anchor_seconds": anchor,
                "io_anchor_seconds": io_anchor,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                # the parallelism the run actually got: cores requested
                # by the local master, Spark's default parallelism and
                # the cores this process may run on (druidsegment scans
                # pack into at most that many tasks)
                "cpus": _master_cpus(spark),
                "default_parallelism": spark.sparkContext.defaultParallelism,
                "affinity_cpus": usable_cores(),
            }
        )
    )


if __name__ == "__main__":
    main()
