"""Scale-stress harness for the training-pipeline operators.

The driver's testdata tops out at thousands of documents — enough for
correctness, far too small to expose shuffle/memory behavior. This
harness GENERATES an n-row synthetic corpus executor-side (spark.range
+ hash-derived text; nothing collected, nothing written to testdata)
and times the pipeline operators end-to-end with a noop sink, printing
one JSON line like bench.py.

    python bench_scale.py                  # 1M docs
    SPARK_SCALE_ROWS=10000000 python bench_scale.py

This is evidence for the 100 TB design claims, not a correctness gate:
every operator here must complete in seconds-per-million-docs with flat
executor memory — if one of them OOMs or goes quadratic, its scale
notes were wrong.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

from druid_datafusion_bridge_spark import get_spark
from druid_datafusion_bridge_spark.operators.dedup import (
    exact_dedup,
    lsh_candidate_pairs,
    minhash_signatures,
)
from druid_datafusion_bridge_spark.operators.similarity import (
    as_double_vec,
    brute_force_topk,
    lsh_topk,
    pq_adc_topk,
    pq_quantize,
)
from druid_datafusion_bridge_spark.operators.sketches import (
    kmv_sketch,
    kmv_sketch_bounded,
)
from druid_datafusion_bridge_spark.operators.temporal import sessionize
from druid_datafusion_bridge_spark.operators.text_pipeline import (
    chunk_with_stride,
    domain_mix,
    epoch_shuffle,
    keyword_search,
    repetition_signals,
    sequence_pack,
    stratified_split,
    tfidf_top_terms,
    trigram_familiarity,
    vocab_top_coverage,
)


def synthetic_docs(spark, n: int):
    """n synthetic documents, generated executor-side: ~40 tokens drawn
    deterministically from a small vocabulary via md5-seeded arithmetic,
    with every 100th document an exact duplicate of a base doc (so the
    dedup operators have real work)."""
    base = spark.range(n).select(
        F.col("id").alias("doc_id"),
        # duplicate every 100th doc onto one of 1000 base texts
        F.when(F.col("id") % 100 == 0, F.col("id") % 1000)
        .otherwise(F.col("id"))
        .alias("seed"),
    )
    tok = lambda i: F.concat(  # noqa: E731
        F.lit("w"),
        F.conv(
            F.substring(F.md5(F.concat_ws("-", F.col("seed"), F.lit(i))), 1, 4),
            16,
            10,
        )
        % 5000,
    )
    return base.select(
        "doc_id", F.concat_ws(" ", *[tok(i) for i in range(40)]).alias("text")
    )


def synthetic_embeddings(spark, n: int, dim: int = 64):
    """n deterministic pseudo-random unit-cube vectors, generated
    JVM-side (md5-derived coordinates, no Python in the plan)."""
    coord = lambda i: (  # noqa: E731
        F.conv(
            F.substring(F.md5(F.concat_ws(":", F.col("id"), F.lit(i))), 1, 8),
            16,
            10,
        ).cast("double")
        % 1000
    ) / 500.0 - 1.0
    return spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.array(*[coord(i) for i in range(dim)]).alias("embedding"),
    )


def synthetic_events(spark, n: int, n_users: int = 50_000):
    """n deterministic events over n_users users spanning ~30 days, with
    md5-jittered inter-arrival times so sessionization sees real gaps."""
    jitter = (
        F.conv(F.substring(F.md5(F.col("id").cast("string")), 1, 6), 16, 10)
        .cast("long")
        % 7200
    )
    return spark.range(n).select(
        F.col("id").alias("event_id"),
        (F.col("id") % n_users).alias("user_id"),
        F.timestamp_seconds(
            F.lit(1_700_000_000) + (F.col("id") / n_users).cast("long") * 600 + jitter
        ).alias("ts"),
    )


def main() -> None:
    n = int(os.environ.get("SPARK_SCALE_ROWS", "1000000"))
    n_vec = int(os.environ.get("SPARK_SCALE_VECTORS", "100000"))
    spark = get_spark(app_name="ddbs-bench-scale")
    docs = synthetic_docs(spark, n)
    # skewed synthetic domain label (head domains much larger) so the
    # temperature mix has real downsampling work
    docs_dom = docs.withColumn(
        "lang",
        F.concat(F.lit("l"), (F.floor(F.sqrt(F.col("doc_id") % 900))).cast("long")),
    )
    events = synthetic_events(spark, n)
    emb = synthetic_embeddings(spark, n_vec)
    probes = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"),
        as_double_vec(F.col("embedding")).alias("probe_vec"),
    )

    ops = {
        "exact_dedup": lambda: exact_dedup(docs),
        "minhash_signatures": lambda: minhash_signatures(docs),
        "lsh_candidate_pairs": lambda: lsh_candidate_pairs(docs),
        "sequence_pack": lambda: sequence_pack(docs, budget=2048, n_shards=256),
        "repetition_signals": lambda: repetition_signals(docs),
        "sim_bruteforce_topk": lambda: brute_force_topk(emb, probes, k=10),
        "sim_lsh_topk": lambda: lsh_topk(emb, probes, dim=64, k=10, bits=4),
        "domain_mix": lambda: domain_mix(docs_dom, domain_col="lang"),
        "stratified_split": lambda: stratified_split(docs_dom, strata_col="lang"),
        "vocab_top_coverage": lambda: vocab_top_coverage(docs, top_k=1000),
        "sessionize": lambda: sessionize(events, gap_seconds=1800),
        "trigram_familiarity": lambda: trigram_familiarity(docs, model_size=500),
        "chunk_with_stride": lambda: chunk_with_stride(docs, window=32, stride=24),
        "epoch_shuffle": lambda: epoch_shuffle(docs, seed=3, n_shards=256),
        "kmv_sketch": lambda: kmv_sketch(docs_dom, "lang", "doc_id", k=4096),
        "kmv_sketch_bounded": lambda: kmv_sketch_bounded(
            docs_dom, "lang", "doc_id", k=4096
        ),
        "tfidf_top_terms": lambda: tfidf_top_terms(docs, k=3),
        "pq_quantize": lambda: pq_quantize(emb, dim=64),
        # the coded-scan serving path: corpus read as codes against a
        # broadcast LUT, floats touched only for the 200-row rerank
        "pq_adc_topk": lambda: pq_adc_topk(
            emb, probes, k=10, shortlist=200, n_subspaces=8
        ),
        "keyword_search": lambda: keyword_search(docs, terms=("w37", "w41")),
    }
    timings: dict[str, float] = {}
    for name, fn in ops.items():
        t0 = time.perf_counter()
        fn().write.mode("overwrite").format("noop").save()
        timings[name] = round(time.perf_counter() - t0, 3)

    # IVF+PQ serving split at scale: the build (train + encode + write
    # cell-partitioned parquet) is the INGEST-time cost paid once; the
    # query path reads only the probed cells' partitions. The composed
    # in-query form re-pays the whole encode per call — the gap between
    # ivfpq_query_persisted and ivfpq_topk_composed is the point of the
    # split, and it widens linearly with corpus size.
    import shutil
    import tempfile

    from druid_datafusion_bridge_spark.operators.similarity import (
        ivf_pq_build,
        ivf_pq_query,
        ivf_pq_topk,
    )

    idx_dir = tempfile.mkdtemp(prefix="ddbs_ivfpq_idx_")
    try:
        t0 = time.perf_counter()
        ivf_pq_build(emb, idx_dir, n_centroids=16, n_subspaces=8)
        timings["ivfpq_build_ingest"] = round(time.perf_counter() - t0, 3)
        t0 = time.perf_counter()
        ivf_pq_query(
            spark, idx_dir, probes, k=10, nprobe=8, shortlist=200
        ).write.mode("overwrite").format("noop").save()
        timings["ivfpq_query_persisted"] = round(
            time.perf_counter() - t0, 3
        )
        t0 = time.perf_counter()
        ivf_pq_topk(
            emb, probes, k=10, n_centroids=16, nprobe=8, shortlist=200,
            n_subspaces=8,
        ).write.mode("overwrite").format("noop").save()
        timings["ivfpq_topk_composed"] = round(
            time.perf_counter() - t0, 3
        )
    finally:
        shutil.rmtree(idx_dir, ignore_errors=True)

    # Druid-segment ingest + serve at the same scale. Not a noop write:
    # the writer encodes real segment files (dictionary dims, LZF value
    # chunks, smoosh concat), which IS the cost being measured — this is
    # the kernel every streaming micro-batch handoff runs
    # (streaming/ingest.py), so its throughput is the realtime-ingest
    # throughput. The scan-back aggregates straight off the segment
    # files through the druidsegment DataSource.
    import shutil
    import tempfile

    from druid_datafusion_bridge_spark.sources import register_druid_datasource
    from druid_datafusion_bridge_spark.sources.ingest import write_druid_segments

    register_druid_datasource(spark)
    seg_root = tempfile.mkdtemp(prefix="ddbs_scale_seg_")
    ev_seg = events.select(
        F.col("ts").alias("__time"),
        F.concat(F.lit("e"), (F.col("event_id") % 8).cast("string")).alias(
            "event_type"
        ),
        ((F.col("event_id") % 1000) / 10.0).alias("value"),
    )
    try:
        t0 = time.perf_counter()
        write_druid_segments(ev_seg, seg_root, granularity="P1D").collect()
        timings["segment_write"] = round(time.perf_counter() - t0, 3)
        # The 3-hour event stream lands in ONE P1D segment; the planner
        # cuts it into up to one row window per core
        # (DruidSegmentReader.partitions), so this rollup times the
        # intra-segment parallelism the reference (one partition per
        # table, execution_plan.rs:42) leaves on the table.
        t0 = time.perf_counter()
        (
            spark.read.format("druidsegment")
            .option("path", seg_root)
            .load()
            .groupBy("event_type")
            .agg(F.count("*"), F.sum("value"))
            .write.mode("overwrite")
            .format("noop")
            .save()
        )
        timings["segment_scan_rollup"] = round(time.perf_counter() - t0, 3)

        # Planning-metadata amortization at catalog scale: a PT1M
        # granularity re-bucket of the same stream yields ~100 segments;
        # cold planning opens each one, warm planning reads ONE
        # manifest. The cold/warm ratio is what _planmeta.json buys per
        # query at 100k-segment datasources (driver-side, no Spark job).
        from druid_datafusion_bridge_spark.sources.datasource import (
            find_segment_dirs,
            load_plan_meta,
        )

        seg_root_many = tempfile.mkdtemp(prefix="ddbs_scale_seg_many_")
        try:
            write_druid_segments(
                ev_seg.limit(200_000), seg_root_many, granularity="PT1M"
            ).collect()
            dirs = find_segment_dirs(seg_root_many)
            t0 = time.perf_counter()
            load_plan_meta(seg_root_many, dirs)
            timings["plan_meta_cold"] = round(time.perf_counter() - t0, 3)
            t0 = time.perf_counter()
            load_plan_meta(seg_root_many, dirs)
            timings["plan_meta_warm"] = round(time.perf_counter() - t0, 3)
            timings["plan_meta_segments"] = len(dirs)
        finally:
            shutil.rmtree(seg_root_many, ignore_errors=True)
    finally:
        shutil.rmtree(seg_root, ignore_errors=True)

    # High-cardinality dimension ingest: ~n/10 distinct values in one
    # string dim, the shape that makes the inverted-index build the
    # dominant segment-write cost (one bitmap blob per dictionary id).
    # This is the case the argsort+searchsorted index build exists for —
    # a per-value row scan is quadratic here.
    seg_root2 = tempfile.mkdtemp(prefix="ddbs_scale_seg_hc_")
    ev_hc = events.select(
        F.col("ts").alias("__time"),
        F.concat(F.lit("u"), (F.col("event_id") % (n // 10)).cast("string")).alias(
            "user_dim"
        ),
        ((F.col("event_id") % 1000) / 10.0).alias("value"),
    )
    try:
        t0 = time.perf_counter()
        write_druid_segments(ev_hc, seg_root2, granularity="P1D").collect()
        timings["segment_write_hicard"] = round(time.perf_counter() - t0, 3)

        # Point lookup on the high-cardinality dim, indexed vs not: the
        # pushed equality answers from the inverted index AND decode-time
        # row slicing decompresses only the blocks holding the ~10
        # matching rows; the unpushed form decodes every value chunk and
        # filters in Spark. The delta is what bitmap row selection +
        # sliced decode buy on selective predicates.
        hc = (
            spark.read.format("druidsegment")
            .option("path", seg_root2)
            .option("dim_eq", '{"user_dim": "u12345"}')
            .load()
        )
        t0 = time.perf_counter()
        (
            hc.filter(F.col("user_dim") == "u12345")
            .agg(F.count("*"), F.sum("value"))
            .write.mode("overwrite").format("noop").save()
        )
        timings["segment_point_lookup_indexed"] = round(
            time.perf_counter() - t0, 3
        )
        hc_full = (
            spark.read.format("druidsegment").option("path", seg_root2).load()
        )
        t0 = time.perf_counter()
        (
            hc_full.filter(F.col("user_dim") == "u12345")
            .agg(F.count("*"), F.sum("value"))
            .write.mode("overwrite").format("noop").save()
        )
        timings["segment_point_lookup_fullscan"] = round(
            time.perf_counter() - t0, 3
        )

        # Search query (index plane) vs row-plane recount on the same
        # 100k-value dictionary: LIKE 'u1234_' matches 10 values. The
        # index plane walks each segment's dictionary once and sums 10
        # bitmap cardinalities — value chunks never decode; the row
        # plane decodes every chunk and groups. The same pattern as a
        # dictionary-predicate FILTER (dim_like) measures what sliced
        # decode buys when the predicate is a pattern, not an equality.
        from druid_datafusion_bridge_spark.model.druid_model import (
            search_dimension,
        )

        t0 = time.perf_counter()
        (
            search_dimension(spark, seg_root2, "user_dim", "like", "u1234_")
            .write.mode("overwrite").format("noop").save()
        )
        timings["segment_search_index_plane"] = round(
            time.perf_counter() - t0, 3
        )
        t0 = time.perf_counter()
        (
            hc_full.filter(F.col("user_dim").like("u1234_"))
            .groupBy("user_dim").agg(F.count("*").alias("n"))
            .write.mode("overwrite").format("noop").save()
        )
        timings["segment_search_row_plane"] = round(
            time.perf_counter() - t0, 3
        )
        hc_like = (
            spark.read.format("druidsegment")
            .option("path", seg_root2)
            .option("dim_like", '{"user_dim": "u1234_"}')
            .load()
        )
        t0 = time.perf_counter()
        (
            hc_like.filter(F.col("user_dim").like("u1234_"))
            .agg(F.count("*"), F.sum("value"))
            .write.mode("overwrite").format("noop").save()
        )
        timings["segment_like_filter_indexed"] = round(
            time.perf_counter() - t0, 3
        )
    finally:
        shutil.rmtree(seg_root2, ignore_errors=True)

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "pipeline_scale_wall_seconds",
                "value": total,
                "unit": "sec",
                "rows": n,
                "vectors": n_vec,
                "queries": timings,
            }
        )
    )


# --------------------------------------------------------------------
# Scale-slope calibration: `python bench_scale.py slope`
#
# The structural claim "these plans survive 100×" gets a measured data
# point here: materialize an sf1-equivalent directory (a key-shifted
# FACTOR× scale-up of sf0.1 — referential integrity preserved, so joins
# keep their selectivity; document text is token-suffixed per copy so
# near-dup clusters stay copy-local and dedup work grows linearly, the
# way a real 10× corpus grows), then time the most expensive headline
# queries at both scales and report seconds-per-row slope
# big/(factor*small). slope <= ~1 means the plan scales linearly or
# better (fixed costs amortizing); materially above 1 means superlinear
# work crept in and the plan needs an audit.

SLOPE_QUERIES = [
    "flagship_rollup",
    "q1_pricing_summary",
    "dd_minhash_lsh_pairs",
    "q21_waiting_suppliers",
    "o3b_topk_per_group",
    "dd_ngram_jaccard",
    "dd_lsh_verified_pairs",
    # r8: the DataSketches SQL pipeline (build-merge-estimate over
    # lineitem). The round's other additions are metadata-plane
    # (overshadow/retention pick SEGMENTS; their scan work is a fixed
    # day-slice) and slope-checking them would time the driver-side
    # segment builder, not a query plan.
    "fd_ds_sketch_sql_text",
    # r8 data-plane additions: BM25 (posting-list shuffles over
    # documents), the composed IVF+PQ index (encode scans + coded
    # ADC scan over embeddings — its bounded driver-side training is
    # a fixed cost the slope should show amortizing), and the
    # user-journey paths query (one user-keyed window + tiny agg)
    "txt_bm25_rank",
    "sim_ivfpq_topk",
    "an_top_paths",
    # histogram-based exact per-group median cut: the slope shows the
    # histogram staying tiny while the corpus grows
    "txp_quality_median_cut",
    # r9 additions (r10 slope check): the persisted IVF+PQ serve path
    # (probed-cell partition scan — the pruning should hold the slope
    # down), incremental append against frozen quantizers, the GIF
    # LZW decode (mapInPandas over binary payloads — pure data-plane),
    # and the composed native groupBy having/subtotals/limit pipeline
    "sim_ivfpq_persisted",
    "sim_ivfpq_append",
    "mm_gif_decode",
    "nq_groupby_having_subtotals_limit",
    # r10 additions: the BMP decode (mapInPandas codec), the
    # reference-model LM filter (gram explode + broadcast model), the
    # theta SQL set algebra (bounded-array shuffles), and the unnest
    # datasource over a real MVD segment root (Generate over the scan)
    "mm_bmp_decode",
    "txp_lm_familiarity_filter",
    "fd_theta_sql_text",
    "nq_unnest_datasource",
    # r10 service-path additions (r11 slope check, VERDICT r10 #6): the
    # lookup-datasource join, the quantiles marker consumers, the
    # grand-total double aggregate, and the MV_* family rewrites
    "nq_lookup_datasource",
    "fd_quantiles_sql_text",
    "nq_timeseries_grand_total",
    "fd_mv_extended_sql_text",
    # r11 additions: native sketch aggregators (exact quantile/hist
    # aggregates in one groupBy pass), the bloom SQL pair (scalar-
    # subquery filter build + in-codegen probe), and the extractionFn
    # cascade (pure scan-stage projections)
    "nq_sketch_aggregators",
    "fd_bloom_sql_text",
    "nq_extraction_cascade",
    "mm_jpeg_decode",
    "txp_decontaminate",
    "txp_pii_scrub",
    "mm_jpeg_color_decode",
    "nq_grouping_aggregator",
    "mm_jpeg_420_decode",
    "nq_spatial_filter",
    "fd_ipv6_sql_text",
    "nq_nested_field_vc",
]

# per-table key columns to shift by copy*KEY_SHIFT (foreign keys shift
# with their parents, so every copy is a disjoint consistent universe)
_SCALE_KEYS = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
_FIXED_TABLES = ("region", "nation")  # TPC-H dims don't scale with sf
KEY_SHIFT = 100_000_000


def make_scaled_dir(spark, src_dir: str, out_dir: str, factor: int) -> None:
    """Write a factor× scale-up of src_dir's parquet tables to out_dir,
    executor-side (nothing collected): each table is crossed with a
    broadcast `copy` index and its keys shifted per copy."""
    copies = F.broadcast(
        spark.range(factor).select(F.col("id").alias("_copy"))
    )
    for t in _FIXED_TABLES:
        spark.read.parquet(f"{src_dir}/{t}.parquet").write.mode(
            "overwrite"
        ).parquet(f"{out_dir}/{t}.parquet")
    for t, keys in _SCALE_KEYS.items():
        df = spark.read.parquet(f"{src_dir}/{t}.parquet").crossJoin(copies)
        for k in keys:
            df = df.withColumn(k, F.col(k) + F.col("_copy") * KEY_SHIFT)
        if t == "documents":
            # suffix every token per copy>0: within-copy duplicate
            # structure is preserved exactly, across copies nothing
            # shingles together — dedup work is factor disjoint corpora
            df = df.withColumn(
                "text",
                F.when(F.col("_copy") == 0, F.col("text")).otherwise(
                    F.array_join(
                        F.transform(
                            F.split(F.col("text"), " "),
                            lambda w: F.concat(
                                w, F.lit("_c"),
                                F.col("_copy").cast("string"),
                            ),
                        ),
                        " ",
                    )
                ),
            )
        # factor files per table: a real factor× dataset arrives as
        # factor× the files, and a single-file write would produce one
        # giant unsplittable row group (parquet splits only at row-group
        # boundaries), serializing every downstream scan onto one core
        df.drop("_copy").repartition(factor).write.mode(
            "overwrite"
        ).parquet(f"{out_dir}/{t}.parquet")


def slope_main() -> None:
    import shutil
    import tempfile

    from druid_datafusion_bridge_spark.queries import all_queries

    src = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    factor = int(os.environ.get("SPARK_SLOPE_FACTOR", "10"))
    spark = get_spark(app_name="ddbs-bench-slope")
    queries = all_queries()
    big_dir = tempfile.mkdtemp(prefix="ddbs_slope_sf1_")
    try:
        t0 = time.perf_counter()
        make_scaled_dir(spark, src, big_dir, factor)
        build_sec = round(time.perf_counter() - t0, 3)

        def best_of(name: str, sf_dir: str, runs: int = 3) -> float:
            fn = queries[name]
            fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
            best = float("inf")
            for _ in range(runs):
                df = fn(spark, sf_dir)
                t = time.perf_counter()
                df.write.mode("overwrite").format("noop").save()
                best = min(best, time.perf_counter() - t)
            return best

        # SPARK_SLOPE_QUERIES=a,b,c restricts the run (re-measuring one
        # round's additions without re-timing the whole table)
        sel = os.environ.get("SPARK_SLOPE_QUERIES")
        names = [s for s in sel.split(",") if s] if sel else SLOPE_QUERIES
        out: dict[str, dict] = {}
        for name in names:
            small = best_of(name, src)
            big = best_of(name, big_dir)
            out[name] = {
                "small_sec": round(small, 3),
                "big_sec": round(big, 3),
                "slope": round(big / (factor * small), 3),
            }
        print(
            json.dumps(
                {
                    "metric": "scale_slope_vs_factor",
                    "factor": factor,
                    "small_dir": src,
                    "build_sec": build_sec,
                    "queries": out,
                }
            )
        )
    finally:
        shutil.rmtree(big_dir, ignore_errors=True)


# Planning-at-scale microbench: `python bench_scale.py plan`
# (SPARK_PLAN_SEGMENTS=10000 by default). Substantiates the
# _planmeta.json claim — O(1-file) re-planning at catalog scale — with
# a synthetic hour-per-segment forest: cold planning opens every
# segment once; warm planning is one manifest read (plus an os.stat
# identity check per segment, the staleness contract); relation
# creation (union schema) is zero-open warm; and an interval query
# prunes to its hours. No Spark needed for the metadata plane — the
# pruned query at the end runs through the real DataSource.


def plan_main() -> None:
    import shutil
    import tempfile

    import numpy as np
    import pyarrow as pa

    from druid_datafusion_bridge_spark.sources.datasource import (
        SERVED,
        find_segment_dirs,
        load_plan_meta,
        register_druid_datasource,
        segment_timeline,
    )
    from druid_datafusion_bridge_spark.sources.segment import write_segment

    n = int(os.environ.get("SPARK_PLAN_SEGMENTS", "10000"))
    n_small = max(1, n // 10)
    rows = 8
    base_ms = 1704067200000  # 2024-01-01T00:00:00Z
    hour = 3_600_000

    def build_forest(root: str, count: int) -> float:
        t0 = time.perf_counter()
        for i in range(count):
            start = base_ms + i * hour
            ts = start + np.arange(rows, dtype=np.int64) * (hour // rows)
            write_segment(
                pa.table({
                    "__time": pa.array(ts, pa.timestamp("ms")),
                    "etype": pa.array(
                        [f"t{j % 3}" for j in range(rows)]
                    ),
                    "value": pa.array(
                        (np.arange(rows) + i).astype(np.float64)
                    ),
                }),
                os.path.join(root, f"segment_{i}_{i:04d}"),
            )
        return time.perf_counter() - t0

    def timed_plan(root: str) -> float:
        dirs = find_segment_dirs(root)
        t0 = time.perf_counter()
        load_plan_meta(root, dirs)
        return time.perf_counter() - t0

    big = tempfile.mkdtemp(prefix="ddbs_planbench_big_")
    small = tempfile.mkdtemp(prefix="ddbs_planbench_small_")
    try:
        build_sec = build_forest(big, n) + build_forest(small, n_small)

        cold_sec = timed_plan(big)           # opens every segment once
        warm_sec = min(timed_plan(big) for _ in range(3))
        warm_small = min(timed_plan(small) for _ in range(3))
        # timeline resolution on a warm root: discovery + one manifest
        # read + the overshadow pass, what every listing surface pays
        t0 = time.perf_counter()
        served = [s for s in segment_timeline(big) if s.state == SERVED]
        serve_sec = time.perf_counter() - t0
        assert len(served) == n

        spark = get_spark(app_name="ddbs-bench-plan")
        register_druid_datasource(spark)
        # pruned interval query: 3 hours out of n — partitions() must
        # touch only those segments' files
        lo = base_ms + (n // 2) * hour
        hi = lo + 3 * hour - 1
        def pruned() -> float:
            df = (
                spark.read.format("druidsegment")
                .option("path", big)
                .option("time_lower_ms", str(lo))
                .option("time_upper_ms", str(hi))
                .load()
            )
            t0 = time.perf_counter()
            got = df.count()
            sec = time.perf_counter() - t0
            assert got == 3 * rows, got
            return sec
        pruned()  # JVM/session warmup
        pruned_sec = min(pruned() for _ in range(3))

        print(json.dumps({
            "metric": "planning_at_scale",
            "segments": n,
            "build_sec": round(build_sec, 3),
            "cold_plan_sec": round(cold_sec, 3),
            "warm_plan_sec": round(warm_sec, 4),
            "warm_plan_small_sec": round(warm_small, 4),
            # warm-plan growth vs segment count: ~1.0 = linear in the
            # stat pass, <1 sublinear; the absolute numbers are the
            # headline (one manifest read vs n opens)
            "warm_slope_vs_count": round(
                warm_sec / ((n / n_small) * warm_small), 3
            ),
            "serve_timeline_sec": round(serve_sec, 4),
            "pruned_query_sec": round(pruned_sec, 3),
        }))
    finally:
        shutil.rmtree(big, ignore_errors=True)
        shutil.rmtree(small, ignore_errors=True)


# Full-registry DuckDB sweep at an arbitrary scale:
#   python bench_scale.py sweep [sf_dir]      (default /root/testdata/sf0.1)
# The every-round ritual that caught the r11 all-pairs OOM and the r9
# ivfpq recall graze. Hard-won harness rules baked in (r12): the
# driver JVM is sized for a 284-query marathon (the default 1 GiB heap
# dies ~250 queries in from Spark-internal session accumulation —
# broadcast torrent blocks, codegen cache — even though every query
# fits it individually), and result columns compare SORTED BY NAME on
# both sides, exactly like the grading driver's canonicalizer (a
# positional compare false-flags queries whose Spark and oracle column
# orders differ).


def sweep_main() -> None:
    import __spark_entry__ as entry
    from pyspark.sql import SparkSession

    from tests.oracle_harness import compare, make_duck

    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    spark = (
        SparkSession.builder.master(
            f"local[{os.environ.get('SPARK_GRAFT_CPUS', '16')}]"
        )
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "6g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    qs, oracles = entry.queries(), entry.oracle_sql()
    con = make_duck(sf_dir)
    bad, n = [], 0
    t0 = time.time()
    for name, fn in qs.items():
        n += 1
        try:
            sdf = fn(spark, sf_dir)
            if name in oracles:
                compare(sdf, con, oracles[name], name)
            else:
                sdf.collect()
            print(f"{n}/{len(qs)} {name} OK", file=sys.stderr, flush=True)
        except AssertionError as ex:
            bad.append((name, "MISMATCH", str(ex)[:300]))
            print(
                f"{n}/{len(qs)} {name} MISMATCH {str(ex)[:200]}",
                file=sys.stderr, flush=True,
            )
        except Exception as ex:  # noqa: BLE001 — record and continue
            bad.append((name, "ERR", str(ex)[:300]))
            print(
                f"{n}/{len(qs)} {name} ERR {str(ex)[:200]}",
                file=sys.stderr, flush=True,
            )
    print(json.dumps({
        "metric": "registry_sweep",
        "sf_dir": sf_dir,
        "swept": n,
        "n_bad": len(bad),
        "bad": bad,
        "sec": round(time.time() - t0, 1),
    }))


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "slope":
        slope_main()
    elif len(sys.argv) > 1 and sys.argv[1] == "plan":
        plan_main()
    elif len(sys.argv) > 1 and sys.argv[1] == "sweep":
        sweep_main()
    else:
        main()
