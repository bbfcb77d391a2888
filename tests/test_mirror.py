"""Scan-mirror layer (catalog._scan_mirror): forced on by patching the
byte threshold, the mirror must serve bit-identical values from a
multi-file, range-partitioned layout whose per-file min/max stay tight
on the table's hot filter column (the re-layout adds cores without
surrendering parquet zone-map pruning)."""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest

from druid_datafusion_bridge_spark import catalog

from .conftest import SF_DIR


@pytest.fixture()
def forced_mirror(monkeypatch, spark):
    monkeypatch.setattr(catalog, "MIRROR_MIN_BYTES", 1)
    yield


def test_mirror_values_identical_and_layout(forced_mirror, spark):
    raw = spark.read.parquet(os.path.join(SF_DIR, "lineitem.parquet"))
    mirrored = catalog.table(spark, SF_DIR, "lineitem")
    # multi-file: the relation reads the mirror dir, not the source file
    files = mirrored.inputFiles()
    assert len(files) >= 4
    assert all(catalog.MIRROR_ROOT in f for f in files)
    # bit-identical multiset of rows
    a = sorted(map(str, raw.collect()))
    b = sorted(map(str, mirrored.collect()))
    assert a == b


def test_mirror_files_keep_tight_ranges(forced_mirror, spark):
    """Every mirror file's l_shipdate min/max must cover a DISJOINT
    slice of the domain (range partitioning), not the full span a
    round-robin shuffle produces — this is what keeps date-filter
    pushdown pruning files."""
    mirrored = catalog.table(spark, SF_DIR, "lineitem")
    spans = []
    for f in mirrored.inputFiles():
        t = pq.read_table(f.replace("file:", ""), columns=["l_shipdate"])
        col = t.column("l_shipdate").to_pylist()
        spans.append((min(col), max(col)))
    spans.sort()
    # non-overlapping except at boundaries: each file's max <= the next
    # file's min (range partitioning puts equal keys in one partition)
    for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
        assert hi1 <= lo2, (hi1, lo2)
    # and collectively they must NOT all span the whole domain
    whole = (min(s[0] for s in spans), max(s[1] for s in spans))
    assert any((lo, hi) != whole for lo, hi in spans)


def test_mirror_default_threshold_skips_small_tables(spark):
    """At the default 32 MB threshold the sf0.001-0.1 testdata reads
    raw: re-layout pays only when one row group exceeds what one core
    should own (measured: mirroring 10 MB tables was a net loss)."""
    df = catalog.table(spark, SF_DIR, "lineitem")
    assert all("lineitem.parquet" in f for f in df.inputFiles())


def test_explicit_build_then_queries_write_nothing(forced_mirror, spark):
    """build_scan_mirrors is the ingest-time step: after an explicit
    build, serving table() reads and queries must trigger NO mirror
    write (no new fingerprint stamps, no .tmp build dirs) — first-query
    latency never absorbs a table rewrite the serve path already paid."""
    import glob

    from pyspark.sql import functions as F

    built = catalog.build_scan_mirrors(spark, SF_DIR)
    assert built["lineitem"] is True  # forced threshold: eligible
    assert built["region"] is True
    # idempotent warm call: same fingerprints, nothing rebuilt
    stamps = {
        p: os.path.getmtime(p)
        for p in glob.glob(os.path.join(catalog.MIRROR_ROOT, "*", "*",
                                        "_FINGERPRINT"))
    }
    assert stamps
    assert catalog.build_scan_mirrors(spark, SF_DIR)["lineitem"] is True
    df = catalog.table(spark, SF_DIR, "lineitem")
    assert all(catalog.MIRROR_ROOT in f for f in df.inputFiles())
    df.filter(F.col("l_quantity") > 25).groupBy("l_returnflag").count() \
        .write.mode("overwrite").format("noop").save()
    after = {
        p: os.path.getmtime(p)
        for p in glob.glob(os.path.join(catalog.MIRROR_ROOT, "*", "*",
                                        "_FINGERPRINT"))
    }
    assert after == stamps  # nothing re-stamped
    assert not glob.glob(
        os.path.join(catalog.MIRROR_ROOT, "*", "*.tmp.*")
    )  # no half-built residue from the serve path


def test_multi_row_group_source_served_raw(monkeypatch, tmp_path, spark):
    """r13 scale-inertness, enforced: a source whose footer already
    carries enough row groups (the atomic split unit — i.e. any healthy
    real-scale table) is served UNCHANGED by both mirror profiles, even
    with the byte thresholds forced to 1. The rewrite only ever targets
    pathological single/few-row-group inputs."""
    import pyarrow as pa

    monkeypatch.setattr(catalog, "MIRROR_MIN_BYTES", 1)
    monkeypatch.setattr(catalog, "HEAVY_SCAN_MIN_BYTES", 1)
    src_dir = str(tmp_path)
    t = pa.table({"l_orderkey": list(range(30_000)),
                  "l_quantity": [float(i % 50) for i in range(30_000)]})
    # 6 row groups >= `needed` (capped at min(cores, size/target), and
    # size/target bottoms out at 2) => healthy layout, no rewrite
    pq.write_table(t, os.path.join(src_dir, "lineitem.parquet"),
                   row_group_size=5_000)
    for heavy in (False, True):
        df = catalog.table(spark, src_dir, "lineitem", heavy_scan=heavy)
        assert all("lineitem.parquet" in f for f in df.inputFiles()), heavy
    # and the probe result is cached per (path, size, mtime)
    st = os.stat(os.path.join(src_dir, "lineitem.parquet"))
    key = (os.path.join(src_dir, "lineitem.parquet"), st.st_size,
           st.st_mtime_ns)
    assert catalog._RG_PROBE_CACHE[key] == 6


def test_heavy_block_bytes_size_derived():
    """Heavy-profile row-group target derives from source size: 1 MiB
    floor at bench scale, the guide's 16-128 MB band at real scale."""
    mib = 1024 * 1024
    assert catalog._heavy_block_bytes(10 * mib) == mib          # sf0.1
    assert catalog._heavy_block_bytes(2048 * mib) == 32 * mib   # 2 GB
    assert catalog._heavy_block_bytes(100 * 1024 * mib) == 128 * mib


def test_heavy_scan_profile_values_and_splits(monkeypatch, spark):
    """r12 heavy-scan profile: ``table(..., heavy_scan=True)`` serves a
    fine-split mirror (small parquet row groups — the split unit — so
    one file still fans out across cores) with bit-identical values,
    while the default read keeps the standard policy. Below its
    threshold the heavy read falls back (standard mirror or raw)."""
    # standard profile OFF for this table size, heavy ON:
    monkeypatch.setattr(catalog, "MIRROR_MIN_BYTES", 10**12)
    monkeypatch.setattr(catalog, "HEAVY_SCAN_MIN_BYTES", 1)
    # 64 KiB row-group floor: small enough that even the sf0.01
    # fixture's ~280 KiB mirror files hold several row groups each
    monkeypatch.setattr(catalog, "HEAVY_SCAN_BLOCK_MIN_BYTES", 64 * 1024)

    raw = spark.read.parquet(os.path.join(SF_DIR, "lineitem.parquet"))
    heavy = catalog.table(spark, SF_DIR, "lineitem", heavy_scan=True)
    files = heavy.inputFiles()
    assert files and all("@heavy" in f for f in files)
    # more splits than files: small row groups inside each file
    total_rgs = sum(pq.ParquetFile(f.replace("file:", "")).metadata.num_row_groups
                    for f in files)
    assert total_rgs > len(files)
    assert sorted(map(str, raw.collect())) == sorted(map(str, heavy.collect()))
    # default read: standard policy (threshold huge here => raw source)
    default = catalog.table(spark, SF_DIR, "lineitem")
    assert all("@heavy" not in f for f in default.inputFiles())
    # below-threshold heavy read falls back without error
    monkeypatch.setattr(catalog, "HEAVY_SCAN_MIN_BYTES", 10**12)
    fallback = catalog.table(spark, SF_DIR, "lineitem", heavy_scan=True)
    assert fallback.count() == raw.count()
