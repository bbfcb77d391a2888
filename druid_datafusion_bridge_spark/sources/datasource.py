"""PySpark Python DataSource for Druid v9 segment directories.

Usage:
    spark.dataSource.register(DruidSegmentDataSource)
    df = (spark.read.format("druidsegment")
          .option("path", "/data/segments")      # one segment dir, or a dir of them
          .option("columns", "__time,channel")   # optional projection
          .load())

Spark analog of the reference's DruidSegmentTable/DruidSegmentExec
(src/datafusion_ext/table_provider.rs:27-72, execution_plan.rs:30-117),
with three upgrades over the reference's scan:

- scan tasks sized to the cores, not to the table: the planner builds
  one unit per served segment (the reference advertises exactly one
  partition for the whole table, execution_plan.rs:42), cuts a segment
  holding at least twice the per-core share of the planned rows into
  equal row windows (sliced decode keeps each window O(its blocks)),
  and packs the units into at most one InputPartition per usable core.
  A Python task still pays a fixed start-up, so a root of N small
  segments pays it once per core instead of N times. read() keeps that
  start-up small: it ends by dropping the worker's cached finders for
  the Spark install's zips (drop_spark_zip_finders), which every task's
  importlib.invalidate_caches() would otherwise re-read (~200 ms per
  task on Spark 4.1 / Python 3.11);
- projection honored at decode time via the `columns` option (the Python
  DataSource API does not push projections, so it's an explicit option —
  SURVEY.md §4.1);
- segment-level time-interval pruning through the `time_lower_ms` /
  `time_upper_ms` options: `__time` bounds skip whole segments using the
  index.drd interval the reference parses but never consults
  (src/segment/metadata.rs:22-23, SURVEY §4.3). Callers keep their
  df.filter(), which Spark re-applies row-level, so correctness never
  depends on the pruning.

Filter families (all option-driven and acceleration-only): __time
intervals, numeric ranges (segment min/max + per-block zone maps), and
dimension filters. The eight ``dim_*`` options take one path, Druid's
filter model: each becomes a (column, spec) pair — ``in`` for
dim_eq, ``bound`` for dim_bound and dim_prefix, a ``(kind, arg)``
predicate for dim_regex/contains/icontains/endswith/like — that picks
dictionary ids (sorted-dictionary bisect, or one kernel pass over the
dictionary) whose row bitmaps then union
(DruidSegment.bitmap_rows_for_filter). The dimension filters are
proven empty or turned into row sets on the executor, inside read(),
against each segment's own index — never at planning.

Scale posture: partitions() plans from the root's planning manifest
and the core count alone (one _planmeta.json read; a segment whose
entry is stale costs its meta.smoosh + index.drd + column JSON
headers, a few KB); column bytes are decoded on executors inside
read(), which yields Arrow RecordBatches (zero row objects), one per
unit. For 100 TB = ~100k segments this planning cost is a metadata
listing, and decode parallelism is core-count wide.

Types: ``_COLUMN_TYPES`` is the one place a column type crosses the
Spark boundary — the manifest's type key maps to the Spark type of the
schema and the Arrow type read() emits; the segment side of the same
mapping is segment.py's ``_VALUE_TYPES``.
"""

from __future__ import annotations

import dataclasses
import heapq
import os
import re
from dataclasses import dataclass
from typing import NamedTuple

import numpy as np
import pyarrow as pa

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    FloatType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from .segment import TIME_COLUMN, DruidSegment


def _next_prefix(p: str) -> str | None:
    """Smallest string lexicographically greater than every string with
    prefix ``p`` — so startswith(p) == (p <= s < _next_prefix(p)) and a
    prefix filter reduces to a dictionary BOUND. None when no finite
    upper bound exists (prefix of all U+10FFFF)."""
    maxc = chr(0x10FFFF)
    i = len(p) - 1
    while i >= 0 and p[i] == maxc:
        i -= 1
    if i < 0:
        return None
    return p[:i] + chr(ord(p[i]) + 1)


# Each dim_* reader option -> its bitmap_rows_for_filter spec, built
# from one {col: value} entry. dim_eq takes a scalar (equality) or a
# list (IN); dim_bound [lower, upper, lower_strict, upper_strict] is
# Druid's BoundFilter; dim_prefix is the bound [p, _next_prefix(p)),
# Druid's PrefixFilter; the rest are dictionary predicates (Druid's
# RegexDimFilter / search / LikeDimFilter analogs).
_DIM_FILTER_OPTIONS = {
    "dim_eq": lambda v: ("in", tuple(v) if isinstance(v, list) else (v,)),
    "dim_bound": lambda b: ("bound", b[0], b[1], bool(b[2]), bool(b[3])),
    "dim_prefix": lambda p: ("bound", p, _next_prefix(p), False, True),
    "dim_regex": lambda a: ("regex", a),
    "dim_contains": lambda a: ("contains", a),
    "dim_icontains": lambda a: ("icontains", a),
    "dim_endswith": lambda a: ("endswith", a),
    "dim_like": lambda a: ("like", a),
}


def ship_package(spark) -> None:
    """Make this package importable on Python workers (addPyFile of a
    package zip) — needed by anything pickled by reference into a
    worker: the DataSource class, applyInPandas ingestion closures. On a
    real cluster this is exactly how the package deploys (py-files)."""
    sc = spark.sparkContext
    if getattr(sc, "_ddbs_pkg_shipped", False):
        return
    sc.addPyFile(
        _package_zip(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    )
    sc._ddbs_pkg_shipped = True


def _package_zip(pkg_root: str) -> str:
    """Path of a zip of ``pkg_root``'s .py files, named by a digest of
    their relative paths and bytes: checkouts with different package
    files get different zips, so one never rewrites the zip a live
    SparkContext of another has added (Spark then fails the next task
    with "exists and does not match contents"). An existing zip of that
    digest is reused. Entries carry a fixed timestamp, so the same files
    always zip to the same bytes."""
    import hashlib
    import tempfile
    import zipfile

    files = []
    for dirpath, _dirnames, filenames in os.walk(pkg_root):
        for fn in filenames:
            if fn.endswith(".py"):
                full = os.path.join(dirpath, fn)
                rel = os.path.join(
                    os.path.basename(pkg_root), os.path.relpath(full, pkg_root)
                )
                with open(full, "rb") as f:
                    files.append((rel, f.read()))
    files.sort()
    digest = hashlib.sha256()
    for rel, data in files:
        digest.update(f"{rel}\0{len(data)}\0".encode())
        digest.update(data)
    zip_path = os.path.join(
        tempfile.gettempdir(),
        f"druid_datafusion_bridge_spark_pkg_{digest.hexdigest()[:16]}.zip",
    )
    if os.path.exists(zip_path):
        return zip_path
    # Write under a private name in the same directory, then rename onto
    # the digest path: a concurrent writer (another process or session)
    # can only ever expose a complete zip to addPyFile, never a
    # half-written one.
    fd, tmp_path = tempfile.mkstemp(suffix=".zip", dir=os.path.dirname(zip_path))
    try:
        with os.fdopen(fd, "wb") as f, zipfile.ZipFile(f, "w") as zf:
            for rel, data in files:
                zf.writestr(zipfile.ZipInfo(rel, date_time=(1980, 1, 1, 0, 0, 0)), data)
        os.replace(tmp_path, zip_path)
    finally:
        if os.path.exists(tmp_path):  # only when the write failed
            os.unlink(tmp_path)
    return zip_path


def drop_spark_zip_finders() -> None:
    """Worker-side: forget the cached import finders of the Spark
    install's own archives (``$SPARK_HOME/python/lib/*.zip`` and
    ``$SPARK_HOME/jars/*.jar``) so the next Python task on this reused
    worker starts cheaply.

    Every task starts with ``importlib.invalidate_caches()``
    (``pyspark.worker_util.setup_spark_files``), and on Python 3.11
    that makes each cached ``zipimporter`` re-read its archive's whole
    directory: a worker holds ~16 of them (one per sub-package path of
    pyspark.zip, py4j and the spark-core jar), ~200 ms of CPU per task.
    A dropped finder is rebuilt by the next import that needs it, from
    the directory ``zipimport._zip_directory_cache`` already holds,
    without re-reading the archive — sound only because the install
    cannot change while the worker lives. So
    an ``addPyFile`` archive under ``SparkFiles.getRootDirectory()``
    (the package zip of ship_package) always keeps its finders. No-op
    in the driver, with no Spark install to name, or with no such
    finder cached. Called in a ``finally`` of the package's Python task
    bodies, so an iterator a LIMIT stops early still runs it."""
    import sys
    import zipimport

    from pyspark.core.files import SparkFiles

    if not SparkFiles._is_running_on_worker:
        return
    home = os.environ.get("SPARK_HOME")
    if not home:
        # no SPARK_HOME: the install pyspark itself was imported from
        # (<home>/python/lib/pyspark.zip), if it came from an archive
        import pyspark

        loader = getattr(pyspark.__spec__, "loader", None)
        if not isinstance(loader, zipimport.zipimporter):
            return
        home = os.path.dirname(os.path.dirname(os.path.dirname(loader.archive)))
    home = os.path.realpath(home)
    frozen = (
        os.path.join(home, "python", "lib", ""),
        os.path.join(home, "jars", ""),
    )
    shipped = os.path.join(os.path.realpath(SparkFiles.getRootDirectory()), "")
    for key, finder in list(sys.path_importer_cache.items()):
        if not isinstance(finder, zipimport.zipimporter):
            continue
        archive = os.path.realpath(finder.archive)
        if archive.startswith(frozen) and not archive.startswith(shipped):
            del sys.path_importer_cache[key]


def register_druid_datasource(spark) -> None:
    """Register the 'druidsegment' format (ships the package first),
    once per session: a session that already has it keeps its
    registration, so callers may call this on every (re)registration
    of a root without Spark replacing the data source each time.

    Pruning is OPTION-driven (`time_lower_ms`/`time_upper_ms` for
    interval pruning, `dim_eq` JSON for bitmap-index equality, ...) —
    options are part of the relation identity, so Spark's plan caching
    keys them correctly and registering touches no session config."""
    ship_package(spark)
    manager = spark._jsparkSession.sessionState().dataSourceManager()
    if not manager.dataSourceExists(DruidSegmentDataSource.name()):
        spark.dataSource.register(DruidSegmentDataSource)


# manifest type key (the segment schema's Arrow type, as a string) ->
# (Spark type, Arrow type the reader emits). Spark timestamps are
# microseconds, and dictionary strings flatten to plain strings.
_COLUMN_TYPES = {
    "timestamp[ms]": (TimestampType(), pa.timestamp("us")),
    "string": (StringType(), pa.string()),
    "int64": (LongType(), pa.int64()),
    "float": (FloatType(), pa.float32()),
    "double": (DoubleType(), pa.float64()),
    "binary": (BinaryType(), pa.binary()),
    # multi-value string dimension (hasMultipleValues)
    "list<item: string>": (ArrayType(StringType()), pa.list_(pa.string())),
}


def find_segment_dirs(path: str) -> list[str]:
    """`path` is a segment dir (has version.bin) or a dir of segment dirs."""
    if os.path.isfile(os.path.join(path, "version.bin")):
        return [path]
    out = []
    for name in sorted(os.listdir(path)):
        sub = os.path.join(path, name)
        if os.path.isfile(os.path.join(sub, "version.bin")):
            out.append(sub)
    if not out:
        raise ValueError(f"No Druid segments under {path}")
    return out


PLANMETA_NAME = "_planmeta.json"
# the fields of one segment's v3 manifest entry (load_plan_meta)
_PLANMETA_FIELDS = frozenset({"id", "start", "end", "rows", "size", "stats", "cols"})


def segment_identity(seg_dir: str) -> list | None:
    """A segment's on-disk identity, ``[meta.smoosh size, mtime_ns]``
    (every rewrite rewrites meta.smoosh), or None when it cannot be
    stat'ed. The planning manifest validates its entries by it and the
    broker's root-state digest is built from it, so the two can never
    disagree on whether a segment changed."""
    try:
        st = os.stat(os.path.join(seg_dir, "meta.smoosh"))
    except OSError:
        return None
    return [st.st_size, st.st_mtime_ns]


def _segment_version_key(name: str) -> tuple:
    """Natural-order sort key for a segment's VERSION tag — the part
    of the writer's ``segment_{bucket}_{shard}[_{version}]`` name after
    the shard (streaming handoff stamps batch ids ``b0, b1, ... b10``,
    where plain lexicographic order would rank b10 < b9). The shard
    field is 4+ digits (``{shard:04d}`` grows past 9999 at catalog
    scale — a 5-digit shard must NOT parse as versionless, or it would
    be overshadowed by its own sibling shards). Names without a version
    tag (batch-written segments) sort lowest, so a versioned re-publish
    always overshadows them. Every token encodes as (type, value) so
    keys of MIXED styles stay comparable (``b1`` vs a date-style
    ``20240105``: numeric tokens order before alphabetic ones,
    deterministically, instead of raising TypeError and killing every
    query on the root). Name parsing shares _segment_name_match with
    segment_version_tag so the ordering and the metadata plane can
    never disagree about what the version IS."""
    m = _segment_name_match(name)
    v = (m.group("v") or "") if m else ""
    return tuple(
        (0, int(tok), "") if tok.isdigit() else (1, 0, tok)
        for tok in re.split(r"(\d+)", v)
        if tok
    )


# The writer's segment-dir naming: segment_{bucket}_{shard}[_{version}].
# The shard field is 4+ digits ({shard:04d} grows past 9999 at catalog
# scale — a 5-digit shard must NOT parse as versionless, or it would be
# overshadowed by its own sibling shards). ONE pattern shared by the
# overshadow ordering and the metadata-plane version tag, so the two
# can never drift apart.
_segment_name_match = re.compile(r"^segment_\d+_\d{4,}(?:_(?P<v>.+))?$").match


def segment_version_tag(name: str) -> str:
    """The human-readable VERSION of a segment dir, for metadata
    surfaces (sys.segments.version): the writer-name's version tag
    when present (``segment_{bucket}_{shard}_{version}``), else the
    dir basename itself (batch-written segments carry no tag; the
    basename is still the unique publish identity)."""
    m = _segment_name_match(name)
    if m and m.group("v"):
        return m.group("v")
    return name


def overshadowed_segments(metas: dict[str, dict]) -> set[str]:
    """Druid's used-segment timeline invariant: when several segments
    cover the SAME (start, end) interval under DIFFERENT versions,
    only the newest version's segments serve — ALL shards of older
    versions are overshadowed (Druid's VersionedIntervalTimeline:
    a new version replaces every old shard of its interval). Segments
    sharing interval AND version are shards of one another and all
    serve. This is what makes a replayed streaming batch (reset) or a
    re-published interval safe: the duplicate rows exist on disk but
    exactly one version is visible to every planning path.

    Takes a root's planning metadata (``load_plan_meta`` output) and
    returns the segment-dir BASENAMES that must not serve. Pure
    metadata plane — one linear pass, no segment opens; at 100k
    segments this is a dict group-by in the driver. Called only by
    segment_timeline, which every listing surface reads."""
    groups: dict[tuple[int, int], list[str]] = {}
    for seg_dir, m in metas.items():
        groups.setdefault((m["start"], m["end"]), []).append(
            os.path.basename(seg_dir)
        )
    out: set[str] = set()
    for names in groups.values():
        if len(names) < 2:
            continue  # a lone segment always serves
        keys = {n: _segment_version_key(n) for n in names}
        newest = max(keys.values())
        out.update(n for n, vk in keys.items() if vk != newest)
    return out


# Timeline states of a segment dir (segment_timeline).
SERVED = "served"
OVERSHADOWED = "overshadowed"
UNUSED = "unused"


class TimelineSegment(NamedTuple):
    """One segment dir of a root's timeline."""

    dir: str
    meta: dict  # the segment's load_plan_meta entry
    state: str  # SERVED, OVERSHADOWED or UNUSED


def segment_timeline(
    root: str, unused: frozenset[str] | set[str] = frozenset()
) -> list[TimelineSegment]:
    """Druid's used-segment timeline of a root: every segment dir in
    discovery order with its planning-manifest entry and its state.
    ``unused`` names the retention-dropped / markUnused basenames;
    overshadowing is worked out among the remaining (used) segments
    only, so unusing the newest version makes the older one serve
    again. Discovers the root once and reads its whole manifest once.

    The one place the timeline rule lives: the scan planner, the CLI
    scan/search, the index-plane search, /druid/v2/candidates,
    sys.segments / sys.servers and the coordinator metadata and
    datasource endpoints all list segments through it, so they can
    never disagree on which segments serve. Raises ValueError (from
    find_segment_dirs) when the root holds no segments."""
    dirs = find_segment_dirs(root)
    metas = load_plan_meta(root, dirs)
    shadowed = overshadowed_segments({
        d: m for d, m in metas.items()
        if os.path.basename(d) not in unused
    })

    def state(name: str) -> str:
        if name in unused:
            return UNUSED
        return OVERSHADOWED if name in shadowed else SERVED

    return [
        TimelineSegment(d, metas[d], state(os.path.basename(d)))
        for d in dirs
    ]


def served_segment_dirs(
    root: str, exclude: frozenset[str] | set[str] = frozenset()
) -> list[str]:
    """The segment dirs a QUERY may read: the SERVED part of
    segment_timeline, with ``exclude`` as the unused basenames."""
    return [
        s.dir for s in segment_timeline(root, exclude) if s.state == SERVED
    ]


def load_plan_meta(root: str, seg_dirs: list[str]) -> dict[str, dict]:
    """Per-segment planning metadata, amortized to ONE file read.

    Every planning decision (interval pruning, metric min/max pruning,
    row windows, ordered-limit prefixes) needs only (interval, row
    count, column min/max) per segment — but reading them from the
    segments means O(N) directory opens in the driver per query, the
    broker-without-a-metadata-store anti-pattern (Druid brokers plan
    from the coordinator's segment metadata, never by opening segments;
    at 100k segments per 100 TB datasource the difference is the whole
    planning budget). So the first planning that needs metadata writes
    ``root/_planmeta.json`` and every later planning reads that single
    file, re-opening ONLY segments whose identity (meta.smoosh size +
    mtime_ns — every rewrite rewrites meta.smoosh) changed, with the
    refresh rewritten atomically. Read-only roots degrade gracefully:
    the cache write is best-effort, correctness never depends on it.

    ``seg_dirs`` must be the root's WHOLE discovery list
    (``find_segment_dirs(root)``), never a subset: the manifest is
    rewritten to exactly these entries, so planning over a subset would
    drop the others' entries and every later whole-root planning would
    re-open those segments. Callers filter the result (segment_timeline
    does this for served/overshadowed/unused).

    Returns {segment_dir -> {"start", "end", "rows", "size", "stats",
    "cols"}} where size is the segment dir's on-disk bytes, stats is
    {col -> {"min", "max"}} (segment-level only — block zone maps stay
    in the segment, they are read-time state) and cols is the
    segment's ordered [[name, arrow-type-key], ...] — the union-schema
    merge (DruidSegmentDataSource.schema) plans from this too, so
    relation CREATION stops being O(N) segment opens at catalog scale.
    Every field of an entry is rebuilt together when the meta.smoosh
    identity changes, so a same-named rewrite (e.g. compaction reusing
    a bucket's name) never serves a stale size (manifest v3; older
    caches refresh once)."""
    import json as _json

    cache_path = os.path.join(root, PLANMETA_NAME)
    cached: dict = {}
    try:
        with open(cache_path) as f:
            raw = _json.load(f)
        if isinstance(raw, dict) and raw.get("v") == 3:
            cached = raw.get("segments", {})
    except (OSError, ValueError):
        pass
    if not isinstance(cached, dict):
        cached = {}

    out: dict[str, dict] = {}
    fresh: dict[str, dict] = {}
    dirty = False
    for seg_dir in seg_dirs:
        name = os.path.basename(seg_dir)
        ident = segment_identity(seg_dir)
        entry = cached.get(name)
        # a cache of facts the segment holds: an entry that is not a
        # complete v3 record is stale, and the segment is re-opened
        if (
            not isinstance(entry, dict)
            or not _PLANMETA_FIELDS <= entry.keys()
            or ident is None
            or entry["id"] != ident
        ):
            seg = DruidSegment(seg_dir)
            try:
                entry = {
                    "id": ident,
                    "start": seg.metadata.interval_start_ms,
                    "end": seg.metadata.interval_end_ms,
                    "rows": seg.num_rows_meta(),
                    "size": sum(
                        os.path.getsize(os.path.join(base, fn))
                        for base, _, files in os.walk(seg_dir)
                        for fn in files
                        # a root that IS one segment dir keeps its
                        # manifest there; it is not segment bytes
                        if fn != PLANMETA_NAME
                    ),
                    "stats": {
                        c: {"min": s["min"], "max": s["max"]}
                        for c, s in seg.column_stats().items()
                        if "min" in s and "max" in s
                    },
                    "cols": [
                        [c, str(seg.schema.field(c).type)]
                        for c in seg.metadata.columns
                    ],
                }
            finally:
                seg.close()
            dirty = True
        out[seg_dir] = entry
        fresh[name] = entry
    if dirty or set(fresh) != set(cached):
        tmp = f"{cache_path}.tmp.{os.getpid()}"
        try:
            with open(tmp, "w") as f:
                _json.dump({"v": 3, "segments": fresh}, f)
            os.replace(tmp, cache_path)
        except OSError:  # read-only root: plan without the cache
            try:
                os.unlink(tmp)
            except OSError:
                pass
    return out


def plan_ordered_limit_prefix(
    infos: list[tuple], k: int, desc: bool
) -> list[tuple]:
    """Minimal interval-ordered segment prefix covering ``k`` rows,
    plus stragglers. ``infos`` are ``(start, end, countable_rows,
    seg_dir)`` tuples — ``countable_rows`` may be 0 for segments that
    must ride along without counting toward ``k`` (e.g. partial
    interval overlap, see _ordered_limit_partitions). Shared by the
    DataSource planner and the no-Spark scan CLI so the two cannot
    disagree on which segments a top-k scan reads.

    Correctness: every excluded segment's interval starts at/after the
    taken span's end (ends at/before its start, descending), so each of
    its rows is strictly later (earlier) than ALL counted rows of the
    taken prefix — which already number >= k. Same-interval shards /
    overlapping versions behind the prefix can still hold top-k rows,
    so any remaining segment overlapping the taken span rides along."""
    if k <= 0:
        raise ValueError("order_limit must be a positive row count")
    if desc:
        infos = sorted(infos, key=lambda t: (-t[1], -t[0], t[3]))
    else:
        infos = sorted(infos, key=lambda t: (t[0], t[1], t[3]))
    taken: list = []
    cum = 0
    i = 0
    while i < len(infos) and cum < k:
        taken.append(infos[i])
        cum += infos[i][2]
        i += 1
    if desc:
        span_start = min((t[0] for t in taken), default=0)
        taken += [t for t in infos[i:] if t[1] > span_start]
    else:
        span_end = max((t[1] for t in taken), default=0)
        taken += [t for t in infos[i:] if t[0] < span_end]
    return taken


@dataclass
class SegmentPartition:
    """One unit of scan work: a served segment, or one row window of
    it, with the filters its read applies: the dimension filters, each
    one dictionary-id selection answered by a bitmap union, and the
    numeric zone-map windows. ScanTask packs units into Spark
    partitions."""

    segment_dir: str
    # sentinel: open the segment for its schema only, emit zero rows
    # (Spark's Python DataSource calls read(None) if partitions() is
    # empty, so full pruning still needs one no-op partition)
    empty: bool = False
    # dimension filters the roaring index answers at read time:
    # (col, spec) pairs, spec a DruidSegment.bitmap_rows_for_filter
    # spec — each picks dictionary ids, whose row bitmaps union
    dim_filters: tuple = ()
    # numeric windows answered by per-block zone maps at read time:
    # (col, lo, hi) tuples — candidate-block row sets are SUPERSETS of
    # the matching rows (Spark re-applies the predicate)
    num_filters: tuple = ()
    # [start, stop) row window when the planner cut a big segment into
    # several units (DruidSegmentReader.partitions); None = the whole
    # segment
    row_range: tuple | None = None


@dataclass
class ScanTask(InputPartition):
    """One Spark partition: the units one Python task reads, in planned
    order, one Arrow batch each."""

    units: tuple[SegmentPartition, ...]


# Smallest row window the planner cuts a segment into. Measured on a
# 4-core host (single-segment rollup over 4 columns, noop sink, 6
# interleaved process pairs, medians): one window per core lost at 125k
# rows (0.99 -> 1.07 s) and 3 windows of 83k rows still lost at 250k
# (1.05 -> 1.10 s), while 4 windows won at 1M rows (1.29 -> 1.18 s) and
# 4M rows (2.30 -> 1.64 s). So no window is smaller than 131,072 rows
# and only a segment of 2 * MIN_WINDOW_ROWS rows or more is ever cut.
# Re-measured once drop_spark_zip_finders made task start-up cheap
# (bench_scale.py's segment_scan_rollup, 6 interleaved pairs): 1 << 16
# cut one more window and was faster in only 4/6 pairs at 250k rows
# (0.314 -> 0.321 s) and 1/6 at 500k rows (0.354 -> 0.341 s), so the
# constant stays.
MIN_WINDOW_ROWS = 1 << 17


def usable_cores() -> int:
    """Cores this process may run on — in local mode the planning
    worker inherits the executor's affinity, so this is the core count
    a scan can keep busy."""
    return len(os.sched_getaffinity(0))


def pack_units(weights: list[int], n_tasks: int) -> list[list[int]]:
    """Group unit indices into at most ``n_tasks`` groups balanced by
    ``weights`` (rows): largest unit first, each to the least-loaded
    group (LPT; ties go to the group with fewer units, so zero-weight
    units still spread). Indices keep their planned order within a
    group. With no more units than groups every unit is its own group.

    Packing exists because each Spark Python task pays a fixed worker
    start-up that still outweighs reading a small segment, even with
    drop_spark_zip_finders keeping it small (a pass-through stage of
    83 one-row tasks takes ~1.2 s on 4 cores, of 4 tasks ~0.1 s); one
    task per core still keeps every core busy. Shared by the scan planner (one ScanTask per
    group) and search_dimension."""
    if len(weights) <= n_tasks:
        return [[i] for i in range(len(weights))]
    heap = [(0, 0, b) for b in range(n_tasks)]
    members: list[list[int]] = [[] for _ in range(n_tasks)]
    for i in sorted(range(len(weights)), key=lambda i: -weights[i]):
        load, count, b = heapq.heappop(heap)
        members[b].append(i)
        heapq.heappush(heap, (load + weights[i], count + 1, b))
    return [sorted(m) for m in sorted(members, key=min)]


def _intersect_rows(rows, r: np.ndarray):
    """Narrow the row selection ``rows`` (None = every row, a ``range``
    row window, or sorted row ids) by the sorted row-id set ``r``."""
    if rows is None:
        return r
    if isinstance(rows, range):
        return r[(r >= rows.start) & (r < rows.stop)]
    return np.intersect1d(rows, r)


class DruidSegmentDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "druidsegment"

    def schema(self) -> StructType:
        path = self.options.get("path")
        if not path:
            raise ValueError("druidsegment requires .option('path', ...) or load(path)")
        # Union schema over ALL segments (segments are self-describing
        # and a long-lived datasource accretes columns over time — real
        # Druid's broker merges exactly like this): first-seen column
        # order, identical types required, columns absent from an older
        # segment surface as NULLs there. r12: served from the planning
        # manifest (one _planmeta.json read on a warm root) instead of
        # O(N) segment opens — real Druid brokers likewise take schema
        # from the coordinator's segment metadata, never by opening
        # segments; at 100k segments this is the whole relation-
        # creation budget (bench_scale.py plan).
        merged: dict[str, str] = {}
        seg_dirs = find_segment_dirs(path)
        metas = load_plan_meta(path, seg_dirs)
        for seg_dir in seg_dirs:
            for name, key in metas[seg_dir]["cols"]:
                if name in merged and merged[name] != key:
                    raise ValueError(
                        f"Conflicting types for column {name!r}: "
                        f"{merged[name]} vs {key} ({seg_dir})"
                    )
                merged.setdefault(name, key)
        cols = _projected(self.options, list(merged))
        return StructType(
            [StructField(name, _COLUMN_TYPES[merged[name]][0], True) for name in cols]
        )

    def reader(self, schema: StructType) -> "DruidSegmentReader":
        return DruidSegmentReader(schema, self.options)


def _projected(options, all_columns: list[str]) -> list[str]:
    raw = options.get("columns")
    if not raw:
        return list(all_columns)
    cols = [c.strip() for c in raw.split(",") if c.strip()]
    unknown = [c for c in cols if c not in all_columns]
    if unknown:
        raise ValueError(f"Unknown columns {unknown}; segment has {all_columns}")
    return cols


class DruidSegmentReader(DataSourceReader):
    def __init__(self, schema: StructType, options):
        self.path = options.get("path")
        self.columns = [f.name for f in schema.fields]
        # the Arrow type each output column is emitted as; the type
        # table's Spark types hash, so it inverts into this lookup
        arrow_of = dict(_COLUMN_TYPES.values())
        self.arrow_types = [arrow_of[f.dataType] for f in schema.fields]
        # Option-driven pruning (cache-safe: options are relation
        # identity). Pruning is acceleration only — callers keep their
        # df.filter(), which Spark applies on top.
        self.opt_lower_ms = (
            int(options.get("time_lower_ms")) if options.get("time_lower_ms") else None
        )
        self.opt_upper_ms = (
            int(options.get("time_upper_ms")) if options.get("time_upper_ms") else None
        )
        import json as _json

        # dimension filters, conjunctive across options and columns:
        # each {col: value} entry of a dim_* option becomes one (col,
        # spec) pair, answered by the segment's index at read time
        self.dim_filters: tuple[tuple[str, tuple], ...] = tuple(
            (c, spec(v))
            for opt, spec in _DIM_FILTER_OPTIONS.items()
            for c, v in _json.loads(options.get(opt) or "{}").items()
        )
        # numeric range pruning: col -> [lo, hi] inclusive (null = open
        # bound). Segments whose persisted column_stats range excludes
        # the window are skipped at planning; acceleration-only like
        # dim_eq (callers keep their df.filter on top, and loose bounds
        # for strict predicates are sound).
        raw_num = (
            _json.loads(options.get("num_range")) if options.get("num_range") else {}
        )
        self.opt_num: dict[str, tuple] = {
            c: (b[0], b[1]) for c, b in raw_num.items()
        }
        # retention: segment-dir basenames this relation must NOT serve
        # (coordinator drop rules / markUnused — retention.py). Planning
        # drops them before any metadata read; unlike the acceleration
        # options above this is a SEMANTIC filter (the rows genuinely
        # disappear), which is exactly Druid's unused-segment behavior.
        self.opt_exclude: frozenset[str] = (
            frozenset(_json.loads(options.get("exclude_segments")))
            if options.get("exclude_segments")
            else frozenset()
        )
        # time-ordered limit (Druid Scan "order": asc/desc + "limit"):
        # plan only the earliest (latest) segments whose HEADER row
        # counts cover k rows, plus any interval-overlapping stragglers
        # (same-interval shards/versions). A provable top-k superset —
        # excluded segments start at/after the taken span's end, so
        # every one of their rows sorts strictly after k already-taken
        # rows; Spark's own orderBy+limit on top does the exact cut.
        # Engages only when no other filter option is set (a
        # row-dropping filter would invalidate the header-count cover).
        self.opt_order_limit = (
            int(options.get("order_limit")) if options.get("order_limit") else None
        )
        if self.opt_order_limit is not None and self.opt_order_limit <= 0:
            raise ValueError("order_limit must be a positive row count")
        self.opt_order_desc = (
            str(options.get("order_desc", "false")).lower() == "true"
        )

    def partitions(self) -> list[ScanTask]:
        """Plan one unit per served segment with its filters, cut big
        segments into row windows, then pack the units into at most one
        ScanTask per usable core, balanced by rows (pack_units).

        A pure function of the root's planning manifest, the options
        and usable_cores(): no segment is opened on a warm manifest.
        Dimension filters travel with the units and are answered by
        each segment's index in read().

        Windows: with ``cap = max(planned rows // cores,
        MIN_WINDOW_ROWS)``, a unit of ``rows`` rows becomes
        ``rows // cap`` equal [start, stop) windows when that is at
        least 2, so no window holds fewer than ``cap`` rows and a
        segment under ``2 * cap`` rows stays whole. The floor gives a
        lone segment of ``cores * MIN_WINDOW_ROWS`` rows or more exactly
        one window per core (a ceiling would leave a core idle whenever
        the rows do not divide)."""
        lower, upper = self.opt_lower_ms, self.opt_upper_ms
        num = self.opt_num
        # planning metadata (interval / row count / column min-max)
        # comes from the root's timeline — one manifest read instead of
        # one segment open per dir. Only SERVED segments get units, so
        # a retention-unused (exclude_segments) or version-overshadowed
        # segment can never contribute rows through any planning path.
        timeline = segment_timeline(self.path, self.opt_exclude)
        metas = {s.dir: s.meta for s in timeline}
        dirs = [s.dir for s in timeline if s.state == SERVED]
        if self.opt_order_limit is not None and not self.dim_filters and not num:
            units = self._ordered_limit_partitions(dirs, metas, lower, upper)
        else:
            units = self._filtered_partitions(dirs, metas, lower, upper, num)
        if not units:
            return [
                ScanTask((SegmentPartition(timeline[0].dir, empty=True),))
            ]
        cores = usable_cores()
        rows = [metas[u.segment_dir]["rows"] for u in units]
        cap = max(sum(rows) // cores, MIN_WINDOW_ROWS)
        windows: list[SegmentPartition] = []
        weights: list[int] = []
        for unit, n in zip(units, rows):
            k = n // cap
            if k < 2:
                windows.append(unit)
                weights.append(n)
                continue
            cuts = [n * i // k for i in range(k + 1)]
            for start, stop in zip(cuts, cuts[1:]):
                windows.append(
                    dataclasses.replace(unit, row_range=(start, stop))
                )
                weights.append(stop - start)
        return [
            ScanTask(tuple(windows[i] for i in group))
            for group in pack_units(weights, cores)
        ]

    def _ordered_limit_partitions(
        self, dirs: list[str], metas: dict, lower=None, upper=None
    ) -> list[SegmentPartition]:
        """Minimal interval-ordered segment prefix covering
        ``order_limit`` rows (metadata-plane only, served from the
        root's planning manifest; prefix + straggler rule and its
        correctness argument: plan_ordered_limit_prefix).

        Composes with a __time interval (Druid's recency query: latest
        k in the last day): out-of-interval segments drop first, and
        only FULLY-contained segments count toward k — a partially
        overlapping segment contributes an unknown in-interval row
        count, so it rides along without counting. Spark still
        re-applies the time filter row-level; surviving units carry
        the interval as a __time zone-map hint exactly like the
        filtered path."""
        k = self.opt_order_limit
        infos = []
        for seg_dir in dirs:
            m = metas[seg_dir]
            start, end, rows = m["start"], m["end"], m["rows"]
            if not rows:
                continue
            # interval is [start, end); bounds are inclusive [lower, upper]
            if upper is not None and start > upper:
                continue
            if lower is not None and end <= lower:
                continue
            contained = (lower is None or start >= lower) and (
                upper is None or end - 1 <= upper
            )
            infos.append((start, end, rows if contained else 0, seg_dir))
        taken = plan_ordered_limit_prefix(infos, k, self.opt_order_desc)
        time_hint = (
            ((TIME_COLUMN, lower, upper),)
            if (lower is not None or upper is not None)
            else ()
        )
        return [
            SegmentPartition(t[3], num_filters=time_hint) for t in taken
        ]

    def _filtered_partitions(
        self,
        dirs: list[str],
        metas: dict,
        lower,
        upper,
        num: dict,
    ) -> list[SegmentPartition]:
        """One unit per served segment that survives the manifest-served
        interval and numeric min/max checks, carrying every filter for
        read() to answer from the segment's index and zone maps."""
        filters = dict(
            dim_filters=self.dim_filters,
            num_filters=tuple((c, lo, hi) for c, (lo, hi) in num.items())
            + (
                # __time zone maps: the interval that prunes whole
                # segments below also skips blocks WITHIN the survivors
                # ([lower, upper] loose bounds — superset rows, Spark
                # re-applies the filter)
                ((TIME_COLUMN, lower, upper),)
                if (lower is not None or upper is not None)
                else ()
            ),
        )
        parts: list[SegmentPartition] = []
        for seg_dir in dirs:
            if lower is not None or upper is not None or num:
                meta = metas[seg_dir]
                start, end = meta["start"], meta["end"]
                stats = meta["stats"] if num else {}
                # interval is [start, end); keep on any overlap with bounds
                if upper is not None and start > upper:
                    continue
                if lower is not None and end <= lower:
                    continue
                # numeric metric pruning: persisted min/max vs the
                # requested [lo, hi]; columns without stats never prune
                if any(
                    (lo is not None and c in stats and stats[c]["max"] < lo)
                    or (hi is not None and c in stats and stats[c]["min"] > hi)
                    for c, (lo, hi) in num.items()
                ):
                    continue
            parts.append(SegmentPartition(seg_dir, **filters))
        return parts

    def read(self, partition: ScanTask):
        """One Arrow batch per unit, in planned order. Each unit opens
        and closes its own segment, and its arrays are dropped before
        the next unit decodes, so a task's memory stays bounded by one
        segment (or window) however many units it packs.

        The dimension filters are answered here, from the segment's
        index: a unit they prove empty yields one empty typed batch
        without decoding any value column."""
        try:
            for unit in partition.units:
                yield from self._read_unit(unit)
        finally:
            drop_spark_zip_finders()

    def _read_unit(self, partition: SegmentPartition):
        seg = DruidSegment(partition.segment_dir)
        try:
            # roaring-index row selection for dimension filters: the
            # index answers "which rows" from the dictionary + bitmaps
            # alone, BEFORE any value column decodes; conjunctive
            # filters intersect their row sets. None => the index cannot
            # answer => plain scan (Spark re-applies the filter either
            # way).
            rows = np.empty(0, np.uint32) if partition.empty else None
            if not partition.empty:
                if partition.row_range is not None:
                    # a row window: this unit owns [start, stop), decoded
                    # as a contiguous block run; index/zone-map
                    # selections intersect into it below
                    rows = range(*partition.row_range)
                for col, spec in partition.dim_filters:
                    if rows is not None and len(rows) == 0:
                        break
                    r = seg.bitmap_rows_for_filter(col, spec)
                    if r is None:
                        continue
                    rows = _intersect_rows(rows, r)
                # numeric zone maps: restrict to candidate blocks (a
                # superset of matching rows — the re-applied filter
                # finishes the job); composes with the bitmap row sets
                for col, lo, hi in partition.num_filters:
                    if rows is not None and len(rows) == 0:
                        break
                    r = seg.block_candidate_rows(col, lo, hi)
                    if r is None:
                        continue
                    rows = _intersect_rows(rows, r)
            if rows is not None and len(rows) == 0:
                # fully pruned — the empty sentinel partition, or a
                # bitmap intersection that proved zero matches: an empty
                # typed batch WITHOUT decoding any value column (a
                # take() on a decoded batch would pay the whole
                # segment's decompression for a zero-row answer)
                decoded, n_rows = {}, 0
            else:
                # schema evolution: columns this (older) segment lacks
                # surface as NULLs — decode only what exists. A bitmap
                # row set pushes INTO the decode: only the compressed
                # blocks holding selected rows decompress
                # (read_batch(rows=...)), so an index that keeps 0.1% of
                # rows skips ~99.9% of the segment's block decompression
                # instead of decoding everything and take()-ing
                # afterwards.
                present = [c for c in self.columns if c in seg.metadata.columns]
                batch = seg.read_batch(present or [TIME_COLUMN], rows=rows)
                decoded = dict(zip(batch.schema.names, batch.columns))
                n_rows = batch.num_rows
            yield pa.RecordBatch.from_arrays(
                [
                    decoded[c].cast(t) if c in decoded else pa.nulls(n_rows, t)
                    for c, t in zip(self.columns, self.arrow_types)
                ],
                names=self.columns,
            )
        finally:
            seg.close()

