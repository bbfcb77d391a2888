"""Druid v9 segment open/read/write at the pyarrow level.

Read side mirrors the reference's DruidSegment (src/segment/mod.rs:37-109):
version check -> smoosh mmap -> index.drd parse -> per-column JSON header
walk -> Arrow schema with every field nullable; `__time` always surfaces
as a timestamp regardless of its descriptor (mod.rs:118-121).
``read_column`` returns a single-value string column dictionary-encoded
(the stored dictionary plus an id vector, no per-row string copy, where
string.rs:116-125 copies every string); ``read_batch`` returns the
schema's plain types, so there its string columns are ``string``.

Write side (no reference counterpart — its fixture is pre-built by Druid
itself): encodes a pyarrow Table into a spec-exact segment directory so
the read side can be round-trip tested, and so multi-segment layouts can
be produced for partitioned scans.

Types: ``_VALUE_TYPES`` is the one place a Druid ``valueType`` maps to
its Arrow type, the Arrow input types the writer stores as it, its
``druid_format`` reader and writer, its values per compressed block
(shared by the codec and the zone maps) and its descriptor part. The
schema, ``read_column`` and ``write_segment`` all read that row.
"""

from __future__ import annotations

import json
import os
from typing import Callable, NamedTuple

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from . import druid_format as fmt

TIME_COLUMN = "__time"


class _ValueType(NamedTuple):
    """How one Druid ``valueType`` is read, written and typed."""

    arrow: pa.DataType  # the schema type (read_column keeps STRING dictionary-encoded)
    inputs: tuple  # the Arrow input types write_segment stores as this type
    dtype: type | None  # stored numpy dtype; None for non-numeric layouts
    read: Callable  # druid_format reader: (data, payload, rows=) -> values
    write: Callable  # druid_format writer of the single-value layout
    size_per: int  # values per compressed block, shared with the zone maps
    part: str  # the column descriptor's ``parts`` type


# The reference's schema mapping (src/segment/mod.rs:119-127), plus each
# type's codec. ``__time`` is a LONG column that surfaces as
# timestamp[ms]; a STRING column with ``hasMultipleValues`` surfaces as
# list<string>.
_VALUE_TYPES = {
    "STRING": _ValueType(
        pa.string(), (pa.string(), pa.large_string()), None,
        fmt.read_string_column, fmt.write_string_column_v2, 0, "stringDictionary",
    ),
    "LONG": _ValueType(
        pa.int64(), (pa.int64(), pa.int32()), np.int64,
        fmt.read_compressed_longs, fmt.write_compressed_longs, 0x2000, "longV2",
    ),
    "FLOAT": _ValueType(
        pa.float32(), (pa.float32(),), np.float32,
        fmt.read_compressed_floats, fmt.write_compressed_floats, 0x4000, "floatV2",
    ),
    "DOUBLE": _ValueType(
        pa.float64(), (pa.float64(),), np.float64,
        fmt.read_compressed_doubles, fmt.write_compressed_doubles, 0x2000, "doubleV2",
    ),
    "COMPLEX": _ValueType(
        pa.binary(), (pa.binary(), pa.large_binary()), None,
        fmt.read_complex_column, fmt.write_complex_column, 0, "complexColumn",
    ),
}
_VALUE_TYPE_OF_INPUT = {
    t: vt for vt, row in _VALUE_TYPES.items() for t in row.inputs
}


def _value_type(name: str, vt: str) -> _ValueType:
    if vt not in _VALUE_TYPES:
        raise fmt.DruidFormatError(f"Unknown valueType {vt!r} for {name}")
    return _VALUE_TYPES[vt]


# Arrow compute kernel (function name, options) of each filter kind
# DruidSegment._filter_ids answers with one pass over the dictionary
_KERNELS = {
    "in": ("is_in", {"skip_nulls": False}),
    "regex": ("match_substring_regex", {}),
    "contains": ("match_substring", {}),
    "icontains": ("match_substring", {"ignore_case": True}),
    "endswith": ("ends_with", {}),
    "like": ("match_like", {}),
}


class DruidSegment:
    """An opened Druid v9 segment directory (read-only, immutable)."""

    def __init__(self, path: str):
        self.path = path
        with open(os.path.join(path, "version.bin"), "rb") as f:
            fmt.read_version(f.read())
        self.smoosh = fmt.SmooshReader(path)
        self.metadata = fmt.SegmentMetadata.from_bytes(
            self.smoosh.map_file("index.drd")
        )
        self._descriptors: dict[str, dict] = {}
        self._column_stats: dict | None = None
        self._dict_arrays: dict[str, pa.Array] = {}
        self._string_indexes: dict[str, tuple | None] = {}
        fields = []
        for name in self.metadata.columns:
            desc, _ = fmt.parse_column_header(self.smoosh.map_file(name))
            self._descriptors[name] = desc
            fields.append(pa.field(name, self._arrow_type(name, desc), nullable=True))
        self.schema = pa.schema(fields)

    @staticmethod
    def _arrow_type(name: str, desc: dict) -> pa.DataType:
        if name == TIME_COLUMN:
            return pa.timestamp("ms")
        vt = desc["valueType"].upper()
        if vt == "STRING" and desc.get("hasMultipleValues"):
            # multi-value dimension => array<string> (SURVEY §1.3 mapping)
            return pa.list_(pa.string())
        return _value_type(name, vt).arrow

    def num_rows(self) -> int:
        """COUNT(*) == length of __time (src/segment/mod.rs:103-109)."""
        return len(self.read_column(TIME_COLUMN))

    def num_rows_meta(self) -> int:
        """Row count from the __time column HEADER alone — planning
        cost (no block decode); load_plan_meta records it as the
        manifest's ``rows``, which sizes row windows and pack weights."""
        data = self.smoosh.map_file(TIME_COLUMN)
        _, payload = fmt.parse_column_header(data)
        return fmt.compressed_num_elements(data, payload)

    def read_column(
        self, name: str, rows: np.ndarray | range | None = None
    ) -> pa.Array:
        """Decode one column; ``rows`` (sorted ascending row ids, e.g.
        from the inverted index) switches every fixed-width layout to
        SLICED decode — only the compressed blocks holding selected
        rows decompress, so an index-selected read costs O(selected
        blocks), not O(segment). A ``range`` is a contiguous row window:
        the blocks covering it decompress and are sliced, with no
        per-row index. Multi-value strings are the one variable-width
        layout: their offsets+flat-ids decode fully and the row set
        applies as a take (a window as a slice) afterwards."""
        data = self.smoosh.map_file(name)
        desc, payload = fmt.parse_column_header(data)
        vt = desc["valueType"].upper()
        if vt == "STRING" and desc.get("hasMultipleValues"):
            dictionary, offsets, ids = fmt.read_string_multi_column(data, payload)
            values = pa.DictionaryArray.from_arrays(
                pa.array(ids.astype(np.int32)), dictionary
            ).cast(pa.string())
            all_offsets = np.concatenate([[0], offsets]).astype(np.int32)
            arr = pa.ListArray.from_arrays(pa.array(all_offsets), values)
            if isinstance(rows, range):
                arr = arr.slice(rows.start, len(rows))
            elif rows is not None:
                arr = arr.take(pa.array(np.asarray(rows, np.int64)))
            return arr
        values = _value_type(name, vt).read(data, payload, rows=rows)
        if vt == "STRING":
            dictionary, ids = values
            return pa.DictionaryArray.from_arrays(
                pa.array(ids.astype(np.int32)), dictionary
            )
        # numbers, and COMPLEX blobs: the reference errors on COMPLEX
        # (src/column/mod.rs:59-61); we return the opaque blobs (HLL
        # sketches etc.) for query-time merge via Spark's Datasketches
        # functions
        return pa.array(values, type=self._arrow_type(name, desc))

    # Filters selecting more dictionary ids than this fall back to a
    # scan: unioning thousands of bitmap blobs costs more than decoding
    # the column, and Spark re-applies the predicate anyway
    # (acceleration-only).
    BOUND_MAX_IDS = 4096

    def bitmap_rows_for_filter(self, name: str, spec: tuple) -> np.ndarray | None:
        """Row ids of dimension ``name`` that the filter ``spec``
        selects, answered from the roaring inverted index WITHOUT
        decoding the value column — Druid's one filter model: pick
        dictionary ids (_filter_ids), then union their row bitmaps.
        ``spec`` is ``("in", values)``, ``("bound", lower, upper,
        lower_strict, upper_strict)`` (lexicographic; None = open) or a
        ``(kind, arg)`` predicate, kind one of regex / contains /
        icontains / endswith / like.

        None when the column has no index, the spec cannot use it (a
        bound over an unsorted dictionary) or it selects more than
        BOUND_MAX_IDS ids: the caller scans instead. An empty array
        when no value matches — which lets the scan emit an empty batch
        without decoding any value column. On multi-value dimensions
        the same index gives Druid's MVD semantics: a row matches when
        ANY of its values matches."""
        ids = self._filter_ids(name, spec)
        if ids is None or len(ids) > self.BOUND_MAX_IDS:
            return None
        _, bm = self._string_index(name)
        blobs = [fmt.read_string_bitmap_blob(bm, int(i)) for i in ids]
        if len(blobs) == 1:
            return blobs[0]  # one blob is already sorted and distinct
        return np.unique(np.concatenate([np.empty(0, np.uint32), *blobs]))

    def bitmap_rows_for_any(self, name: str, values) -> np.ndarray | None:
        """Row ids where dimension ``name`` equals ANY of ``values``:
        the ``("in", values)`` case of bitmap_rows_for_filter. An empty
        ``values`` (a contradictory conjunction upstream) matches no
        rows."""
        return self.bitmap_rows_for_filter(name, ("in", tuple(values)))

    def _filter_ids(self, name: str, spec: tuple) -> np.ndarray | None:
        """Sorted distinct dictionary ids of ``name`` that ``spec``
        selects. A sorted dictionary (Druid's sorted/allowReverseLookup
        flag: null at slot 0, then UTF-8 order — identical to Python
        str order) answers ``in`` and ``bound`` by bisection, reading
        only the probed values: equality is the inclusive bound
        ``[v, v]`` and None is slot 0. Predicates, and ``in`` on an
        unsorted dictionary, take ONE Arrow kernel pass over the
        bulk-decoded dictionary — O(cardinality), never O(rows); the
        per-value Python form was slower than a row scan at 100k
        values. NULL never matches a predicate or a bound. Kernel
        semantics: regex is RE2, like follows SQL %/_/backslash,
        icontains is Unicode-aware case folding; all agree with the
        residual Spark filter on the portable subset the option
        contract documents. None when the column has no index, for a
        bound over an unsorted dictionary (no reverse lookup), or when
        a value is neither a string nor None: a JSON number cannot be
        ordered against the dictionary, and casting it to a string
        would miss what Spark's ``col == 5`` matches (``"05"``)."""
        kind = spec[0]
        values = spec[1] if kind == "in" else spec[1:3]
        if any(v is not None and not isinstance(v, str) for v in values):
            return None
        idx = self._string_index(name)
        if idx is None:
            return None
        gi, _ = idx
        n = len(gi)
        if n == 0:
            return np.empty(0, np.int64)
        if kind in ("in", "bound") and gi.flags & 0x01:
            first = 1 if gi.get_str(0) is None else 0

            def bisect(value: str, past_equal: bool) -> int:
                # first id in [first, n) whose value is > value
                # (past_equal) or >= value
                lo, hi = first, n
                while lo < hi:
                    mid = (lo + hi) // 2
                    s = gi.get_str(mid)
                    if s < value or (past_equal and s == value):
                        lo = mid + 1
                    else:
                        hi = mid
                return lo

            def window(lower, upper, lower_strict, upper_strict) -> np.ndarray:
                lo = first if lower is None else bisect(lower, lower_strict)
                hi = n if upper is None else bisect(upper, not upper_strict)
                return np.arange(lo, max(lo, hi))

            if kind == "bound":
                return window(*spec[1:])
            return np.unique(np.concatenate([np.empty(0, np.int64)] + [
                np.arange(first) if v is None else window(v, v, False, False)
                for v in spec[1]
            ]))
        if kind == "bound":
            return None
        if kind not in _KERNELS:
            raise ValueError(f"unknown dimension filter kind {kind!r}")
        fn, kwargs = _KERNELS[kind]
        arg = pa.array(spec[1], pa.string()) if kind == "in" else spec[1]
        mask = getattr(pc, fn)(self._dict_array(name, gi), arg, **kwargs)
        return np.flatnonzero(pc.fill_null(mask, False).to_numpy(zero_copy_only=False))

    def _string_index(self, name: str):
        """(GenericIndexed dictionary, bitmap-index section) for a
        STRING column that carries an inverted index — None otherwise.
        The shared entry point of every dictionary-side path; memoized
        per instance (a Search query or multi-filter read would
        otherwise re-parse the same column header and re-walk its
        section sizes once per filter)."""
        if name in self._string_indexes:
            return self._string_indexes[name]
        out = None
        if (
            name in self.metadata.columns
            and self._descriptors[name]["valueType"].upper() == "STRING"
        ):
            data = self.smoosh.map_file(name)
            _, payload = fmt.parse_column_header(data)
            bm = fmt.locate_string_bitmap_index(data, payload)
            if bm is not None:
                out = (fmt.GenericIndexedV1(data, payload + 5), bm)
        self._string_indexes[name] = out
        return out

    def _dict_array(self, name: str, gi) -> pa.Array:
        """Cached bulk decode of ``name``'s value dictionary (one
        vectorized pass, see GenericIndexedV1.to_arrow_strings)."""
        arr = self._dict_arrays.get(name)
        if arr is None:
            arr = self._dict_arrays[name] = gi.to_arrow_strings()
        return arr

    def search_value_counts(self, name: str, spec: tuple) -> list | None:
        """Druid Search-query kernel, per segment: (matching value,
        row count) pairs answered ENTIRELY index-side — _filter_ids
        picks the ids of ``spec`` (a bitmap_rows_for_filter spec), each
        id's bitmap contributes its CARDINALITY; value chunks are never
        decoded, so cost is O(dictionary + matching bitmaps) regardless
        of row count. On multi-value dimensions the count is rows
        CONTAINING the value (Druid's search semantics). None when the
        column has no usable index."""
        ids = self._filter_ids(name, spec)
        if ids is None:
            return None
        gi, bm = self._string_index(name)
        vals = self._dict_array(name, gi).take(pa.array(ids)).to_pylist()
        return [
            (v, int(len(fmt.read_string_bitmap_blob(bm, int(i)))))
            for v, i in zip(vals, ids)
        ]

    def read_batch(
        self,
        columns: list[str] | None = None,
        rows: np.ndarray | range | None = None,
    ) -> pa.RecordBatch:
        """Projected decode — only named columns touch IO
        (the reference's sole optimization, table_provider.rs:63,70).
        ``rows`` additionally slices the decode to the selected row ids
        (see read_column) — projection prunes columns, the row set
        prunes blocks within them."""
        names = list(columns) if columns is not None else list(self.metadata.columns)
        if not names:
            raise fmt.DruidFormatError("read_batch requires at least one column")
        arrays = [self.read_column(n, rows=rows) for n in names]
        return pa.RecordBatch.from_arrays(
            arrays, schema=pa.schema([self.schema.field(n) for n in names])
        )

    def info(self) -> dict:
        """CLI `info` analog (src/main.rs:97-126)."""
        return {
            "path": self.path,
            "columns": list(self.metadata.columns),
            "dimensions": list(self.metadata.dimensions),
            "interval_start_ms": self.metadata.interval_start_ms,
            "interval_end_ms": self.metadata.interval_end_ms,
            "num_rows": self.num_rows(),
            "schema": {f.name: str(f.type) for f in self.schema},
        }

    def column_stats(self) -> dict:
        """Per-column stats of stored numeric values from metadata.drd's
        container (written by write_segment): segment-level {"min",
        "max"} plus block-granular zone maps {"blockSize", "blockMins",
        "blockMaxs", "rows"}. Metadata-plane only: reads the smoosh
        entry's bytes, never a value column. {} for segments without
        stats (e.g. reference snapshots), so callers degrade to no
        pruning."""
        if self._column_stats is None:
            self._column_stats = {}
            if self.smoosh.has_file("metadata.drd"):
                try:
                    meta = json.loads(bytes(self.smoosh.map_file("metadata.drd")))
                    self._column_stats = (
                        (meta.get("container") or {}).get("columnStats") or {}
                    )
                except (ValueError, fmt.DruidFormatError):
                    pass
        return self._column_stats

    def block_candidate_rows(
        self, name: str, lo: float | None, hi: float | None
    ) -> np.ndarray | None:
        """Row ids of the compressed blocks whose zone map OVERLAPS
        [lo, hi] — a SUPERSET of the rows matching the predicate
        (callers re-apply it row-level), shaped for read_batch(rows=...)
        so non-candidate blocks never decompress. None when the column
        has no zone maps or when skipping wouldn't pay (more than half
        the blocks are candidates — materializing most row ids costs
        more than decoding straight through)."""
        st = self.column_stats().get(name)
        if not st or "blockMins" not in st:
            return None
        mins = np.asarray(st["blockMins"])
        maxs = np.asarray(st["blockMaxs"])
        sp, n = int(st["blockSize"]), int(st["rows"])
        keep = np.ones(len(mins), bool)
        if lo is not None:
            keep &= maxs >= lo
        if hi is not None:
            keep &= mins <= hi
        idx = np.flatnonzero(keep)
        if len(idx) > len(mins) // 2:
            return None
        if len(idx) == 0:
            return np.empty(0, np.uint32)
        return np.concatenate(
            [np.arange(b * sp, min((b + 1) * sp, n), dtype=np.int64) for b in idx]
        )

    def files(self) -> list[str]:
        """CLI `files` analog (src/main.rs:128-140)."""
        return self.smoosh.file_names()

    def close(self) -> None:
        # the memoized string indexes hold views over the mmaps being
        # closed (GenericIndexedV1 keeps the buffer; mmap.close refuses
        # while exported pointers exist) — drop them first
        self._string_indexes.clear()
        self.smoosh.close()


def _block_minmax(arr: np.ndarray, size_per: int) -> dict:
    """Per-block [min, max] zone maps for a numeric column — the
    block-granular analog of the segment-level min/max: a numeric
    predicate decodes only blocks whose range overlaps it (standard
    columnar zone-map technique, as in Parquet/ORC page stats; Druid
    itself stores none, so this is beyond-reference surface). Blocks
    are the codec's, so block ids line up with the physical blocks
    sliced decode skips to."""
    mins, maxs = [], []
    for i in range(0, len(arr), size_per):
        c = arr[i : i + size_per]
        mins.append(c.min().item())
        maxs.append(c.max().item())
    return {
        "blockSize": size_per,
        "blockMins": mins,
        "blockMaxs": maxs,
        "rows": len(arr),
    }


def write_segment(
    table: pa.Table,
    path: str,
    dimensions: list[str] | None = None,
    strategy: int = fmt.LZ4,
    max_chunk_size: int | str = fmt.MAX_CHUNK_SIZE,
) -> None:
    """Encode a pyarrow Table as a Druid v9 segment directory.

    Requires a `__time` timestamp column (every Druid segment has one,
    src/segment/mod.rs:103-109). Every other column stores as the
    _VALUE_TYPES row whose ``inputs`` hold its Arrow type: strings
    become dictionary-encoded string columns (dims by default), a list
    of strings a multi-value string column, int64/int32 LONG, float64
    DOUBLE, float32 FLOAT and binary COMPLEX.
    """
    if TIME_COLUMN not in table.column_names:
        raise fmt.DruidFormatError(f"segment requires a {TIME_COLUMN} column")

    # __time first, then dims/metrics in table order (Druid's layout)
    names = [TIME_COLUMN] + [c for c in table.column_names if c != TIME_COLUMN]
    logical: dict[str, bytes] = {}
    dims: list[str] = []
    # per-column min/max of the STORED values (post null->0 legacy fill)
    # for numeric columns — persisted in metadata.drd's container so a
    # planner can skip segments whose range excludes a predicate without
    # decoding any value column (the numeric analog of the __time
    # interval in index.drd). Omitted when NaN is present (NaN breaks
    # ordering) or the column is empty.
    col_stats: dict[str, dict[str, float | int]] = {}

    for name in names:
        chunked = table.column(name)
        col = chunked.combine_chunks() if chunked.num_chunks else pa.array([], chunked.type)
        if isinstance(col, pa.ChunkedArray):
            col = col.chunk(0)
        multi = (
            pa.types.is_list(col.type)
            and _VALUE_TYPE_OF_INPUT.get(col.type.value_type) == "STRING"
        )
        if name == TIME_COLUMN:
            if col.null_count:
                raise fmt.DruidFormatError(
                    "__time must not contain nulls (every Druid row has a "
                    "timestamp, src/segment/mod.rs:103-109)"
                )
            # safe=False: sub-millisecond precision truncates to Druid's
            # epoch-millis unit (src/column/time.rs:10-14)
            col = col.cast(pa.timestamp("ms"), safe=False)
            vt = "LONG"
        elif multi:
            vt = "STRING"
        elif col.type in _VALUE_TYPE_OF_INPUT:
            vt = _VALUE_TYPE_OF_INPUT[col.type]
        else:
            raise fmt.DruidFormatError(
                f"Unsupported arrow type {col.type} for column {name}"
            )
        row = _VALUE_TYPES[vt]
        desc = {"valueType": vt, "hasMultipleValues": multi,
                "parts": [{"type": row.part}]}
        if row.dtype is not None:
            # Druid v9 legacy numeric nulls read back as 0 — filled
            # Arrow-side, so int64 stays exact past 2^53 and genuine
            # NaN / +-Inf round-trip unchanged
            vals = pc.fill_null(col.cast(row.arrow), 0).to_numpy(zero_copy_only=False)
            payload = row.write(vals, size_per=row.size_per, strategy=strategy)
            if vals.size and not np.isnan(vals).any():
                # on __time, the zone maps let interval predicates skip
                # blocks WITHIN a surviving segment (segments are
                # usually time-ordered, so a narrow interval touches few
                # blocks)
                col_stats[name] = {
                    "min": vals.min().item(),
                    "max": vals.max().item(),
                    **_block_minmax(vals, row.size_per),
                }
            if name == TIME_COLUMN:
                time_ms = vals
        elif vt == "COMPLEX":
            # COMPLEX metric column (e.g. Datasketches HLL blobs)
            payload = row.write(col.to_pylist())
        else:
            desc["bitmapIndex"] = True
            if multi:
                # flatten values + row offsets. Null rows and empty rows
                # both encode as zero-length rows (Druid's MVD model has
                # no row-level null distinct from [])
                lengths = pc.list_value_length(col).to_numpy(zero_copy_only=False)
                lengths = np.nan_to_num(lengths.astype(np.float64)).astype(np.int64)
                row_ends = np.cumsum(lengths)  # null row => length 0
                flat = col.flatten()  # values of non-null rows, in row order
                dictionary, ids = _dictionary_encode(flat.cast(pa.string()))
                payload = fmt.write_string_multi_column(
                    dictionary, row_ends.astype(np.uint32), ids, strategy=strategy,
                    bitmap_index=True,
                )
            else:
                dictionary, ids = _dictionary_encode(col)
                payload = row.write(
                    dictionary, ids, strategy=strategy, bitmap_index=True
                )
            if dimensions is None or name in dimensions:
                dims.append(name)
        logical[name] = fmt.build_column(desc, payload)

    interval = (int(time_ms.min()), int(time_ms.max()) + 1) if len(time_ms) else (0, 0)

    meta = fmt.SegmentMetadata(
        columns=names, dimensions=[d for d in dims],
        interval_start_ms=interval[0], interval_end_ms=interval[1],
    )
    ordered: dict[str, bytes] = {"index.drd": meta.to_bytes()}
    ordered.update(logical)
    # metadata.drd: JSON blob asserted by the reference's integration test
    # (tests/wikipedia_segment_test.rs:99-110)
    ordered["metadata.drd"] = json.dumps(
        {
            "container": {"columnStats": col_stats},
            "aggregators": None,
            "timestampSpec": {"column": TIME_COLUMN, "format": "millis"},
            "queryGranularity": {"type": "none"},
            "rollup": False,
        },
        separators=(",", ":"),
    ).encode("utf-8")

    if max_chunk_size == "min":
        # smallest legal chunk size = the largest logical file; with >=2
        # files this always forces a multi-chunk layout (total > max),
        # at ANY data scale — used to exercise the chunk-boundary table
        max_chunk_size = max(len(d) for d in ordered.values())
    fmt.write_smoosh(path, ordered, max_chunk_size=max_chunk_size)
    with open(os.path.join(path, "version.bin"), "wb") as f:
        f.write(fmt.write_version())
    with open(os.path.join(path, "factory.json"), "w", encoding="utf-8") as f:
        f.write('{"type":"mMapSegmentFactory"}')


def _dictionary_encode(col: pa.Array) -> tuple[list[str | None], np.ndarray]:
    """Sorted dictionary (null first, Druid's order) + id vector."""
    enc = col.dictionary_encode()
    dict_vals = [v.as_py() for v in enc.dictionary]
    has_null = col.null_count > 0
    order = sorted(range(len(dict_vals)), key=lambda i: dict_vals[i])
    sorted_vals: list[str | None] = ([None] if has_null else []) + [
        dict_vals[i] for i in order
    ]
    remap = np.empty(len(dict_vals), dtype=np.uint32)
    base = 1 if has_null else 0
    for new_pos, old_pos in enumerate(order):
        remap[old_pos] = new_pos + base
    indices = enc.indices.to_numpy(zero_copy_only=False)
    if has_null:
        null_mask = enc.indices.is_null().to_numpy(zero_copy_only=False)
        ids = np.zeros(len(indices), dtype=np.uint32)  # id 0 == the null entry
        valid = ~null_mask
        ids[valid] = remap[indices[valid].astype(np.int64)]
    else:
        ids = remap[indices.astype(np.int64)].astype(np.uint32)
    return sorted_vals, ids
