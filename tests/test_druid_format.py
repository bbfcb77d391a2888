"""Unit tests for the Druid v9 binary codecs — build-then-parse round
trips, the reference's own unit-test style (reference
src/column/generic_indexed.rs:253-346, vsize_ints.rs:113-163,
version.rs:27-49), plus property-based coverage the reference lacks.

These are pure-Python (no Spark session), so they run in milliseconds.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from druid_datafusion_bridge_spark.sources import druid_format as fmt
from druid_datafusion_bridge_spark.sources.segment import DruidSegment, write_segment


# --- version.bin (version.rs:27-49 test parity) ---------------------------


def test_version_valid():
    assert fmt.read_version(b"\x00\x00\x00\x09") == 9


def test_version_invalid():
    with pytest.raises(fmt.DruidFormatError):
        fmt.read_version(b"\x00\x00\x00\x08")


def test_version_truncated():
    with pytest.raises(fmt.DruidFormatError):
        fmt.read_version(b"\x00\x00")


def test_version_roundtrip():
    assert fmt.read_version(fmt.write_version()) == 9


# --- GenericIndexed v1 (generic_indexed.rs:301-346 test parity) -----------


def test_generic_indexed_strings():
    data = fmt.write_generic_indexed([b"alpha", b"beta", b"gamma"])
    gi = fmt.GenericIndexedV1(data)
    assert len(gi) == 3
    assert [gi.get_str(i) for i in range(3)] == ["alpha", "beta", "gamma"]


def test_generic_indexed_null_element():
    data = fmt.write_generic_indexed([b"hello", None, b"world"])
    gi = fmt.GenericIndexedV1(data)
    assert gi.get_str(0) == "hello"
    assert gi.get(1) is None
    assert gi.get_str(2) == "world"


def test_generic_indexed_empty_element_is_not_null():
    # length-prefixed: empty != null (the ObjectStrategy variant differs)
    data = fmt.write_generic_indexed([b"", b"x"])
    gi = fmt.GenericIndexedV1(data)
    assert gi.get(0) == b""
    assert gi.get(1) == b"x"


def test_generic_indexed_empty_container():
    gi = fmt.GenericIndexedV1(fmt.write_generic_indexed([]))
    assert len(gi) == 0
    assert gi.total_size() == fmt.GI_HEADER_SIZE


def test_generic_indexed_invalid_version():
    with pytest.raises(fmt.DruidFormatError):
        fmt.GenericIndexedV1(bytes([0x02, 0x00] + [0] * 8))


def test_generic_indexed_object_strategy_empty_is_null():
    # [4 zero bytes][utf8], empty => null (generic_indexed.rs:212-214)
    elements = [b"\x00\x00\x00\x00wiki", b"\x00\x00\x00\x00"]
    values = bytearray()
    offsets = []
    for e in elements:
        values += e
        offsets.append(len(values))
    raw = bytearray([0x01, 0x01])
    raw += (len(elements) * 4 + len(values)).to_bytes(4, "big")
    raw += len(elements).to_bytes(4, "big")
    for off in offsets:
        raw += off.to_bytes(4, "big")
    raw += values
    gi = fmt.GenericIndexedV1(bytes(raw))
    assert gi.get_object_string(0) == "wiki"
    assert gi.get_object_string(1) is None


@given(
    st.lists(
        st.one_of(st.none(), st.binary(max_size=64)), max_size=50
    )
)
@settings(max_examples=50, deadline=None)
def test_generic_indexed_roundtrip_property(elements):
    gi = fmt.GenericIndexedV1(fmt.write_generic_indexed(elements))
    assert gi.to_list() == elements
    # total_size lands exactly at the end of the buffer
    assert gi.total_size() == len(fmt.write_generic_indexed(elements))


# --- VSizeColumnarInts (vsize_ints.rs:133-163 test parity) ----------------


@pytest.mark.parametrize(
    "num_bytes,values",
    [
        (1, [0, 1, 2, 255]),
        (2, [0, 256, 1000, 65535]),
        (3, [0, 65536, 1 << 23, (1 << 24) - 1]),
        (4, [0, 1 << 24, (1 << 31) - 1]),
    ],
)
def test_vsize_ints_widths(num_bytes, values):
    data = fmt.write_vsize_ints(np.array(values, np.uint32), num_bytes)
    out = fmt.read_vsize_ints(data)
    assert out.tolist() == values


def test_vsize_ints_bad_version():
    with pytest.raises(fmt.DruidFormatError):
        fmt.read_vsize_ints(b"\x01\x01\x00\x00\x00\x00")


# --- LZ4 block codec ------------------------------------------------------


def test_lz4_roundtrip_and_real_compression():
    """LZ4 blocks go through Arrow's lz4_raw codec: repetitive input
    must actually shrink, and the block round-trips bit-exactly."""
    data = b"hello world " * 100 + bytes(range(256))
    comp = fmt.compress_block(fmt.LZ4, data)
    assert len(comp) < len(data) // 2
    assert fmt.decompress_block(fmt.LZ4, comp, len(data)) == data


# Hand-built blocks, made without the codec under test, check the
# decoder against the LZ4 block format itself. Each ends in a run of at
# least 5 literals with its last match starting 12 or more bytes before
# the end: the block format's end-of-block rule, which lz4-java's
# encoder keeps and liblz4's decoder enforces.
_LZ4_MATCH_BLOCK = bytes([0x84]) + b"ABCDEFGH" + b"\x08\x00" + bytes([0x50]) + b"xyz12"
_LZ4_RLE_BLOCK = bytes([0x1F]) + b"A" + b"\x01\x00" + bytes([0x00, 0x50]) + b"BCDEF"


def test_lz4_with_matches():
    # 8 literals then an 8-byte match at offset 8 (doubles the
    # literals), then final literals.
    lit = b"ABCDEFGH"
    out = fmt.decompress_block(fmt.LZ4, _LZ4_MATCH_BLOCK, 8 + 8 + 5)
    assert out == lit + lit + b"xyz12"
    comp = fmt.compress_block(fmt.LZ4, out)
    assert fmt.decompress_block(fmt.LZ4, comp, len(out)) == out


def test_lz4_overlapping_match_rle():
    # 1 literal 'A', then match offset 1 len 19 => run-length expansion
    out = fmt.decompress_block(fmt.LZ4, _LZ4_RLE_BLOCK, 20 + 5)
    assert out == b"A" * 20 + b"BCDEF"
    comp = fmt.compress_block(fmt.LZ4, out)
    assert fmt.decompress_block(fmt.LZ4, comp, len(out)) == out


@given(st.binary(min_size=0, max_size=2048))
@settings(max_examples=50, deadline=None)
def test_lz4_roundtrip_property(data):
    comp = fmt.compress_block(fmt.LZ4, data)
    assert fmt.decompress_block(fmt.LZ4, comp, len(data)) == data


def test_lz4_truncated_block_errors():
    for block in (b"\xf0", _LZ4_RLE_BLOCK[:-1]):
        with pytest.raises(fmt.DruidFormatError):
            fmt.decompress_block(fmt.LZ4, block, 25)


@pytest.mark.parametrize("strategy", [fmt.LZ4, fmt.ZSTD], ids=["lz4", "zstd"])
def test_block_shorter_than_out_size_errors(strategy):
    # Arrow hands back a full-size buffer for a short LZ4 block, so the
    # size check must be ours; ZSTD must fail the same way.
    raw = bytes(range(256)) * 4
    comp = fmt.compress_block(strategy, raw)
    for out_size in (len(raw) + 1, len(raw) + 8):
        with pytest.raises(fmt.DruidFormatError):
            fmt.decompress_block(strategy, comp, out_size)
    assert fmt.decompress_block(strategy, comp, len(raw)) == raw
    assert fmt.decompress_block(strategy, fmt.compress_block(strategy, b""), 0) == b""


# --- Compressed columnar numerics ----------------------------------------


@pytest.mark.parametrize("strategy", [fmt.LZ4, fmt.LZF, fmt.ZSTD, fmt.UNCOMPRESSED])
def test_compressed_longs_multiblock(strategy):
    values = np.arange(-5000, 5000, dtype=np.int64) * 1_000_003
    data = fmt.write_compressed_longs(values, size_per=256, strategy=strategy)
    out = fmt.read_compressed_longs(data)
    assert np.array_equal(out, values)


@pytest.mark.parametrize("strategy", [fmt.LZ4, fmt.LZF, fmt.ZSTD, fmt.UNCOMPRESSED])
def test_compressed_doubles_multiblock(strategy):
    rng = np.random.default_rng(42)
    values = rng.normal(size=3000)
    data = fmt.write_compressed_doubles(values, size_per=1024, strategy=strategy)
    assert np.array_equal(fmt.read_compressed_doubles(data), values)


def test_zstd_block_roundtrip_and_real_compression():
    """ZSTD is a real codec here (Arrow's), not literal-only: repetitive
    input must actually shrink, and the frame round-trips bit-exactly.
    The reference ERRORS on ZSTD (compression/mod.rs:43-44) — this is
    beyond-parity surface for modern Druid deployments."""
    raw = b"druid segment block " * 500
    comp = fmt.compress_block(fmt.ZSTD, raw)
    assert len(comp) < len(raw) // 10
    assert fmt.decompress_block(fmt.ZSTD, comp, len(raw)) == raw


def test_compressed_floats():
    values = np.array([1.5, -2.25, 0.0, 3e7], np.float32)
    data = fmt.write_compressed_floats(values)
    assert np.array_equal(fmt.read_compressed_floats(data), values)


def test_compressed_ints_widths():
    for nb, mx in [(1, 255), (2, 65535), (3, (1 << 24) - 1), (4, (1 << 31) - 1)]:
        values = np.array([0, 1, mx // 2, mx], np.uint32)
        data = fmt.write_compressed_ints(values, num_bytes=nb, size_per=2)
        assert fmt.read_compressed_ints(data).tolist() == values.tolist()


def test_compressed_empty():
    data = fmt.write_compressed_longs(np.array([], np.int64))
    assert len(fmt.read_compressed_longs(data)) == 0


def test_corrupt_and_unknown_compression_errors():
    # LZF/ZSTD are supported beyond reference parity (the reference
    # errors on both, compression/mod.rs:43-44) but corrupt blocks must
    # fail loudly as DruidFormatError, and unknown strategy ids too.
    for strat in (fmt.LZ4, fmt.LZF, fmt.ZSTD):
        with pytest.raises(fmt.DruidFormatError):
            fmt.decompress_block(strat, b"xx", 2)
    with pytest.raises(fmt.DruidFormatError):
        fmt.decompress_block(0x7A, b"xx", 2)


# --- String column --------------------------------------------------------


def test_string_column_v2_roundtrip():
    dictionary = [None, "", "#en", "#fr"]
    ids = np.array([2, 0, 3, 2, 1], np.uint32)
    data = fmt.write_string_column_v2(dictionary, ids)
    d, i = fmt.read_string_column(data)
    d = d.to_pylist()
    assert d == dictionary
    assert i.tolist() == ids.tolist()
    # standard-SQL nulls: '' stays a string, None stays null (SURVEY §1.6)
    resolved = [d[x] for x in i]
    assert resolved == ["#en", None, "#fr", "#en", ""]


def test_string_multi_column_roundtrip():
    dictionary = [None, "a", "b", "c"]
    # rows: [a,b] [] [b,b,c] [NULL-entry]
    offsets = np.array([2, 2, 5, 6], np.uint32)
    ids = np.array([1, 2, 2, 2, 3, 0], np.uint32)
    data = fmt.write_string_multi_column(dictionary, offsets, ids)
    d, offs, i = fmt.read_string_multi_column(data)
    assert d.to_pylist() == dictionary
    assert offs.tolist() == offsets.tolist()
    assert i.tolist() == ids.tolist()


def test_string_multi_column_rejects_single_value_flags():
    data = fmt.write_string_column_v2(["a"], np.array([0], np.uint32))
    with pytest.raises(fmt.DruidFormatError):
        fmt.read_string_multi_column(data)


def test_segment_multivalue_roundtrip(tmp_path):
    t = pa.table(
        {
            "__time": pa.array([1000, 2000, 3000, 4000], pa.timestamp("ms")),
            "tags": pa.array(
                [["a", "b"], [], None, ["b", "b", "c"]], pa.list_(pa.string())
            ),
            "channel": pa.array(["#en", "#fr", "#de", "#en"]),
        }
    )
    path = str(tmp_path / "seg")
    write_segment(t, path)
    seg = DruidSegment(path)
    try:
        assert seg.metadata.dimensions == ["tags", "channel"]
        got = seg.read_batch().to_pydict()
        # Druid MVDs have no row-null distinct from empty: null -> []
        assert got["tags"] == [["a", "b"], [], [], ["b", "b", "c"]]
    finally:
        seg.close()


def test_string_column_v0_roundtrip():
    dictionary = ["a", "b", "c"]
    ids = np.array([2, 1, 0, 1], np.uint32)
    data = fmt.write_string_column_v0(dictionary, ids)
    d, i = fmt.read_string_column(data)
    assert d.to_pylist() == dictionary
    assert i.tolist() == ids.tolist()


# --- index.drd metadata ---------------------------------------------------


def test_index_drd_roundtrip():
    meta = fmt.SegmentMetadata(
        columns=["__time", "channel", "added"],
        dimensions=["channel"],
        interval_start_ms=1442016480000,
        interval_end_ms=1442102400000,
    )
    out = fmt.SegmentMetadata.from_bytes(meta.to_bytes())
    assert out == meta


# --- column envelope ------------------------------------------------------


def test_column_header_roundtrip():
    desc = {"valueType": "LONG", "hasMultipleValues": False,
            "parts": [{"type": "longV2"}]}
    data = fmt.build_column(desc, b"\xde\xad\xbe\xef")
    got, off = fmt.parse_column_header(data)
    assert got == desc
    assert bytes(data[off:]) == b"\xde\xad\xbe\xef"


def test_column_header_missing_value_type():
    with pytest.raises(fmt.DruidFormatError):
        fmt.parse_column_header(fmt.build_column({"parts": []}, b""))


# --- whole-segment round trip (pyarrow level) ----------------------------


def _sample_table() -> pa.Table:
    return pa.table(
        {
            "__time": pa.array([1000, 2000, 3000, 4000, 5000], pa.timestamp("ms")),
            "channel": pa.array(["#en", None, "#fr", "#en", ""]),
            "added": pa.array([10, 20, 30, 40, 50], pa.int64()),
            "score": pa.array([1.5, 2.5, -3.5, 0.0, 9.75], pa.float64()),
            "ratio": pa.array([0.5, 0.25, 0.125, 1.0, 2.0], pa.float32()),
        }
    )


@pytest.mark.parametrize("strategy", [fmt.LZ4, fmt.LZF, fmt.ZSTD, fmt.UNCOMPRESSED])
def test_segment_roundtrip(tmp_path, strategy):
    path = str(tmp_path / "seg")
    t = _sample_table()
    write_segment(t, path, strategy=strategy)
    seg = DruidSegment(path)
    try:
        assert seg.num_rows() == 5
        assert seg.metadata.columns == ["__time", "channel", "added", "score", "ratio"]
        assert seg.metadata.dimensions == ["channel"]
        # interval = [min(__time), max(__time)+1) in millis
        assert seg.metadata.interval_start_ms == 1000
        assert seg.metadata.interval_end_ms == 5001
        got = seg.read_batch().to_pydict()
        assert got["channel"] == ["#en", None, "#fr", "#en", ""]
        assert got["added"] == [10, 20, 30, 40, 50]
        assert got["score"] == [1.5, 2.5, -3.5, 0.0, 9.75]
        assert got["ratio"] == [0.5, 0.25, 0.125, 1.0, 2.0]
    finally:
        seg.close()


def test_segment_projection_reads_subset(tmp_path):
    path = str(tmp_path / "seg")
    write_segment(_sample_table(), path)
    seg = DruidSegment(path)
    try:
        b = seg.read_batch(["added", "channel"])
        assert b.schema.names == ["added", "channel"]
        assert b.num_rows == 5
        # read_column keeps the stored dictionary; read_batch returns
        # the schema's plain string type
        assert seg.read_column("channel").type == pa.dictionary(pa.int32(), pa.string())
        assert b.column(1).type == pa.string()
    finally:
        seg.close()


def test_segment_requires_time_column(tmp_path):
    t = pa.table({"x": pa.array([1, 2], pa.int64())})
    with pytest.raises(fmt.DruidFormatError):
        write_segment(t, str(tmp_path / "seg"))


def test_smoosh_multichunk_roundtrip(tmp_path):
    """Chunk rollover (smoosh.rs:27-29 layout): logical files spanning
    the chunk-boundary TABLE (never a single file across chunks) must
    land in distinct NNNNN.smoosh files and read back byte-exact."""
    import os

    path = str(tmp_path / "seg")
    files = {f"f{i}": bytes([i]) * 40 for i in range(5)}
    fmt.write_smoosh(path, files, max_chunk_size=100)
    # 40+40 fit chunk 0; f2 rolls (80+40>100); f3 joins f2; f4 rolls
    rd = fmt.SmooshReader(path)
    try:
        assert rd.num_chunks == 3
        assert sorted(os.listdir(path)) == [
            "00000.smoosh", "00001.smoosh", "00002.smoosh", "meta.smoosh",
        ]
        assert {n: rd.entries[n][0] for n in files} == {
            "f0": 0, "f1": 0, "f2": 1, "f3": 1, "f4": 2,
        }
        for name, data in files.items():
            assert bytes(rd.map_file(name)) == data
    finally:
        rd.close()


def test_smoosh_rejects_file_over_chunk_size(tmp_path):
    with pytest.raises(fmt.DruidFormatError):
        fmt.write_smoosh(str(tmp_path / "seg"), {"big": b"x" * 11},
                         max_chunk_size=10)


def test_segment_multichunk_column_decode(tmp_path):
    """A REAL segment written with a small max_chunk_size: every column's
    logical file lands in its own chunk region, and the full decode path
    (index.drd -> per-column headers -> values) must work across the
    chunk table exactly as in the single-chunk layout."""
    path = str(tmp_path / "seg")
    t = _sample_table()
    # "min" = largest logical file: always a legal multi-chunk layout,
    # whatever metadata.drd grows to (a fixed byte budget broke when
    # columnStats zone maps were added)
    write_segment(t, path, max_chunk_size="min")
    seg = DruidSegment(path)
    try:
        assert seg.smoosh.num_chunks > 1
        got = seg.read_batch().to_pydict()
        assert got["channel"] == ["#en", None, "#fr", "#en", ""]
        assert got["added"] == [10, 20, 30, 40, 50]
        assert got["score"] == [1.5, 2.5, -3.5, 0.0, 9.75]
    finally:
        seg.close()


def test_segment_files_listing(tmp_path):
    path = str(tmp_path / "seg")
    write_segment(_sample_table(), path)
    seg = DruidSegment(path)
    try:
        files = seg.files()
        # every column is a logical file + index.drd + metadata.drd
        # (BASELINE.md: 22 logical files for 20 columns in the fixture)
        assert set(files) == {
            "__time", "channel", "added", "score", "ratio",
            "index.drd", "metadata.drd",
        }
    finally:
        seg.close()


def _every_type_table() -> pa.Table:
    """20k rows (several compressed blocks per column) of every input
    type write_segment accepts."""
    n = 20_000
    i = np.arange(n)

    def cycle(values):
        return [values[k % len(values)] for k in range(n)]

    return pa.table({
        # microseconds with sub-millisecond parts: the ms cast truncates
        "__time": pa.array(
            1_704_067_200_000_000 + i * 1_234_567 + i % 1000, pa.timestamp("us")
        ),
        "long_nulls": pa.array(cycle([3, None, -(2**62) + 1, 7, None, 2**53 + 1])),
        "int32": pa.array((i * 37) % 1001 - 500, pa.int32()),
        "double": pa.array(
            cycle([1.5, None, float("nan"), float("inf"), -float("inf"), -0.25])
        ),
        "float": pa.array(cycle([0.5, None, -3.25, 1e30]), pa.float32()),
        "string": pa.array(cycle(["b", None, "a", "ü", "c"])),
        "large_string": pa.array(cycle(["x", "yy", None]), pa.large_string()),
        "tags": pa.array(
            cycle([["p", "q"], None, [], ["q", "q", "r"]]), pa.list_(pa.string())
        ),
        "blob": pa.array(cycle([b"\x00\x01", None, b"", b"sketch"]), pa.binary()),
    })


_FACTORY = "f26eacf5228a5c261f2ed1446ec82d78cbbb897babbaecfe1844f287b375ca4d"
_VERSION = "3b28a6c3766c6295adad976d349705ef49393fbfdebe4facb5862d2cdfa285d3"


@pytest.mark.parametrize(
    "kwargs, digests",
    [
        ({}, {
            "00000.smoosh": "9224d7fc77409a9b147364c135a714d4f066e0c14f66fbbd85c33cb8c7d1b0a6",
            "meta.smoosh": "f00ed5618d4591712ac4f2fc1e925cbac54f9fc3ee632c17a63ec35273868e8e",
        }),
        ({"strategy": fmt.ZSTD}, {
            "00000.smoosh": "07e120acb6a6397d68da697e6b49f40c9350bf2986c394ecfc5e75ac6b62c0fe",
            "meta.smoosh": "22e4e0dafc86f5c280218adce7437206d321d805861ffdd0854c72078b05b8a9",
        }),
        ({"max_chunk_size": "min"}, {
            "00000.smoosh": "dc95d981727128c7947209468dbbe546f4172a05786fadb5469aeacbfde50ee4",
            "00001.smoosh": "7afeaf5c5c474cb89f53f4c8f4bc54f4c822512c5b93a84cb8505d087ac49ea9",
            "00002.smoosh": "8fe2e8a01448a88ef632a2fc390b56ab820731562745d383afe2928be4863adf",
            "00003.smoosh": "d0fd9e53893b0ec4fc10d72dc0cefe794cb538a570266e48b91793c8be35bca7",
            "meta.smoosh": "9df27af6ed6e7b111dfdcf44f11741d7766370f741a68d19fbcf5c3777b95242",
        }),
    ],
    ids=["lz4", "zstd", "min_chunk"],
)
def test_written_segment_bytes_are_pinned(tmp_path, kwargs, digests):
    """Every file write_segment writes for a table of every input type
    has a fixed sha256, so a refactor of the writer cannot change the
    on-disk format unnoticed. The digests hold for the bundled
    pyarrow's LZ4/ZSTD codecs; a codec upgrade may re-pin them after
    the read-back checks of the other segment tests pass."""
    import hashlib

    path = str(tmp_path / "seg")
    write_segment(_every_type_table(), path, **kwargs)
    got = {
        fn: hashlib.sha256(open(os.path.join(path, fn), "rb").read()).hexdigest()
        for fn in os.listdir(path)
    }
    assert got == {**digests, "factory.json": _FACTORY, "version.bin": _VERSION}


class TestLZF:
    """LZF codec (beyond reference parity — the reference errors on LZF,
    compression/mod.rs:43-44, but legacy Druid v1 compressed columns
    imply it)."""

    def test_raw_decompress_literals_and_backref(self):
        from druid_datafusion_bridge_spark.sources.druid_format import (
            lzf_raw_decompress,
        )

        # hand-assembled stream: literal run "abc", then a back-reference
        # of length 4 (ctrl 3-bit len=2 => 2+2) at offset 2 ("bcab"...
        # offset field 2 => ref = pos-3): "abc" + copy from 'a' => "abcabca"
        stream = bytes([0x02]) + b"abc" + bytes([(2 << 5) | 0x00, 0x02])
        assert lzf_raw_decompress(stream) == b"abcabca"

    def test_raw_decompress_rle_overlap(self):
        from druid_datafusion_bridge_spark.sources.druid_format import (
            lzf_raw_decompress,
        )

        # single literal 'x' then a self-overlapping backref of 9 bytes
        # (len ext: 7 saturated + 0 => 7+2) at offset 0 => ref=pos-1: RLE
        stream = bytes([0x00]) + b"x" + bytes([(7 << 5) | 0x00, 0x00, 0x00])
        assert lzf_raw_decompress(stream) == b"x" * 10

    def test_chunk_roundtrip(self):
        import os as _os
        from druid_datafusion_bridge_spark.sources.druid_format import (
            lzf_chunks_compress_literal,
            lzf_chunks_decompress,
        )

        for payload in (b"", b"abc", _os.urandom(200_000)):
            enc = lzf_chunks_compress_literal(payload)
            assert lzf_chunks_decompress(enc, len(payload)) == payload

    def test_block_strategy_roundtrip(self):
        from druid_datafusion_bridge_spark.sources.druid_format import (
            LZF,
            compress_block,
            decompress_block,
        )

        raw = bytes(range(256)) * 100
        assert decompress_block(LZF, compress_block(LZF, raw), len(raw)) == raw


def _read_bitmap_index(column: bytes) -> list[np.ndarray] | None:
    """Every dictionary id's row bitmap of a string column, read the
    way the segment reader does (locate the index, decode one blob per
    id); None for a column written without an index."""
    bm = fmt.locate_string_bitmap_index(column)
    if bm is None:
        return None
    return [fmt.read_string_bitmap_blob(bm, i) for i in range(len(bm))]


class TestRoaringBitmaps:
    """Roaring inverted index (beyond reference parity: bitmap.rs reads
    roaring blobs but the reference never writes or applies them)."""

    def test_roundtrip_array_and_bitmap_containers(self):
        import numpy as np

        cases = [
            [],
            [0],
            [0, 1, 2, 65535, 65536, 131072 + 5],       # multi-key, array
            list(range(5000)),                          # bitmap container
            list(range(0, 200000, 3)),                  # bitmap + array mix
        ]
        for rows in cases:
            enc = fmt.roaring_serialize(rows)
            out = fmt.roaring_deserialize(enc)
            assert out.tolist() == sorted(set(rows))
            assert out.dtype == np.uint32

    def test_run_container_decode(self):
        import struct as _s

        # hand-built cookie-12347 stream: 1 container, run flag set,
        # runs [(10, len 5), (100, len 1)] => {10..15} | {100, 101}
        data = bytearray()
        data += _s.pack("<I", 12347 | (0 << 16))  # count-1 = 0
        data += bytes([0x01])                     # run bitset: container 0
        data += _s.pack("<HH", 0, 8 - 1)          # key 0, cardinality 8
        data += _s.pack("<H", 2)                  # 2 runs
        data += _s.pack("<HH", 10, 5)             # start 10, len-1 5
        data += _s.pack("<HH", 100, 1)            # start 100, len-1 1
        out = fmt.roaring_deserialize(bytes(data))
        assert out.tolist() == [10, 11, 12, 13, 14, 15, 100, 101]

    def test_typed_blob_both_bitmap_types(self):
        enc = fmt.write_bitmap_blob([3, 7, 11])
        assert enc[0] == fmt.BITMAP_TYPE_ROARING
        assert fmt.read_bitmap_blob(enc).tolist() == [3, 7, 11]
        # CONCISE: the reference errors on type 0x00 (bitmap.rs:32-34);
        # here legacy blobs read AND write
        enc0 = fmt.write_bitmap_blob([3, 7, 11], fmt.BITMAP_TYPE_CONCISE)
        assert enc0[0] == fmt.BITMAP_TYPE_CONCISE
        assert fmt.read_bitmap_blob(enc0).tolist() == [3, 7, 11]
        with pytest.raises(fmt.DruidFormatError, match="multiple of 4"):
            fmt.read_bitmap_blob(bytes([fmt.BITMAP_TYPE_CONCISE, 0, 0]))

    def test_concise_roundtrip_shapes(self):
        import random

        random.seed(7)
        cases = [
            [],
            [0],
            [30],
            [31],
            list(range(31)),          # one full literal -> 1-fill
            list(range(62)),          # two full blocks -> one 2-block fill
            [0, 10_000_000],          # huge zero gap -> multi-word fills
            list(range(5, 5000)),
            sorted(random.sample(range(100_000), 5000)),
            sorted(random.sample(range(10_000_000), 300)),
        ]
        for c in cases:
            words = fmt.concise_serialize(c)
            assert len(words) % 4 == 0
            assert fmt.concise_deserialize(words).tolist() == sorted(set(c))
        # fills must compress: 62 consecutive ones = ONE word
        assert len(fmt.concise_serialize(range(62))) == 4

    def test_concise_flipped_bit_decode(self):
        import struct

        # real ConciseSet emits mixed fills: 0-seq of 3 blocks with
        # position 5 -> only bit 4 of the first block is set
        w = (5 << 25) | (3 - 1)
        assert fmt.concise_deserialize(struct.pack(">i", w)).tolist() == [4]
        # 1-seq of 2 blocks, position 1 -> bit 0 of first block cleared
        w = 0x40000000 | (1 << 25) | (2 - 1)
        got = fmt.concise_deserialize(struct.pack(">i", w)).tolist()
        assert got == [x for x in range(62) if x != 0]

    def test_concise_matches_roaring_decode(self):
        import random

        random.seed(11)
        rows = sorted(random.sample(range(1_000_000), 10_000))
        via_concise = fmt.read_bitmap_blob(
            fmt.write_bitmap_blob(rows, fmt.BITMAP_TYPE_CONCISE)
        )
        via_roaring = fmt.read_bitmap_blob(fmt.write_bitmap_blob(rows))
        assert via_concise.tolist() == via_roaring.tolist() == rows

    def test_string_column_concise_index_scans(self):
        dictionary = ["a", "b", "c"]
        ids = np.array([0, 1, 2, 1, 0, 2, 2, 1], np.int64)
        payload = fmt.write_string_column_v2(
            dictionary,
            ids,
            bitmap_index=True,
            bitmap_type=fmt.BITMAP_TYPE_CONCISE,
        )
        index = _read_bitmap_index(payload)
        assert index is not None
        for dict_id, rows in enumerate(index):
            assert rows.tolist() == np.flatnonzero(ids == dict_id).tolist()

    def test_string_column_bitmap_index_roundtrip(self):
        import numpy as np

        dictionary = [None, "a", "b", "c"]
        ids = np.array([1, 2, 1, 0, 3, 1, 2, 2], np.int64)
        col = fmt.write_string_column_v2(dictionary, ids, bitmap_index=True)
        # value read path is unchanged and ignores the index
        d2, i2 = fmt.read_string_column(col)
        assert d2.to_pylist() == dictionary and i2.tolist() == ids.tolist()
        # the inverted index inverts exactly
        index = _read_bitmap_index(col)
        assert index is not None and len(index) == len(dictionary)
        for dict_id, rows in enumerate(index):
            assert rows.tolist() == np.flatnonzero(ids == dict_id).tolist()
        # a column without the index reports None
        assert _read_bitmap_index(
            fmt.write_string_column_v2(dictionary, ids)
        ) is None

    def test_single_blob_lookup_and_dict_binary_search(self, tmp_path, monkeypatch):
        """The lazy lookup path (locate + one-blob decode + dictionary
        binary search, reached through the ``in`` filter) must agree
        with the row ids of every value, including the null slot,
        absent values, and probes that sort before/after the whole
        dictionary; on an unsorted dictionary (sorted/allowReverseLookup
        flag off) binary search is invalid and the dictionary pass must
        still find every value."""
        from druid_datafusion_bridge_spark.sources import segment as segment_mod

        def segment(path, values):
            write_segment(
                pa.table({
                    "__time": pa.array(range(len(values)), pa.timestamp("ms")),
                    "c": pa.array(values, pa.string()),
                }),
                path,
            )
            return DruidSegment(path)

        def stored_dictionary(seg):
            # (sorted flag, values); returns no view of the mmap, which
            # close() needs released
            gi, _ = seg._string_index("c")
            return bool(gi.flags & 0x01), [gi.get_str(i) for i in range(len(gi))]

        dictionary = [None, "apple", "mango", "pear", "zebra"]
        ids = np.array([1, 4, 2, 0, 3, 1, 2, 2, 4, 0], np.int64)
        seg = segment(str(tmp_path / "sorted"), [dictionary[i] for i in ids])
        try:
            # the writer stamps sorted/allowReverseLookup
            assert stored_dictionary(seg) == (True, dictionary)
            for dict_id, value in enumerate(dictionary):
                assert seg.bitmap_rows_for_any("c", (value,)).tolist() == (
                    np.flatnonzero(ids == dict_id).tolist()
                )
            for absent in ("aaa", "banana", "zz", ""):
                assert seg.bitmap_rows_for_any("c", (absent,)).tolist() == []
        finally:
            seg.close()

        # unsorted dictionary (flag off), written with a first-seen
        # dictionary order and the sorted flag cleared
        unsorted = ["mango", "apple", "zebra"]
        u_ids = np.array([0, 2, 1, 1, 0, 2], np.uint32)
        real_write = fmt.write_generic_indexed
        monkeypatch.setattr(
            fmt, "write_generic_indexed",
            lambda elements, sorted_flag=True: real_write(elements, sorted_flag=False),
        )
        monkeypatch.setattr(
            segment_mod, "_dictionary_encode", lambda col: (unsorted, u_ids)
        )
        seg = segment(str(tmp_path / "unsorted"), [unsorted[i] for i in u_ids])
        monkeypatch.undo()
        try:
            assert stored_dictionary(seg) == (False, unsorted)
            for i, v in enumerate(unsorted):
                assert seg.bitmap_rows_for_any("c", (v,)).tolist() == (
                    np.flatnonzero(u_ids == i).tolist()
                )
            assert seg.bitmap_rows_for_any("c", ("pear",)).tolist() == []
        finally:
            seg.close()


@given(
    st.lists(st.integers(min_value=0, max_value=500_000), max_size=400),
    st.integers(min_value=0, max_value=3),
)
@settings(max_examples=150, deadline=None)
def test_concise_fuzz_roundtrip_and_cross_codec(rows, pad):
    """Any id set round-trips through CONCISE and agrees with the
    roaring codec; appending dense runs exercises fill words."""
    if pad:
        start = (max(rows) if rows else 0) + 31 * pad
        rows = rows + list(range(start, start + 31 * pad))
    want = sorted(set(rows))
    assert fmt.concise_deserialize(fmt.concise_serialize(rows)).tolist() == want
    via_roaring = fmt.roaring_deserialize(fmt.roaring_serialize(rows)).tolist()
    assert via_roaring == want


# --- sliced (index-selected) decode ----------------------------------------


def test_sliced_decode_matches_full_then_take():
    """rows= must return exactly full_decode[rows] for every fixed-width
    layout, across block boundaries (tiny size_per forces many blocks)."""
    rng = np.random.default_rng(7)
    rows = np.array([0, 1, 63, 64, 65, 500, 998, 999], np.int64)

    longs = rng.integers(-(2**40), 2**40, 1000, dtype=np.int64)
    data = fmt.write_compressed_longs(longs, size_per=64)
    assert fmt.read_compressed_longs(data, rows=rows).tolist() == longs[rows].tolist()

    dbls = rng.normal(size=1000)
    data = fmt.write_compressed_doubles(dbls, size_per=64)
    assert np.array_equal(fmt.read_compressed_doubles(data, rows=rows), dbls[rows])

    flts = rng.normal(size=1000).astype(np.float32)
    data = fmt.write_compressed_floats(flts, size_per=64)
    assert np.array_equal(fmt.read_compressed_floats(data, rows=rows), flts[rows])

    ints = rng.integers(0, 1 << 20, 1000).astype(np.uint32)
    data = fmt.write_compressed_ints(ints, size_per=64)
    assert fmt.read_compressed_ints(data, rows=rows).tolist() == ints[rows].tolist()

    # v0 vsize layout: positional gather
    data = fmt.write_vsize_ints(ints, 3)
    assert fmt.read_vsize_ints(data, rows=rows).tolist() == ints[rows].tolist()

    # complex blobs: offset-table random access
    blobs = [bytes([i % 251]) * (i % 7 + 1) for i in range(100)]
    data = fmt.write_complex_column(blobs)
    got = fmt.read_complex_column(data, rows=[0, 42, 99])
    assert got == [blobs[0], blobs[42], blobs[99]]

    # out-of-range row ids fail loudly, not silently wrap
    data = fmt.write_compressed_longs(longs, size_per=64)
    with pytest.raises(fmt.DruidFormatError):
        fmt.read_compressed_longs(data, rows=np.array([1000]))


def test_sliced_decode_decompresses_only_needed_blocks(monkeypatch):
    """The point of the slice: 1000 values in 16 blocks, two selected
    rows in two distinct blocks => exactly 2 block decompressions (a
    decode-then-take would pay all 16)."""
    longs = np.arange(1000, dtype=np.int64)
    data = fmt.write_compressed_longs(longs, size_per=64)
    calls = []
    real = fmt.decompress_block

    def counting(strategy, block, out_size):
        calls.append(out_size)
        return real(strategy, block, out_size)

    monkeypatch.setattr(fmt, "decompress_block", counting)
    got = fmt.read_compressed_longs(data, rows=np.array([5, 999]))
    assert got.tolist() == [5, 999]
    assert len(calls) == 2


def test_row_window_decode_slices_only_covering_blocks(monkeypatch):
    """A ``range`` row window equals full_decode[start:stop] for every
    layout, and decompresses only the blocks covering it: no per-row
    index is built. Non-contiguous or out-of-range windows fail
    loudly."""
    rng = np.random.default_rng(11)
    longs = rng.integers(-(2**40), 2**40, 1000, dtype=np.int64)
    dbls = rng.normal(size=1000)
    flts = rng.normal(size=1000).astype(np.float32)
    ints = rng.integers(0, 1 << 20, 1000).astype(np.uint32)
    cols = [
        (fmt.write_compressed_longs(longs, size_per=64), fmt.read_compressed_longs,
         longs),
        (fmt.write_compressed_doubles(dbls, size_per=64),
         fmt.read_compressed_doubles, dbls),
        (fmt.write_compressed_floats(flts, size_per=64),
         fmt.read_compressed_floats, flts),
        (fmt.write_compressed_ints(ints, size_per=64), fmt.read_compressed_ints,
         ints),
        (fmt.write_vsize_ints(ints, 3), fmt.read_vsize_ints, ints),
    ]
    windows = [
        (0, 1000), (0, 64), (63, 65), (64, 128), (100, 101), (130, 900),
        (999, 1000), (5, 5),
    ]
    for data, read, want in cols:
        for start, stop in windows:
            got = read(data, rows=range(start, stop))
            assert np.array_equal(got, want[start:stop]), (read, start, stop)
    blobs = [bytes([i % 251]) * (i % 7 + 1) for i in range(100)]
    data = fmt.write_complex_column(blobs)
    assert fmt.read_complex_column(data, rows=range(40, 45)) == blobs[40:45]

    calls = []
    real = fmt.decompress_block

    def counting(strategy, block, out_size):
        calls.append(out_size)
        return real(strategy, block, out_size)

    monkeypatch.setattr(fmt, "decompress_block", counting)
    data = fmt.write_compressed_longs(longs, size_per=64)
    # rows 100..299 sit in blocks 1..4
    assert fmt.read_compressed_longs(data, rows=range(100, 300)).tolist() == (
        longs[100:300].tolist()
    )
    assert len(calls) == 4
    for bad in (range(0, 10, 2), range(-1, 5), range(990, 1001)):
        with pytest.raises(fmt.DruidFormatError):
            fmt.read_compressed_longs(data, rows=bad)


def test_segment_read_batch_rows_slices_all_column_types(tmp_path):
    """End-to-end: a segment's read_batch(rows=...) must equal the full
    batch take()n to the same rows for string/long/double/float/time."""
    path = str(tmp_path / "seg")
    t = _sample_table()
    write_segment(t, path)
    seg = DruidSegment(path)
    try:
        rows = np.array([1, 3, 4], np.int64)
        sliced = seg.read_batch(rows=rows).to_pydict()
        full = seg.read_batch().to_pydict()
        for col, vals in sliced.items():
            assert vals == [full[col][i] for i in rows], col
    finally:
        seg.close()


@given(
    st.lists(st.integers(-(2**50), 2**50), min_size=1, max_size=300),
    st.data(),
)
@settings(max_examples=40, deadline=None)
def test_sliced_decode_property(values, data):
    """For ANY value sequence, block size, and sorted row subset, the
    sliced decode must equal full_decode[rows] exactly."""
    arr = np.array(values, np.int64)
    size_per = data.draw(st.integers(1, len(arr) + 8))
    rows = sorted(
        data.draw(
            st.sets(st.integers(0, len(arr) - 1), min_size=1, max_size=20)
        )
    )
    payload = fmt.write_compressed_longs(arr, size_per=size_per)
    got = fmt.read_compressed_longs(payload, rows=np.array(rows, np.int64))
    assert got.tolist() == arr[rows].tolist()


def test_sliced_decode_rejects_unsorted_and_negative_rows():
    """Row-id selections must be sorted ascending and in range — an
    unsorted or mid-array-negative selection fails as DruidFormatError
    up front, never as a misleading downstream unpack/index error."""
    import numpy as np
    import pytest

    from druid_datafusion_bridge_spark.sources.druid_format import (
        DruidFormatError,
        read_compressed_longs,
        read_vsize_ints,
        write_compressed_longs,
        write_vsize_ints,
    )

    longs = write_compressed_longs(np.arange(1000))
    vsize = write_vsize_ints(np.arange(300), 2)
    for bad in ([5000, 3], [3, -5], [900, 2]):
        with pytest.raises(DruidFormatError):
            read_compressed_longs(longs, rows=np.array(bad))
        with pytest.raises(DruidFormatError):
            read_vsize_ints(vsize, rows=np.array(bad))
    assert list(read_compressed_longs(longs, rows=np.array([2, 900]))) == [2, 900]
    assert list(read_vsize_ints(vsize, rows=np.array([0, 299]))) == [0, 299]
