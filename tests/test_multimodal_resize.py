"""Resize operator: stub kernel determinism + real Spark plumbing
(binary-in/binary-out through Arrow batches, typed metadata)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from druid_datafusion_bridge_spark.operators.multimodal import (
    resize,
    with_binary_payload,
)
from druid_datafusion_bridge_spark.catalog import table

from .conftest import SF_DIR


def test_resize_payload_lengths_and_metadata(spark):
    docs = table(spark, SF_DIR, "documents").limit(200)
    out = resize(with_binary_payload(docs), 32, 32)
    rows = out.collect()
    assert len(rows) == 200
    out_len = (32 * 32) // 64  # stub target payload length
    for r in rows:
        assert r.target_w == 32 and r.target_h == 32
        assert 1 <= r.width <= 64 and 1 <= r.height <= 48
        assert len(r.payload) <= out_len
        assert len(r.payload) > 0


def test_resize_is_deterministic(spark):
    docs = table(spark, SF_DIR, "documents").limit(50)
    blobs = with_binary_payload(docs)
    a = {r.doc_id: bytes(r.payload) for r in resize(blobs, 32, 32).collect()}
    b = {r.doc_id: bytes(r.payload) for r in resize(blobs, 32, 32).collect()}
    assert a == b
    # payload bytes must be a subsequence of the source bytes
    src = {r.doc_id: bytes(r.payload) for r in blobs.collect()}
    for k, v in a.items():
        it = iter(src[k])
        assert all(ch in it for ch in v)


def test_ppm_decoder_exact_pixels():
    """The real P6 parser must handle arbitrary header whitespace and
    return exact pixel planes."""
    import numpy as np

    from druid_datafusion_bridge_spark.operators.multimodal import decode_ppm

    pix = bytes(range(18))
    for header in (b"P6\n3 2\n255\n", b"P6 3 2 255 ", b"P6\n3\n2\n255\t"):
        w, h, arr = decode_ppm(header + pix)
        assert (w, h) == (3, 2)
        assert arr.shape == (2, 3, 3)
        assert arr.flatten().tolist() == list(range(18))
    import pytest as _pytest

    with _pytest.raises(ValueError):
        decode_ppm(b"P5\n3 2\n255\n" + pix)  # not P6
    with _pytest.raises(ValueError):
        decode_ppm(b"P6\n3 2\n65535\n" + pix)  # 16-bit unsupported


def test_wav_decoder_exact_samples():
    """The real RIFF/PCM parser must handle canonical and
    extra-chunk layouts and reject non-PCM forms."""
    import struct

    import numpy as np
    import pytest as _pytest

    from druid_datafusion_bridge_spark.operators.multimodal import decode_wav

    samples = np.array([0, 100, -200, 32767, -32768, 7], "<i2")
    data = samples.tobytes()
    fmt = b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 16000, 2, 16)
    dat = b"data" + struct.pack("<I", len(data)) + data
    canonical = b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE" + fmt + dat
    extra = (b"RIFF" + struct.pack("<I", 48 + len(data)) + b"WAVE" + fmt
             + b"LIST" + struct.pack("<I", 4) + b"INFO" + dat)
    for wav in (canonical, extra):
        rate, s = decode_wav(wav)
        assert rate == 8000
        assert s.tolist() == samples.tolist()
    stereo_fmt = b"fmt " + struct.pack("<IHHIIHH", 16, 1, 2, 8000, 32000, 4, 16)
    with _pytest.raises(ValueError):
        decode_wav(b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
                   + stereo_fmt + dat)
    with _pytest.raises(ValueError):
        decode_wav(b"OggS" + bytes(40))


def test_decoders_reject_malformed_input():
    """Every real decoder must fail loudly on garbage, truncation, and
    unsupported variants — silent misdecodes would poison a pipeline."""
    import numpy as np
    import pytest

    from druid_datafusion_bridge_spark.operators.multimodal import (
        decode_ppm,
        decode_wav,
    )

    with pytest.raises(ValueError):
        decode_ppm(b"JFIF not a ppm")
    with pytest.raises(ValueError):
        decode_ppm(b"P6\n2 2\n65535\n" + b"\x00" * 12)  # 16-bit maxval
    with pytest.raises(ValueError):
        decode_wav(b"OggS not a riff")
    with pytest.raises(ValueError):
        decode_wav(b"RIFF\x24\x00\x00\x00WAVE")  # no fmt/data chunks
    # stereo fmt chunk must be rejected (only mono supported)
    import struct

    stereo = (
        b"RIFF" + struct.pack("<I", 36) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 2, 8000, 32000, 4, 16)
        + b"data" + struct.pack("<I", 0)
    )
    with pytest.raises(ValueError):
        decode_wav(stereo)
    # cut payloads name the format, as decode_png/gif/bmp do
    from druid_datafusion_bridge_spark.operators.multimodal.core import (
        _ppm_encode,
        _wav_encode,
    )

    with pytest.raises(ValueError, match="truncated or malformed PPM"):
        decode_ppm(_ppm_encode(3)[:20])
    with pytest.raises(ValueError, match="truncated or malformed WAV"):
        decode_wav(_wav_encode(3)[:50])


def test_video_walker_parses_variable_frame_streams():
    """The container walker must locate frame boundaries by parsing each
    header — verified with frames of DIFFERENT sizes back to back, which
    any fixed-stride assumption would misparse."""
    import numpy as np

    from druid_datafusion_bridge_spark.operators.multimodal import (
        video_frame_stats,
    )

    # build via the internal generator shape: two frames, 1x1 then 2x2
    f0 = b"P6\n1 1\n255\n" + bytes([1, 2, 3])
    f1 = b"P6\n2 2\n255\n" + bytes(range(12))
    f2 = b"P6\n1 2\n255\n" + bytes([9] * 6)
    payload = f0 + f1 + f2

    # run the walker's inner logic through the public operator on a
    # one-row DataFrame
    from druid_datafusion_bridge_spark.session import get_spark

    spark = get_spark()
    blobs = spark.createDataFrame(
        [(7, bytearray(payload))], "doc_id long, payload binary"
    )
    rows = {r["frame_idx"]: r for r in video_frame_stats(blobs, every=1).collect()}
    assert set(rows) == {0, 1, 2}
    assert (rows[0]["width"], rows[0]["height"]) == (1, 1)
    assert rows[0]["sum_pix"] == 6
    assert (rows[1]["width"], rows[1]["height"]) == (2, 2)
    assert rows[1]["sum_pix"] == sum(range(12))
    assert (rows[2]["width"], rows[2]["height"]) == (1, 2)
    assert rows[2]["sum_pix"] == 54


def test_png_decoder_exact_pixels():
    """The PNG path must reproduce the pixel law byte-for-byte through
    DEFLATE + all five scanline filters: the encoder assigns filter
    type row % 5, and heights run 3-6, so across these doc ids every
    filter type (None/Sub/Up/Average/Paeth) is exercised — a height-6
    doc covers all five in one image."""
    from druid_datafusion_bridge_spark.operators.multimodal import (
        _png_encode,
        decode_png,
    )

    for d in [0, 1, 2, 3, 4, 7, 11, 19, 123, 4567]:
        w, h, pix = decode_png(_png_encode(d))
        assert (w, h) == (4 + d % 5, 3 + d % 4)
        flat = pix.reshape(-1)
        assert all(
            int(v) == (d * 7 + i * 13) % 256 for i, v in enumerate(flat)
        )


def test_png_decoder_rejects_malformed_input():
    import struct

    import pytest

    from druid_datafusion_bridge_spark.operators.multimodal import (
        _png_encode,
        decode_png,
    )

    with pytest.raises(ValueError, match="not a PNG"):
        decode_png(b"GIF89a" + b"\x00" * 32)

    data = bytearray(_png_encode(5))
    # flip one byte inside the IHDR body -> CRC must catch it
    data[20] ^= 0xFF
    with pytest.raises(ValueError, match="CRC"):
        decode_png(bytes(data))

    # valid chunks but 16-bit depth declared -> unsupported layout
    import zlib

    def chunk(tag, body):
        return (
            struct.pack(">I", len(body)) + tag + body
            + struct.pack(">I", zlib.crc32(tag + body))
        )

    bad = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 4, 3, 16, 2, 0, 0, 0))
        + chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError):
        decode_png(bad)


def test_gif_lzw_roundtrip_width_transitions_and_reset():
    """The REAL LZW codec pair: round-trips must survive the 9->10->
    11->12 code-width transitions AND a 4096 dictionary reset (the two
    places an off-by-one silently corrupts every later pixel), plus
    the compressible-input path (dictionary hits) and the K[..]K
    self-reference case."""
    import random

    from druid_datafusion_bridge_spark.operators.multimodal import (
        _gif_lzw_decode,
        _gif_lzw_encode,
    )

    rng = random.Random(3)
    big = bytes(rng.randrange(256) for _ in range(60_000))  # resets
    assert _gif_lzw_decode(_gif_lzw_encode(big), len(big)) == big
    rep = (b"abcabcabd" * 700)[:6000]  # dictionary hits + K[..]K
    assert _gif_lzw_decode(_gif_lzw_encode(rep), len(rep)) == rep
    one = b"\x07" * 5000
    enc = _gif_lzw_encode(one)
    assert len(enc) < 200  # compression is real, not literal codes
    assert _gif_lzw_decode(enc, len(one)) == one

    # INDEPENDENT reference decoder, written to the GIF STANDARD's
    # late-change rule in a different style (whole-stream int, MSB
    # math): a self-consistent encoder/decoder pair can both sit one
    # code off the standard and round-trip anyway — two independent
    # implementations cannot (the r9 review caught exactly that bug).
    def reference_decode(data: bytes, n: int) -> bytes:
        stream = int.from_bytes(data, "little")
        bitpos = 0
        table = [bytes([i]) for i in range(256)] + [b"", b""]
        nxt, width, prev = 258, 9, None
        out = bytearray()
        while len(out) < n:
            code = (stream >> bitpos) & ((1 << width) - 1)
            bitpos += width
            if code == 256:
                table = [bytes([i]) for i in range(256)] + [b"", b""]
                nxt, width, prev = 258, 9, None
                continue
            if code == 257:
                break
            entry = (
                table[code] if code < nxt else prev + prev[:1]
            )
            out.extend(entry)
            if prev is not None and nxt < 4096:
                table.append(prev + entry[:1])
                nxt += 1
                if nxt == (1 << width) and width < 12:
                    width += 1
            prev = entry
        return bytes(out[:n])

    for payload in (big, rep, one):
        assert reference_decode(_gif_lzw_encode(payload),
                                len(payload)) == payload


def test_gif_decoder_exact_pixels():
    """Full-file GIF decode equals the closed-form index+palette law
    for every fixture shape (all 9x7 = 63 dimension combinations);
    malformed inputs raise loudly."""
    import numpy as np
    import pytest

    from druid_datafusion_bridge_spark.operators.multimodal import (
        _gif_encode,
        decode_gif,
    )

    for doc_id in range(63):
        w, h, pix = decode_gif(_gif_encode(doc_id))
        assert (w, h) == (8 + doc_id % 9, 6 + doc_id % 7)
        idx = np.arange(w * h)
        idx = (doc_id * 7 + idx * 13) % 256
        exp = np.stack(
            [idx, (2 * idx) % 256, (3 * idx) % 256], axis=1
        ).astype(np.uint8).reshape(h, w, 3)
        assert (pix == exp).all()
    with pytest.raises(ValueError, match="not a GIF"):
        decode_gif(b"PNG????")
    # interlace flag set -> loud, not wrong pixels
    data = bytearray(_gif_encode(5))
    img_off = data.index(b"\x2c", 13 + 768)
    data[img_off + 9] |= 0x40
    with pytest.raises(ValueError, match="interlaced"):
        decode_gif(bytes(data))


def test_gif_truncated_payload_raises_loudly():
    """A payload cut mid-sub-block must raise the documented ValueError
    (naming the malformed GIF), never a bare IndexError from an
    unchecked offset walk."""
    import pytest

    from druid_datafusion_bridge_spark.operators.multimodal import (
        _gif_encode,
        decode_gif,
    )

    data = _gif_encode(7)
    for cut in (len(data) - 3, len(data) // 2, 13 + 700, 10):
        with pytest.raises(ValueError):
            decode_gif(data[:cut])


def test_channel_stats_truncated_payload_loud_on_executor(spark):
    """gif/png_channel_stats must surface a cut payload on the executor
    as the decoders' documented ValueError text (the bare
    IndexError/struct.error contract gap the r9 ADVICE flagged), not an
    anonymous worker traceback."""
    import pytest

    from druid_datafusion_bridge_spark.operators.multimodal import (
        _gif_encode,
        gif_channel_stats,
        png_channel_stats,
    )

    gif = _gif_encode(7)
    blobs = spark.createDataFrame(
        [(1, bytearray(gif[: len(gif) // 2]))], "doc_id long, payload binary"
    )
    with pytest.raises(Exception, match="truncated or malformed GIF"):
        gif_channel_stats(blobs).collect()
    # an obviously-cut PNG (header only) through the png path
    png_head = bytes.fromhex("89504e470d0a1a0a") + b"\x00\x00\x00\x0d"
    blobs = spark.createDataFrame(
        [(1, bytearray(png_head))], "doc_id long, payload binary"
    )
    with pytest.raises(Exception, match="truncated or malformed PNG"):
        png_channel_stats(blobs).collect()


def test_png_channel_stats_takes_rgb_and_palette_only(spark):
    """png_channel_stats decodes through decode_png: a palette PNG
    counts as its PLTE-expanded RGB, and any other channel layout is
    the loud ``unsupported PNG layout``."""
    import numpy as np
    import pytest

    from druid_datafusion_bridge_spark.operators.multimodal import (
        _png_encode_typed,
        decode_png,
        png_channel_stats,
    )

    palette = _png_encode_typed(1)  # doc 1 of the cycle is palette
    blobs = spark.createDataFrame(
        [(1, bytearray(palette))], "doc_id long, payload binary"
    )
    (row,) = png_channel_stats(blobs).collect()
    w, h, pix = decode_png(palette)
    sums = pix.reshape(-1, 3).sum(axis=0, dtype=np.int64).tolist()
    assert (row.width, row.height) == (w, h)
    assert [row.sum_r, row.sum_g, row.sum_b] == sums
    gray = spark.createDataFrame(
        [(0, bytearray(_png_encode_typed(0)))], "doc_id long, payload binary"
    )
    with pytest.raises(Exception, match="unsupported PNG layout"):
        png_channel_stats(gray).collect()


def test_bmp_decode_quirks_and_loud_errors():
    """decode_bmp honors the format's quirks (bottom-up rows, BGR,
    stride padding, negative-height top-down) and is loud on
    truncation and unsupported variants."""
    import struct

    import numpy as np
    import pytest

    from druid_datafusion_bridge_spark.operators.multimodal import (
        _bmp_encode,
        decode_bmp,
    )

    data = bytearray(_bmp_encode(5))
    w, h, pix = decode_bmp(bytes(data))

    # negative height = top-down: same pixels, rows pre-flipped
    td = bytearray(data)
    struct.pack_into("<i", td, 22, -h)
    # flip the stored rows so the image content stays identical
    stride = (w * 3 + 3) // 4 * 4
    body = td[54:]
    rows = [bytes(body[i * stride:(i + 1) * stride]) for i in range(h)]
    td[54:] = b"".join(reversed(rows))
    w2, h2, pix2 = decode_bmp(bytes(td))
    assert (w2, h2) == (w, h) and (pix2 == pix).all()

    with pytest.raises(ValueError, match="not a BMP"):
        decode_bmp(b"PNG garbage")
    bad = bytearray(data)
    struct.pack_into("<H", bad, 28, 8)  # bpp=8
    with pytest.raises(ValueError, match="unsupported BMP"):
        decode_bmp(bytes(bad))
    with pytest.raises(ValueError, match="truncated or malformed BMP"):
        decode_bmp(bytes(data[: len(data) // 2]))
    with pytest.raises(ValueError, match="truncated or malformed BMP"):
        decode_bmp(bytes(data[:20]))


def test_jpeg_codec_roundtrip_and_rejections():
    """Baseline JPEG codec: block-constant images round-trip EXACTLY
    (DC-only blocks, all-ones quant), dense random images round-trip
    within IDCT rounding error, and color/progressive/truncated
    payloads are loud."""
    import numpy as np
    import pytest

    from druid_datafusion_bridge_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg,
    )

    for doc_id in (0, 1, 2, 3, 4, 5, 11):
        bwn, bhn = 1 + doc_id % 3, 1 + doc_id % 2
        blocks = (doc_id * 7 + np.arange(bwn * bhn) * 13) % 256
        pix = np.repeat(
            np.repeat(blocks.reshape(bhn, bwn), 8, 0), 8, 1
        ).astype(np.uint8)
        w, h, out = decode_jpeg(encode_jpeg(pix))
        assert (w, h) == (pix.shape[1], pix.shape[0])
        assert (out == pix).all()
    # general dense image, non-multiple-of-8 dims: the full
    # RLE/ZRL/EOB + AC Huffman path, error bounded by IDCT rounding
    rng = np.random.default_rng(20260816)
    pix = rng.integers(0, 256, (17, 29), dtype=np.uint8)
    w, h, out = decode_jpeg(encode_jpeg(pix))
    assert (w, h) == (29, 17)
    assert np.abs(out.astype(int) - pix.astype(int)).max() <= 2
    # gradient image exercises long zero runs + ZRL
    grad = np.outer(np.arange(16), np.ones(24)).astype(np.uint8) * 8
    _, _, out = decode_jpeg(encode_jpeg(grad))
    assert np.abs(out.astype(int) - grad.astype(int)).max() <= 2
    good = encode_jpeg(pix)
    with pytest.raises(ValueError):
        decode_jpeg(good[:50])
    with pytest.raises(ValueError, match="SOI"):
        decode_jpeg(b"not a jpeg at all")
    # an unsupported component count is rejected loudly, not misread
    # (1 = grayscale and 3 = 4:4:4 color are the supported forms)
    i = good.index(b"\xff\xc0")
    bad = bytearray(good)
    bad[i + 9] = 2
    with pytest.raises(ValueError, match="component"):
        decode_jpeg(bytes(bad))
    # progressive SOF2 rejected
    bad = bytearray(good)
    bad[i + 1] = 0xC2
    with pytest.raises(ValueError, match="SOF"):
        decode_jpeg(bytes(bad))


def test_jpeg_restart_markers():
    """DRI/RSTn round-trip: the encoder byte-aligns, emits cycling
    RST0-7 markers every interval and resets the DC predictor; the
    decoder consumes them in the entropy stream."""
    import numpy as np

    from druid_datafusion_bridge_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg,
    )

    rng = np.random.default_rng(42)
    pix = rng.integers(0, 256, (32, 80), dtype=np.uint8)  # 40 MCUs
    data = encode_jpeg(pix, restart_interval=3)
    assert b"\xff\xdd" in data  # DRI present
    # more than 8 restarts forces the RSTn index to wrap
    assert data.count(b"\xff\xd0") >= 2
    w, h, out = decode_jpeg(data)
    assert (w, h) == (80, 32)
    assert np.abs(out.astype(int) - pix.astype(int)).max() <= 2


def test_jpeg_color_codec():
    """3-component 4:4:4 color: block-constant RGB follows the
    deterministic two-round law exactly (forward YCbCr rounding, then
    inverse RGB rounding); dense random color round-trips within
    rounding error (with restart markers); subsampled color is
    rejected loudly."""
    import numpy as np
    import pytest

    from druid_datafusion_bridge_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg,
    )

    def law(R, G, B):
        cl = lambda x: min(255, max(0, int(np.floor(x + 0.5))))  # noqa: E731
        Y = cl(0.299 * R + 0.587 * G + 0.114 * B)
        Cb = cl(128 - 0.168736 * R - 0.331264 * G + 0.5 * B)
        Cr = cl(128 + 0.5 * R - 0.418688 * G - 0.081312 * B)
        return (cl(Y + 1.402 * (Cr - 128)),
                cl(Y - 0.344136 * (Cb - 128) - 0.714136 * (Cr - 128)),
                cl(Y + 1.772 * (Cb - 128)))

    for d in (0, 1, 2, 3, 5, 7):
        bwn, bhn = 1 + d % 3, 1 + d % 2
        b = np.arange(bwn * bhn).reshape(bhn, bwn)
        rgb = np.stack([(d * 11 + b * 17) % 256, (d * 13 + b * 19) % 256,
                        (d * 7 + b * 23) % 256], axis=-1).astype(np.uint8)
        pix = np.repeat(np.repeat(rgb, 8, 0), 8, 1)
        w, h, out = decode_jpeg(encode_jpeg(pix))
        assert out.shape == pix.shape
        for bi in range(bhn):
            for bj in range(bwn):
                blk = out[bi * 8:(bi + 1) * 8, bj * 8:(bj + 1) * 8]
                want = law(*(int(x) for x in rgb[bi, bj]))
                assert tuple(blk[0, 0]) == want and (
                    blk == blk[0, 0]
                ).all(), (d, bi, bj)
    rng = np.random.default_rng(20260817)
    pix = rng.integers(0, 256, (24, 40, 3), dtype=np.uint8)
    w, h, out = decode_jpeg(encode_jpeg(pix, restart_interval=4))
    assert (w, h) == (40, 24)
    assert np.abs(out.astype(int) - pix.astype(int)).max() <= 3
    # 4:2:0 (2x2-averaged chroma, replication upsampling):
    # macroblock-constant 16x16 color follows the same two-round law
    # exactly (constant chroma survives averaging), including with
    # restart markers and odd crop dims
    for d in (0, 1, 3, 4):
        bwn = 1 + d % 2
        b = np.arange(bwn).reshape(1, bwn)
        rgb = np.stack([(d * 11 + b * 17) % 256, (d * 13 + b * 19) % 256,
                        (d * 7 + b * 23) % 256], -1).astype(np.uint8)
        mb = np.repeat(np.repeat(rgb, 16, 0), 16, 1)
        w, h, out = decode_jpeg(encode_jpeg(mb, subsampling="420"))
        assert out.shape == mb.shape
        for bi in range(bwn):
            want = law(*(int(x) for x in rgb[0, bi]))
            blk = out[:, bi * 16:(bi + 1) * 16]
            assert tuple(blk[0, 0]) == want and (blk == blk[0, 0]).all()
    dense = rng.integers(0, 256, (19, 21, 3), dtype=np.uint8)
    w, h, out = decode_jpeg(
        encode_jpeg(dense, subsampling="420", restart_interval=2)
    )
    assert (w, h) == (21, 19) and out.shape == (19, 21, 3)
    # luminance stays close even where chroma is smoothed: the Y
    # channel itself round-trips within DCT rounding, but where the
    # replicated chroma drives R/G/B into the 0/255 clamp the
    # recombined luma shifts a few counts (inherent to 4:2:0 at
    # saturated chroma edges, not a codec bug)
    def luma(p):
        q = p.astype(float)
        return 0.299 * q[:, :, 0] + 0.587 * q[:, :, 1] + 0.114 * q[:, :, 2]
    assert np.abs(luma(out) - luma(dense)).max() <= 8
    # a non-dividing / degenerate sampling grid is rejected loudly
    good = encode_jpeg(pix)
    i = good.index(b"\xff\xc0")
    bad = bytearray(good)
    bad[i + 11] = 0x30  # chs=3, cvs=0
    with pytest.raises(ValueError, match="sampling grid"):
        decode_jpeg(bytes(bad))


def test_jpeg_single_component_scan_ignores_sampling_factors():
    """T.81 A.2: a single-component scan is non-interleaved — one data
    unit per MCU even when SOF declares 2x2 sampling (legal for
    grayscale files). The decoder must not apply interleaved-MCU
    geometry to it."""
    import numpy as np

    from druid_datafusion_bridge_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg,
    )

    rng = np.random.default_rng(99)
    pix = rng.integers(0, 256, (24, 24), dtype=np.uint8)
    data = bytearray(encode_jpeg(pix))
    i = bytes(data).index(b"\xff\xc0")
    assert data[i + 9] == 1  # one component
    data[i + 11] = 0x22  # declare 2x2 sampling on it
    w, h, out = decode_jpeg(bytes(data))
    assert (w, h) == (24, 24)
    assert np.abs(out.astype(int) - pix.astype(int)).max() <= 1


def test_png_color_types_roundtrip():
    """r12 generalized decoder: every 8-bit color type round-trips the
    typed fixture law — gray (1ch), palette (expanded through PLTE to
    RGB), gray+alpha (2ch), RGBA (4ch) — across all five scanline
    filters (heights 2-4, filter row % 5)."""
    from druid_datafusion_bridge_spark.operators.multimodal import (
        _png_encode_typed,
        decode_png,
    )

    for d in [0, 1, 2, 3, 4, 5, 6, 7, 17, 42, 101, 999]:
        ctype = (0, 3, 4, 6)[d % 4]
        w, h, pix = decode_png(_png_encode_typed(d))
        assert (w, h) == (3 + d % 4, 2 + d % 3)
        bpp = {0: 1, 3: 1, 4: 2, 6: 4}[ctype]
        stride = w * bpp
        law = lambda i: (d * 11 + i * 17) % 256  # noqa: E731
        if ctype == 3:
            assert pix.shape == (h, w, 3)
            for p in range(w * h):
                idx = law(p)
                expect = ((5 * idx) % 256, (7 * idx) % 256,
                          (11 * idx) % 256)
                got = tuple(int(v) for v in pix[p // w, p % w])
                assert got == expect, (d, p)
        else:
            assert pix.shape == (h, w, bpp)
            flat = pix.reshape(-1)
            assert all(
                int(v) == law(i) for i, v in enumerate(flat)
            ), (d, ctype)


def test_png_color_type_error_paths():
    import struct
    import zlib

    import pytest

    from druid_datafusion_bridge_spark.operators.multimodal import (
        decode_png,
    )

    def chunk(tag, body):
        return (
            struct.pack(">I", len(body)) + tag + body
            + struct.pack(">I", zlib.crc32(tag + body))
        )

    # palette PNG without a PLTE chunk is loud
    ihdr = struct.pack(">IIBBBBB", 1, 1, 8, 3, 0, 0, 0)
    idat = zlib.compress(bytes([0, 0]))  # filter 0 + one index byte
    data = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", idat) + chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="PLTE"):
        decode_png(data)
    # unknown color type (7) is loud by name
    ihdr = struct.pack(">IIBBBBB", 1, 1, 8, 7, 0, 0, 0)
    data = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", idat) + chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="color type"):
        decode_png(data)
    # Adam7 interlace stays loud
    ihdr = struct.pack(">IIBBBBB", 1, 1, 8, 2, 0, 0, 1)
    data = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", idat) + chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="non-interlaced"):
        decode_png(data)


def test_codec_inputs_are_rebalanced_across_tasks(spark):
    """r12: every payload attach/generate entry point rebalances an
    under-partitioned corpus BEFORE the Python boundary — a single-file
    corpus must not funnel all codec work into one task/worker — and
    the rebalance must not change per-row results (generators are pure
    functions of doc_id)."""
    from druid_datafusion_bridge_spark.operators.multimodal import (
        with_jpeg_payload,
        with_ppm_payload,
    )

    docs = table(spark, SF_DIR, "documents")
    assert len(docs.inputFiles()) <= 4  # precondition: under-partitioned
    n_part = spark.sparkContext.defaultParallelism
    for gen in (with_binary_payload, with_ppm_payload, with_jpeg_payload):
        out = gen(docs)
        assert out.rdd.getNumPartitions() >= min(n_part, 8), gen.__name__
    # rebalance is value-transparent: same payload per doc either way
    one = with_ppm_payload(docs.coalesce(1)).select("doc_id", "payload")
    many = with_ppm_payload(docs).select("doc_id", "payload")
    assert sorted(map(str, one.collect())) == sorted(map(str, many.collect()))


# sha256 over the payloads of doc ids 0..63, in id order, for every
# payload builder and the color-type PNG law: the oracles check decoded
# stats, these pin the encoded bytes themselves.
PAYLOAD_SHA256 = {
    "with_ppm_payload": "91cfce20690d1d2b02d507aa2ac63772d99aeaf612f7be8dfc84d6a7b15d5871",
    "with_wav_payload": "c5c885ee9641469226d640b820033cf3b2c9879550b793d1cb0c508261c26ea1",
    "with_video_payload": "624c6f0fe96c6913ae1b632e3973fd5fc28c2b608180a4a39bda0dca9ac6d392",
    "with_png_payload": "6a872b0e7d1ce4e5a244c695306a42cff42248787d3d1aa0ca1dd08c8660f878",
    "with_gif_payload": "9c3337ff6ffe7c9cd1b04d4d0e69be6dd7dac0c4070d9077b86dff5175741849",
    "with_bmp_payload": "d4c807b661f10f23c85e14dd7e7736525ef78b13c160a8228526ed1b5a6e1712",
    "with_jpeg_payload": "f885a479f62aa585ca3c6fd3a9fd5602d9a8d7b34a03ce51c0e3ea08f18386c8",
    "with_jpeg_color_payload": "4fb37b16157d933da75f44ced935ece257c7144f3e79cfaebe973bde3c0fdbe4",
    "with_jpeg_420_payload": "d3b836e0c145fea9c477d761fe4b6d34d7bc6643b2aa5dcefe92e9966f2aa1a7",
}
PNG_TYPED_SHA256 = "8348f3d52f3934bd87dc6191627bbc157283183d2b38c65bff8023e1ea8a4fea"
BINARY_SHA256 = "90950bddee3508e592cc5d6dde7702807abad476c87c54f0f41d75a994c2bb00"


def _payloads(df, key="doc_id"):
    return [bytes(r.payload) for r in sorted(df.collect(), key=lambda r: r[key])]


def test_payload_bytes_are_pinned(spark):
    import hashlib

    from druid_datafusion_bridge_spark.operators import multimodal as mm

    ids = spark.range(64).select(F.col("id").alias("doc_id"))
    got = {}
    for name in PAYLOAD_SHA256:
        got[name] = hashlib.sha256(
            b"".join(_payloads(getattr(mm, name)(ids)))
        ).hexdigest()
    assert got == PAYLOAD_SHA256
    typed = b"".join(mm._png_encode_typed(d) for d in range(64))
    assert hashlib.sha256(typed).hexdigest() == PNG_TYPED_SHA256
    text = ids.select(
        "doc_id",
        F.concat(F.lit("doc "), F.col("doc_id").cast("string")).alias("text"),
    )
    binary = b"".join(_payloads(mm.with_binary_payload(text)))
    assert hashlib.sha256(binary).hexdigest() == BINARY_SHA256


@pytest.mark.parametrize("name", sorted(PAYLOAD_SHA256))
def test_payload_builders_take_any_id_col(spark, name):
    """A builder keys its output by ``id_col`` whatever that column is
    called, and the payloads equal those keyed by a ``doc_id`` column."""
    from druid_datafusion_bridge_spark.operators import multimodal as mm

    build = getattr(mm, name)
    rows = sorted(build(spark.range(3), id_col="id").collect())
    assert [r.doc_id for r in rows] == [0, 1, 2]
    by_doc_id = build(spark.range(3).withColumnRenamed("id", "doc_id"))
    assert [bytes(r.payload) for r in rows] == _payloads(by_doc_id)
