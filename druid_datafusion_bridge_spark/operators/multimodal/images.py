"""REAL PNG / GIF (from-scratch LZW) / BMP codecs with payload builders and channel stats.

One module-level encoder and one decoder per format; the operators run
them on the workers through :func:`.core._map_docs`."""

from __future__ import annotations

import functools
import struct
import zlib

import numpy as np

from pyspark.sql import DataFrame

from .. import spread
from .core import (
    PPM_STATS_SCHEMA,
    _loud_on_malformed,
    _map_docs,
    _rgb_stats,
    _with_payload,
)


#: PNG color type -> stored channels (8-bit only; depth 16 and Adam7
#: interlace stay loud). Type 3 stores palette INDICES and expands to
#: RGB through PLTE at decode time.
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _png_predict(ft: int, left: int, up: int, ul: int) -> int:
    """The predictor of PNG scanline filter type ``ft`` from the bytes
    to the left, above and upper-left: None, Sub, Up, Average, Paeth."""
    if ft == 0:
        return 0
    if ft == 1:
        return left
    if ft == 2:
        return up
    if ft == 3:
        return (left + up) // 2
    p = left + up - ul
    pa, pb, pc = abs(p - left), abs(p - up), abs(p - ul)
    if pa <= pb and pa <= pc:
        return left
    return up if pb <= pc else ul


def _png_chunk(tag: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body)) + tag + body
        + struct.pack(">I", zlib.crc32(tag + body))
    )


def encode_png(pix, plte: bytes | None = None) -> bytes:
    """REAL PNG encoder — stdlib zlib, no codec libraries: 8-bit, not
    interlaced, uint8[h, w, C] pixels with C = 1 (gray, or palette
    indices when ``plte`` is given), 2 (gray+alpha), 3 (RGB) or 4
    (RGBA). Scanline r uses filter type r % 5, so a decoder must
    implement ALL five PNG filters (None/Sub/Up/Average/Paeth) to
    reproduce the pixels."""
    h, w, bpp = pix.shape
    ctype = 3 if plte is not None else {1: 0, 2: 4, 3: 2, 4: 6}[bpp]
    stride = w * bpp
    raw = pix.tobytes()
    stream = bytearray()
    prev = bytes(stride)
    for row in range(h):
        ft = row % 5
        line = raw[row * stride : (row + 1) * stride]
        stream.append(ft)
        for i in range(stride):
            left = line[i - bpp] if i >= bpp else 0
            ul = prev[i - bpp] if i >= bpp else 0
            stream.append((line[i] - _png_predict(ft, left, prev[i], ul)) % 256)
        prev = line
    out = b"\x89PNG\r\n\x1a\n" + _png_chunk(
        b"IHDR", struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    )
    if plte is not None:
        out += _png_chunk(b"PLTE", plte)
    return (
        out
        + _png_chunk(b"IDAT", zlib.compress(bytes(stream)))
        + _png_chunk(b"IEND", b"")
    )


def _png_encode(doc_id: int) -> bytes:
    """The RGB PNG payload law: pixel_byte(i) = (doc_id*7 + i*13) % 256
    over a (4 + id%5) x (3 + id%4) canvas — the SAME law as the PPM
    payloads, so the closed-form SQL oracle carries over."""
    w, h = 4 + doc_id % 5, 3 + doc_id % 4
    pix = (doc_id * 7 + np.arange(h * w * 3) * 13) % 256
    return encode_png(pix.astype(np.uint8).reshape(h, w, 3))


def with_png_payload(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Attach a REAL binary PNG per doc (see _png_encode) — valid files
    any PNG reader opens (verified byte-for-byte against the pixel law
    in tests). Generated executor-side in Arrow batches."""
    return _with_payload(docs, id_col, _png_encode)


@_loud_on_malformed("PNG")
def decode_png(data: bytes):
    """REAL PNG decoder — pure stdlib zlib + numpy, no codec libraries:
    signature check, chunk walk with CRC32 verification, IHDR parse,
    zlib-inflate of concatenated IDATs, and full scanline unfiltering
    (all five filter types). r12: ALL five 8-bit color types decode —
    grayscale (0), RGB (2), palette (3, expanded to RGB through PLTE),
    gray+alpha (4) and RGBA (6) — the shapes real-world PNGs actually
    use. Returns (width, height, pixels[h, w, C] uint8) with C = 1
    (gray), 2 (gray+alpha), 3 (RGB / palette-expanded) or 4 (RGBA).
    16-bit depth and Adam7 interlace raise loudly. Formats needing
    psychoacoustic codecs (MP3) stay stubbed."""
    if data[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG")
    pos, w, plte = 8, None, None
    idat = bytearray()
    while pos < len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack(
            ">I", data[pos + 8 + length : pos + 12 + length]
        )
        if zlib.crc32(tag + body) != crc:
            raise ValueError(f"bad CRC in {tag!r} chunk")
        if tag == b"IHDR":
            w, h, depth, ctype, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", body
            )
            if ctype not in _PNG_CHANNELS:
                raise ValueError(f"unsupported PNG color type {ctype}")
            if (depth, comp, filt, interlace) != (8, 0, 0, 0):
                raise ValueError(
                    "only 8-bit non-interlaced PNG supported"
                )
        elif tag == b"PLTE":
            plte = body
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            break
        pos += 12 + length
    if w is None:
        raise ValueError("missing IHDR")
    stream = zlib.decompress(bytes(idat))
    bpp = _PNG_CHANNELS[ctype]
    stride = w * bpp
    if len(stream) != h * (1 + stride):
        raise ValueError("IDAT length mismatch")
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = bytes(stride)
    for row in range(h):
        base = row * (1 + stride)
        ft = stream[base]
        line = stream[base + 1 : base + 1 + stride]
        recon = bytearray(stride)
        for i in range(stride):
            left = recon[i - bpp] if i >= bpp else 0
            ul = prev[i - bpp] if i >= bpp else 0
            recon[i] = (line[i] + _png_predict(ft, left, prev[i], ul)) % 256
        out[row] = np.frombuffer(bytes(recon), dtype=np.uint8)
        prev = bytes(recon)
    px = out.reshape(h, w, bpp)
    if ctype == 3:
        if plte is None:
            raise ValueError("palette PNG missing PLTE chunk")
        pal = np.frombuffer(plte, dtype=np.uint8).reshape(-1, 3)
        px = pal[px[:, :, 0]]
    return w, h, px


def png_channel_stats(blobs: DataFrame) -> DataFrame:
    """Decode PNG payloads (REAL decoder) to per-channel sums/means —
    schema-identical to ppm_channel_stats so both image paths share one
    oracle shape. RGB and palette PNGs (expanded to RGB) are accepted;
    any other channel layout raises ``unsupported PNG layout``."""
    return _map_docs(
        blobs, functools.partial(_rgb_stats, "PNG", decode_png), PPM_STATS_SCHEMA
    )


def _gif_lzw_encode(indices: bytes) -> bytes:
    """REAL GIF LZW compression (8-bit minimum code size): dictionary
    build, variable-width codes 9->12 bits, CLEAR-code reset at 4096,
    LSB-first bit packing — the inverse of the decoder below. Width
    pairing is the GIF STANDARD's late change: the encoder widens
    after assigning entry 2^w (its nxt passes 2^w); the decoder,
    which lags ONE table entry behind the encoder by construction of
    LZW, widens when its nxt reaches 2^w. Both therefore widen after
    the same emitted code — pinned by the round-trip test across the
    9->10->11->12 transitions and a 4096 reset, AND by an independent
    late-change reference decoder in the tests (self-consistent pairs
    can still both be off the standard; two implementations can't)."""
    CLEAR, EOI = 256, 257
    codes: list[tuple[int, int]] = []

    def fresh() -> tuple[dict, int, int]:
        return {bytes([i]): i for i in range(256)}, 258, 9

    table, nxt, width = fresh()
    codes.append((CLEAR, width))
    cur = b""
    for b in indices:
        k = bytes([b])
        if cur + k in table:
            cur += k
            continue
        codes.append((table[cur], width))
        table[cur + k] = nxt
        nxt += 1
        if nxt == (1 << width) + 1 and width < 12:
            width += 1
        elif nxt == 4096:
            codes.append((CLEAR, width))
            table, nxt, width = fresh()
        cur = k
    if cur:
        codes.append((table[cur], width))
    codes.append((EOI, width))
    buf = nbits = 0
    out = bytearray()
    for code, w in codes:
        buf |= code << nbits
        nbits += w
        while nbits >= 8:
            out.append(buf & 0xFF)
            buf >>= 8
            nbits -= 8
    if nbits:
        out.append(buf & 0xFF)
    return bytes(out)


def _gif_lzw_decode(data: bytes, n_expected: int) -> bytes:
    """REAL GIF LZW decompression: the mirror of _gif_lzw_encode (see
    its docstring for the width pairing); stops after ``n_expected``
    indices or EOI."""
    CLEAR, EOI = 256, 257
    out = bytearray()
    table: list[bytes] = [bytes([i]) for i in range(256)] + [b"", b""]
    nxt, width = 258, 9
    prev: bytes | None = None
    buf = nbits = pos = 0
    while len(out) < n_expected:
        while nbits < width:
            if pos >= len(data):
                raise ValueError("LZW stream truncated")
            buf |= data[pos] << nbits
            pos += 1
            nbits += 8
        code = buf & ((1 << width) - 1)
        buf >>= width
        nbits -= width
        if code == CLEAR:
            table = [bytes([i]) for i in range(256)] + [b"", b""]
            nxt, width, prev = 258, 9, None
            continue
        if code == EOI:
            break
        if prev is None:
            entry = table[code]
        elif code < nxt:
            entry = table[code]
        elif code == nxt:
            entry = prev + prev[:1]  # the K[..]K self-reference case
        else:
            raise ValueError(f"LZW code {code} out of range")
        out.extend(entry)
        if prev is not None and nxt < 4096:
            table.append(prev + entry[:1])
            nxt += 1
            if nxt == (1 << width) and width < 12:
                width += 1
        prev = entry
    return bytes(out[:n_expected])


def _gif_encode(doc_id: int) -> bytes:
    """REAL GIF87a encoder (executor-side fixture): 256-color global
    palette with palette law palette[i] = (i, 2i%256, 3i%256), index
    law index(p) = (doc_id*7 + p*13) % 256 over a (8 + id%9) x
    (6 + id%7) canvas, image data LZW-compressed for real by
    _gif_lzw_encode. Valid files any GIF reader opens; the closed-form
    laws let a SQL oracle verify the decode independently."""
    w, h = 8 + doc_id % 9, 6 + doc_id % 7
    indices = bytes((doc_id * 7 + p * 13) % 256 for p in range(w * h))
    palette = bytearray()
    for i in range(256):
        palette += bytes((i, (2 * i) % 256, (3 * i) % 256))
    lzw = _gif_lzw_encode(indices)
    blocks = bytearray()
    for i in range(0, len(lzw), 255):
        chunk = lzw[i : i + 255]
        blocks.append(len(chunk))
        blocks += chunk
    blocks.append(0)
    return (
        b"GIF87a"
        + struct.pack("<HH", w, h)
        + bytes((0xF7, 0, 0))  # GCT present, 256 entries
        + bytes(palette)
        + b"\x2c" + struct.pack("<HHHH", 0, 0, w, h) + b"\x00"
        + bytes((8,))  # LZW minimum code size
        + bytes(blocks)
        + b"\x3b"
    )


@_loud_on_malformed("GIF")
def decode_gif(data: bytes):
    """REAL GIF decoder, pure python+numpy — no codec libraries:
    header + logical screen descriptor, global/local color table,
    extension-block skipping, and genuine LZW decompression
    (variable-width codes, CLEAR reset, the K[..]K case). Returns
    (width, height, pixels[h, w, 3] uint8) for the FIRST image.
    Deliberate documented subset: non-interlaced images (interlaced
    raises loudly; the fixtures and the overwhelming majority of
    data-pipeline GIFs are progressive-free)."""
    if data[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF")
    _w_s, _h_s, packed, _bg, _ar = struct.unpack("<HHBBB", data[6:13])
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        gct = np.frombuffer(
            data, dtype=np.uint8, count=n * 3, offset=pos
        ).reshape(n, 3)
        pos += n * 3
    while pos < len(data):
        b0 = data[pos]
        if b0 == 0x21:  # extension: skip sub-blocks
            pos += 2
            while data[pos]:
                pos += 1 + data[pos]
            pos += 1
        elif b0 == 0x2C:  # image descriptor
            _l, _t, w, h, ipacked = struct.unpack(
                "<HHHHB", data[pos + 1 : pos + 10]
            )
            pos += 10
            table = gct
            if ipacked & 0x80:  # local color table
                n = 2 << (ipacked & 0x07)
                table = np.frombuffer(
                    data, dtype=np.uint8, count=n * 3, offset=pos
                ).reshape(n, 3)
                pos += n * 3
            if ipacked & 0x40:
                raise ValueError("interlaced GIFs unsupported")
            if table is None:
                raise ValueError("no color table")
            min_code = data[pos]
            if min_code != 8:
                raise ValueError(
                    f"unsupported LZW minimum code size {min_code}"
                )
            pos += 1
            lzw = bytearray()
            while data[pos]:
                ln = data[pos]
                lzw += data[pos + 1 : pos + 1 + ln]
                pos += 1 + ln
            idx = np.frombuffer(
                _gif_lzw_decode(bytes(lzw), w * h), dtype=np.uint8
            )
            return w, h, table[idx].reshape(h, w, 3)
        elif b0 == 0x3B:
            break
        else:
            raise ValueError(f"unexpected GIF block 0x{b0:02x}")
    raise ValueError("no image block in GIF")


def with_gif_payload(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Attach a REAL binary GIF87a per doc (see _gif_encode) — valid
    files any GIF reader opens, image data LZW-compressed for real.
    Generated executor-side in Arrow batches."""
    return _with_payload(docs, id_col, _gif_encode)


def gif_channel_stats(blobs: DataFrame) -> DataFrame:
    """Decode GIF payloads (REAL LZW decoder) and emit per-channel sums
    and means — the compressed-palette-image twin of ppm/png_channel_
    stats."""
    return _map_docs(
        blobs, functools.partial(_rgb_stats, "GIF", decode_gif), PPM_STATS_SCHEMA
    )


def _bmp_encode(doc_id: int) -> bytes:
    """REAL 24-bit BI_RGB BMP encoder for the deterministic pixel law
    pixel_byte(i) = (doc_id*11 + i*19) % 256 (i indexes row-major
    top-down RGB bytes) on a (3 + id%6) x (2 + id%5) canvas — the
    width spread makes the 4-byte ROW PADDING vary (w*3 % 4 cycles
    through every case), so a decoder that mis-handles stride shows up
    immediately. Rows are stored BOTTOM-UP in BGR order, the format's
    two famous quirks."""
    w, h = 3 + doc_id % 6, 2 + doc_id % 5
    stride = (w * 3 + 3) // 4 * 4
    rows = bytearray()
    for fr in range(h - 1, -1, -1):  # file order: bottom row first
        for col in range(w):
            base = (fr * w + col) * 3
            for ch in (2, 1, 0):  # BGR on disk
                rows.append((doc_id * 11 + (base + ch) * 19) % 256)
        rows += b"\x00" * (stride - w * 3)
    img_size = stride * h
    header = b"BM" + struct.pack(
        "<IHHI", 54 + img_size, 0, 0, 54
    ) + struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, img_size, 2835, 2835, 0, 0
    )
    return bytes(header) + bytes(rows)



def with_bmp_payload(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Attach a REAL binary 24-bit BMP per doc (see _bmp_encode) —
    generated executor-side in Arrow batches, like the PPM/PNG/GIF
    payload builders."""
    return _with_payload(docs, id_col, _bmp_encode)


@_loud_on_malformed("BMP")
def decode_bmp(data: bytes):
    """REAL 24-bit BMP decoder, pure numpy: validates the BM magic,
    BITMAPINFOHEADER, bpp=24, BI_RGB (uncompressed); honors the pixel
    data offset, 4-byte row stride, bottom-up row order (negative
    height = top-down, also handled), and BGR byte order. Returns
    (width, height, pixels[h, w, 3] uint8, RGB, top-down)."""
    if data[:2] != b"BM":
        raise ValueError("not a BMP")
    offset = struct.unpack_from("<I", data, 10)[0]
    hdr_size, w, h = struct.unpack_from("<Iii", data, 14)
    _planes, bpp, comp = struct.unpack_from("<HHI", data, 26)
    if hdr_size < 40:
        raise ValueError(f"unsupported DIB header size {hdr_size}")
    if bpp != 24 or comp != 0:
        raise ValueError(
            f"unsupported BMP: bpp={bpp} compression={comp} "
            "(24-bit BI_RGB only)"
        )
    top_down = h < 0
    h = abs(h)
    stride = (w * 3 + 3) // 4 * 4
    raw = np.frombuffer(
        data, dtype=np.uint8, count=stride * h, offset=offset
    ).reshape(h, stride)
    rows = raw[:, : w * 3].reshape(h, w, 3)
    if not top_down:
        rows = rows[::-1]
    return w, h, rows[:, :, ::-1]  # BGR -> RGB


def bmp_channel_stats(blobs: DataFrame) -> DataFrame:
    """Decode 24-bit BMP payloads (REAL decoder — stride, bottom-up,
    BGR all honored) to per-channel sums and means."""
    return _map_docs(
        blobs, functools.partial(_rgb_stats, "BMP", decode_bmp), PPM_STATS_SCHEMA
    )


#: The ctype cycle the color-type fixtures walk: grayscale, palette,
#: gray+alpha, RGBA — the four real-world shapes beyond plain RGB.
_PNG_TYPE_CYCLE = (0, 3, 4, 6)


def _png_encode_typed(doc_id: int) -> bytes:
    """The color-type PNG payload law: ctype cycles _PNG_TYPE_CYCLE by
    doc_id, canvas (3 + id%4) x (2 + id%3), raw scanline byte law
    byte(i) = (id*11 + i*17) % 256 (indices counted over the whole
    image) — with encode_png's filter row % 5, a decoder must handle
    every color type AND all five filters. Palette images carry a
    256-entry PLTE with palette[i] = ((5i)%256, (7i)%256, (11i)%256)."""
    ctype = _PNG_TYPE_CYCLE[doc_id % 4]
    bpp = _PNG_CHANNELS[ctype]
    w, h = 3 + doc_id % 4, 2 + doc_id % 3
    pix = (doc_id * 11 + np.arange(h * w * bpp) * 17) % 256
    plte = None
    if ctype == 3:
        plte = bytes(
            v
            for i in range(256)
            for v in ((5 * i) % 256, (7 * i) % 256, (11 * i) % 256)
        )
    return encode_png(pix.astype(np.uint8).reshape(h, w, bpp), plte)


PNG_COLOR_TYPE_SCHEMA = (
    "doc_id long, ctype int, width int, height int, "
    "sum_r long, sum_g long, sum_b long, sum_a long, mean_rgb double"
)


def _png_color_type_row(doc_id: int) -> list[tuple]:
    payload = _png_encode_typed(doc_id)
    ctype = payload[25]  # IHDR's color type byte
    w, h, px = decode_png(payload)
    a64 = px.astype(np.int64)
    n = w * h
    if ctype in (0, 4):  # gray expands to r = g = b
        r = g = b = int(a64[:, :, 0].sum())
    else:  # RGB, palette expanded to RGB, RGBA
        r, g, b = (int(a64[:, :, c].sum()) for c in range(3))
    a = int(a64[:, :, -1].sum()) if ctype in (4, 6) else 255 * n
    return [(doc_id, ctype, w, h, r, g, b, a, (r + g + b) / (3.0 * n))]


def png_color_type_stats(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """End-to-end color-type PNG lane: per doc, build the typed fixture
    PNG (_png_encode_typed law) and decode it with the REAL generalized
    decoder, emitting canonical-RGBA channel sums — gray expands to
    r=g=b, palette expands through PLTE, missing alpha reads 255. Any
    color-type, PLTE, filter, or inflate bug is a value mismatch against
    the closed-form oracle."""
    return _map_docs(
        spread(docs.select(id_col)),
        _png_color_type_row,
        PNG_COLOR_TYPE_SCHEMA,
        id_col,
        inputs=(),
    )
