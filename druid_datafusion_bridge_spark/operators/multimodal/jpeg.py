"""From-scratch baseline JPEG codec: DCT + Huffman, grayscale, 4:4:4 and 4:2:0 color, DRI restarts.

``encode_jpeg``/``decode_jpeg`` are the one encoder and decoder; the
payload builders and stats operators run them on the workers through
:func:`.core._map_docs`."""

from __future__ import annotations

import functools
import struct

import numpy as np

from pyspark.sql import DataFrame

from .core import PPM_STATS_SCHEMA, _map_docs, _rgb_stats, _with_payload


# --- baseline JPEG (SOF0, grayscale): real DCT + Huffman codec --------
#
# The last multimodal stub closed on the container's terms (no codec
# libs): a from-scratch baseline JFIF pipeline in numpy — forward/
# inverse 8x8 DCT, quantization, zigzag, run-length + canonical
# Huffman entropy coding with byte stuffing. The encoder is general
# (any grayscale image); the payload law uses block-constant images so
# DC-only blocks round-trip EXACTLY (a constant block's DCT has one
# integral coefficient), which is what lets the registry oracle be
# closed-form over the pixel law while the decoder stays a real,
# general baseline decoder (it dequantizes and inverse-transforms all
# 64 coefficients of whatever stream it is handed). Color ships both
# 4:4:4 and 4:2:0 (2x2-averaged chroma on encode, pixel-replication
# upsampling on decode — deterministic, documented); other sampling
# grids decode generically as long as each factor divides the max.


def _jpeg_zigzag() -> list[int]:
    """The 64-entry zigzag order, derived algorithmically (ITU T.81
    figure 5's diagonal walk) rather than hardcoded."""
    out = []
    for d in range(15):
        idx = range(d + 1)
        for i in (idx if d % 2 else reversed(idx)):
            j = d - i
            if i < 8 and j < 8:
                out.append(i * 8 + j)
    return out


def _jpeg_tables():
    """Canonical Huffman specs: 12 DC categories all at code length 4,
    162 AC symbols (EOB, 16 runs x 10 sizes, ZRL) all at length 8 —
    valid tables (Kraft sum < 1, the all-ones code unused) that DHT
    carries like any encoder's; the decoder rebuilds whatever DHT
    declares, these included. Returns (dc_bits, dc_vals, ac_bits,
    ac_vals)."""
    dc_vals = list(range(12))
    dc_bits = [0] * 16
    dc_bits[3] = 12  # all 12 symbols at code length 4
    ac_vals = [0x00]  # EOB
    for run in range(16):
        for size in range(1, 11):
            ac_vals.append((run << 4) | size)
    ac_vals.append(0xF0)  # ZRL
    ac_bits = [0] * 16
    ac_bits[7] = len(ac_vals)  # all 162 at code length 8
    return dc_bits, dc_vals, ac_bits, ac_vals


def _jpeg_encoder():
    """Build the baseline JPEG encoder
    ``encode(pixels, restart_interval=0) -> bytes`` — uint8[h, w] emits
    grayscale SOF0; uint8[h, w, 3] RGB converts to YCbCr (BT.601/JFIF,
    floor(x + 0.5) rounding) and emits 3-component 4:4:4 with
    interleaved per-MCU blocks and per-component DC predictors. Quant
    table all-ones for max fidelity. ``subsampling="420"`` averages
    chroma over 2x2 (floor(mean + 0.5)). Built once, as
    ``encode_jpeg``."""
    zig = _jpeg_zigzag()
    dc_bits, dc_vals, ac_bits, ac_vals = _jpeg_tables()

    def canonical(bits, vals):
        codes, code, i = {}, 0, 0
        for ln in range(1, 17):
            for _ in range(bits[ln - 1]):
                codes[vals[i]] = (ln, code)
                code += 1
                i += 1
            code <<= 1
        return codes

    dc_codes, ac_codes = canonical(dc_bits, dc_vals), canonical(
        ac_bits, ac_vals
    )
    k = np.arange(8)
    T = np.cos((2 * k[None, :] + 1) * k[:, None] * np.pi / 16)
    T[0] *= np.sqrt(1 / 8)
    T[1:] *= 0.5

    def encode(pix, restart_interval: int = 0,
               subsampling: str = "444") -> bytes:
        if pix.ndim == 3:
            # RGB -> YCbCr planes (BT.601/JFIF), floor(x + 0.5)
            # rounding + clamp — the decoder and the closed-form
            # oracles apply the same rule
            r = pix[:, :, 0].astype(np.float64)
            g = pix[:, :, 1].astype(np.float64)
            b = pix[:, :, 2].astype(np.float64)
            planes = [
                np.clip(np.floor(x + 0.5), 0, 255)
                for x in (
                    0.299 * r + 0.587 * g + 0.114 * b,
                    128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b,
                    128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b,
                )
            ]
            if subsampling == "420":
                # 2x2-averaged chroma (floor(mean + 0.5)); odd dims
                # edge-pad to even first. Y keeps (2,2) sampling.
                def half(pl):
                    hh, ww = pl.shape
                    pl = np.pad(pl, ((0, hh % 2), (0, ww % 2)),
                                mode="edge")
                    q = (pl[0::2, 0::2] + pl[0::2, 1::2]
                         + pl[1::2, 0::2] + pl[1::2, 1::2]) / 4.0
                    return np.floor(q + 0.5)

                comps = [(planes[0], 2, 2), (half(planes[1]), 1, 1),
                         (half(planes[2]), 1, 1)]
            elif subsampling == "444":
                comps = [(pl, 1, 1) for pl in planes]
            else:
                raise ValueError(
                    f"unsupported subsampling {subsampling!r}"
                )
        else:
            comps = [(pix.astype(np.float64), 1, 1)]
        h, w = (pix.shape[0], pix.shape[1])
        hmax = max(c[1] for c in comps)
        vmax = max(c[2] for c in comps)
        mcux = -(-w // (8 * hmax))
        mcuy = -(-h // (8 * vmax))
        padded = []
        for pl, hi, vi in comps:
            th, tw = mcuy * 8 * vi, mcux * 8 * hi
            ph, pw = pl.shape
            padded.append(
                (np.pad(pl, ((0, th - ph), (0, tw - pw)), mode="edge"),
                 hi, vi)
            )
        out = bytearray()
        bitbuf, nbits = 0, 0

        def put(ln: int, code: int) -> None:
            nonlocal bitbuf, nbits
            bitbuf = (bitbuf << ln) | code
            nbits += ln
            while nbits >= 8:
                byte = (bitbuf >> (nbits - 8)) & 0xFF
                out.append(byte)
                if byte == 0xFF:
                    out.append(0x00)  # byte stuffing
                nbits -= 8
            bitbuf &= (1 << nbits) - 1

        def put_val(v: int) -> tuple[int, int]:
            s = int(abs(v)).bit_length()
            return s, (v if v >= 0 else v + (1 << s) - 1)

        def align_pad() -> None:
            nonlocal nbits
            if nbits:
                put(8 - nbits, (1 << (8 - nbits)) - 1)  # pad with 1s

        prev_dc = [0] * len(comps)
        mcu = rst = 0
        for my in range(mcuy):
            for mx in range(mcux):
                if restart_interval and mcu and mcu % restart_interval == 0:
                    # byte-align, emit RSTn (n cycles 0-7), reset DC
                    align_pad()
                    out += bytes([0xFF, 0xD0 + rst])
                    rst = (rst + 1) % 8
                    prev_dc = [0] * len(comps)
                mcu += 1
                # interleaved MCU: vi x hi blocks per component in
                # raster order (T.81 interleaving)
                for ci, (plane, hi, vi) in enumerate(padded):
                    for by in range(vi):
                        for bx in range(hi):
                            y0 = (my * vi + by) * 8
                            x0 = (mx * hi + bx) * 8
                            blk = plane[y0:y0 + 8, x0:x0 + 8] - 128.0
                            coef = np.rint(T @ blk @ T.T).astype(
                                np.int64
                            )
                            zz = coef.flatten()[zig]
                            s, bitsv = put_val(int(zz[0]) - prev_dc[ci])
                            prev_dc[ci] = int(zz[0])
                            put(*dc_codes[s])
                            if s:
                                put(s, bitsv)
                            run = 0
                            nz = np.nonzero(zz[1:])[0]
                            last = nz[-1] + 1 if len(nz) else 0
                            for i in range(1, last + 1):
                                v = int(zz[i])
                                if v == 0:
                                    run += 1
                                    continue
                                while run >= 16:
                                    put(*ac_codes[0xF0])
                                    run -= 16
                                s, bitsv = put_val(v)
                                put(*ac_codes[(run << 4) | s])
                                put(s, bitsv)
                                run = 0
                            if last < 63:
                                put(*ac_codes[0x00])  # EOB
        align_pad()

        def seg(marker: int, body: bytes) -> bytes:
            return struct.pack(">HH", marker, len(body) + 2) + body

        nc = len(comps)
        qt = bytes([0]) + bytes([1] * 64)
        sof = struct.pack(">BHHB", 8, h, w, nc) + b"".join(
            bytes([ci + 1, (hi << 4) | vi, 0])
            for ci, (_pl, hi, vi) in enumerate(comps)
        )
        dht = (
            bytes([0x00]) + bytes(dc_bits) + bytes(dc_vals)
            + bytes([0x10]) + bytes(ac_bits) + bytes(ac_vals)
        )
        sos = (
            bytes([nc])
            + b"".join(bytes([cid + 1, 0x00]) for cid in range(nc))
            + bytes([0, 63, 0])
        )
        app0 = b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
        dri = (
            seg(0xFFDD, struct.pack(">H", restart_interval))
            if restart_interval else b""
        )
        return (
            b"\xff\xd8" + seg(0xFFE0, app0) + seg(0xFFDB, qt)
            + seg(0xFFC0, sof) + seg(0xFFC4, dht) + dri + seg(0xFFDA, sos)
            + bytes(out) + b"\xff\xd9"
        )

    return encode


def _jpeg_decoder():
    """Build the baseline JPEG decoder
    ``decode(data: bytes) -> (w, h, pixels)`` — a GENERAL baseline
    decoder: parses DQT/DHT/SOF0/DRI/SOS, rebuilds whatever Huffman
    tables DHT declares, entropy-decodes with byte unstuffing and
    restart-marker handling, dequantizes, dezigzags, and inverse-DCTs
    all 64 coefficients per block. One component returns uint8[h, w]
    grayscale; three components decode per-component planes with
    separate DC predictors and Huffman/quant table selections across
    the interleaved sampling grid (4:4:4, 4:2:0, 4:2:2 — any factors
    dividing the max), upsample by pixel replication, then convert
    YCbCr -> RGB (BT.601/JFIF, floor(x + 0.5) rounding — the same rule
    the encoder and the closed-form oracles use) to uint8[h, w, 3].
    Progressive SOFs, non-dividing sampling grids, and 16-bit quant
    tables raise the documented ValueError; truncated payloads are
    loud. Built once, as ``decode_jpeg``."""
    zig = _jpeg_zigzag()
    k = np.arange(8)
    T = np.cos((2 * k[None, :] + 1) * k[:, None] * np.pi / 16)
    T[0] *= np.sqrt(1 / 8)
    T[1:] *= 0.5

    def build(bits, vals):
        table, code, i = {}, 0, 0
        for ln in range(1, 17):
            for _ in range(bits[ln - 1]):
                table[(ln, code)] = vals[i]
                code += 1
                i += 1
            code <<= 1
        return table

    def decode(data: bytes):
        try:
            if data[:2] != b"\xff\xd8":
                raise ValueError("not a JPEG (no SOI)")
            pos = 2
            qtables: dict[int, np.ndarray] = {}
            htables: dict[tuple[int, int], dict] = {}
            w = h = None
            comps: list[tuple[int, int]] = []  # (id, tq) per component
            scan_sel: list[tuple[int, int, int]] = []  # (tq, td, ta)
            restart = 0
            scan_start = None
            while scan_start is None:
                if data[pos] != 0xFF:
                    raise ValueError(f"bad marker byte at {pos}")
                marker = data[pos + 1]
                pos += 2
                if marker in (0xD8, 0xD9) or 0xD0 <= marker <= 0xD7:
                    continue
                (ln,) = struct.unpack_from(">H", data, pos)
                body = data[pos + 2:pos + ln]
                pos += ln
                if marker == 0xDB:  # DQT
                    b = 0
                    while b < len(body):
                        pq, tq = body[b] >> 4, body[b] & 0xF
                        if pq != 0:
                            raise ValueError(
                                "16-bit quant tables unsupported"
                            )
                        qtables[tq] = np.frombuffer(
                            body, np.uint8, 64, b + 1
                        ).astype(np.int64)
                        b += 65
                elif marker == 0xC4:  # DHT
                    b = 0
                    while b < len(body):
                        tc, th = body[b] >> 4, body[b] & 0xF
                        bits = list(body[b + 1:b + 17])
                        n = sum(bits)
                        vals = list(body[b + 17:b + 17 + n])
                        htables[(tc, th)] = build(bits, vals)
                        b += 17 + n
                elif marker == 0xC0:  # SOF0 baseline
                    _prec, h, w, ncomp = struct.unpack_from(">BHHB", body)
                    if ncomp not in (1, 3):
                        raise ValueError(
                            f"{ncomp}-component JPEG unsupported"
                        )
                    comps = []
                    for ci in range(ncomp):
                        cid, samp, tq = body[6 + 3 * ci:9 + 3 * ci]
                        comps.append((cid, samp >> 4, samp & 0xF, tq))
                elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
                                0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
                    raise ValueError(
                        f"non-baseline SOF marker 0x{marker:02x} "
                        "unsupported"
                    )
                elif marker == 0xDD:  # DRI
                    (restart,) = struct.unpack_from(">H", body)
                elif marker == 0xDA:  # SOS
                    if body[0] != len(comps):
                        raise ValueError(
                            "scan component count != frame's "
                            "(progressive-style partial scans "
                            "unsupported)"
                        )
                    by_id = {c[0]: c for c in comps}
                    scan_sel = []
                    for ci in range(body[0]):
                        cid = body[1 + 2 * ci]
                        tt = body[2 + 2 * ci]
                        _cid, chs, cvs, tq = by_id[cid]
                        scan_sel.append(
                            (chs, cvs, tq, tt >> 4, tt & 0xF)
                        )
                    scan_start = pos
            if w is None:
                raise ValueError("no SOF0 before SOS")
            if len(scan_sel) == 1:
                # T.81 A.2: a single-component scan is NON-interleaved
                # — one data unit per MCU, ceil(w/8) x ceil(h/8) units
                # total, regardless of the component's declared
                # sampling factors (a grayscale file may legally
                # declare 2x2)
                chs, cvs, tq, td, ta = scan_sel[0]
                scan_sel = [(1, 1, tq, td, ta)]
            hmax = max(c[0] for c in scan_sel)
            vmax = max(c[1] for c in scan_sel)
            for chs, cvs, _tq, _td, _ta in scan_sel:
                if chs < 1 or cvs < 1 or hmax % chs or vmax % cvs:
                    raise ValueError(
                        f"unsupported sampling grid {chs}x{cvs} "
                        f"(max {hmax}x{vmax})"
                    )
            tabs = [
                (chs, cvs, qtables[tq], htables[(0, td)],
                 htables[(1, ta)])
                for chs, cvs, tq, td, ta in scan_sel
            ]

            bitpos = scan_start * 8

            def read_bit() -> int:
                nonlocal bitpos
                byte_i = bitpos >> 3
                b = data[byte_i]
                if b == 0xFF:
                    nxt = data[byte_i + 1]
                    if nxt == 0xD9:
                        raise ValueError("entropy stream truncated (EOI)")
                    if nxt != 0x00 and not 0xD0 <= nxt <= 0xD7:
                        raise ValueError(f"marker 0x{nxt:02x} in scan")
                bit = (b >> (7 - (bitpos & 7))) & 1
                bitpos += 1
                if (bitpos & 7) == 0 and b == 0xFF:
                    bitpos += 8  # skip the stuffed 0x00
                return bit

            def read_code(tab) -> int:
                ln, code = 0, 0
                while ln < 16:
                    code = (code << 1) | read_bit()
                    ln += 1
                    if (ln, code) in tab:
                        return tab[(ln, code)]
                raise ValueError("invalid Huffman code in scan")

            def extend(v: int, s: int) -> int:
                return v - (1 << s) + 1 if v < (1 << (s - 1)) else v

            mcux = -(-w // (8 * hmax))
            mcuy = -(-h // (8 * vmax))
            nc = len(tabs)
            planes = [
                np.zeros((mcuy * 8 * cvs, mcux * 8 * chs), np.uint8)
                for chs, cvs, _q, _d, _a in tabs
            ]
            prev_dc = [0] * nc
            mcu = 0
            for my in range(mcuy):
                for mx in range(mcux):
                    if restart and mcu and mcu % restart == 0:
                        # byte-align, then consume the RSTn marker.
                        # If the pad byte was 0xFF its stuffed 0x00
                        # may not have been skipped yet (read_bit only
                        # skips on byte completion) — step over it.
                        bitpos = (bitpos + 7) & ~7
                        i = bitpos >> 3
                        if (
                            i > 0 and data[i] == 0x00
                            and data[i - 1] == 0xFF
                        ):
                            i += 1
                        while data[i] == 0xFF and 0xD0 <= data[i + 1] <= 0xD7:
                            i += 2
                        bitpos = i << 3
                        prev_dc = [0] * nc
                    mcu += 1
                    # interleaved MCU: cvs x chs blocks per component
                    # in raster order (T.81 interleaving)
                    for ci, (chs, cvs, quant, dc_tab, ac_tab) in (
                        enumerate(tabs)
                    ):
                      for iby in range(cvs):
                        for ibx in range(chs):
                            zz = np.zeros(64, np.int64)
                            s = read_code(dc_tab)
                            diff = 0
                            if s:
                                v = 0
                                for _ in range(s):
                                    v = (v << 1) | read_bit()
                                diff = extend(v, s)
                            prev_dc[ci] += diff
                            zz[0] = prev_dc[ci]
                            ki = 1
                            while ki < 64:
                                sym = read_code(ac_tab)
                                if sym == 0x00:  # EOB
                                    break
                                if sym == 0xF0:  # ZRL
                                    ki += 16
                                    continue
                                run, s = sym >> 4, sym & 0xF
                                ki += run
                                if ki > 63:
                                    raise ValueError(
                                        "AC run past block end"
                                    )
                                v = 0
                                for _ in range(s):
                                    v = (v << 1) | read_bit()
                                zz[ki] = extend(v, s)
                                ki += 1
                            coef = np.zeros(64, np.int64)
                            coef[zig] = zz * quant  # zigzag-order dequant
                            blk = (
                                T.T
                                @ coef.reshape(8, 8).astype(np.float64)
                                @ T
                            )
                            y0 = (my * cvs + iby) * 8
                            x0 = (mx * chs + ibx) * 8
                            planes[ci][
                                y0:y0 + 8, x0:x0 + 8
                            ] = np.clip(
                                np.rint(blk + 128.0), 0, 255
                            ).astype(np.uint8)
            # upsample subsampled components by pixel replication
            # (nearest neighbor — deterministic, documented; libjpeg's
            # "fancy" bilinear is an interpolation CHOICE, not part of
            # the format), then crop to frame dims
            full = []
            for pl, (chs, cvs, _q, _d, _a) in zip(planes, tabs):
                if chs != hmax:
                    pl = np.repeat(pl, hmax // chs, axis=1)
                if cvs != vmax:
                    pl = np.repeat(pl, vmax // cvs, axis=0)
                full.append(pl)
            planes = full
            if nc == 1:
                return w, h, planes[0][:h, :w]
            # BT.601/JFIF YCbCr -> RGB, floor(x + 0.5) rounding (the
            # encoder's forward rule and the closed-form oracles use
            # the same), then clamp
            y = planes[0][:h, :w].astype(np.float64)
            cb = planes[1][:h, :w].astype(np.float64) - 128.0
            cr = planes[2][:h, :w].astype(np.float64) - 128.0
            rgb = np.stack(
                [
                    y + 1.402 * cr,
                    y - 0.344136 * cb - 0.714136 * cr,
                    y + 1.772 * cb,
                ],
                axis=-1,
            )
            return w, h, np.clip(
                np.floor(rgb + 0.5), 0, 255
            ).astype(np.uint8)
        except (IndexError, struct.error, KeyError) as exc:
            raise ValueError(
                f"truncated or malformed JPEG: {exc!r}"
            ) from exc

    return decode


decode_jpeg = _jpeg_decoder()
encode_jpeg = _jpeg_encoder()


def _block_image(blocks, size: int):
    """Expand one value (or RGB triple) per size x size block to pixels."""
    return np.repeat(np.repeat(blocks, size, axis=0), size, axis=1).astype(np.uint8)


def _jpeg_gray_encode(doc_id: int) -> bytes:
    """The grayscale JPEG payload law: width 8*(1 + doc_id%3), height
    8*(1 + doc_id%2), each 8x8 block constant at (doc_id*7 + b*13) % 256
    for raster block index b — block-constant so the lossy pipeline
    round-trips bit-exactly (DC-only blocks; see the codec header)."""
    bwn, bhn = 1 + doc_id % 3, 1 + doc_id % 2
    blocks = (doc_id * 7 + np.arange(bwn * bhn) * 13) % 256
    return encode_jpeg(_block_image(blocks.reshape(bhn, bwn), 8))


def _rgb_blocks(doc_id: int, b):
    """The color JPEG laws' RGB per block (or macroblock) index ``b``."""
    return np.stack(
        [
            (doc_id * 11 + b * 17) % 256,
            (doc_id * 13 + b * 19) % 256,
            (doc_id * 7 + b * 23) % 256,
        ],
        axis=-1,
    )


def _jpeg_color_encode(doc_id: int) -> bytes:
    """The 4:4:4 color JPEG payload law: width 8*(1 + doc_id%3), height
    8*(1 + doc_id%2), each 8x8 block a constant RGB (_rgb_blocks) —
    block-constant in YCbCr too (the forward conversion is per-pixel),
    so the DCT pipeline round-trips the rounded YCbCr exactly and the
    decoded RGB is the deterministic two-round law the oracle
    recomputes in closed form."""
    bwn, bhn = 1 + doc_id % 3, 1 + doc_id % 2
    b = np.arange(bwn * bhn).reshape(bhn, bwn)
    return encode_jpeg(_block_image(_rgb_blocks(doc_id, b), 8))


def _jpeg_420_encode(doc_id: int) -> bytes:
    """The 4:2:0 color JPEG payload law (the layout most JPEGs in the
    wild use): width 16*(1 + doc_id%2), height 16, each 16x16
    MACROBLOCK a constant RGB (_rgb_blocks) — constant chroma survives
    the 2x2 averaging and the replication upsampling exactly, so decoded
    pixels follow the same closed-form two-round law as the 4:4:4
    payloads."""
    m = np.arange(1 + doc_id % 2).reshape(1, -1)
    return encode_jpeg(_block_image(_rgb_blocks(doc_id, m), 16), subsampling="420")


def with_jpeg_payload(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Attach a REAL baseline grayscale JFIF per doc (see
    _jpeg_gray_encode); the registry oracle stays closed-form."""
    return _with_payload(docs, id_col, _jpeg_gray_encode)


def _luma_row(doc_id: int, payload: bytes) -> list[tuple]:
    w, h, pix = decode_jpeg(payload)
    total = int(pix.astype(np.int64).sum())
    return [(doc_id, w, h, total, total / (w * h))]


def jpeg_luma_stats(blobs: DataFrame) -> DataFrame:
    """Decode baseline JPEG payloads (REAL decoder — Huffman, dequant,
    IDCT) to luminance sum/mean."""
    return _map_docs(
        blobs,
        _luma_row,
        "doc_id long, width int, height int, sum_y long, mean_y double",
    )


def with_jpeg_color_payload(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Attach a REAL 3-component 4:4:4 baseline JFIF per doc (see
    _jpeg_color_encode)."""
    return _with_payload(docs, id_col, _jpeg_color_encode)


def jpeg_rgb_stats(blobs: DataFrame) -> DataFrame:
    """Decode color JPEG payloads (REAL decoder — per-component
    Huffman, dequant, IDCT, YCbCr->RGB) to per-channel sums and means."""
    return _map_docs(
        blobs, functools.partial(_rgb_stats, "JPEG", decode_jpeg), PPM_STATS_SCHEMA
    )


def with_jpeg_420_payload(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Attach a REAL 4:2:0 baseline JFIF per doc (see _jpeg_420_encode)."""
    return _with_payload(docs, id_col, _jpeg_420_encode)
