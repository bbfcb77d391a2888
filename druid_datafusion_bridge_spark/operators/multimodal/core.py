"""Binary-payload plumbing, the executor harness, stub features, PPM/WAV codecs, resize, video container walk.

Every multimodal operator runs through :func:`_map_docs`: it ships this
package to the workers (``sources.datasource.ship_package``, as for the
DataSource and the ingest writer) and maps a per-document function over
the Arrow batches. So each format keeps exactly one module-level
encoder and decoder, and the operator bodies call them by reference.
:mod:`.images` (PNG/GIF/BMP) and :mod:`.jpeg` build on this module; the
package __init__ re-exports every public name."""

from __future__ import annotations

import functools
import struct
import zlib
from collections.abc import Callable, Iterable, Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .. import spread


FEATURE_SCHEMA = (
    "doc_id long, modality string, n_bytes long, width int, height int, "
    "feat array<float>"
)

PAYLOAD_SCHEMA = "doc_id long, payload binary"


def _map_docs(
    df: DataFrame,
    per_doc: Callable[..., Iterable[tuple]],
    schema: str,
    id_col: str = "doc_id",
    inputs: tuple[str, ...] = ("payload",),
) -> DataFrame:
    """The one executor harness of the multimodal operators: select
    ``id_col`` (aliased to ``doc_id``) and the ``inputs`` columns, then
    map ``per_doc(doc_id, *inputs)`` over the Arrow batches
    (mapInPandas; nothing collected). ``per_doc`` returns zero or more
    rows in ``schema``'s column order: a decoder emits one row per
    payload, the video walker one per sampled frame. ``per_doc`` and
    the codecs it calls are pickled by reference, so the package zip is
    shipped to the workers first."""
    from ...sources.datasource import ship_package

    ship_package(df.sparkSession)
    columns = StructType.fromDDL(schema).names

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            docs = zip(*(pdf[c] for c in pdf.columns))
            yield pd.DataFrame(
                [row for doc in docs for row in per_doc(*doc)], columns=columns
            )

    return df.select(F.col(id_col).alias("doc_id"), *inputs).mapInPandas(
        run, schema=schema
    )


def _with_payload(
    docs: DataFrame, id_col: str, encode: Callable[[int], bytes]
) -> DataFrame:
    """The ``with_*_payload`` shape: one ``encode(doc_id)`` payload per
    doc. spread() first (r12): an under-partitioned corpus would
    otherwise funnel all codec work into one task; the payload laws are
    pure functions of doc_id, so the rebalance is value-transparent."""
    return _map_docs(
        spread(docs.select(id_col)),
        lambda doc_id: [(doc_id, encode(doc_id))],
        PAYLOAD_SCHEMA,
        id_col,
        inputs=(),
    )


def _loud_on_malformed(fmt: str):
    """Decorator for a decoder: a cut or corrupt payload raises
    ``ValueError("truncated or malformed <fmt>: ...")`` instead of the
    bare IndexError / struct.error / zlib.error of an unchecked offset
    walk or np.frombuffer's own short-buffer ValueError. The decoder's
    named rejections ("not a PNG", "unsupported ...") pass through."""

    def wrap(decode):
        @functools.wraps(decode)
        def checked(data: bytes):
            try:
                return decode(data)
            except (IndexError, struct.error, zlib.error) as exc:
                raise ValueError(f"truncated or malformed {fmt}: {exc}") from exc
            except ValueError as exc:
                if "buffer" not in str(exc):
                    raise
                raise ValueError(f"truncated or malformed {fmt}: {exc}") from exc

        return checked

    return wrap


def _rgb_stats(fmt: str, decode, doc_id: int, payload: bytes) -> list[tuple]:
    """One PPM_STATS_SCHEMA row: the per-channel sums and means of an
    RGB image ``decode(payload)`` returns. Any other channel layout is
    the loud ``unsupported <fmt> layout``."""
    w, h, pix = decode(payload)
    if pix.shape[2:] != (3,):
        raise ValueError(f"unsupported {fmt} layout")
    sums = [int(s) for s in pix.reshape(-1, 3).sum(axis=0, dtype=np.int64)]
    n = w * h
    return [(doc_id, w, h, *sums, *(s / n for s in sums))]


def with_binary_payload(
    docs: DataFrame, text_col: str = "text", modality: str = "image"
) -> DataFrame:
    """Attach an opaque binary payload column + typed metadata, the way a
    100 TB multimodal table stores blobs (binary + sidecar metadata
    columns; real pipelines point at object storage instead of inlining).

    spread() first (r12): every payload attach/generate entry point in
    this package rebalances an under-partitioned corpus BEFORE the
    codec work — a single-file corpus otherwise funnels all decode
    (Python workers AND the JVM frame/byte expressions) through one
    task (guide §4: the boundary cost you control is columns and
    parallelism, and a 1-partition input sets parallelism to 1)."""
    return spread(docs).select(
        "doc_id",
        F.encode(F.col(text_col), "UTF-8").alias("payload"),
        F.lit(modality).alias("modality"),
        F.octet_length(F.col(text_col)).alias("n_bytes"),
    )


def _decode_stub(payload: bytes) -> tuple[int, int, list[float]]:
    """STUB decode kernel — deterministic fake for container without
    codecs. Real implementation would be e.g. PIL.Image.open(BytesIO(b)).

    Derives (width, height, 4-dim feature) from the bytes so tests can
    assert exact plumbing correctness.
    """
    n = len(payload)
    width = (n % 64) + 1
    height = (n % 48) + 1
    s = sum(payload[:16]) if n else 0
    feat = [float(n), float(s), float(payload[0] if n else 0), float(n % 7)]
    return width, height, feat


def _feature_row(doc_id, payload, modality, n_bytes) -> list[tuple]:
    return [(doc_id, modality, n_bytes, *_decode_stub(payload))]


def extract_features(blobs: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads: the UDF
    boundary carries only (doc_id, payload, modality, n_bytes)."""
    return _map_docs(
        blobs, _feature_row, FEATURE_SCHEMA,
        inputs=("payload", "modality", "n_bytes"),
    )


def frame_sample(blobs: DataFrame, every_n_bytes: int = 32) -> DataFrame:
    """'Frame sampling' plumbing over binary payloads: explode each blob
    into fixed-stride chunk offsets JVM-side (sequence/explode), keeping
    per-frame rows narrow. Stub for video frame extraction — the offsets
    and chunk lengths are real, the pixels are not."""
    n_frames = F.greatest(
        F.ceil(F.col("n_bytes") / every_n_bytes).cast("int"), F.lit(1)
    )
    return blobs.select(
        "doc_id",
        "n_bytes",
        F.explode(F.sequence(F.lit(0), n_frames - 1)).alias("frame_idx"),
    ).select(
        "doc_id",
        "frame_idx",
        (F.col("frame_idx") * every_n_bytes).alias("byte_offset"),
        F.least(
            F.lit(every_n_bytes), F.col("n_bytes") - F.col("frame_idx") * every_n_bytes
        ).alias("chunk_len"),
    )


RESIZE_SCHEMA = (
    "doc_id long, modality string, width int, height int, "
    "target_w int, target_h int, payload binary"
)


def resize(blobs: DataFrame, target_w: int = 32, target_h: int = 32) -> DataFrame:
    """Arrow-batched image-resize plumbing over binary payloads.

    STUB kernel (no codecs in this container): the "resized" payload is
    a deterministic downsample of the raw bytes — every k-th byte so the
    output length is ~target_w*target_h/64 — standing in for
    PIL.Image.resize. The Spark side is the real thing: binary-in /
    binary-out through mapInPandas, output metadata typed, batch shape
    preserved, nothing collected.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        out_len = max(1, (target_w * target_h) // 64)

        def shrink(payload: bytes) -> bytes:
            n = len(payload)
            if n == 0:
                return b""
            step = max(1, n // out_len)
            return payload[::step][:out_len]

        for pdf in batches:
            n = pdf["payload"].map(len)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "modality": pdf["modality"],
                    "width": (n % 64 + 1).astype("int32"),
                    "height": (n % 48 + 1).astype("int32"),
                    "target_w": target_w,
                    "target_h": target_h,
                    "payload": pdf["payload"].map(shrink),
                }
            )

    return blobs.mapInPandas(run, schema=RESIZE_SCHEMA)


PPM_STATS_SCHEMA = (
    "doc_id long, width int, height int, "
    "sum_r long, sum_g long, sum_b long, "
    "mean_r double, mean_g double, mean_b double"
)


def _ppm_encode(doc_id: int) -> bytes:
    """The PPM payload law: a binary P6 image with pixel_byte(i) =
    (doc_id*7 + i*13) % 256 over a (4 + id%5) x (3 + id%4) canvas."""
    w, h = 4 + doc_id % 5, 3 + doc_id % 4
    pix = bytes((doc_id * 7 + i * 13) % 256 for i in range(w * h * 3))
    return b"P6\n%d %d\n255\n" % (w, h) + pix


def with_ppm_payload(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Attach a REAL binary P6 PPM image per doc (see _ppm_encode) —
    generated executor-side in Arrow batches. Unlike the stub payloads,
    these are valid images any PPM reader opens; the closed-form pixel
    law lets a SQL oracle verify a real decoder's output independently."""
    return _with_payload(docs, id_col, _ppm_encode)


def _p6_frame(data: bytes, pos: int):
    """Parse the P6 image starting at byte ``pos``: magic, then width,
    height and maxval in any whitespace layout, then exactly ONE
    whitespace byte before the pixels. Returns (width, height,
    pixels[h, w, 3] uint8, offset just past the pixels) — the one P6
    parser behind decode_ppm and the video container walk."""
    if data[pos : pos + 2] != b"P6":
        raise ValueError(f"not a P6 PPM frame at byte {pos}")
    pos, tokens = pos + 2, []
    while len(tokens) < 3:
        while pos < len(data) and data[pos : pos + 1].isspace():
            pos += 1
        start = pos
        while pos < len(data) and not data[pos : pos + 1].isspace():
            pos += 1
        tokens.append(int(data[start:pos]))
    pos += 1  # the single whitespace after maxval
    w, h, maxval = tokens
    if maxval != 255:
        raise ValueError(f"unsupported maxval {maxval}")
    pix = np.frombuffer(data, dtype=np.uint8, count=w * h * 3, offset=pos)
    return w, h, pix.reshape(h, w, 3), pos + w * h * 3


@_loud_on_malformed("PPM")
def decode_ppm(data: bytes):
    """REAL P6 PPM decoder, pure numpy — no codec libraries needed.
    Returns (width, height, pixels[h, w, 3] uint8)."""
    w, h, pix, _end = _p6_frame(data, 0)
    return w, h, pix


def ppm_channel_stats(blobs: DataFrame) -> DataFrame:
    """Decode P6 payloads (REAL decoder) and emit per-channel sums and
    means — the working form of the decode->feature-extract pipeline."""
    return _map_docs(
        blobs, functools.partial(_rgb_stats, "PPM", decode_ppm), PPM_STATS_SCHEMA
    )


WAV_STATS_SCHEMA = (
    "doc_id long, n_samples long, sample_rate long, "
    "sum_amp long, sum_sq long, peak long, mean_amp double"
)


def _wav_encode(doc_id: int) -> bytes:
    """The WAV payload law: mono 16-bit PCM at 8 kHz, samples
    sample(i) = ((doc_id*31 + i*17) % 65536) - 32768 over a
    doc-dependent length (64 + id % 129), canonical 44-byte RIFF
    header."""
    n = 64 + doc_id % 129
    i = np.arange(n, dtype=np.int64)
    data = ((doc_id * 31 + i * 17) % 65536 - 32768).astype("<i2").tobytes()
    return (
        b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 16000, 2, 16)
        + b"data" + struct.pack("<I", len(data))
        + data
    )


def with_wav_payload(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Attach a REAL mono 16-bit PCM WAV per doc (see _wav_encode) —
    valid audio any WAV reader opens; the closed-form sample law lets a
    SQL oracle verify the decoder independently."""
    return _with_payload(docs, id_col, _wav_encode)


@_loud_on_malformed("WAV")
def decode_wav(data: bytes):
    """REAL WAV decoder, pure numpy: RIFF validation, chunk walk to
    fmt/data (tolerates extra chunks), 16-bit mono PCM samples.
    Returns (sample_rate, samples int16 ndarray)."""
    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    pos, rate, samples = 12, None, None
    while pos + 8 <= len(data):
        cid = data[pos : pos + 4]
        (size,) = struct.unpack_from("<I", data, pos + 4)
        body = pos + 8
        if cid == b"fmt ":
            fmt, channels, rate = struct.unpack_from("<HHI", data, body)
            (bits,) = struct.unpack_from("<H", data, body + 14)
            if fmt != 1 or channels != 1 or bits != 16:
                raise ValueError("only 16-bit mono PCM supported")
        elif cid == b"data":
            samples = np.frombuffer(data, dtype="<i2", count=size // 2, offset=body)
        pos = body + size + (size & 1)  # chunks are word-aligned
    if rate is None or samples is None:
        raise ValueError("missing fmt or data chunk")
    return rate, samples


def _wav_amplitude_row(doc_id: int, payload: bytes) -> list[tuple]:
    rate, s = decode_wav(payload)
    s64 = s.astype(np.int64)
    total = int(s64.sum())
    return [(
        doc_id, len(s), rate, total, int((s64 * s64).sum()),
        int(np.abs(s64).max()) if len(s) else 0,
        total / len(s) if len(s) else 0.0,
    )]


def wav_amplitude_stats(blobs: DataFrame) -> DataFrame:
    """Decode PCM WAV payloads (REAL decoder) and emit amplitude
    statistics — integer sums exact, mean as double."""
    return _map_docs(blobs, _wav_amplitude_row, WAV_STATS_SCHEMA)


PPM_RESIZE_SCHEMA = (
    "doc_id long, width int, height int, out_w int, out_h int, "
    "sum_resized long, mean_resized double"
)


def _ppm_resize_row(out_w: int, out_h: int, doc_id: int, payload: bytes) -> list[tuple]:
    w, h, pix = decode_ppm(payload)
    sy = (np.arange(out_h) * h) // out_h
    sx = (np.arange(out_w) * w) // out_w
    s = int(pix[sy][:, sx].sum(dtype=np.int64))
    return [(doc_id, w, h, out_w, out_h, s, s / (out_w * out_h * 3))]


def ppm_resize_stats(blobs: DataFrame, out_w: int = 2, out_h: int = 2) -> DataFrame:
    """REAL image resize: decode each P6 payload (pure-numpy decoder),
    nearest-neighbor downsample to (out_w, out_h) with the floor
    mapping sy = ty*h // out_h, sx = tx*w // out_w, and emit the
    resized image's integer pixel sum + mean. Because nearest-neighbor
    selects exact source pixels, the generator's closed-form pixel law
    predicts every output byte — a SQL oracle can check a real resize
    end-to-end."""
    return _map_docs(
        blobs, functools.partial(_ppm_resize_row, out_w, out_h), PPM_RESIZE_SCHEMA
    )


WAV_RESAMPLE_SCHEMA = (
    "doc_id long, sample_rate long, out_rate long, n_in long, n_out long, "
    "sum_out long, peak_out long"
)


def _wav_resample_row(factor: int, doc_id: int, payload: bytes) -> list[tuple]:
    rate, samples = decode_wav(payload)
    out = samples[::factor].astype(np.int64)
    return [(
        doc_id, rate, rate // factor, len(samples), len(out),
        int(out.sum()), int(np.abs(out).max()),
    )]


def wav_resample_stats(blobs: DataFrame, factor: int = 2) -> DataFrame:
    """REAL audio resample by integer decimation: decode each PCM WAV
    (pure-numpy RIFF walker), keep every ``factor``-th sample, and emit
    the downsampled stream's stats at the reduced rate. Decimation
    selects exact source samples, so the generator's closed-form sample
    law predicts every output value — a SQL oracle verifies the decode
    AND the resampling."""
    return _map_docs(
        blobs, functools.partial(_wav_resample_row, factor), WAV_RESAMPLE_SCHEMA
    )


VIDEO_FRAME_SCHEMA = (
    "doc_id long, frame_idx int, width int, height int, "
    "sum_pix long, mean_pix double"
)


def _video_encode(doc_id: int) -> bytes:
    """The video payload law: a stream of 2 + doc_id % 3 concatenated
    binary P6 frames (the MJPEG idea with an uncompressed codec); frame
    f is a 4x3 image with pixel_byte(i) = (doc_id*7 + f*11 + i*13) % 256."""
    return b"".join(
        b"P6\n4 3\n255\n"
        + bytes((doc_id * 7 + f * 11 + i * 13) % 256 for i in range(4 * 3 * 3))
        for f in range(2 + doc_id % 3)
    )


def with_video_payload(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Attach a REAL multi-frame video container per doc (see
    _video_encode) — valid input for any PPM-stream reader; the
    closed-form law lets SQL verify real frame extraction."""
    return _with_payload(docs, id_col, _video_encode)


def _video_frame_rows(every: int, doc_id: int, payload: bytes) -> Iterator[tuple]:
    pos, idx = 0, 0
    while pos < len(payload):
        w, h, pix, pos = _p6_frame(payload, pos)
        if idx % every == 0:
            s = int(pix.sum(dtype=np.int64))
            yield (doc_id, idx, w, h, s, s / (w * h * 3))
        idx += 1


def video_frame_stats(blobs: DataFrame, every: int = 2) -> DataFrame:
    """REAL video frame pipeline: walk the concatenated-PPM container
    frame by frame (parsing each P6 header to find the next frame
    boundary — no fixed stride assumed), keep every ``every``-th frame
    (temporal sampling), decode it, and emit per-frame pixel stats —
    MULTIPLE rows per input row, the shape a real video pipeline
    needs."""
    return _map_docs(
        blobs, functools.partial(_video_frame_rows, every), VIDEO_FRAME_SCHEMA
    )
