"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Real from-scratch codecs for PPM, PNG (DEFLATE via stdlib zlib + all
five scanline filters), GIF (genuine LZW both directions), BMP,
baseline JPEG (DCT + Huffman, grayscale, 4:4:4 and 4:2:0 color,
restart markers) and RIFF/PCM WAV; MP3 stays stubbed (psychoacoustic
codec out of scope — the package depends on no codec library). Each
format has one module-level encoder and one decoder. Everything
Spark-side is Arrow-batched mapInPandas through one executor harness
(:func:`.core._map_docs`), which ships this package's zip to the
workers so the operator bodies call those codecs by reference:
payloads stay in executor-side batches end-to-end (never collected);
one Python worker per core streams batches;
``spark.sql.execution.arrow.maxRecordsPerBatch`` bounds peak memory
for large blobs.

Package layout: :mod:`.core` (the harness, binary plumbing, stub
features, PPM/WAV, resize, video container walk), :mod:`.images`
(PNG/GIF/BMP), :mod:`.jpeg`. This __init__ re-exports every public
name."""

from __future__ import annotations

from .core import (  # noqa: F401
    FEATURE_SCHEMA,
    PPM_RESIZE_SCHEMA,
    PPM_STATS_SCHEMA,
    RESIZE_SCHEMA,
    VIDEO_FRAME_SCHEMA,
    WAV_RESAMPLE_SCHEMA,
    WAV_STATS_SCHEMA,
    _decode_stub,
    decode_ppm,
    decode_wav,
    extract_features,
    frame_sample,
    ppm_channel_stats,
    ppm_resize_stats,
    resize,
    video_frame_stats,
    wav_amplitude_stats,
    wav_resample_stats,
    with_binary_payload,
    with_ppm_payload,
    with_video_payload,
    with_wav_payload,
)
from .images import (  # noqa: F401
    _bmp_encode,
    _gif_encode,
    _gif_lzw_decode,
    _gif_lzw_encode,
    _png_encode,
    _png_encode_typed,
    bmp_channel_stats,
    decode_bmp,
    decode_gif,
    decode_png,
    encode_png,
    gif_channel_stats,
    png_channel_stats,
    png_color_type_stats,
    with_bmp_payload,
    with_gif_payload,
    with_png_payload,
)
from .jpeg import (  # noqa: F401
    _jpeg_decoder,
    _jpeg_encoder,
    _jpeg_tables,
    _jpeg_zigzag,
    decode_jpeg,
    encode_jpeg,
    jpeg_luma_stats,
    jpeg_rgb_stats,
    with_jpeg_420_payload,
    with_jpeg_color_payload,
    with_jpeg_payload,
)
