"""Round-4 REAL stdlib codecs: PNG inflate+unfilter and PCM WAV decode.
The oracle-parity queries prove content-exactness on the gradient/tone
corpora; these tests cover the codec edges parity can't reach (foreign
filter types, resize resampling, PCM frame windows)."""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from .conftest import SF_DIR
from logstream_processing_service_spark.sources.tables import load_table


def _png_with_filters(px: np.ndarray, ftypes: list[int]) -> bytes:
    """Build a PNG whose scanlines use the GIVEN filter types (what other
    encoders emit; our encoder always writes 0) by forward-filtering the
    target pixels, so decode must reverse each type to recover them."""
    from logstream_processing_service_spark.operators.multimodal import (
        _PNG_SIG,
    )

    h, w = px.shape
    raw = bytearray()
    prev = np.zeros(w, dtype=np.int32)
    for y in range(h):
        cur = px[y].astype(np.int32)
        ft = ftypes[y % len(ftypes)]
        if ft == 0:
            line = cur.copy()
        elif ft == 1:
            line = cur - np.concatenate(([0], cur[:-1]))
        elif ft == 2:
            line = cur - prev
        elif ft == 3:
            left = np.concatenate(([0], cur[:-1]))
            line = cur - (left + prev) // 2
        else:  # 4: Paeth
            line = np.zeros(w, dtype=np.int32)
            for x in range(w):
                a = int(cur[x - 1]) if x else 0
                b = int(prev[x])
                c = int(prev[x - 1]) if x else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                line[x] = cur[x] - pred
        raw.append(ft)
        raw.extend((line & 0xFF).astype(np.uint8).tobytes())
        prev = cur

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data)) + tag + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    return (
        _PNG_SIG + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw))) + chunk(b"IEND", b"")
    )


def test_decode_png_all_filter_types():
    from logstream_processing_service_spark.operators.multimodal import (
        decode_png,
    )

    rng = np.random.default_rng(7)
    px = rng.integers(0, 256, (10, 17)).astype(np.uint8)
    for ftypes in ([1], [2], [3], [4], [0, 1, 2, 3, 4]):
        got = decode_png(_png_with_filters(px, ftypes))
        assert (got == px).all(), ftypes


def test_resize_media_real_png(spark):
    from logstream_processing_service_spark.operators.multimodal import (
        decode_png,
        resize_media,
        with_gradient_image_payload,
    )

    docs = load_table(spark, SF_DIR, "documents").limit(5)
    out = resize_media(
        with_gradient_image_payload(docs), width=16, height=12
    ).collect()
    assert len(out) == 5
    for r in out:
        px = decode_png(bytes(r["payload"]))
        assert px.shape == (12, 16)
        # nearest-neighbor preserves the gradient's corner pixel exactly
        seed = r["doc_id"] % 256
        assert px[0, 0] == seed % 256


def test_frame_sample_real_pcm(spark):
    from logstream_processing_service_spark.operators.multimodal import (
        frame_sample,
        with_tone_audio_payload,
    )

    docs = load_table(spark, SF_DIR, "documents").limit(4)
    rows = frame_sample(
        with_tone_audio_payload(docs), every_n_bytes=256, max_frames=4
    ).collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for d, frames in by_doc.items():
        assert 1 <= len(frames) <= 4
        # frames are 128 int16 mono samples each; the tone is non-silent
        arr = np.frombuffer(bytes(frames[0]["frame"]), dtype="<i2")
        assert len(arr) == 128 and np.abs(arr).max() > 0


def test_jpeg_decodes_natively_and_mp4_remains_gated(spark):
    import numpy as np

    from logstream_processing_service_spark.operators.jpegcodec import (
        synthetic_jpeg_blocks,
    )
    from logstream_processing_service_spark.operators.multimodal import (
        decode_media,
    )

    # baseline grayscale JPEG now decodes through the native codec: the
    # histogram feature comes from real pixels, and sums to 1
    feats = decode_media(synthetic_jpeg_blocks(16, 16, seed=3), "image/jpeg")
    assert abs(float(np.sum(feats)) - 1.0) < 1e-6
    # truncated/garbage JPEG and any MP4 still raise loudly
    with pytest.raises((ValueError, NotImplementedError, IndexError)):
        decode_media(b"\xff\xd8\xff", "image/jpeg")
    with pytest.raises(NotImplementedError):
        decode_media(b"\x00", "video/mp4")


@pytest.mark.parametrize(
    "module, fn",
    [
        ("gifcodec", "with_synthetic_gif_payload"),
        ("jpegcodec", "with_blocky_jpeg_payload"),
        ("mp4box", "with_mjpeg_mp4_payload"),
        ("multimodal", "with_gradient_image_payload"),
        ("multimodal", "with_tone_audio_payload"),
    ],
)
def test_payload_builders_reject_zero_n_parts(spark, module, fn):
    """``n_parts=0`` is invalid, not 'use the default' (``None`` is)."""
    import importlib

    build = getattr(
        importlib.import_module(f"logstream_processing_service_spark.operators.{module}"),
        fn,
    )
    docs = spark.range(3).withColumnRenamed("id", "doc_id")
    assert build(docs).count() == 3
    with pytest.raises(Exception, match="(?i)partition"):
        build(docs, n_parts=0)
