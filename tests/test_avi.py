"""MJPEG-in-AVI (sources/avi.py + multimodal.sample_frames): real RIFF
walk, frames that ARE baseline JPEGs, real pixels through the downstream
feature kernels, and the tail-drop / bad-signature contract (bit-flip
fuzz: tests/test_fuzz_sources.py)."""

from __future__ import annotations

import numpy as np
import pytest

from ocr_spark.sources.avi import is_avi, parse_avi, write_avi_mjpeg
from ocr_spark.sources.jpeg import decode_jpeg, encode_jpeg

rng = np.random.default_rng(77)


def _block_img(seed: int, hb: int = 3, wb: int = 4) -> np.ndarray:
    r = np.random.default_rng(seed)
    vals = (128 + 16 * r.integers(-4, 5, (hb, wb))).astype(np.uint8)
    return np.repeat(np.repeat(vals, 8, 0), 8, 1)


def test_roundtrip_walk_order_and_fps():
    imgs = [_block_img(i) for i in range(7)]
    frames = [encode_jpeg(im) for im in imgs]
    data = write_avi_mjpeg(frames, fps=10.0, width=32, height=24)
    assert is_avi(data)
    got, fps = parse_avi(data)
    assert fps == pytest.approx(10.0)
    assert got == frames  # byte-identical, movi order
    # frames are real JPEGs on the DC-exact domain
    for f, im in zip(got, imgs):
        assert (decode_jpeg(f) == im).all()


def test_odd_length_frames_word_aligned():
    frames = [b"x" * 3, b"y" * 5, b"z" * 4]
    got, _ = parse_avi(write_avi_mjpeg(frames))
    assert got == frames


def test_truncated_tail_dropped_and_bad_signature_raises():
    """Bit-flip fuzz of the walker lives in tests/test_fuzz_sources.py."""
    frames = [encode_jpeg(_block_img(i)) for i in range(3)]
    data = write_avi_mjpeg(frames, fps=25.0)
    # truncation mid-last-frame drops only the tail
    cut = data[: len(data) - len(frames[2]) // 2]
    got, _ = parse_avi(cut)
    assert got == frames[:2]
    with pytest.raises(ValueError):
        parse_avi(b"RIFFxxxxWAVE")


def test_sample_frames_avi_real_pixels_e2e(spark):
    """sample_frames dispatches AVI: every_n sampling, container-derived
    timestamps, and the sampled rows decode to real pixels through
    extract_media_features (w/h = real frame geometry, not the fake)."""
    from pyspark.sql import functions as F

    from ocr_spark.operators.multimodal import (
        extract_media_features,
        sample_frames,
    )

    imgs = [_block_img(i, hb=2, wb=3) for i in range(12)]
    avi = write_avi_mjpeg(
        [encode_jpeg(im) for im in imgs], fps=20.0, width=24, height=16
    )
    video = spark.createDataFrame(
        [
            ("d1", "clip.avi", bytearray(avi), "video/avi"),
            ("d1", "bad.avi", bytearray(b"RIFF\x00\x00\x00\x00AVI garbage"), "video/avi"),
            ("d1", "junk.bin", bytearray(b"not a container"), "application/x"),
        ],
        "doc_id string, media_ref string, content binary, mime string",
    )
    frames = sample_frames(video, every_n=4).collect()
    by_ref = {}
    for r in frames:
        by_ref.setdefault(r["media_ref"], []).append(r)
    assert set(by_ref) == {"clip.avi"}
    rows = sorted(by_ref["clip.avi"], key=lambda r: r["frame_no"])
    assert [r["frame_no"] for r in rows] == [0, 4, 8]
    assert [r["ts_ms"] for r in rows] == [0, 200, 400]  # 20 fps → 50 ms/frame
    for r in rows:
        assert (decode_jpeg(bytes(r["content"])) == imgs[r["frame_no"]]).all()
    feats = extract_media_features(
        sample_frames(video, every_n=4).select(
            "doc_id",
            F.concat_ws("#", "media_ref", F.col("frame_no").cast("string")).alias(
                "media_ref"
            ),
            "content",
            F.lit("image/jpeg").alias("mime"),
        )
    ).collect()
    assert len(feats) == 3
    assert all((r["width"], r["height"]) == (24, 16) for r in feats)

