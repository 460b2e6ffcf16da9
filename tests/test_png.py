"""Pure-Python PNG codec (sources/png.py) + the real-pixel chain behind
the multimodal seam: decode(encode(x)) == x across shapes/filters, CRC
and malformed-input behavior, and the composed pipelines PNG →
segment_bitmaps → regions and PNG → media_avg_hash → hamming_neardup on
REAL pixels (the round-3 verdict's top item)."""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest

from ocr_spark.sources.png import (
    PNG_SIG,
    box_resample,
    decode_png,
    encode_png,
    grid8,
    is_png,
    png_size,
    resample_image,
    to_gray,
    write_png,
)

rng = np.random.default_rng(1234)


@pytest.mark.parametrize("shape", [(13, 17), (9, 5, 2), (21, 33, 3), (8, 8, 4)])
@pytest.mark.parametrize("filt", [0, 1, 2, 3, 4, "auto"])
def test_roundtrip_shapes_filters(shape, filt):
    x = rng.integers(0, 256, size=shape, dtype=np.uint8)
    b = encode_png(x, filters=filt)
    assert is_png(b)
    assert png_size(b) == (shape[1], shape[0])
    y = decode_png(b)
    assert y.shape == x.shape and (y == x).all()


def test_roundtrip_per_row_filter_list_and_multi_idat():
    # > 8 KiB compressed (random pixels are incompressible) → multi-IDAT
    x = rng.integers(0, 256, size=(120, 160, 3), dtype=np.uint8)
    b = encode_png(x, filters=list(np.arange(120) % 5))
    assert b.count(b"IDAT") >= 2
    assert (decode_png(b) == x).all()


def test_gradient_auto_filter():
    g = np.add.outer(np.arange(97) % 256, np.arange(211) % 256)
    g = g.astype(np.uint8)
    assert (decode_png(encode_png(g, filters="auto")) == g).all()


def _chunk(t, p):
    return (
        struct.pack(">I", len(p)) + t + p
        + struct.pack(">I", zlib.crc32(t + p) & 0xFFFFFFFF)
    )


def test_decode_1bit_gray_and_palette():
    # bitonal scan — the document-archive case
    w, h = 20, 15
    bits = (rng.integers(0, 2, (h, w)) * 255).astype(np.uint8)
    rowb = (w + 7) // 8
    raw = b"".join(
        b"\x00" + np.packbits(bits[y] > 0).tobytes()[:rowb] for y in range(h)
    )
    png1 = (
        PNG_SIG
        + _chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 1, 0, 0, 0, 0))
        + _chunk(b"IDAT", zlib.compress(raw))
        + _chunk(b"IEND", b"")
    )
    assert (decode_png(png1) == bits).all()
    # 8-bit palette
    pal = rng.integers(0, 256, (5, 3), dtype=np.uint8)
    idx = rng.integers(0, 5, (6, 7), dtype=np.uint8)
    rawp = b"".join(b"\x00" + idx[y].tobytes() for y in range(6))
    pngp = (
        PNG_SIG
        + _chunk(b"IHDR", struct.pack(">IIBBBBB", 7, 6, 8, 3, 0, 0, 0))
        + _chunk(b"PLTE", pal.tobytes())
        + _chunk(b"IDAT", zlib.compress(rawp))
        + _chunk(b"IEND", b"")
    )
    assert (decode_png(pngp) == pal[idx]).all()


def test_malformed_inputs_raise():
    x = rng.integers(0, 256, (10, 10), dtype=np.uint8)
    good = encode_png(x)
    bad = bytearray(good)
    bad[41] ^= 0xFF  # inside IHDR payload/CRC region
    with pytest.raises(ValueError):
        decode_png(bytes(bad))
    with pytest.raises(ValueError):
        decode_png(b"\x89PNG\r\n\x1a\nnot-chunks")
    with pytest.raises(ValueError):
        decode_png(good[:30])  # truncated chunk
    # unknown interlace method rejected with a clear error (Adam7
    # itself is supported since r5 — see test_adam7_decode_exact)
    ihdr = struct.pack(">IIBBBBB", 4, 4, 8, 0, 0, 0, 2)
    inter = PNG_SIG + _chunk(b"IHDR", ihdr) + _chunk(b"IEND", b"")
    with pytest.raises(ValueError, match="interlace"):
        decode_png(inter)
    with pytest.raises(ValueError):
        decode_png(b"JFIF-not-a-png")


def test_write_png_fixture(tmp_path):
    x = rng.integers(0, 256, (12, 9), dtype=np.uint8)
    p = str(tmp_path / "fx.png")
    write_png(p, x)
    assert (decode_png(open(p, "rb").read()) == x).all()


def test_to_gray_and_box_resample_exact():
    rgb = np.zeros((2, 2, 3), dtype=np.uint8)
    rgb[0, 0] = (255, 0, 0)
    g = to_gray(rgb)
    # integer Rec.601: (255*306 + 512) >> 10 = 76
    assert g[0, 0] == 76 and g[1, 1] == 0
    m = np.array([[0, 2], [4, 6]], np.uint8)
    assert box_resample(m, 1, 1)[0, 0] == 3  # rounded mean
    c = np.full((64, 48), 77, np.uint8)
    assert (box_resample(c, 8, 8) == 77).all()
    with pytest.raises(ValueError):
        box_resample(np.zeros((4, 4), np.uint8), 8, 8)  # upscale refused
    # grid8 repeat-upscales tiny inputs instead
    assert grid8(np.full((3, 2), 9, np.uint8)).shape == (8, 8)
    # multi-channel resample
    im = rng.integers(0, 256, (16, 12, 3), dtype=np.uint8)
    r = resample_image(im, 6, 8)
    assert r.shape == (8, 6, 3)
    for ch in range(3):
        assert (r[:, :, ch] == box_resample(im[:, :, ch], 6, 8)).all()


# ---------------------------------------------------------------------------
# the seam on real pixels
# ---------------------------------------------------------------------------


def test_ahash_invariant_across_reencodes():
    """Visually identical PNGs (same pixels, different filter strategy /
    compression level) must hash identically on the REAL pixel path —
    the property the old byte-digest fake could not provide."""
    from ocr_spark.operators.multimodal import _grid, average_hash_bits

    x = rng.integers(0, 256, (40, 56), dtype=np.uint8)
    encodings = [
        encode_png(x, filters=0, compress_level=1),
        encode_png(x, filters=4, compress_level=9),
        encode_png(x, filters="auto"),
    ]
    assert len({e for e in encodings}) == 3  # genuinely different bytes
    hashes = {average_hash_bits(_grid(e)) for e in encodings}
    assert len(hashes) == 1
    # and a different image hashes differently
    y = 255 - x
    assert average_hash_bits(_grid(encode_png(y))) not in hashes


def test_decode_dispatch_fallback():
    """Non-image and corrupt-PNG bytes take the deterministic fake path
    (degrade, never raise inside a kernel)."""
    from ocr_spark.operators.multimodal import _decode, _fake_decode

    raw = b"not an image at all"
    assert _decode(raw) == (None, *_fake_decode(raw)[:2])
    corrupt = bytearray(encode_png(rng.integers(0, 256, (8, 8), dtype=np.uint8)))
    corrupt[20] ^= 0xFF
    img, w, h = _decode(bytes(corrupt))
    assert img is None and w > 0 and h > 0  # well-formed fallback
    x = rng.integers(0, 256, (5, 7), dtype=np.uint8)
    img, w, h = _decode(encode_png(x))
    assert (w, h) == (7, 5) and (img == x).all()  # real pixels first


def test_image_kernels_sniff_each_payload_once(monkeypatch):
    """Every image kernel runs the codec dispatch once per payload —
    decodable, corrupt, codec-less and empty payloads alike."""
    import pandas as pd

    from ocr_spark.operators import multimodal as MM

    calls = []
    real = MM.sniff_decode
    monkeypatch.setattr(MM, "sniff_decode", lambda b: calls.append(b) or real(b))

    class InProcess:  # runs a mapInPandas kernel here, on one batch
        def __init__(self, pdf):
            self.pdf = pdf

        def mapInPandas(self, fn, schema):
            return pd.concat(list(fn(iter([self.pdf]))))

    corrupt = bytearray(encode_png(rng.integers(0, 256, (8, 8), dtype=np.uint8)))
    corrupt[20] ^= 0xFF
    payloads = [
        encode_png(rng.integers(0, 256, (9, 6), dtype=np.uint8)),
        bytes(corrupt),
        b"GIF89a" + b"\x00" * 20,  # header geometry 0×0
        b"no codec",
        None,
    ]
    media = InProcess(pd.DataFrame({
        "doc_id": "d1",
        "media_ref": [f"r{i}" for i in range(len(payloads))],
        "content": payloads,
        "mime": "image/png",
    }))
    for kernel in (MM.extract_media_features, MM.resize_media, MM.media_avg_hash):
        calls.clear()
        assert len(kernel(media)) == len(payloads)
        assert len(calls) == len(payloads), kernel.__name__


def test_media_features_real_dims(spark):
    from ocr_spark.operators.multimodal import extract_media_features

    x = rng.integers(0, 256, (33, 44), dtype=np.uint8)
    media = spark.createDataFrame(
        [("d1", "r1.png", bytearray(encode_png(x)), "image/png")],
        "doc_id string, media_ref string, content binary, mime string",
    )
    [r] = extract_media_features(media).collect()
    assert (r["width"], r["height"]) == (44, 33)
    expect = (grid8(x).mean(axis=0) / 255.0).astype(np.float32)
    assert np.allclose(r["feat"], expect)


def test_resize_media_real_pixels(spark):
    from ocr_spark.operators.multimodal import resize_media

    x = rng.integers(0, 256, (60, 200, 3), dtype=np.uint8)
    media = spark.createDataFrame(
        [("d1", "wide.png", bytearray(encode_png(x)), "image/png")],
        "doc_id string, media_ref string, content binary, mime string",
    )
    [r] = resize_media(media, max_px=100).collect()
    assert (r["width"], r["height"]) == (200, 60)
    assert (r["out_width"], r["out_height"]) == (100, 30)
    got = decode_png(bytes(r["content"]))
    assert (got == resample_image(x, 100, 30)).all()


def test_png_to_segmentation_end_to_end(spark):
    """The closed G-chain: REAL PNG page → decode_png_pages →
    segment_bitmaps → typed regions; a corrupt PNG degrades to the
    'corrupt' marker row."""
    from ocr_spark.operators.raster import decode_png_pages, segment_bitmaps

    page = np.full((200, 160), 255, np.uint8)
    for y0 in (20, 28):                  # text: rows of small glyph blobs
        for x0 in range(20, 140, 10):
            page[y0 : y0 + 3, x0 : x0 + 4] = 0
    page[100, 10:150] = 0                # horizontal ruling (removed)
    page[120:170, 40:120] = 0            # dense block → image region
    good = encode_png(page, filters="auto")
    corrupt = bytearray(good)
    corrupt[len(corrupt) // 2] ^= 0xFF
    df = spark.createDataFrame(
        [
            ("doc", 1, bytearray(good)),
            ("doc", 2, bytes(corrupt)),
        ],
        "doc_id string, page_no int, content binary",
    )
    out = segment_bitmaps(decode_png_pages(df))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # decode + segment fuse, no shuffle
    rows = out.collect()
    p1 = [r for r in rows if r["page_no"] == 1]
    kinds = {r["kind"] for r in p1}
    assert "text" in kinds and "image" in kinds
    img = next(r for r in p1 if r["kind"] == "image")
    assert (img["x1"], img["y1"], img["x2"], img["y2"]) == (40, 120, 120, 170)
    [p2] = [r for r in rows if r["page_no"] == 2]
    assert p2["kind"] == "corrupt"


def test_synth_media_is_real_png(spark, tmp_path):
    import os

    from ocr_spark import datagen
    from ocr_spark.operators.multimodal import synth_media_for_spans

    p = os.path.join(tmp_path, "docs.parquet")
    datagen.generate_to_path(p, n_docs=40, seed=7)
    media = synth_media_for_spans(spark.read.parquet(p)).limit(10).collect()
    assert media
    for r in media:
        img = decode_png(bytes(r["content"]))  # raises if not a real PNG
        assert img.shape[0] >= 64 and img.shape[1] >= 64


def _chunk_raw(typ: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload)) + typ + payload
        + struct.pack(">I", zlib.crc32(typ + payload) & 0xFFFFFFFF)
    )


def encode_adam7_gray(img: np.ndarray) -> bytes:
    """Test-side Adam7 encoder (filter 0 rows): gather each pass's
    sampling grid (PNG §8.2), one filtered sub-image after another."""
    from ocr_spark.sources.png import _ADAM7

    h, w = img.shape
    parts = []
    for x0, y0, dx, dy in _ADAM7:
        sub = img[y0::dy, x0::dx]
        if sub.size == 0:
            continue
        for row in sub:
            parts.append(b"\x00" + row.tobytes())
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 1)
    return (
        PNG_SIG + _chunk_raw(b"IHDR", ihdr)
        + _chunk_raw(b"IDAT", zlib.compress(b"".join(parts)))
        + _chunk_raw(b"IEND", b"")
    )


def encode_16bit(hi: np.ndarray, lo: np.ndarray, ctype: int) -> bytes:
    """Test-side 16-bit encoder: big-endian sample pairs, filter 0."""
    h, w = hi.shape[:2]
    ch = 1 if hi.ndim == 2 else hi.shape[2]
    samples = np.stack(
        [hi.reshape(h, w, ch), lo.reshape(h, w, ch)], axis=-1
    ).reshape(h, w * ch * 2)
    rows = b"".join(b"\x00" + samples[y].tobytes() for y in range(h))
    ihdr = struct.pack(">IIBBBBB", w, h, 16, ctype, 0, 0, 0)
    return (
        PNG_SIG + _chunk_raw(b"IHDR", ihdr)
        + _chunk_raw(b"IDAT", zlib.compress(rows))
        + _chunk_raw(b"IEND", b"")
    )


@pytest.mark.parametrize("shape", [(8, 8), (13, 17), (1, 1), (5, 3), (16, 9)])
def test_adam7_decode_exact(shape):
    """Adam7 deinterlace (r5): hand-built interlaced streams decode to
    the exact source pixels across pass-degenerate shapes."""
    img = rng.integers(0, 256, shape, dtype=np.uint8)
    dec = decode_png(encode_adam7_gray(img))
    assert dec.shape == shape and (dec == img).all()


def test_16bit_decode_high_byte():
    """16-bit depth (r5): decoded via the standard high-byte downsample,
    low bytes ignored, gray and RGBA."""
    hi = rng.integers(0, 256, (9, 7), dtype=np.uint8)
    lo = rng.integers(0, 256, (9, 7), dtype=np.uint8)
    assert (decode_png(encode_16bit(hi, lo, 0)) == hi).all()
    hi4 = rng.integers(0, 256, (6, 5, 4), dtype=np.uint8)
    lo4 = rng.integers(0, 256, (6, 5, 4), dtype=np.uint8)
    assert (decode_png(encode_16bit(hi4, lo4, 6)) == hi4).all()


def test_adam7_bad_stream_length_degrades():
    """A truncated/overlong Adam7 stream raises ValueError (and so
    degrades through sniff_decode), never mis-scatters."""
    from ocr_spark.sources.imagecodec import sniff_decode

    img = rng.integers(0, 256, (8, 8), dtype=np.uint8)
    good = encode_adam7_gray(img)
    # rebuild with a short pixel stream but valid CRCs
    ihdr = struct.pack(">IIBBBBB", 8, 8, 8, 0, 0, 0, 1)
    bad = (
        PNG_SIG + _chunk_raw(b"IHDR", ihdr)
        + _chunk_raw(b"IDAT", zlib.compress(b"\x00" * 50))
        + _chunk_raw(b"IEND", b"")
    )
    with pytest.raises(ValueError):
        decode_png(bad)
    assert sniff_decode(bad) is None
    assert (sniff_decode(good) == img).all()
