"""Degrade-to-marker fuzz battery (r4 verdict item 2): seeded bit-flip
and truncation fuzz across every binary source — PNG, JPEG, GIF, BMP,
WAV, AVI, TIFF, ZIP, pdfx — plus GIF, JPEG, PNG and BMP size bombs, proving no
kernel-level job failure: the parse layer either succeeds, raises the
one documented ValueError (caught by every kernel), or degrades to the
marker-row convention.  One Spark e2e per
surface confirms corrupt payloads flow through as marker rows."""

from __future__ import annotations

import io
import struct
import zipfile
import zlib

import numpy as np
import pytest

from ocr_spark.sources.avi import parse_avi, write_avi_mjpeg
from ocr_spark.sources.bmp import encode_bmp
from ocr_spark.sources.gif import decode_gif, encode_gif
from ocr_spark.sources.imagecodec import sniff_decode
from ocr_spark.sources.ingest import _split_container, _tiff_frames
from ocr_spark.sources.jpeg import encode_jpeg
from ocr_spark.sources.png import encode_png
from ocr_spark.sources.wav import decode_wav, encode_wav, is_wav

rng = np.random.default_rng(20260821)


def _zip_bytes(entries: dict[str, bytes]) -> bytes:
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        for k, v in entries.items():
            z.writestr(k, v)
    return buf.getvalue()


def _pdfx_bytes(pages: list[bytes]) -> bytes:
    out = [b"PDFX", struct.pack("<I", len(pages))]
    for p in pages:
        out.append(struct.pack("<I", len(p)))
        out.append(p)
    return b"".join(out)


def _tiff_bytes(pages: list[bytes]) -> bytes:
    import os
    import tempfile

    from ocr_spark.sources.ingest import write_tiff

    p = tempfile.mktemp(suffix=".tif")
    write_tiff(p, pages)
    data = open(p, "rb").read()
    os.unlink(p)
    return data


def _fuzz_variants(data: bytes, n_flips: int = 40, n_cuts: int = 20):
    """Deterministic corpus of corruptions: single-byte flips at seeded
    offsets, truncations at seeded lengths, and a few random-garbage
    prefixes."""
    for off in rng.integers(0, max(1, len(data)), size=n_flips):
        v = bytearray(data)
        v[int(off)] ^= int(rng.integers(1, 256))
        yield bytes(v)
    for cut in rng.integers(0, max(1, len(data)), size=n_cuts):
        yield data[: int(cut)]
    yield b""
    yield bytes(rng.integers(0, 256, size=64, dtype=np.uint8))


# ---------------------------------------------------------------------------
# parse-layer fuzz: ValueError is the only acceptable failure
# ---------------------------------------------------------------------------


def test_fuzz_image_codecs_never_raise_through_sniff():
    gray = rng.integers(0, 256, (24, 40), dtype=np.uint8)
    small = gray[:16, :20]
    bases = (
        encode_png(gray),
        encode_jpeg(gray),
        encode_gif(small),
        encode_bmp(np.stack([small] * 3, -1)),
    )
    for base in bases:
        # at least one flip per 17 bytes and one cut per 23
        n_flips = max(40, len(base) // 17 + 1)
        n_cuts = max(20, len(base) // 23 + 1)
        for v in _fuzz_variants(base, n_flips=n_flips, n_cuts=n_cuts):
            out = sniff_decode(v)  # contract: None or pixels, never a raise
            assert out is None or isinstance(out, np.ndarray)


def test_gif_size_bomb_rejected_before_allocation():
    """An ~800-byte GIF declaring a 20000×20000 screen (1.2 GB as RGB)
    degrades to None without allocating it; an oversized frame
    descriptor is refused the same way."""
    import tracemalloc

    base = encode_gif(rng.integers(0, 256, (4, 4), dtype=np.uint8))
    bomb = bytearray(base)
    bomb[6:10] = struct.pack("<HH", 20000, 20000)  # logical screen
    assert 700 < len(bomb) < 900
    tracemalloc.start()
    try:
        out = sniff_decode(bytes(bomb))
        _, peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    assert out is None
    assert peak < 64 << 20
    frame = bytearray(base)
    desc = 13 + 3 * 256  # header + 256-entry global color table
    assert frame[desc] == 0x2C
    frame[desc + 5 : desc + 9] = struct.pack("<HH", 20000, 20000)
    with pytest.raises(ValueError, match="pixel cap"):
        decode_gif(bytes(frame))
    with pytest.raises(ValueError, match="pixel cap"):
        decode_gif(bytes(bomb))


def _jpeg_bomb(base: bytes) -> bytes:
    sof = base.index(b"\xff\xc0")  # baseline SOF0: length, precision, h, w
    return base[: sof + 5] + struct.pack(">HH", 20000, 20000) + base[sof + 9:]


def _png_bomb(base: bytes) -> bytes:
    ihdr = bytearray(base[12:29])  # b"IHDR" + 13 data bytes
    ihdr[4:12] = struct.pack(">II", 20000, 20000)
    crc = struct.pack(">I", zlib.crc32(bytes(ihdr)))
    return base[:12] + bytes(ihdr) + crc + base[33:]


def _bmp_bomb(base: bytes) -> bytes:
    return base[:18] + struct.pack("<ii", 20000, -20000) + base[26:]


@pytest.mark.parametrize("encode,patch", [
    (encode_jpeg, _jpeg_bomb),
    (encode_png, _png_bomb),
    (lambda g: encode_bmp(np.stack([g] * 3, -1)), _bmp_bomb),
], ids=["jpeg", "png", "bmp"])
def test_image_size_bomb_rejected_before_allocation(encode, patch):
    """A small valid image whose header is patched to declare 20000×20000
    (400 Mpx) degrades to None before any codec sizes a buffer from it."""
    import tracemalloc

    from ocr_spark.sources.imagemeta import sniff_dimensions

    bomb = patch(encode(rng.integers(0, 256, (8, 8), dtype=np.uint8)))
    assert sniff_dimensions(bomb)[1:] == (20000, 20000)
    tracemalloc.start()
    try:
        out = sniff_decode(bomb)
        _, peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    assert out is None
    assert peak < 64 << 20


def test_fuzz_avi_valueerror_only():
    frames = [
        encode_jpeg(rng.integers(0, 256, (16, 24), dtype=np.uint8))
        for _ in range(3)
    ]
    base = write_avi_mjpeg(frames, fps=25.0)
    # at least one flip per 11 bytes
    for v in _fuzz_variants(base, n_flips=len(base) // 11 + 1):
        try:
            got, fps = parse_avi(v)
            assert isinstance(got, list) and fps > 0
        except ValueError:
            pass  # the documented failure type; sample_frames skips it


def test_fuzz_wav_valueerror_only():
    base = encode_wav(
        rng.integers(-30000, 30000, size=(500, 2)).astype(np.int16)
    )
    for v in _fuzz_variants(base):
        try:
            decode_wav(v)
        except ValueError:
            pass  # the documented failure type; kernels catch it
        if not is_wav(v):
            with pytest.raises(ValueError):
                decode_wav(v)


def test_fuzz_containers_degrade_to_marker_rows():
    """_split_container (the S1-S4 scan kernel's core) must return rows
    for EVERY input — corrupt containers become the single
    ('corrupt', doc_id, b'') marker row, never an exception."""
    bases = {
        "d.zip": _zip_bytes({"a.hocr": b"x" * 50, "b.hocr": b"y" * 30}),
        "d.pdfx": _pdfx_bytes([b"page-one", b"page-two"]),
        "d.tif": _tiff_bytes([b"frame-one", b"frame-two"]),
        "d.png": encode_png(rng.integers(0, 256, (8, 8), dtype=np.uint8)),
    }
    for name, base in bases.items():
        saw_corrupt = False
        for v in _fuzz_variants(base):
            rows = _split_container(f"/up/{name}", v)  # must never raise
            assert rows, (name, "no rows")
            kinds = {r[1] for r in rows}
            if kinds == {"corrupt"}:
                saw_corrupt = True
                assert rows[0][3] == b""
        if name != "d.png":  # single-image path never degrades (no parse)
            assert saw_corrupt, (name, "fuzz never hit the marker path")
    # zipfile raises EOFError when a local header's extra field runs past
    # the data, RuntimeError when a member is flagged encrypted
    eof = bytearray(bases["d.zip"])
    eof[28] ^= 0xFF
    enc = bytearray(bases["d.zip"])
    enc[enc.index(b"PK\x01\x02") + 8] ^= 1
    for v in (eof, enc):
        assert _split_container("/up/d.zip", bytes(v)) == [
            ("d.zip", "corrupt", "d.zip", b"")
        ]


def test_fuzz_tiff_walker_valueerror_keyerror_only():
    base = _tiff_bytes([b"abc", b"defgh"])
    for v in _fuzz_variants(base, n_flips=60, n_cuts=30):
        try:
            frames = _tiff_frames(v)
            assert isinstance(frames, list)
        except (ValueError, KeyError, struct.error):
            pass  # all caught by _split_container's marker net


# ---------------------------------------------------------------------------
# Spark e2e: corrupt payloads ride the kernels as marker rows
# ---------------------------------------------------------------------------


def test_corrupt_containers_end_to_end(spark, tmp_path):
    """A directory with one good ZIP and three corrupt containers scans
    to pages without job failure; corrupt ones appear as marker rows and
    the good document's spans are intact."""
    from ocr_spark.sources.ingest import ingest_spans, scan_containers
    from ocr_spark.sources.hocr import render_hocr

    hocr = render_hocr(
        [[[{"text": "alpha", "box": [0, 0, 10, 10], "confidence": 96.0}]]]
    ).encode()
    (tmp_path / "good.zip").write_bytes(_zip_bytes({"p1.hocr": hocr}))
    (tmp_path / "bad.zip").write_bytes(b"PK\x03\x04 then garbage")
    (tmp_path / "bad.pdfx").write_bytes(b"PDFX" + b"\xff" * 10)
    (tmp_path / "bad.tif").write_bytes(b"II\x2a\x00\xff\xff\xff\xff")
    pages = scan_containers(spark, str(tmp_path)).collect()
    by_doc = {}
    for r in pages:
        by_doc.setdefault(r["doc_id"], set()).add(r["source_type"])
    assert by_doc["good.zip"] == {"zip"}
    assert by_doc["bad.zip"] == {"corrupt"}
    assert by_doc["bad.pdfx"] == {"corrupt"}
    assert by_doc["bad.tif"] == {"corrupt"}
    spans = ingest_spans(spark, str(tmp_path)).collect()
    texts = {r["text"] for r in spans if r["doc_id"] == "good.zip"}
    assert "alpha" in texts


def test_unsupported_png_variants_degrade_in_kernels(spark):
    """PNGs outside the (now Adam7- and 16-bit-inclusive) decoder scope —
    a truncated Adam7 pixel stream and the spec-invalid 16-bit palette
    combination — must flow through the media kernels as fake-path /
    marker rows, never raise (r4 verdict item 2)."""
    from ocr_spark.operators.multimodal import extract_media_features
    from ocr_spark.operators.raster import decode_png_pages
    from ocr_spark.sources.png import PNG_SIG
    import zlib as _z

    def png_with_ihdr(depth: int, ctype: int, interlace: int) -> bytes:
        ihdr = struct.pack(">IIBBBBB", 8, 8, depth, ctype, 0, 0, interlace)
        def chunk(typ, payload):
            return (
                struct.pack(">I", len(payload)) + typ + payload
                + struct.pack(">I", _z.crc32(typ + payload) & 0xFFFFFFFF)
            )
        idat = _z.compress(b"\x00" * (8 * 9))
        return (
            PNG_SIG + chunk(b"IHDR", ihdr) + chunk(b"IDAT", idat)
            + chunk(b"IEND", b"")
        )

    adam7 = png_with_ihdr(8, 0, 1)  # valid IHDR, truncated Adam7 stream
    deep16 = png_with_ihdr(16, 3, 0)  # 16-bit palette: spec-invalid
    assert sniff_decode(adam7) is None and sniff_decode(deep16) is None
    media = spark.createDataFrame(
        [
            ("d1", "a.png", bytearray(adam7), "image/png"),
            ("d1", "b.png", bytearray(deep16), "image/png"),
        ],
        "doc_id string, media_ref string, content binary, mime string",
    )
    feats = extract_media_features(media).collect()
    assert len(feats) == 2  # fake path produced well-formed rows
    pages = spark.createDataFrame(
        [("d1", 1, bytearray(adam7)), ("d1", 2, bytearray(deep16))],
        "doc_id string, page_no int, content binary",
    )
    got = {r["page_no"]: (r["width"], r["height"]) for r in decode_png_pages(pages).collect()}
    assert got == {1: (0, 0), 2: (0, 0)}  # marker rows


def test_fuzzed_audio_through_kernel(spark):
    """Bit-flipped WAVs through extract_audio_features: every row comes
    back (real or digest-fake), the stage never dies."""
    from ocr_spark.operators.multimodal import extract_audio_features

    base = encode_wav(rng.integers(-3000, 3000, size=(200, 1)).astype(np.int16))
    rows = []
    for i, v in enumerate(_fuzz_variants(base, n_flips=10, n_cuts=5)):
        rows.append(("d1", f"a{i}.wav", bytearray(v), "audio/wav"))
    media = spark.createDataFrame(
        rows, "doc_id string, media_ref string, content binary, mime string"
    )
    got = extract_audio_features(media).collect()
    assert len(got) == len(rows)
