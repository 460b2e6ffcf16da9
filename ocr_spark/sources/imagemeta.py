"""Header-only image metadata — real (format, width, height) for the
common web-corpus formats WITHOUT pixel decode.

A 100 TB curation pipeline wants per-image dimensions (aspect filters,
thumbnail-vs-photo splits, resolution histograms) long before it can
afford to decode pixels; every mainstream format carries its geometry
in the first few hundred bytes.  This module parses exactly that —
pure ``struct`` byte arithmetic, no codec:

* PNG   — IHDR (sources/png.py owns the full decode path);
* JPEG  — marker scan to the first SOF0/1/2/3/5/6/7/9/10/11/13/14/15
  frame header (the baseline/progressive family; EXIF/JFIF APPn blocks
  skipped by their lengths);
* GIF   — logical screen descriptor (87a/89a);
* BMP   — BITMAPINFOHEADER (negative height = top-down, reported
  positive);
* WebP  — VP8X canvas, VP8L 14-bit dims, or VP8 key-frame size.

``sniff_dimensions`` is the multimodal kernels' geometry fallback:
PNG/JPEG/GIF/BMP pixels decode for real (sources/imagecodec.py), so it
matters for WebP — whose pixels have no in-repo codec — and for the
unsupported variants of the other four.  Those still report REAL
geometry; only their pixel-derived features fall back to the
deterministic fake.
"""

from __future__ import annotations

import struct

from ocr_spark.sources.png import is_png, png_size

#: JPEG start-of-frame markers that carry geometry (all SOF variants
#: except DHT/DAC which share the 0xC0 nibble but aren't frames)
_SOF = {
    0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
    0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF,
}


def jpeg_size(data: bytes) -> tuple[int, int]:
    """(width, height) from the first SOF marker.  Raises ValueError on
    non-JPEG or truncated streams."""
    if len(data) < 4 or data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG: missing SOI")
    pos, n = 2, len(data)
    while pos + 4 <= n:
        if data[pos] != 0xFF:
            raise ValueError("JPEG marker desync")
        marker = data[pos + 1]
        if marker == 0xFF:  # fill byte
            pos += 1
            continue
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            pos += 2  # standalone markers, no length
            continue
        (ln,) = struct.unpack_from(">H", data, pos + 2)
        if ln < 2 or pos + 2 + ln > n:
            raise ValueError("truncated JPEG segment")
        if marker in _SOF:
            if ln < 7:
                raise ValueError("short SOF segment")
            h, w = struct.unpack_from(">HH", data, pos + 5)
            return w, h
        if marker == 0xDA:  # start of scan: no SOF seen before it
            break
        pos += 2 + ln
    raise ValueError("JPEG missing SOF header")


def gif_size(data: bytes) -> tuple[int, int]:
    if len(data) < 10 or data[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF")
    w, h = struct.unpack_from("<HH", data, 6)
    return w, h


def bmp_size(data: bytes) -> tuple[int, int]:
    if len(data) < 26 or data[:2] != b"BM":
        raise ValueError("not a BMP")
    (hdr,) = struct.unpack_from("<I", data, 14)
    if hdr >= 40:  # BITMAPINFOHEADER and successors: signed int32 dims
        w, h = struct.unpack_from("<ii", data, 18)
    elif hdr == 12:  # BITMAPCOREHEADER: uint16 dims
        w, h = struct.unpack_from("<HH", data, 18)
    else:
        raise ValueError(f"unknown BMP header size {hdr}")
    return abs(w), abs(h)  # negative height = top-down row order


def webp_size(data: bytes) -> tuple[int, int]:
    if len(data) < 30 or data[:4] != b"RIFF" or data[8:12] != b"WEBP":
        raise ValueError("not a WebP")
    tag = data[12:16]
    if tag == b"VP8X":
        w = int.from_bytes(data[24:27], "little") + 1
        h = int.from_bytes(data[27:30], "little") + 1
        return w, h
    if tag == b"VP8L":
        if data[20] != 0x2F:
            raise ValueError("bad VP8L signature")
        bits = int.from_bytes(data[21:25], "little")
        return (bits & 0x3FFF) + 1, ((bits >> 14) & 0x3FFF) + 1
    if tag == b"VP8 ":
        # key frame: 3-byte frame tag, then 3-byte start code 9d 01 2a
        if data[23:26] != b"\x9d\x01\x2a":
            raise ValueError("bad VP8 start code")
        w, h = struct.unpack_from("<HH", data, 26)
        return w & 0x3FFF, h & 0x3FFF
    raise ValueError(f"unknown WebP chunk {tag!r}")


def sniff_dimensions(data: bytes) -> tuple[str, int, int] | None:
    """(format, width, height) for PNG/JPEG/GIF/BMP/WebP, or None when
    the bytes are none of them (or their header is malformed) — the
    degrade-don't-raise contract the Arrow kernels need."""
    try:
        if is_png(data):
            w, h = png_size(data)
            return "png", w, h
        if data[:2] == b"\xff\xd8":
            w, h = jpeg_size(data)
            return "jpeg", w, h
        if data[:6] in (b"GIF87a", b"GIF89a"):
            w, h = gif_size(data)
            return "gif", w, h
        if data[:2] == b"BM":
            w, h = bmp_size(data)
            return "bmp", w, h
        if data[:4] == b"RIFF" and data[8:12] == b"WEBP":
            w, h = webp_size(data)
            return "webp", w, h
    except (ValueError, struct.error):
        return None
    return None
