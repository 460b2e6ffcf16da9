"""Unified image sniff-dispatch: bytes → pixels for every format with a
real in-repo codec (PNG via sources/png.py, JPEG — baseline and
progressive — via sources/jpeg.py, GIF via sources/gif.py, BMP via
sources/bmp.py).

One choke point for the multimodal/raster kernels, so adding a codec
(as the JPEG round did after PNG, and GIF/BMP after that) upgrades
every pixel consumer at once — features, resize, perceptual hash,
raster segmentation.  It is also the one pixel-budget check: a header
declaring more than ``MAX_PIXELS`` is refused before any codec sizes a
buffer from it.
"""

from __future__ import annotations

import numpy as np

from ocr_spark.sources.bmp import decode_bmp, is_bmp
from ocr_spark.sources.gif import MAX_PIXELS, decode_gif, is_gif
from ocr_spark.sources.imagemeta import sniff_dimensions
from ocr_spark.sources.jpeg import decode_jpeg, is_jpeg
from ocr_spark.sources.png import decode_png, is_png


def decode_image(data: bytes) -> np.ndarray:
    """Decode PNG/JPEG/GIF/BMP bytes to a uint8 pixel array
    ((H, W[, C]) — PNG may carry alpha; GIF/BMP decode to RGB).  Raises
    ValueError for unsupported formats/variants or corrupt streams
    (zlib/struct/index errors from crafted truncations, and MemoryError
    from a crafted size field, are re-raised as ValueError so callers
    catch one type).  A header declaring more than ``MAX_PIXELS`` raises
    ValueError before any codec allocates: header fields are
    attacker-chosen, and the codecs size their planes from them."""
    import struct
    import zlib

    dims = sniff_dimensions(data)
    if dims is not None and dims[1] * dims[2] > MAX_PIXELS:
        fmt, w, h = dims
        raise ValueError(f"{fmt} declares {w}x{h} px, over the pixel cap")
    try:
        if is_png(data):
            return decode_png(data)
        if is_jpeg(data):
            return decode_jpeg(data)
        if is_gif(data):
            return decode_gif(data)
        if is_bmp(data):
            return decode_bmp(data)
    except (zlib.error, struct.error, IndexError, MemoryError) as e:
        raise ValueError(f"corrupt image stream: {e}") from e
    raise ValueError("no in-repo codec for these bytes")


def sniff_decode(data: bytes) -> np.ndarray | None:
    """``decode_image`` with the degrade-don't-raise contract the Arrow
    kernels need: None for payloads with no in-repo codec, corrupt
    streams, and documented unsupported variants (16-bit-palette PNG,
    arithmetic/12-bit/lossless JPEG, RLE BMP) — never an exception out
    of a kernel."""
    try:
        return decode_image(data)
    except ValueError:
        return None
