"""Pure-Python baseline JPEG codec — the real pixel path for the web's
most common image format.

The reference keeps single-image uploads and media crops under their
original extension (server/src/utils/file.py:92-98,
server/celery_app.py:1070-1081), so a real corpus carries JPEGs.  Header
geometry comes from sources/imagemeta.py; this module decodes the
pixels the same way sources/png.py decodes PNG's: numpy math + stdlib ``struct``,
no PIL/cv2, implemented from the public ITU-T T.81 spec (Annex K tables,
F.16 Huffman decode procedure).

Scope (documented, ValueError otherwise — callers degrade to the fake /
marker-row convention, never crash a kernel):
* decode — baseline sequential (SOF0) AND progressive (SOF2, r5:
  spectral selection + successive approximation per T.81 G.1.2, EOB
  runs, AC refinement correction bits), 8-bit precision, Huffman
  entropy coding, 1- or 3-component scans, any sampling factors whose
  ratios to the max are integral (covers 4:4:4 / 4:2:2 / 4:2:0 / 4:1:1),
  restart markers (DRI/RSTn).  Arithmetic coding, 12-bit, lossless and
  hierarchical streams raise a clear ValueError;
* encode — baseline SOF0, grayscale or RGB (written 4:4:4 YCbCr),
  Annex K quantization tables under the standard libjpeg quality
  scaling (default 50 = tables verbatim), Annex K Huffman tables.

Determinism: DCT/IDCT are exact float64 matrix products of the
orthonormal 8-point DCT basis (mathematically identical to T.81's FDCT
normalization), quantization is ``np.rint`` — the same bytes decode to
the same pixels on every host, which is what lets ``jpeg_roundtrip``
carry an EXACT cross-engine oracle on blockwise-constant images (a
DC-only block whose level-shifted value is a multiple of 8·Q[0,0]
survives quantize→dequantize→IDCT bit-exactly).

Execution shape: called ONLY from inside Arrow-batched mapInPandas /
mapInArrow kernels (operators/multimodal.py, operators/raster.py), so
decode cost distributes with the binary column; nothing here touches
the driver.  The entropy loop is per-symbol Python — plenty for test
scale; on a production cluster the same call sites take a native codec
behind this exact signature (the sources/png.py contract).
"""

from __future__ import annotations

import struct

import numpy as np

# ---------------------------------------------------------------------------
# tables (ITU-T T.81 Annex K — public spec constants)
# ---------------------------------------------------------------------------

#: K.1 luminance quantization table (row-major)
QUANT_LUMA = np.array(
    [
        [16, 11, 10, 16, 24, 40, 51, 61],
        [12, 12, 14, 19, 26, 58, 60, 55],
        [14, 13, 16, 24, 40, 57, 69, 56],
        [14, 17, 22, 29, 51, 87, 80, 62],
        [18, 22, 37, 56, 68, 109, 103, 77],
        [24, 35, 55, 64, 81, 104, 113, 92],
        [49, 64, 78, 87, 103, 121, 120, 101],
        [72, 92, 95, 98, 112, 100, 103, 99],
    ],
    dtype=np.int64,
)

#: K.2 chrominance quantization table
QUANT_CHROMA = np.array(
    [
        [17, 18, 24, 47, 99, 99, 99, 99],
        [18, 21, 26, 66, 99, 99, 99, 99],
        [24, 26, 56, 99, 99, 99, 99, 99],
        [47, 66, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
    ],
    dtype=np.int64,
)

#: K.3/K.4 Huffman specs: (bits[1..16] counts, values)
DC_LUMA_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_LUMA_VALS = list(range(12))
DC_CHROMA_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
DC_CHROMA_VALS = list(range(12))
AC_LUMA_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
AC_LUMA_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
    0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
    0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
    0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
    0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
    0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
]
AC_CHROMA_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
AC_CHROMA_VALS = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
    0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
    0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
    0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
    0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
    0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
    0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
    0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
    0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
    0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
    0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
]


def _zigzag_order() -> np.ndarray:
    """Zigzag position → row-major index, generated (not typed) to rule
    out transcription errors: diagonal d, even diagonals walked with row
    descending, odd ascending (T.81 Figure 5)."""
    order = []
    for d in range(15):
        cells = [(r, d - r) for r in range(max(0, d - 7), min(7, d) + 1)]
        if d % 2 == 0:
            cells.reverse()  # row descending on even diagonals
        order.extend(r * 8 + c for r, c in cells)
    return np.array(order, dtype=np.int64)


ZIGZAG = _zigzag_order()
#: row-major index → zigzag position (inverse permutation)
UNZIGZAG = np.argsort(ZIGZAG)


def _dct_matrix() -> np.ndarray:
    """Orthonormal 8-point DCT-II basis.  F = T @ B @ T.T is exactly
    T.81 A.3.3's FDCT normalization (joint factor a(u)·a(v) =
    ¼·C(u)·C(v)); the inverse is T.T @ F @ T."""
    x = np.arange(8)
    u = x.reshape(-1, 1)
    t = np.cos((2 * x + 1) * u * np.pi / 16)
    t[0] *= np.sqrt(1.0 / 8.0) / t[0, 0]
    t[1:] *= np.sqrt(2.0 / 8.0)
    return t


_DCT_T = _dct_matrix()


def is_jpeg(data: bytes) -> bool:
    """Cheap signature sniff (SOI marker) — the multimodal dispatch test."""
    return len(data) >= 3 and data[:2] == b"\xff\xd8" and data[2] == 0xFF


def scaled_quant(table: np.ndarray, quality: int) -> np.ndarray:
    """libjpeg quality scaling (public jcparam.c formula): q=50 keeps the
    Annex K table verbatim; clamped to [1, 255]."""
    if not 1 <= quality <= 100:
        raise ValueError("quality must be in 1..100")
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    q = (table * scale + 50) // 100
    return np.clip(q, 1, 255).astype(np.int64)


# ---------------------------------------------------------------------------
# encoder
# ---------------------------------------------------------------------------


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, length: int) -> None:
        if length == 0:
            return
        self.acc = (self.acc << length) | (value & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            byte = (self.acc >> (self.nbits - 8)) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:  # byte stuffing
                self.out.append(0x00)
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # pad with 1-bits per spec
        return bytes(self.out)


def _huff_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol → (code, length) canonical Huffman assignment (T.81 C.2)."""
    codes: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


def _magnitude(v: int) -> tuple[int, int]:
    """(category, appended bits) for a DC diff / AC coefficient."""
    if v == 0:
        return 0, 0
    a = abs(v)
    s = a.bit_length()
    bits = v if v > 0 else v + (1 << s) - 1
    return s, bits


def _encode_blocks(
    writer: _BitWriter,
    coeffs: np.ndarray,
    dc_codes: dict,
    ac_codes: dict,
    prev_dc: int,
) -> int:
    """Entropy-code one component's blocks (n, 64) in zigzag order;
    returns the last DC value (the running predictor)."""
    for blk in coeffs:
        s, bits = _magnitude(int(blk[0]) - prev_dc)
        prev_dc = int(blk[0])
        code, ln = dc_codes[s]
        writer.write(code, ln)
        writer.write(bits, s)
        run = 0
        nz = np.nonzero(blk[1:])[0]
        last = nz[-1] + 1 if len(nz) else 0
        for i in range(1, last + 1):
            v = int(blk[i])
            if v == 0:
                run += 1
                continue
            while run > 15:
                code, ln = ac_codes[0xF0]  # ZRL
                writer.write(code, ln)
                run -= 16
            s, bits = _magnitude(v)
            code, ln = ac_codes[(run << 4) | s]
            writer.write(code, ln)
            writer.write(bits, s)
            run = 0
        if last < 63:
            code, ln = ac_codes[0x00]  # EOB
            writer.write(code, ln)
    return prev_dc


def _encode_ac_band(writer: _BitWriter, blk, ac_codes: dict) -> None:
    """Entropy-code one block's AC band 1..63 (the progressive
    spectral-selection AC scan; EOB0 ends the block — with no EOB-run
    extension bits this is bit-compatible with the baseline AC coding)."""
    run = 0
    nz = np.nonzero(blk[1:])[0]
    last = nz[-1] + 1 if len(nz) else 0
    for i in range(1, last + 1):
        v = int(blk[i])
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, ln = ac_codes[0xF0]  # ZRL
            writer.write(code, ln)
            run -= 16
        s, bits = _magnitude(v)
        code, ln = ac_codes[(run << 4) | s]
        writer.write(code, ln)
        writer.write(bits, s)
        run = 0
    if last < 63:
        code, ln = ac_codes[0x00]  # EOB0
        writer.write(code, ln)


def _plane_coeffs(plane: np.ndarray, quant: np.ndarray) -> np.ndarray:
    """8-aligned plane → (n_blocks, 64) quantized zigzag coefficients,
    DCT vectorized across all blocks at once (one einsum, no per-block
    Python math)."""
    h, w = plane.shape
    blocks = (
        plane.reshape(h // 8, 8, w // 8, 8)
        .transpose(0, 2, 1, 3)
        .reshape(-1, 8, 8)
        .astype(np.float64)
        - 128.0
    )
    f = np.einsum("ux,nxy,vy->nuv", _DCT_T, blocks, _DCT_T)
    q = np.rint(f / quant.astype(np.float64)).astype(np.int64)
    return q.reshape(-1, 64)[:, ZIGZAG]


def _pad8(plane: np.ndarray) -> np.ndarray:
    h, w = plane.shape
    ph, pw = -h % 8, -w % 8
    if ph or pw:
        plane = np.pad(plane, ((0, ph), (0, pw)), mode="edge")
    return plane


def _dqt_segment(tid: int, quant: np.ndarray) -> bytes:
    payload = bytes([tid]) + bytes(int(v) for v in quant.reshape(64)[ZIGZAG])
    return b"\xff\xdb" + struct.pack(">H", 2 + len(payload)) + payload


def _dht_segment(cls: int, tid: int, bits: list[int], vals: list[int]) -> bytes:
    payload = bytes([(cls << 4) | tid]) + bytes(bits) + bytes(vals)
    return b"\xff\xc4" + struct.pack(">H", 2 + len(payload)) + payload


def rgb_to_ycbcr(img: np.ndarray) -> np.ndarray:
    """JFIF full-range BT.601, float64 (H, W, 3) in, same shape out."""
    f = img.astype(np.float64)
    r, g, b = f[..., 0], f[..., 1], f[..., 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    return np.stack([y, cb, cr], axis=-1)


def ycbcr_to_rgb(ycc: np.ndarray) -> np.ndarray:
    y, cb, cr = ycc[..., 0], ycc[..., 1] - 128.0, ycc[..., 2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    return np.stack([r, g, b], axis=-1)


def encode_jpeg(
    img: np.ndarray, quality: int = 50, progressive: bool = False
) -> bytes:
    """uint8 (H, W) grayscale or (H, W, 3) RGB → JFIF bytes.

    Grayscale emits one component; RGB emits 4:4:4 YCbCr.  quality=50
    uses the Annex K tables verbatim (the exact-roundtrip fixtures
    depend on Q[0,0]=16).  ``progressive=True`` emits an SOF2 stream
    with spectral-selection scans (one interleaved DC scan, then one
    full-band AC scan per component) — the coefficients are identical
    to the baseline encoding, so ``decode(progressive) ==
    decode(baseline)`` exactly, which is what the round-trip tests
    pin; successive-approximation DECODE is exercised by hand-built
    streams in tests/test_jpeg.py."""
    if img.dtype != np.uint8:
        raise ValueError("encode_jpeg expects uint8")
    if img.ndim == 3 and img.shape[2] == 1:
        img = img[:, :, 0]
    if img.ndim not in (2, 3) or (img.ndim == 3 and img.shape[2] != 3):
        raise ValueError("encode_jpeg expects (H,W) or (H,W,3)")
    h, w = img.shape[:2]
    if h == 0 or w == 0:
        raise ValueError("empty image")
    gray = img.ndim == 2
    q_luma = scaled_quant(QUANT_LUMA, quality)
    out = bytearray(b"\xff\xd8")  # SOI
    out += (  # APP0 JFIF v1.1, no density, no thumbnail
        b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00"
        + struct.pack(">HHBB", 1, 1, 0, 0)
    )
    out += _dqt_segment(0, q_luma)
    ncomp = 1 if gray else 3
    if not gray:
        q_chroma = scaled_quant(QUANT_CHROMA, quality)
        out += _dqt_segment(1, q_chroma)
    # SOF0/SOF2: 8-bit precision, all components 1x1 sampling (4:4:4)
    sof = struct.pack(">BHHB", 8, h, w, ncomp)
    for c in range(ncomp):
        sof += bytes([c + 1, 0x11, 0 if c == 0 else 1])
    sof_marker = b"\xff\xc2" if progressive else b"\xff\xc0"
    out += sof_marker + struct.pack(">H", 2 + len(sof)) + sof
    out += _dht_segment(0, 0, DC_LUMA_BITS, DC_LUMA_VALS)
    out += _dht_segment(1, 0, AC_LUMA_BITS, AC_LUMA_VALS)
    if not gray:
        out += _dht_segment(0, 1, DC_CHROMA_BITS, DC_CHROMA_VALS)
        out += _dht_segment(1, 1, AC_CHROMA_BITS, AC_CHROMA_VALS)
    if not progressive:
        sos = bytes([ncomp])
        for c in range(ncomp):
            sos += bytes([c + 1, 0x00 if c == 0 else 0x11])
        sos += bytes([0, 63, 0])
        out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos

    if gray:
        planes = [(_pad8(img), q_luma)]
    else:
        ycc = rgb_to_ycbcr(img)
        planes = [
            (_pad8(np.rint(np.clip(ycc[..., 0], 0, 255)).astype(np.uint8)), q_luma),
            (_pad8(np.rint(np.clip(ycc[..., 1], 0, 255)).astype(np.uint8)), q_chroma),
            (_pad8(np.rint(np.clip(ycc[..., 2], 0, 255)).astype(np.uint8)), q_chroma),
        ]
    coeffs = [_plane_coeffs(p, q) for p, q in planes]
    dc_l = _huff_codes(DC_LUMA_BITS, DC_LUMA_VALS)
    ac_l = _huff_codes(AC_LUMA_BITS, AC_LUMA_VALS)
    if not gray:
        dc_c = _huff_codes(DC_CHROMA_BITS, DC_CHROMA_VALS)
        ac_c = _huff_codes(AC_CHROMA_BITS, AC_CHROMA_VALS)
    nb = coeffs[0].shape[0]
    if progressive:
        # scan 1: interleaved DC (Ss=Se=0, Ah=Al=0)
        sos = bytes([ncomp])
        for c in range(ncomp):
            sos += bytes([c + 1, (0 if c == 0 else 1) << 4])
        sos += bytes([0, 0, 0])
        out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos
        writer = _BitWriter()
        prev = [0] * ncomp
        for b in range(nb):
            for c in range(ncomp):
                dc = dc_l if c == 0 else dc_c
                sz, bits = _magnitude(int(coeffs[c][b, 0]) - prev[c])
                prev[c] = int(coeffs[c][b, 0])
                code, ln = dc[sz]
                writer.write(code, ln)
                writer.write(bits, sz)
        out += writer.flush()
        # scans 2..: one full-band AC scan per component (Ss=1, Se=63)
        for c in range(ncomp):
            sos = bytes([1, c + 1, 0 if c == 0 else 1]) + bytes([1, 63, 0])
            out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos
            ac = ac_l if c == 0 else ac_c
            writer = _BitWriter()
            for b in range(nb):
                _encode_ac_band(writer, coeffs[c][b], ac)
            out += writer.flush()
    else:
        writer = _BitWriter()
        # 1x1 sampling for every component ⇒ one block per component per
        # MCU, interleaved in component order, blocks row-major
        prev = [0] * ncomp
        for b in range(nb):
            for c in range(ncomp):
                dc, ac = (dc_l, ac_l) if c == 0 else (dc_c, ac_c)
                prev[c] = _encode_blocks(
                    writer, coeffs[c][b : b + 1], dc, ac, prev[c]
                )
        out += writer.flush()
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# ---------------------------------------------------------------------------
# decoder
# ---------------------------------------------------------------------------


class _HuffTable:
    """Canonical decode tables per T.81 F.16 (mincode/maxcode/valptr)."""

    def __init__(self, bits: list[int], vals: list[int]) -> None:
        self.vals = vals
        self.mincode = [0] * 17
        self.maxcode = [-1] * 17
        self.valptr = [0] * 17
        code = 0
        k = 0
        for length in range(1, 17):
            if bits[length - 1]:
                self.valptr[length] = k
                self.mincode[length] = code
                code += bits[length - 1]
                k += bits[length - 1]
                self.maxcode[length] = code - 1
            code <<= 1


class _BitReader:
    """MSB-first reader over entropy-coded data; unstuffs FF00, stops at
    any other marker (exposed via ``at_marker``)."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0
        self.marker: int | None = None

    def _fill(self) -> None:
        if self.marker is not None:
            raise ValueError("read past JPEG entropy segment")
        if self.pos >= len(self.data):
            raise ValueError("truncated JPEG entropy data")
        byte = self.data[self.pos]
        self.pos += 1
        if byte == 0xFF:
            if self.pos >= len(self.data):
                raise ValueError("truncated JPEG entropy data")
            nxt = self.data[self.pos]
            if nxt == 0x00:
                self.pos += 1
            else:
                # a real marker: signal and hand back padding bits
                self.marker = nxt
                self.pos += 1
                raise ValueError("unexpected marker in entropy data")
        self.acc = (self.acc << 8) | byte
        self.nbits += 8

    def bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit()
        return v

    def align_to_marker(self) -> int:
        """Discard pad bits, consume the next marker byte pair, return the
        marker code (for RSTn handling)."""
        self.acc = 0
        self.nbits = 0
        d, p = self.data, self.pos
        while p + 1 < len(d):
            if d[p] == 0xFF and d[p + 1] != 0x00:
                self.pos = p + 2
                return d[p + 1]
            p += 1
        raise ValueError("expected restart marker")


def _decode_huff(reader: _BitReader, table: _HuffTable) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | reader.bit()
        if table.maxcode[length] >= code >= table.mincode[length]:
            return table.vals[table.valptr[length] + code - table.mincode[length]]
    raise ValueError("invalid JPEG Huffman code")


def _extend(v: int, s: int) -> int:
    return v - (1 << s) + 1 if s and v < (1 << (s - 1)) else v


def _decode_block(
    reader: _BitReader,
    dc_tab: _HuffTable,
    ac_tab: _HuffTable,
    pred: int,
) -> tuple[np.ndarray, int]:
    zz = np.zeros(64, dtype=np.int64)
    s = _decode_huff(reader, dc_tab)
    if s > 15:  # baseline DC categories stop at 11; >15 ⇒ corrupt DHT
        raise ValueError("invalid JPEG DC category")
    diff = _extend(reader.bits(s), s) if s else 0
    pred += diff
    zz[0] = pred
    k = 1
    while k < 64:
        rs = _decode_huff(reader, ac_tab)
        r, s = rs >> 4, rs & 0x0F
        if s == 0:
            if r == 15:
                k += 16  # ZRL
                continue
            break  # EOB
        k += r
        if k > 63:
            raise ValueError("JPEG AC coefficient overrun")
        zz[k] = _extend(reader.bits(s), s)
        k += 1
    return zz, pred


def decode_jpeg(data: bytes) -> np.ndarray:
    """Baseline JPEG bytes → uint8 pixels, (H, W) for 1-component
    streams, (H, W, 3) RGB for 3-component YCbCr.  ValueError on
    anything outside the documented scope (progressive, arithmetic,
    12-bit, truncation, marker desync) — kernels catch and degrade."""
    try:
        return _decode_jpeg(data)
    except (IndexError, struct.error) as e:  # truncated streams
        raise ValueError(f"truncated JPEG stream: {e}") from e


def _idct_blocks(coeffs: np.ndarray) -> np.ndarray:
    """(n, 64) zigzag-order dequantized coefficients → (n, 8, 8) pixels
    (level-shifted back, clipped), vectorized across blocks."""
    f = coeffs[:, UNZIGZAG].reshape(-1, 8, 8).astype(np.float64)
    px = np.einsum("xu,nuv,yv->nxy", _DCT_T.T, f, _DCT_T.T)
    return np.clip(np.rint(px + 128.0), 0, 255).astype(np.uint8)


def _decode_jpeg(data: bytes) -> np.ndarray:
    if not is_jpeg(data):
        raise ValueError("not a JPEG: missing SOI")
    quant: dict[int, np.ndarray] = {}
    huff_dc: dict[int, _HuffTable] = {}
    huff_ac: dict[int, _HuffTable] = {}
    restart_interval = 0
    frame = None  # (h, w, [(cid, hi, vi, tq)])
    progressive = False
    store = None  # progressive: per-component persistent coefficient planes
    pos, n = 2, len(data)
    while pos + 4 <= n:
        if data[pos] != 0xFF:
            raise ValueError("JPEG marker desync")
        marker = data[pos + 1]
        if marker == 0xFF:
            pos += 1
            continue
        if marker == 0xD8 or marker == 0x01 or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        if marker == 0xD9:
            break
        (ln,) = struct.unpack_from(">H", data, pos + 2)
        if ln < 2 or pos + 2 + ln > n:
            raise ValueError("truncated JPEG segment")
        seg = data[pos + 4 : pos + 2 + ln]
        if marker == 0xDB:  # DQT
            i = 0
            while i < len(seg):
                pq, tq = seg[i] >> 4, seg[i] & 0x0F
                i += 1
                if pq == 0:
                    tbl = np.frombuffer(seg[i : i + 64], np.uint8).astype(np.int64)
                    i += 64
                else:
                    tbl = np.frombuffer(seg[i : i + 128], ">u2").astype(np.int64)
                    i += 128
                q = np.zeros(64, dtype=np.int64)
                q[ZIGZAG] = tbl
                quant[tq] = q.reshape(8, 8)
        elif marker == 0xC4:  # DHT
            i = 0
            while i < len(seg):
                cls, tid = seg[i] >> 4, seg[i] & 0x0F
                bits = list(seg[i + 1 : i + 17])
                nv = sum(bits)
                vals = list(seg[i + 17 : i + 17 + nv])
                (huff_dc if cls == 0 else huff_ac)[tid] = _HuffTable(bits, vals)
                i += 17 + nv
        elif marker in (0xC0, 0xC1, 0xC2):  # baseline / ext. seq. / progressive
            prec, h, w, nc = struct.unpack_from(">BHHB", seg, 0)
            if prec != 8:
                raise ValueError(f"unsupported JPEG precision {prec}")
            comps = []
            for c in range(nc):
                cid, hv, tq = seg[6 + 3 * c : 9 + 3 * c]
                comps.append((cid, hv >> 4, hv & 0x0F, tq))
            frame = (h, w, comps)
            progressive = marker == 0xC2
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7,
                        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(
                "unsupported JPEG frame type (lossless/arithmetic/"
                f"hierarchical): SOF{marker & 0x0F}"
            )
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack_from(">H", seg, 0)
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise ValueError("JPEG SOS before SOF")
            if not progressive:
                return _decode_scan(
                    data, pos + 2 + ln, seg, frame, quant,
                    huff_dc, huff_ac, restart_interval,
                )
            if store is None:
                store = _alloc_store(frame)
            pos = _progressive_scan(
                data, pos + 2 + ln, seg, frame, store,
                huff_dc, huff_ac, restart_interval,
            )
            continue
        pos += 2 + ln
    if store is not None:
        h, w, comps = frame
        if h == 0 or w == 0:
            raise ValueError("empty JPEG frame")
        hmax = max(c[1] for c in comps)
        vmax = max(c[2] for c in comps)
        return _reconstruct(store, comps, quant, h, w, hmax, vmax)
    raise ValueError("JPEG missing SOS")


def _alloc_store(frame: tuple) -> list:
    """Progressive mode: one persistent (blocks_y, blocks_x, 64)
    coefficient plane per component, allocated on the interleaved MCU
    grid (a superset of every scan's block grid)."""
    h, w, comps = frame
    if h == 0 or w == 0:
        raise ValueError("empty JPEG frame")
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    return [
        np.zeros((mcuy * vi, mcux * hi, 64), dtype=np.int64)
        for _, hi, vi, _tq in comps
    ]


def _first_ac_block(reader, ac_tab, blk, ss, se, al, eobrun):
    """One block of a first-pass AC scan (Ah=0), T.81 G.1.2.2: EOBRUN
    run-length across blocks, ZRL zero runs, coefficients << Al."""
    if eobrun:
        return eobrun - 1
    k = ss
    while k <= se:
        rs = _decode_huff(reader, ac_tab)
        r, s = rs >> 4, rs & 0x0F
        if s == 0:
            if r == 15:
                k += 16  # ZRL
                continue
            eobrun = (1 << r) - 1
            if r:
                eobrun += reader.bits(r)
            break
        k += r
        if k > se:
            raise ValueError("JPEG AC coefficient overrun")
        blk[k] = _extend(reader.bits(s), s) << al
        k += 1
    return eobrun


def _refine_ac_block(reader, ac_tab, blk, ss, se, al, eobrun):
    """One block of an AC refinement scan (Ah>0), T.81 G.1.2.3: place
    new ±1<<Al coefficients and append one correction bit to every
    nonzero coefficient passed."""
    p1, m1 = 1 << al, -(1 << al)

    def correct(k):
        if reader.bit() and (int(blk[k]) & p1) == 0:
            blk[k] += p1 if blk[k] > 0 else m1

    k = ss
    if eobrun == 0:
        while k <= se:
            rs = _decode_huff(reader, ac_tab)
            r, s = rs >> 4, rs & 0x0F
            newval = 0
            if s == 0:
                if r < 15:
                    eobrun = 1 << r
                    if r:
                        eobrun += reader.bits(r)
                    break  # EOB: correction bits for the rest, below
                # r == 15: ZRL — skip 16 zero-history coefficients
            else:
                if s != 1:
                    raise ValueError("bad JPEG AC refinement magnitude")
                newval = p1 if reader.bit() else m1
            while k <= se:
                if blk[k]:
                    correct(k)
                    k += 1
                else:
                    if r == 0:
                        break
                    r -= 1
                    k += 1
            if s and k <= se:
                blk[k] = newval
            k += 1
    if eobrun:
        while k <= se:
            if blk[k]:
                correct(k)
            k += 1
        eobrun -= 1
    return eobrun


def _progressive_scan(
    data: bytes,
    pos: int,
    seg: bytes,
    frame: tuple,
    store: list,
    huff_dc: dict,
    huff_ac: dict,
    restart_interval: int,
) -> int:
    """Decode ONE progressive scan (DC or AC band, first or refinement
    pass) into the persistent coefficient store; returns the byte
    position of the next marker.  Restart markers reset predictors and
    the EOB run."""
    h, w, comps = frame
    ns = seg[0]
    by_id = {c[0]: j for j, c in enumerate(comps)}
    scan_comps = []
    for i in range(ns):
        cid, tabs = seg[1 + 2 * i], seg[2 + 2 * i]
        if cid not in by_id:
            raise ValueError("JPEG scan references unknown component")
        scan_comps.append((by_id[cid], tabs >> 4, tabs & 0x0F))
    ss, se = seg[1 + 2 * ns], seg[2 + 2 * ns]
    ahal = seg[3 + 2 * ns]
    ah, al = ahal >> 4, ahal & 0x0F
    if not (0 <= ss <= se <= 63):
        raise ValueError("bad JPEG spectral band")
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    reader = _BitReader(data, pos)
    preds = [0] * len(comps)
    eobrun = 0
    mcu_count = 0

    def check_restart():
        nonlocal preds, eobrun
        if restart_interval and mcu_count and mcu_count % restart_interval == 0:
            m = reader.align_to_marker()
            if not 0xD0 <= m <= 0xD7:
                raise ValueError(f"expected RSTn, got FF{m:02X}")
            preds = [0] * len(comps)
            eobrun = 0

    if ss == 0:
        if se != 0:
            raise ValueError("JPEG progressive DC scan with Se != 0")
        if ns > 1:
            # interleaved DC scan: the frame MCU walk
            for _my in range(mcuy):
                for _mx in range(mcux):
                    check_restart()
                    for ci, dt, _at in scan_comps:
                        _cid, hi, vi, _tq = comps[ci]
                        if ah == 0 and dt not in huff_dc:
                            raise ValueError("JPEG scan references missing DHT")
                        for by in range(vi):
                            for bx in range(hi):
                                blk = store[ci][_my * vi + by, _mx * hi + bx]
                                if ah == 0:
                                    sz = _decode_huff(reader, huff_dc[dt])
                                    if sz > 15:
                                        raise ValueError("invalid JPEG DC category")
                                    diff = _extend(reader.bits(sz), sz) if sz else 0
                                    preds[ci] += diff
                                    blk[0] = preds[ci] << al
                                elif reader.bit():
                                    blk[0] = int(blk[0]) | (1 << al)
                    mcu_count += 1
            return _next_marker_pos(data, reader.pos)
        # fall through: single-component DC scan uses the block walk below
    elif ns != 1:
        raise ValueError("JPEG progressive AC scan must be single-component")

    ci, dt, at = scan_comps[0]
    _cid, hi, vi, _tq = comps[ci]
    # component dims: ceil(w·hi/hmax) × ceil(h·vi/vmax); blocks: ceil(/8)
    cw = -(-(w * hi) // hmax)
    ch = -(-(h * vi) // vmax)
    bw = -(-cw // 8)
    bh = -(-ch // 8)
    for by in range(bh):
        for bx in range(bw):
            check_restart()
            blk = store[ci][by, bx]
            if ss == 0:
                if ah == 0:
                    if dt not in huff_dc:
                        raise ValueError("JPEG scan references missing DHT")
                    sz = _decode_huff(reader, huff_dc[dt])
                    if sz > 15:
                        raise ValueError("invalid JPEG DC category")
                    diff = _extend(reader.bits(sz), sz) if sz else 0
                    preds[ci] += diff
                    blk[0] = preds[ci] << al
                elif reader.bit():
                    blk[0] = int(blk[0]) | (1 << al)
            else:
                if at not in huff_ac:
                    raise ValueError("JPEG scan references missing DHT")
                if ah == 0:
                    eobrun = _first_ac_block(
                        reader, huff_ac[at], blk, ss, se, al, eobrun
                    )
                else:
                    eobrun = _refine_ac_block(
                        reader, huff_ac[at], blk, ss, se, al, eobrun
                    )
            mcu_count += 1
    return _next_marker_pos(data, reader.pos)


def _next_marker_pos(data: bytes, pos: int) -> int:
    """Skip pad bits/stuffing after a scan's entropy data to the next
    real marker (0xFF followed by neither 0x00 nor another 0xFF)."""
    n = len(data)
    while pos + 1 < n:
        if data[pos] == 0xFF and data[pos + 1] not in (0x00, 0xFF):
            return pos
        pos += 1
    raise ValueError("truncated JPEG: no marker after scan")


def _decode_scan(
    data: bytes,
    pos: int,
    seg: bytes,
    frame: tuple,
    quant: dict,
    huff_dc: dict,
    huff_ac: dict,
    restart_interval: int,
) -> np.ndarray:
    h, w, comps = frame
    if h == 0 or w == 0:
        raise ValueError("empty JPEG frame")
    ns = seg[0]
    if ns != len(comps):
        raise ValueError("JPEG partial-scan streams not supported")
    scan_tabs = {}
    for i in range(ns):
        cid, tabs = seg[1 + 2 * i], seg[2 + 2 * i]
        scan_tabs[cid] = (tabs >> 4, tabs & 0x0F)
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    for _, hi, vi, _ in comps:
        if hmax % hi or vmax % vi:
            raise ValueError("non-integral JPEG sampling ratio")
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    # per-component coefficient store, (blocks_y, blocks_x, 64) zigzag
    planes = []
    for _, hi, vi, _tq in comps:
        planes.append(
            np.zeros((mcuy * vi, mcux * hi, 64), dtype=np.int64)
        )
    reader = _BitReader(data, pos)
    preds = [0] * len(comps)
    mcu_count = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                m = reader.align_to_marker()
                if not 0xD0 <= m <= 0xD7:
                    raise ValueError(f"expected RSTn, got FF{m:02X}")
                preds = [0] * len(comps)
            for ci, (cid, hi, vi, _tq) in enumerate(comps):
                dt, at = scan_tabs[cid]
                if dt not in huff_dc or at not in huff_ac:
                    raise ValueError("JPEG scan references missing DHT")
                for by in range(vi):
                    for bx in range(hi):
                        zz, preds[ci] = _decode_block(
                            reader, huff_dc[dt], huff_ac[at], preds[ci]
                        )
                        planes[ci][my * vi + by, mx * hi + bx] = zz
            mcu_count += 1
    return _reconstruct(planes, comps, quant, h, w, hmax, vmax)


def _reconstruct(
    planes: list, comps: list, quant: dict, h: int, w: int,
    hmax: int, vmax: int,
) -> np.ndarray:
    """Shared tail of the baseline and progressive paths: per-component
    dequantize → IDCT → upsample → crop → color convert."""
    out_planes = []
    for ci, (cid, hi, vi, tq) in enumerate(comps):
        if tq not in quant:
            raise ValueError("JPEG frame references missing DQT")
        by, bx, _ = planes[ci].shape
        deq = planes[ci].reshape(-1, 64) * quant[tq].reshape(64)[ZIGZAG]
        px = _idct_blocks(deq)
        plane = (
            px.reshape(by, bx, 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(by * 8, bx * 8)
        )
        plane = np.repeat(np.repeat(plane, vmax // vi, axis=0), hmax // hi, axis=1)
        out_planes.append(plane[:h, :w])
    if len(out_planes) == 1:
        return out_planes[0]
    if len(out_planes) == 3:
        ycc = np.stack(out_planes, axis=-1).astype(np.float64)
        rgb = ycbcr_to_rgb(ycc)
        return np.clip(np.rint(rgb), 0, 255).astype(np.uint8)
    raise ValueError(f"unsupported JPEG component count {len(out_planes)}")
