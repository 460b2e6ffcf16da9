"""Pure-Python GIF decoder — LZW, palettes, interlace (GIF87a/89a).

Completes the real-pixel set for the header families
sources/imagemeta.py measures: a crawled corpus' GIFs now decode to
real RGB through the same sniff-dispatch as PNG/JPEG/BMP.  Scope:
the FIRST image frame (the still-image case; animation frames carry
compositing semantics out of scope for feature extraction), global and
local color tables, the four-pass interlace order, transparent-index
ignored (rendered as its palette color — deterministic and
side-channel-free).  Malformed streams, and screens or frames over
``MAX_PIXELS``, raise ValueError; kernels degrade via
sources/imagecodec.sniff_decode.

The LZW implementation follows the published GIF89a specification
(Appendix F): variable code width starting at min_code_size+1, clear
and end-of-information codes, dictionary grown to 4095 entries.
"""

from __future__ import annotations

import numpy as np


#: pixel cap checked against both the logical screen and the frame
#: before anything is allocated: header fields are attacker-chosen, and
#: a ~800-byte file can declare a 65535×65535 screen (12.9 GB as RGB).
#: 2^24 px is a 4096×4096 screen, 48 MB as RGB.
MAX_PIXELS = 1 << 24


def is_gif(data: bytes) -> bool:
    return len(data) >= 13 and data[:6] in (b"GIF87a", b"GIF89a")


def _lzw_decode(min_code_size: int, data: bytes, max_pixels: int) -> bytearray:
    """GIF LZW: concatenated sub-block payload → index stream."""
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    # dictionary as (prefix_code, last_byte); roots are single bytes
    prefix = [-1] * 4096
    suffix = bytearray(4096)
    for i in range(clear):
        suffix[i] = i
    next_code = eoi + 1
    width = min_code_size + 1
    acc = 0
    nbits = 0
    prev = -1
    count = 0  # codes read since the last CLEAR — drives width bumps
    first_byte = 0
    stack = bytearray()
    for byte in data:
        acc |= byte << nbits
        nbits += 8
        while nbits >= width:
            code = acc & ((1 << width) - 1)
            acc >>= width
            nbits -= width
            if code == clear:
                next_code = eoi + 1
                width = min_code_size + 1
                prev = -1
                count = 0
                continue
            if code == eoi:
                return out
            count += 1
            if prev == -1:
                if code >= next_code:
                    raise ValueError("bad GIF LZW start code")
                out.append(suffix[code])
                first_byte = suffix[code]
                prev = code
            else:
                if code > next_code or code > 4095:
                    raise ValueError("bad GIF LZW code")
                # expand `code` (or prev+first for the KwKwK case)
                c = prev if code == next_code else code
                stack.clear()
                while c >= 0:
                    stack.append(suffix[c])
                    c = prefix[c]
                stack.reverse()
                if code == next_code:
                    stack.append(first_byte)
                first_byte = stack[0]
                out.extend(stack)
                if next_code < 4096:
                    prefix[next_code] = prev
                    suffix[next_code] = first_byte
                    next_code += 1
                prev = code
                if len(out) > max_pixels:
                    return out  # over-long stream: clamp (spec-tolerant)
            # the encoder assigns a table slot per emitted code (starting
            # with its FIRST, which the decoder cannot insert for) — so
            # the width bump tracks codes READ, not entries inserted
            if eoi + 1 + count == (1 << width) and width < 12:
                width += 1
    return out


def _lzw_encode(min_code_size: int, indices: list) -> bytearray:
    """Real GIF LZW compression (spec Appendix F, encoder direction):
    greedy longest-match dictionary, width bump when the decoder's
    would bump, CLEAR + reset when the table fills."""
    clear = 1 << min_code_size
    eoi = clear + 1
    width = min_code_size + 1
    acc = 0
    nbits = 0
    payload = bytearray()

    def put(code: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            payload.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    def fresh() -> dict:
        return {(i,): i for i in range(clear)}

    table = fresh()
    next_code = eoi + 1
    put(clear)
    buf: tuple = ()
    for v in indices:
        v = int(v)
        cand = buf + (v,)
        if cand in table:
            buf = cand
            continue
        put(table[buf])
        if next_code < 4096:
            table[cand] = next_code
            next_code += 1
            # the decoder bumps width when ITS next_code hits 1<<width;
            # mirror it so both sides agree on every code's width
            if next_code == (1 << width) and width < 12:
                width += 1
        else:
            put(clear)
            table = fresh()
            next_code = eoi + 1
            width = min_code_size + 1
        buf = (v,)
    if buf:
        put(table[buf])
    put(eoi)
    if nbits:
        payload.append(acc & 0xFF)
    return payload


#: interlace passes: (row_start, row_step), GIF89a spec Appendix E
_INTERLACE = ((0, 8), (4, 8), (2, 4), (1, 2))


def decode_gif(data: bytes) -> np.ndarray:
    """GIF bytes → uint8 (H, W, 3) RGB of the first image frame."""
    if not is_gif(data):
        raise ValueError("not a GIF: bad signature")
    try:
        return _decode(data)
    except IndexError as e:
        raise ValueError(f"truncated GIF stream: {e}") from e


def _decode(data: bytes) -> np.ndarray:
    sw = data[6] | (data[7] << 8)
    sh = data[8] | (data[9] << 8)
    if sw * sh > MAX_PIXELS:
        raise ValueError(f"GIF screen {sw}x{sh} over the pixel cap")
    flags = data[10]
    pos = 13
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 0x07)
        gct = np.frombuffer(data, np.uint8, count=n * 3, offset=pos).reshape(n, 3)
        pos += n * 3
    while pos < len(data):
        b = data[pos]
        if b == 0x3B:  # trailer
            break
        if b == 0x21:  # extension: label + sub-blocks
            pos += 2
            while pos < len(data) and data[pos]:
                pos += 1 + data[pos]
            pos += 1
            continue
        if b != 0x2C:
            raise ValueError(f"bad GIF block 0x{b:02x}")
        # image descriptor
        left = data[pos + 1] | (data[pos + 2] << 8)
        top = data[pos + 3] | (data[pos + 4] << 8)
        w = data[pos + 5] | (data[pos + 6] << 8)
        h = data[pos + 7] | (data[pos + 8] << 8)
        iflags = data[pos + 9]
        pos += 10
        pal = gct
        if iflags & 0x80:
            n = 2 << (iflags & 0x07)
            pal = np.frombuffer(
                data, np.uint8, count=n * 3, offset=pos
            ).reshape(n, 3)
            pos += n * 3
        if pal is None:
            raise ValueError("GIF image with no color table")
        if w == 0 or h == 0:
            raise ValueError("empty GIF frame")
        if w * h > MAX_PIXELS:
            raise ValueError(f"GIF frame {w}x{h} over the pixel cap")
        min_code = data[pos]
        pos += 1
        if not 2 <= min_code <= 11:
            raise ValueError(f"bad GIF LZW min code size {min_code}")
        chunks = []
        while pos < len(data) and data[pos]:
            ln = data[pos]
            chunks.append(data[pos + 1 : pos + 1 + ln])
            pos += 1 + ln
        idx = _lzw_decode(min_code, b"".join(chunks), w * h)
        if len(idx) < w * h:
            raise ValueError("short GIF pixel stream")
        grid = np.frombuffer(bytes(idx[: w * h]), np.uint8).reshape(h, w)
        if iflags & 0x40:  # interlaced: reorder the four passes
            out = np.empty_like(grid)
            src = 0
            for start, step in _INTERLACE:
                rows = range(start, h, step)
                for y in rows:
                    out[y] = grid[src]
                    src += 1
            grid = out
        if int(grid.max(initial=0)) >= len(pal):
            raise ValueError("GIF palette index out of range")
        rgb = pal[grid]
        # first frame only: composite onto the logical screen when the
        # frame is a strict sub-rectangle (background = palette entry 0)
        if (left, top, w, h) != (0, 0, sw, sh) and sw and sh:
            screen = np.zeros((sh, sw, 3), np.uint8)
            screen[:] = pal[0] if len(pal) else 0
            y2, x2 = min(top + h, sh), min(left + w, sw)
            screen[top:y2, left:x2] = rgb[: y2 - top, : x2 - left]
            return screen
        return np.ascontiguousarray(rgb)
    raise ValueError("GIF has no image frame")


def encode_gif(img: np.ndarray, interlace: bool = False) -> bytes:
    """Fixture twin: uint8 (H, W) palette-index grid + implicit 256-entry
    grayscale GCT, or (H, W, 3) RGB quantized to the unique colors (≤256
    required) → a real LZW-compressed GIF any viewer opens (dictionary
    growth, width bumps, and full-table clears all exercised — so
    roundtrip tests drive the decoder's dictionary paths)."""
    a = np.asarray(img, dtype=np.uint8)
    if a.ndim == 3:
        if a.shape[2] != 3:
            raise ValueError(f"unsupported array shape {a.shape}")
        h, w = a.shape[:2]
        flat = a.reshape(-1, 3)
        pal, inv = np.unique(flat, axis=0, return_inverse=True)
        if len(pal) > 256:
            raise ValueError("encode_gif needs <= 256 distinct colors")
        grid = inv.reshape(h, w).astype(np.uint8)
        n_pal = len(pal)
    else:
        h, w = a.shape
        grid = a
        pal = np.stack([np.arange(256)] * 3, axis=1).astype(np.uint8)
        n_pal = 256
    # pad palette to a power of two ≥ 2
    bits = max(1, int(np.ceil(np.log2(max(n_pal, 2)))))
    full = np.zeros((1 << bits, 3), np.uint8)
    full[:n_pal] = pal
    out = bytearray(b"GIF89a")
    out += bytes([w & 0xFF, w >> 8, h & 0xFF, h >> 8])
    out += bytes([0x80 | ((bits - 1) & 0x07), 0, 0])
    out += full.tobytes()
    if interlace:
        rows = []
        for start, step in _INTERLACE:
            rows.extend(range(start, h, step))
        grid = grid[rows]
    out += bytes([0x2C, 0, 0, 0, 0, w & 0xFF, w >> 8, h & 0xFF, h >> 8,
                  0x40 if interlace else 0x00])
    min_code = max(2, bits)
    payload = _lzw_encode(min_code, grid.reshape(-1).tolist())
    out += bytes([min_code])
    for i in range(0, len(payload), 255):
        blk = payload[i : i + 255]
        out += bytes([len(blk)]) + blk
    out += b"\x00\x3b"
    return bytes(out)
