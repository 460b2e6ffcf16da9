"""Minimal RIFF/AVI container walk — MJPEG video as a sequence of real
JPEG frames.

AVI is the WAV code's sibling (both are RIFF forms; sources/wav.py
walks the same chunk grammar), and MJPEG is the one video codec this
repo can decode for real because every frame is a baseline JPEG
(sources/jpeg.py).  That turns the video frame-sampling path
(operators/multimodal.sample_frames) into real plumbing end to end:
RIFF walk → ``00dc`` frame chunks → real JPEG bytes → real pixels.
It is the only video container the repo reads or writes
(``synth_video_for_refs`` emits it too); other containers are skipped.

Scope: the walker collects ``xxdc``/``xxdb`` stream chunks in file
order (the MJPEG frame sequence; index chunks are ignored — frame
order in ``movi`` is authoritative for non-interleaved single-stream
files) and reads the frame period from ``avih``.  The writer emits a
spec-shaped single-video-stream file (hdrl with avih + strl/strh/strf,
then movi) any AVI tool can open.  Malformed input raises ValueError;
kernels catch and degrade.
"""

from __future__ import annotations

import struct


def is_avi(data: bytes) -> bool:
    return (
        len(data) >= 12 and data[:4] == b"RIFF" and data[8:12] == b"AVI "
    )


def parse_avi(data: bytes) -> tuple[list[bytes], float]:
    """AVI bytes → (frame payloads in movi order, frames-per-second from
    avih's dwMicroSecPerFrame; 25.0 when absent/zero).  ValueError on
    malformed structure; truncated tail chunks are dropped (the
    atomic-write moral the other container walks follow)."""
    if not is_avi(data):
        raise ValueError("not an AVI: bad RIFF/AVI signature")
    frames: list[bytes] = []
    usec_per_frame = 0

    def walk(pos: int, end: int, depth: int) -> None:
        nonlocal usec_per_frame
        if depth > 8:
            raise ValueError("AVI list nesting too deep")
        while pos + 8 <= end:
            fourcc = data[pos : pos + 4]
            (ln,) = struct.unpack_from("<I", data, pos + 4)
            body_start = pos + 8
            if fourcc == b"LIST" and ln >= 4 and body_start + 4 <= end:
                # walk a truncated list's intact prefix (tail-drop moral)
                walk(body_start + 4, min(body_start + ln, end), depth + 1)
                pos = body_start + ln + (ln & 1)
                continue
            if body_start + ln > end:
                break  # truncated tail chunk — drop
            elif fourcc == b"avih" and ln >= 4:
                (usec_per_frame,) = struct.unpack_from(
                    "<I", data, body_start
                )
            elif (
                len(fourcc) == 4
                and fourcc[2:4] in (b"dc", b"db")
                and fourcc[:2].isdigit()
            ):
                frames.append(data[body_start : body_start + ln])
            pos = body_start + ln + (ln & 1)  # chunks are word-aligned

    walk(12, len(data), 0)
    fps = 1_000_000.0 / usec_per_frame if usec_per_frame else 25.0
    return frames, fps


def _chunk(fourcc: bytes, payload: bytes) -> bytes:
    return (
        fourcc
        + struct.pack("<I", len(payload))
        + payload
        + (b"\x00" if len(payload) & 1 else b"")
    )


def _list(list_type: bytes, payload: bytes) -> bytes:
    return _chunk(b"LIST", list_type + payload)


def write_avi_mjpeg(
    frames: list[bytes], fps: float = 25.0, width: int = 0, height: int = 0
) -> bytes:
    """Fixture/data-gen writer: MJPEG frames → a spec-shaped
    single-stream AVI (RIFF('AVI ', hdrl(avih, strl(strh, strf)),
    movi(00dc…)))."""
    usec = int(round(1_000_000.0 / fps)) if fps > 0 else 40_000
    avih = struct.pack(
        "<IIIIIIIIII4I",
        usec, 0, 0, 0x10, len(frames), 0, 1, 0, width, height, 0, 0, 0, 0,
    )
    # AVISTREAMHEADER (56 bytes): fccType fccHandler dwFlags wPriority
    # wLanguage dwInitialFrames dwScale dwRate dwStart dwLength
    # dwSuggestedBufferSize dwQuality dwSampleSize rcFrame(l,t,r,b)
    strh = (
        b"vidsMJPG"
        + struct.pack(
            "<IHHIIIIIIII",
            0, 0, 0, 0, 1, int(round(fps)), 0, len(frames), 0, 0, 0,
        )
        + struct.pack("<hhhh", 0, 0, width, height)
    )
    strf = struct.pack(
        "<IiiHH4sIiiII",
        40, width, height, 1, 24, b"MJPG", 0, 0, 0, 0, 0,
    )
    hdrl = _list(
        b"hdrl",
        _chunk(b"avih", avih)
        + _list(b"strl", _chunk(b"strh", strh) + _chunk(b"strf", strf)),
    )
    movi = _list(b"movi", b"".join(_chunk(b"00dc", f) for f in frames))
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body
