"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata, processed through Arrow-batched ``mapInPandas``
kernels.

Every format the reference writes or keeps has a real in-repo codec:
PNG — the format the reference itself emits (page rasters at
server/celery_app.py:903-913, crops at :1062-1081) — via
sources/png.py; JPEG, baseline and progressive — the format uploads and
crops keep when the original was a JPEG (server/src/utils/file.py:92-98,
server/celery_app.py:1070-1081) — via sources/jpeg.py; GIF and BMP via
sources/gif.py and sources/bmp.py.  The image kernels sniff the content
bytes once (sources/imagecodec.sniff_decode) and run real decode →
grayscale → box-resample pixels.  Audio decode is real for WAV/RIFF PCM
and G.711 (sources/wav.py), video for MJPEG-in-AVI (sources/avi.py,
every frame a baseline JPEG).  Payloads with no in-repo codec (WebP
pixels, mp3/ogg, non-MJPEG video) and corrupt files degrade to a
deterministic digest fake, so a bad payload never kills the Arrow stage.

This is the Spark landing zone for the reference's media path: cropped
image regions (server/celery_app.py:1062-1081) become ``media(doc_id,
media_ref, content binary, mime, width, height)`` rows; the page rasters
(server/celery_app.py:887-942, 300 DPI pdfium renders) are the same shape
one level up.

Scale design: media bytes never enter a shuffle — every kernel here is a
narrow map; joins against span tables go through the slim ``media_ref``
key column only, with the binary payload left in place (late
materialization).  ``spark.sql.files.maxPartitionBytes`` governs scan
parallelism; Arrow batches are already capped by session.py.
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame

from ocr_spark.sources.imagecodec import sniff_decode
from ocr_spark.sources.png import (
    encode_png,
    grid8,
    resample_image,
    to_gray,
)

MEDIA_SCHEMA = (
    "doc_id string, media_ref string, content binary, mime string"
)
FEATURE_SCHEMA = (
    "doc_id string, media_ref string, mime string, n_bytes bigint, "
    "sha1 string, width int, height int, feat array<float>"
)


def _fake_decode(content: bytes) -> tuple[int, int, np.ndarray]:
    """Deterministic fake decoder for payloads with no in-repo codec:
    derives (width, height, 8-dim feature) purely from the bytes."""
    h = hashlib.sha1(content).digest()
    width = 64 + h[0] % 192
    height = 64 + h[1] % 192
    feat = np.frombuffer(h[:16], dtype=np.uint8)[:8].astype(np.float32) / 255.0
    return width, height, feat


def _decode(content: bytes) -> tuple[np.ndarray | None, int, int]:
    """(pixels | None, width, height) — the one fallback order every
    image kernel shares.  PNG / JPEG / GIF / BMP → real decoded pixels
    and their geometry.  WebP and unsupported variants → None with REAL
    header geometry (sources/imagemeta.py — dimensions need no pixel
    codec).  Anything else, corrupt streams included → None with the
    digest fake's geometry."""
    img = sniff_decode(content)
    if img is not None:
        return img, img.shape[1], img.shape[0]
    from ocr_spark.sources.imagemeta import sniff_dimensions

    meta = sniff_dimensions(content)
    if meta is not None:
        _fmt, w, h = meta
        return None, w, h
    w, h, _ = _fake_decode(content)
    return None, w, h


def _map_payloads(
    media: DataFrame, schema: str, row: Callable[[bytes], tuple]
) -> DataFrame:
    """The batch loop every per-payload kernel shares: one narrow
    Arrow-batched pass where each media row's ``content`` (null → empty
    bytes) becomes ``(doc_id, media_ref, mime) + row(content)`` — the
    columns of ``schema``, in order.  Decode cost is amortized per batch
    (reference batching moral server/src/engines/ocr_tesserocr.py:102-124)."""
    columns = [col.split()[0] for col in schema.split(",")]

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                [
                    (doc_id, ref, mime,
                     *row(bytes(content) if content is not None else b""))
                    for doc_id, ref, content, mime in zip(
                        pdf["doc_id"], pdf["media_ref"], pdf["content"],
                        pdf["mime"],
                    )
                ],
                columns=columns,
            )

    return media.mapInPandas(fn, schema)


def _features(b: bytes) -> tuple:
    """(n_bytes, sha1, width, height, feat).  Real pixels → the feature
    is the 8 column means of the 8×8 box-resampled grayscale grid, /255
    — a real (if tiny) visual descriptor; no pixels → the digest fake's
    feature (with real header geometry where ``_decode`` found it)."""
    img, w, h = _decode(b)
    if img is not None:
        feat = (grid8(to_gray(img)).mean(axis=0) / 255.0).astype(np.float32)
    else:
        feat = _fake_decode(b)[2]
    return len(b), hashlib.sha1(b).hexdigest(), w, h, feat.tolist()


def extract_media_features(media: DataFrame) -> DataFrame:
    """binary content → typed metadata + feature vector, one Arrow-batched
    pass."""
    return _map_payloads(media, FEATURE_SCHEMA, _features)


RESIZED_SCHEMA = (
    "doc_id string, media_ref string, mime string, width int, height int, "
    "out_width int, out_height int, content binary"
)


def resize_media(media: DataFrame, max_px: int = 128) -> DataFrame:
    """Aspect-preserving resize kernel (the reference's 300→150 DPI export
    rescale, export.py:558-564, and page-0 thumbnails, celery_app.py:934-
    940, generalized to a max-edge clamp).  The geometry — scale =
    max_px / max(w, h), never upscale, round-half-up like PIL — is REAL
    and unit-tested.  PNG/JPEG/GIF/BMP content takes the REAL pixel
    path: decode → exact integer box-resample per channel → re-encode in
    the SAME format where the format can hold the result (the reference
    keeps the original extension, src/utils/file.py:92-98): JPEG→JPEG,
    BMP→BMP, PNG→PNG; GIF→PNG (a box-resampled frame generally exceeds
    256 colors).  Only payloads without an in-repo codec get the
    documented fake (content' = deterministic f(content, out dims)).
    One narrow Arrow-batched map; bytes never shuffle."""
    from ocr_spark.sources.bmp import encode_bmp, is_bmp
    from ocr_spark.sources.jpeg import encode_jpeg, is_jpeg

    def row(b: bytes) -> tuple:
        img, w, hgt = _decode(b)
        # a header may declare 0×0: clamp, never divide by zero
        scale = min(1.0, max_px / max(w, hgt, 1))
        ow = max(1, int(w * scale + 0.5))
        oh = max(1, int(hgt * scale + 0.5))
        if img is not None:
            resized = resample_image(img, ow, oh)
            if is_jpeg(b):
                out = encode_jpeg(resized)
            elif is_bmp(b):
                out = encode_bmp(resized)
            else:
                out = encode_png(resized)
        else:
            # fake resample: size-stamped digest of the bytes
            out = (
                struct.pack("<II", ow, oh)
                + hashlib.sha256(b + struct.pack("<II", ow, oh)).digest()
            )
        return w, hgt, ow, oh, out

    return _map_payloads(media, RESIZED_SCHEMA, row)


FRAME_SCHEMA = (
    "doc_id string, media_ref string, frame_no int, ts_ms bigint, "
    "content binary"
)


def synth_video_for_refs(refs: DataFrame, n_frames: int = 24) -> DataFrame:
    """Deterministic MJPEG-in-AVI videos for (doc_id, media_ref) rows:
    ``n_frames`` real 16×16 grayscale JPEG frames with digest-seeded
    pixels at 25 fps (sources/avi.write_avi_mjpeg), so sampled frames
    decode to real pixels.  Data-gen utility for tests/bench."""
    from ocr_spark.sources.avi import write_avi_mjpeg
    from ocr_spark.sources.jpeg import encode_jpeg

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            content = []
            for d, r in zip(pdf["doc_id"], pdf["media_ref"]):
                frames = [
                    encode_jpeg(
                        _synth_pixels(
                            hashlib.sha256(f"{d}/{r}#{i}".encode()).digest(),
                            16 * 16,
                        ).reshape(16, 16)
                    )
                    for i in range(n_frames)
                ]
                content.append(
                    write_avi_mjpeg(frames, fps=25.0, width=16, height=16)
                )
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_ref": pdf["media_ref"],
                    "content": content,
                    "mime": "video/avi",
                }
            )

    return refs.mapInPandas(fn, MEDIA_SCHEMA)


def sample_frames(video: DataFrame, every_n: int = 8) -> DataFrame:
    """Frame sampling: one input video row → one output row per kept frame
    (frame 0, every_n, 2·every_n, …), with the timestamp each frame
    carries at the container's frame rate.

    MJPEG-in-AVI is REAL end to end: the RIFF walk (sources/avi.py — the
    WAV code's sibling grammar) yields ``00dc`` chunks that ARE baseline
    JPEGs, so sampled frame rows feed
    ``extract_media_features``/``media_avg_hash`` with real pixels via
    sources/jpeg.py.  Corrupt containers and non-video rows skip, like a
    codec would; a truncated tail frame is dropped.  The 1→N row fan-out
    happens inside the Arrow batch, so a long video never becomes a wide
    row downstream: frames are independent rows that repartition freely.
    Scale shape: narrow map, no shuffle; downstream feature extraction
    joins by (doc_id, media_ref, frame_no)."""
    from ocr_spark.sources.avi import is_avi, parse_avi

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out_d, out_r, out_f, out_t, out_c = [], [], [], [], []
            for doc_id, ref, content in zip(
                pdf["doc_id"], pdf["media_ref"], pdf["content"]
            ):
                b = bytes(content) if content is not None else b""
                if not is_avi(b):
                    continue  # not a video container — skip
                try:
                    frames, fps = parse_avi(b)
                except ValueError:
                    continue  # corrupt container — skip, degrade
                ms_per_frame = 1000.0 / fps
                for frame_no in range(0, len(frames), every_n):
                    out_d.append(doc_id)
                    out_r.append(ref)
                    out_f.append(frame_no)
                    out_t.append(int(frame_no * ms_per_frame))
                    out_c.append(frames[frame_no])
            yield pd.DataFrame(
                {
                    "doc_id": out_d,
                    "media_ref": out_r,
                    "frame_no": np.array(out_f, dtype=np.int32),
                    "ts_ms": np.array(out_t, dtype=np.int64),
                    "content": out_c,
                }
            )

    return video.mapInPandas(fn, FRAME_SCHEMA)


def _synth_pixels(seed: bytes, n: int) -> np.ndarray:
    """Deterministic pseudo-random uint8 pixel stream: vectorized
    splitmix64 finalizer over a counter sequence keyed by the seed
    digest.  Portable (pure integer ops), O(n) numpy, no RNG-state
    version hazards — the tests/bench datagen idiom."""
    s = np.frombuffer(seed[:8], dtype=np.uint64)[0]
    with np.errstate(over="ignore"):
        x = np.arange(n, dtype=np.uint64) + s
        x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        x = x ^ (x >> np.uint64(31))
    return (x & np.uint64(0xFF)).astype(np.uint8)


def synth_image(seed_key: str) -> np.ndarray:
    """Deterministic test/bench image for a media ref: 64-95 px a side,
    grayscale (3 in 4) or RGB, digest-seeded pixels."""
    h0 = hashlib.sha256(seed_key.encode()).digest()
    w, hgt = 64 + h0[0] % 32, 64 + h0[1] % 32
    if h0[3] % 4 == 0:  # RGB
        return _synth_pixels(h0, w * hgt * 3).reshape(hgt, w, 3)
    return _synth_pixels(h0, w * hgt).reshape(hgt, w)


def synth_media_for_spans(spans_df: DataFrame) -> DataFrame:
    """Build the media-bytes side table for every ``media_ref`` span:
    REAL PNGs (sources/png.py encoder; digest-seeded pixels, mixed
    gray/RGB, per-image filter choice) so every downstream kernel —
    feature extraction, aHash, resize — exercises the real decode path.
    Data-gen utility for tests/bench — content = f(doc_id, media_ref).
    Filter types are drawn from {0,1,2} (the vectorized-unfilter set) to
    keep bulk datagen fast; filters 3/4 are unit-test-exercised."""
    from pyspark.sql import functions as F

    refs = (
        spans_df.select("doc_id", F.explode("spans").alias("s"))
        .where(F.col("s.kind") == "media_ref")
        .select("doc_id", F.col("s.media_ref").alias("media_ref"))
        .distinct()
    )

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            content = []
            for d, r in zip(pdf["doc_id"], pdf["media_ref"]):
                key = f"{d}/{r}"
                ft = hashlib.sha256(key.encode()).digest()[2] % 3
                content.append(
                    encode_png(synth_image(key), filters=ft,
                               compress_level=1)
                )
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_ref": pdf["media_ref"],
                    "content": content,
                    "mime": "image/png",
                }
            )

    return refs.mapInPandas(fn, MEDIA_SCHEMA)


AHASH_SCHEMA = (
    "doc_id string, media_ref string, mime string, n_bytes bigint, "
    "ahash bigint"
)


def _fake_grid(content: bytes) -> np.ndarray:
    """Deterministic stand-in for the 8×8 grayscale grid of a payload
    with no in-repo codec: 64 bytes expanded from the content digest.
    Identical bytes → identical grid — the property the average-hash
    dedup path needs."""
    h = hashlib.sha256(content).digest() + hashlib.sha256(
        content + b"\x01"
    ).digest()
    return np.frombuffer(h, dtype=np.uint8).astype(np.int64)


def _grid(content: bytes) -> np.ndarray:
    """The aHash input grid: PNG / JPEG / GIF / BMP → REAL pixels (decode →
    grayscale → exact 8×8 box means, sources/png.py grid8); formats
    without an in-repo codec → the digest fake.  Real pixels mean
    visually-identical re-encodes (different filter choices, different
    FORMATS — a PNG and a JPEG of the same image) hash identically — the
    property a byte-digest fake cannot provide."""
    img = sniff_decode(content)
    if img is None:
        return _fake_grid(content)
    return grid8(to_gray(img)).astype(np.int64).flatten()


def average_hash_bits(grid: np.ndarray) -> int:
    """64-bit average hash of a 64-cell grayscale grid: bit i set iff
    cell i is strictly above the grid mean (the classic aHash; pure
    integer compare, no float threshold ambiguity).  Returned as a SIGNED
    64-bit value (bit 63 maps to the bigint sign bit) so it lands in a
    Spark/parquet bigint unchanged."""
    mean_num = int(grid.sum())  # compare cell*64 > sum — exact, no division
    bits = 0
    for i, v in enumerate(grid.tolist()):
        if v * 64 > mean_num:
            bits |= 1 << i
    if bits >= 1 << 63:
        bits -= 1 << 64
    return bits


def media_avg_hash(media: DataFrame) -> DataFrame:
    """Perceptual average-hash per media item — the media-side signature
    feeding ``dedup.hamming_neardup`` (bits=64), the same pair machinery
    the text SimHash uses.  One Arrow-batched narrow pass; binary never
    shuffles (the hash rides the slim columns out)."""
    return _map_payloads(
        media, AHASH_SCHEMA, lambda b: (len(b), average_hash_bits(_grid(b)))
    )


AUDIO_SCHEMA = (
    "doc_id string, media_ref string, mime string, n_bytes bigint, "
    "sample_rate int, n_channels int, n_frames bigint, "
    "sum_abs bigint, zero_crossings bigint, peak int"
)


def synth_audio_for_refs(refs: DataFrame, n_samples: int = 4000) -> DataFrame:
    """REAL PCM16 WAV payloads for (doc_id, media_ref) rows —
    splitmix-seeded samples through sources/wav.encode_wav, so the audio
    kernels exercise the real decode path (the synth_media_for_spans
    discipline, audio edition).  Data-gen utility for tests/bench."""
    from ocr_spark.sources.wav import encode_wav

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            content = []
            for d, r in zip(pdf["doc_id"], pdf["media_ref"]):
                seed = hashlib.sha256(f"{d}/{r}|wav".encode()).digest()
                raw = _synth_pixels(seed, 2 * n_samples).astype(np.int64)
                s = (raw[0::2] * 256 + raw[1::2] - 32768).astype(np.int16)
                content.append(encode_wav(s, sample_rate=16000))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_ref": pdf["media_ref"],
                    "content": content,
                    "mime": "audio/wav",
                }
            )

    return refs.mapInPandas(fn, MEDIA_SCHEMA)


def extract_audio_features(media: DataFrame, frame: int = 400) -> DataFrame:
    """binary audio content → typed metadata + integer frame-feature
    rollups (Σ|x|, zero crossings, peak) — the VAD/quality triple a
    speech-data pipeline filters on.  WAV content takes the REAL
    sources/wav.py decode path; non-WAV (mp3/ogg — no in-repo codec)
    degrades to a deterministic digest fake, same dispatch discipline
    as the image kernels.  One narrow Arrow-batched pass; audio bytes
    never shuffle."""
    from ocr_spark.sources.wav import decode_wav, frame_features, is_wav

    def row(b: bytes) -> tuple:
        try:
            if not is_wav(b):
                raise ValueError("not wav")
            a, rate = decode_wav(b)
            ff = frame_features(a, frame=frame)
            return (
                len(b), rate, a.shape[1], len(ff),
                int(ff[:, 0].sum()) if len(ff) else 0,
                int(ff[:, 1].sum()) if len(ff) else 0,
                int(ff[:, 2].max()) if len(ff) else 0,
            )
        except ValueError:
            h = hashlib.sha1(b).digest()
            return (
                len(b),
                8000 + (h[0] % 5) * 2000, 1 + h[1] % 2,
                int.from_bytes(h[2:4], "big"),
                int.from_bytes(h[4:8], "big"),
                int.from_bytes(h[8:10], "big"),
                int.from_bytes(h[10:12], "big") % 32768,
            )

    return _map_payloads(media, AUDIO_SCHEMA, row)


def caption_pairs(spans: DataFrame, window: int = 8) -> DataFrame:
    """Image–text pair mining over an interleaved span sequence — the
    LAION/MMC4-style assignment step that turns an interleaved corpus
    into (media, caption) training pairs, using the classic
    text-adjacency baseline (MMC4 §3 assigns by CLIP score; its candidate
    set is exactly this adjacency neighborhood).

    Input: exploded reading-order span rows ``(doc_id, kind, text,
    media_ref, offset)`` — the BASELINE.json span-sequence projection
    (one word per text span).  For every ``media_ref`` span, collect the
    nearest ``window`` text words on each side (media neighbors
    contribute nothing — their slot is skipped, not their words
    re-ordered), and pick the longer side as the caption (tie → before,
    the side human captions favor).

    Pure Catalyst: one shuffle on ``doc_id``, two bounded window frames,
    media rows filtered after the frames.  Determinism: ``collect_list``
    over a ``rowsBetween`` frame follows the frame's ``orderBy``, and the
    per-word span rank is dense and unique within a doc, so the joined
    caption string is exact — the DuckDB twin (``media_captions``)
    hash-matches it.  Skew note: a mega-document is one window partition
    (same bound as every per-doc window in this engine); frames stay
    O(window), so the straggler cost is the doc's row count, never
    O(doc²).
    """
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("offset")
        .rowsBetween(-window, -1)
    )
    w_next = (
        Window.partitionBy("doc_id").orderBy("offset").rowsBetween(1, window)
    )
    word = F.when(F.col("kind") == "text", F.col("text"))
    return (
        spans.withColumn(
            "cap_before", F.concat_ws(" ", F.collect_list(word).over(w_prev))
        )
        .withColumn(
            "cap_after", F.concat_ws(" ", F.collect_list(word).over(w_next))
        )
        .where(F.col("kind") == "media_ref")
        .select(
            "doc_id",
            "media_ref",
            "cap_before",
            "cap_after",
            F.when(
                F.length("cap_after") > F.length("cap_before"),
                F.col("cap_after"),
            )
            .otherwise(F.col("cap_before"))
            .alias("caption"),
        )
    )
