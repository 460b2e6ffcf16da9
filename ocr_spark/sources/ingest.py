"""Binary ingest: container files → page rows → hOCR page IR → spans —
the S1/S2/S3 scan path demonstrated end-to-end over ``binaryFile``.

Reference shape (citations into /root/reference/):

* S1 PDF page scan — pdfium renders page *i* at 300 DPI, atomic write
                                    — server/celery_app.py:887-942
* S2 ZIP-of-images scan — extract, casefold-sort names, re-encode
                                    — server/celery_app.py:555-595
* S3 multi-frame TIFF — one page per frame
                                    — server/celery_app.py:597-652
* S4 single image — hard-link as page 0
                                    — server/celery_app.py:654-677

What is here (and tested): the ``spark.read.format("binaryFile")``
scan, container parsing (ZIP via the stdlib ``zipfile`` on in-memory
bytes; a length-prefixed ``.pdfx`` page container standing in for the
PDF page split), the per-source page ordering (O1 numeric for pdf/tiff
vs O2 casefold for zip — operators/layout.py), the hOCR parse
(sources/hocr.py) and the span assembly with global reading-order
offsets.

Page payloads are read as hOCR text: the raster→hOCR OCR engine
(Tesseract in the reference) is not part of this repo, so the fixture
generator embeds real hOCR produced by ``render_hocr`` and
``ingest_spans`` UTF-8-decodes each page in Catalyst before the hOCR
parse.

Scale notes: the scan parallelizes per container file
(``maxPartitionBytes`` governs split packing; binaryFile never splits a
single file).  Page splitting and parsing are narrow maps — binary never
shuffles.  The only shuffles are the per-document page-rank window
(order_pages) and the final per-document span assembly groupBy, both
keyed on doc_id.
"""

from __future__ import annotations

import io
import os
import struct
import zipfile
import zlib
from collections.abc import Iterator

import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_spark.operators.layout import order_pages
from ocr_spark.sources.hocr import parse_hocr_pages

PDFX_MAGIC = b"PDFX"

_PAGES_DDL = (
    "doc_id string, source_type string, page_name string, page_bytes binary"
)
_PAGES_SCHEMA = pa.schema(
    [
        ("doc_id", pa.string()),
        ("source_type", pa.string()),
        ("page_name", pa.string()),
        ("page_bytes", pa.binary()),
    ]
)


# ---------------------------------------------------------------------------
# fixture-side container writers (data-gen for tests/bench)
# ---------------------------------------------------------------------------

def write_pdfx(path: str, pages: list[bytes]) -> None:
    """Write the fake PDF container: magic + page count + length-prefixed
    page payloads (stands in for the pdfium page split,
    celery_app.py:887-942)."""
    with open(path, "wb") as f:
        f.write(PDFX_MAGIC + struct.pack("<I", len(pages)))
        for p in pages:
            f.write(struct.pack("<I", len(p)))
            f.write(p)


def write_zip(path: str, entries: dict[str, bytes]) -> None:
    """Write a real ZIP container (S2 fixtures; entry-name casefold order
    is what O2 exercises)."""
    with zipfile.ZipFile(path, "w") as z:
        for name, payload in entries.items():
            z.writestr(name, payload)


def write_tiff(
    path: str, pages: list[bytes], big_endian: bool = False
) -> None:
    """Write a REAL multi-frame baseline TIFF (S3 fixtures): proper
    header, one IFD per page chained via next-IFD offsets, ascending-tag
    entries (ImageWidth 256 / ImageLength 257 / Compression 259=none /
    StripOffsets 273 / StripByteCounts 279), each page's single
    uncompressed strip carrying the payload.  Readable by any TIFF
    tool; the walker below consumes the same structure."""
    bo = ">" if big_endian else "<"
    header = (b"MM" if big_endian else b"II") + struct.pack(bo + "H", 42)
    # layout: header(4) + first-IFD-offset(4) + all strip data, IFDs last
    data_off = 8
    strips = []
    for p in pages:
        strips.append((data_off, len(p)))
        data_off += len(p)
    ifd_size = 2 + 5 * 12 + 4
    out = [header, struct.pack(bo + "I", data_off)]
    out.extend(pages)
    for i, (off, ln) in enumerate(strips):
        nxt = 0 if i == len(strips) - 1 else data_off + (i + 1) * ifd_size
        entries = b"".join(
            # type-3 (SHORT) inline values are LEFT-justified in the
            # 4-byte value field per the TIFF spec — pack the 2-byte
            # value first, then pad — so external tools read the same
            # value in both byte orders.
            struct.pack(bo + "HHI", tag, typ, 1)
            + struct.pack(bo + "H", val) + b"\x00\x00"
            if typ == 3
            else struct.pack(bo + "HHII", tag, typ, 1, val)
            for tag, typ, val in (
                (256, 4, max(ln, 1)),   # width: fixture = strip length
                (257, 4, 1),            # height 1 (structure, not pixels)
                (259, 3, 1),            # no compression
                (273, 4, off),          # strip offset
                (279, 4, ln),           # strip byte count
            )
        )
        out.append(struct.pack(bo + "H", 5) + entries + struct.pack(bo + "I", nxt))
    with open(path, "wb") as f:
        f.write(b"".join(out))


def _tiff_frames(content: bytes) -> list[bytes]:
    """S3: walk a multi-frame TIFF's IFD chain — both byte orders, tag
    256/257 geometry ignored here (no pixel decode; the codec seam),
    strip offsets/counts honored including count>1 arrays — and return
    one strips-concatenated payload per frame, in CHAIN ORDER (the
    reference iterates PIL ``seek(i)`` frame order,
    celery_app.py:597-652).  Loop-guarded; malformed chains raise."""
    if len(content) < 8 or content[:2] not in (b"II", b"MM"):
        raise ValueError("not a TIFF: bad byte-order mark")
    bo = "<" if content[:2] == b"II" else ">"
    (magic,) = struct.unpack_from(bo + "H", content, 2)
    if magic != 42:
        raise ValueError("not a TIFF: bad magic")
    (ifd,) = struct.unpack_from(bo + "I", content, 4)
    frames: list[bytes] = []
    seen = set()
    while ifd:
        if ifd in seen or len(frames) >= 65535:
            raise ValueError("TIFF IFD chain loop")
        seen.add(ifd)
        (n,) = struct.unpack_from(bo + "H", content, ifd)
        tags: dict[int, tuple[int, int, int]] = {}
        for k in range(n):
            tag, typ, cnt, val = struct.unpack_from(
                bo + "HHII", content, ifd + 2 + 12 * k
            )
            tags[tag] = (typ, cnt, val)

        def vals(tag: int) -> list[int]:
            typ, cnt, val = tags[tag]
            size = 2 if typ == 3 else 4
            if cnt * size <= 4:  # inline value field
                if typ == 3:
                    return list(
                        struct.unpack_from(bo + f"{cnt}H", content, ifd + 2 + 12 * _idx(tag) + 8)
                    )
                return [val]
            fmt = bo + f"{cnt}" + ("H" if typ == 3 else "I")
            return list(struct.unpack_from(fmt, content, val))

        def _idx(tag: int) -> int:
            for k in range(n):
                t = struct.unpack_from(bo + "H", content, ifd + 2 + 12 * k)[0]
                if t == tag:
                    return k
            raise KeyError(tag)

        offs = vals(273)
        cnts = vals(279)
        if len(offs) != len(cnts):
            raise ValueError("TIFF strip offset/count mismatch")
        frames.append(
            b"".join(content[o : o + c] for o, c in zip(offs, cnts))
        )
        (ifd,) = struct.unpack_from(bo + "I", content, ifd + 2 + 12 * n)
    return frames


# ---------------------------------------------------------------------------
# container split
# ---------------------------------------------------------------------------

def _split_container(path: str, content: bytes) -> list[tuple[str, str, str, bytes]]:
    """One (doc_id, source_type, page_name, page_bytes) per page.

    doc_id is the container basename (the reference names the document
    folder ``<filename>.<ext>``, server/app.py:644-651)."""
    doc_id = os.path.basename(path)
    stem, ext = os.path.splitext(doc_id)
    ext = ext.lower().lstrip(".")
    try:
        if ext == "zip":
            out = []
            with zipfile.ZipFile(io.BytesIO(content)) as z:
                for info in z.infolist():
                    if info.is_dir():
                        continue
                    out.append(("zip", info.filename, z.read(info)))
        elif ext == "pdfx":
            if content[:4] != PDFX_MAGIC:
                raise ValueError(f"bad pdfx container: {path}")
            (n,) = struct.unpack_from("<I", content, 4)
            out, off = [], 8
            for i in range(n):
                (ln,) = struct.unpack_from("<I", content, off)
                off += 4
                if off + ln > len(content):
                    raise ValueError("truncated pdfx page")
                out.append(("pdf", f"{stem}_{i}.png", content[off : off + ln]))
                off += ln
        elif ext in ("tif", "tiff"):
            # S3: real IFD-chain walk, one page per frame in chain order
            # (celery_app.py:597-652's PIL seek(i) order)
            out = [
                ("tiff", f"{stem}_{i}.tif", frame)
                for i, frame in enumerate(_tiff_frames(content))
            ]
        else:
            # S4 single image: the file is page 0 (celery_app.py:654-677)
            out = [("img", doc_id, content)]
    except (
        ValueError,
        KeyError,
        struct.error,
        zipfile.BadZipFile,
        zlib.error,
        NotImplementedError,  # zipfile: unsupported compression type
        OSError,  # zipfile: CRC / header inconsistencies surface as OSError
        EOFError,  # zipfile: a member's compressed data cut short
        RuntimeError,  # zipfile: member flagged encrypted, no password
    ):
        # degrade-to-marker: one corrupt upload must never kill the scan
        # stage (the raster path's 'corrupt' marker-row convention) —
        # downstream sees an empty page under source_type 'corrupt'
        out = [("corrupt", doc_id, b"")]
    return [(doc_id, st, name, payload) for st, name, payload in out]


def scan_containers(spark: SparkSession, path: str) -> DataFrame:
    """binaryFile scan → one row per page.  Narrow map, binary stays
    columnar through Arrow; no shuffle."""
    raw = spark.read.format("binaryFile").load(path).select("path", "content")

    def fn(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in it:
            rows = []
            for p, c in zip(
                batch.column("path").to_pylist(),
                batch.column("content").to_pylist(),
            ):
                rows.extend(_split_container(p, c or b""))
            tbl = pa.Table.from_arrays(
                [pa.array([r[i] for r in rows]) for i in range(4)]
                if rows
                else [pa.array([], type=f.type) for f in _PAGES_SCHEMA],
                schema=_PAGES_SCHEMA,
            )
            yield from tbl.to_batches()

    return raw.mapInArrow(fn, _PAGES_DDL)


def ingest_spans(spark: SparkSession, path: str) -> DataFrame:
    """The full ingest pipeline: containers → ordered pages → hOCR IR →
    (doc_id, offset, kind, text) span rows with global reading-order
    offsets (page-major, then paragraph/line/word — SURVEY.md §2.4)."""
    pages = scan_containers(spark, path)
    ranked = order_pages(pages)  # O1/O2 per source_type, page_rank column
    # page payloads are hOCR text (module docstring)
    hocr_df = ranked.select(
        "doc_id",
        F.col("page_rank").alias("page_no"),
        F.decode("page_bytes", "UTF-8").alias("hocr"),
    )
    ir = parse_hocr_pages(hocr_df)
    # span assembly: one groupBy(doc_id); pages sorted by rank, then the
    # nested paragraph/line/word order flattens into the global offset
    agg = ir.groupBy("doc_id").agg(
        F.array_sort(
            F.collect_list(F.struct("page_no", "paragraphs")),
            lambda a, b: F.when(a["page_no"] < b["page_no"], F.lit(-1))
            .when(a["page_no"] > b["page_no"], F.lit(1))
            .otherwise(F.lit(0)),
        ).alias("pp")
    )
    flat = "flatten(transform(pp, e -> flatten(flatten(e.paragraphs))))"
    return agg.select(
        "doc_id", F.posexplode(F.expr(flat)).alias("offset", "w")
    ).select(
        "doc_id",
        "offset",
        F.lit("text").alias("kind"),
        F.col("w.text").alias("text"),
    )
