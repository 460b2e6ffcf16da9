"""E3 export_pdf — searchable text-layer PDF authoring as a pure
Catalyst string build (one per-document hash aggregation, the METS
shape; no Python, no binary libs).

Reference semantics (citations into /root/reference/):

* one PDF per document, one page per page image, an INVISIBLE OCR text
  layer laid over each page        — server/src/utils/export.py:238-416
* per word: text render mode 3, text origin x = box[0]·dpi/300,
  y = page_height − b·dpi/300 (the BASELINE b, not the box bottom),
  and a horizontal scale (Tz) stretching the string to the box width:
  100 · box_width / stringWidth    — export.py:534-568 ``add_text_layer``
* words whose stringWidth ≤ 0 are skipped — export.py:552

Deviations, all deliberate and documented:

* **No page images.**  The writer embeds no raster; the text layer,
  geometry and document structure are the analytics semantics and are
  real.  The reference's reportlab `drawImage` slot is where an
  image XObject would go.
* **Courier replaces Times-Roman** for the layer font: the layer is
  invisible (mode 3, same as the reference), so glyph shapes are
  irrelevant — only the Tz geometry matters, and the reference computes
  Tz from ``stringWidth``.  Courier is metric-exact monospace (every
  glyph 600/1000 em), which turns reportlab's AFM table lookup into the
  closed form ``len(text) · size · 0.6`` — integer-exact, so the whole
  build is engine-reproducible and the ``pdf_export`` DuckDB twin can
  hash-match the full file bytes.
* **Uncompressed streams** (`/Length` = exact string length) — ASCII
  in, ASCII out, so offsets computed with ``length()`` are byte-true.

Numeric discipline (the micro-unit idiom): page coordinates convert at
72/300 dpi = 24/100 pt per pixel, carried as INTEGER centi-points; the
Tz percentage is ``(x2−x1)·5_000_000 div len(text)`` micro-percent
(24·100/(0.6·8) = 5 — exact); the baseline y floors ``(H−b)·24`` once
(exact on the dyadic-b parse domain).  Text escapes: ``\\ ( )``
backslash-escaped, ASCII 32–126 verbatim, 160–255 as octal ``\\ooo``
(WinAnsi ≈ Latin-1 in that range), anything else ``?`` — one glyph per
source char either way, so Courier width math stays exact.

File layout (strict, deterministic): header, obj 1 Catalog, obj 2
Pages, obj 3 Font, then per page i (sorted by page_no) objects
``4+2i`` (Page) and ``5+2i`` (Contents), a 20-byte-per-entry xref, and
a trailer.  Offsets are prefix sums of object lengths — O(pages²) HOF
folds per document, bounded by page count, never data-scaled.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: centi-points per pixel at 72 dpi out / 300 dpi in (0.24 pt/px).
CPT_PER_PX = 24
#: invisible-layer font object (reference: mode-3 Times-Roman 8).
FONT_OBJ = (
    "3 0 obj\n<< /Type /Font /Subtype /Type1 /BaseFont /Courier"
    " /Name /F1 >>\nendobj\n"
)
CATALOG_OBJ = "1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
HEADER = "%PDF-1.4\n"
FONT_SIZE = 8


def _fmt2(v: str) -> str:
    """centi-unit bigint expression → 'N.NN' string expression."""
    return (
        f"concat(cast(({v}) div 100 as string), '.', "
        f"lpad(cast(({v}) % 100 as string), 2, '0'))"
    )


def _fmt6(v: str) -> str:
    """micro-unit bigint expression → 'N.NNNNNN' string expression."""
    return (
        f"concat(cast(({v}) div 1000000 as string), '.', "
        f"lpad(cast(({v}) % 1000000 as string), 6, '0'))"
    )


def _esc_text(c: str = "c") -> str:
    """Per-char PDF string escape (see module docstring), over char
    variable ``c``; chr(92) is the backslash on both engines."""
    return (
        f"case when {c} = chr(92) then concat(chr(92), chr(92)) "
        f"when {c} = '(' then concat(chr(92), '(') "
        f"when {c} = ')' then concat(chr(92), ')') "
        f"when ascii({c}) between 32 and 126 then {c} "
        f"when ascii({c}) between 160 and 255 then concat(chr(92), "
        f"cast(ascii({c}) div 64 as string), "
        f"cast((ascii({c}) div 8) % 8 as string), "
        f"cast(ascii({c}) % 8 as string)) "
        f"else '?' end"
    )


def page_content_sql(page_h: int, font_size: int = FONT_SIZE) -> str:
    """SQL expression: ``paragraphs`` column → one page's content stream."""
    esc = (
        "array_join(transform(regexp_extract_all(w.text, '.', 0), "
        f"c -> {_esc_text('c')}), '')"
    )
    x_cpt = f"cast(w.box[0] as bigint) * {CPT_PER_PX}"
    y_cpt = f"cast(floor(({page_h} - w.b) * {CPT_PER_PX}) as bigint)"
    # Tz micro-percent: 100% · box_width_pt / (len · size · 0.6 pt)
    #   = (x2−x1)·24·100·10^6 div (len·480) = (x2−x1)·5·10^6 div len
    tz_micro = (
        f"(cast(w.box[2] - w.box[0] as bigint) * 5000000)"
        f" div char_length(w.text)"
    )
    word = (
        f"concat({_fmt6(tz_micro)}, ' Tz 1 0 0 1 ', {_fmt2(x_cpt)}, ' ', "
        f"{_fmt2(y_cpt)}, ' Tm (', {esc}, ') Tj', chr(10))"
    )
    return (
        f"concat('BT', chr(10), '/F1 {int(font_size)} Tf 3 Tr', chr(10), "
        f"array_join(transform("
        f"filter(flatten(flatten(paragraphs)), "
        f"w -> char_length(w.text) > 0), w -> {word}), ''), 'ET')"
    )


def pdf_documents(
    page_ir: DataFrame, page_w: int = 2480, page_h: int = 3508
) -> DataFrame:
    """Page IR (sources/hocr shape) → one complete PDF file per document:
    ``doc_id, n_pages, pdf`` (ASCII string — write as bytes verbatim).

    Scale shape: the per-page content stream is a narrow projection; one
    hash aggregation groups pages per document (slim content strings,
    like METS); assembly and xref offsets are per-document HOF folds
    over the page list.  Deterministic: pages sorted by page_no, fixed
    object numbering, integer-exact numerics.
    """
    mb_w = _fmt2(str(page_w * CPT_PER_PX))
    mb_h = _fmt2(str(page_h * CPT_PER_PX))
    per_page = page_ir.select(
        "doc_id",
        "page_no",
        F.expr(page_content_sql(page_h)).alias("content"),
    )
    agg = per_page.groupBy("doc_id").agg(
        F.sort_array(
            F.collect_list(F.struct("page_no", "content"))
        ).alias("pages")
    )

    kids = (
        "array_join(transform(pages, (p, i) -> "
        "concat(cast(4 + 2 * i as string), ' 0 R')), ' ')"
    )
    pages_obj = (
        f"concat('2 0 obj', chr(10), '<< /Type /Pages /Kids [', {kids}, "
        "'] /Count ', cast(size(pages) as string), ' >>', chr(10), "
        "'endobj', chr(10))"
    )
    page_obj = (
        "concat(cast(4 + 2 * i as string), ' 0 obj', chr(10), "
        f"'<< /Type /Page /Parent 2 0 R /MediaBox [0 0 ', {mb_w}, ' ', "
        f"{mb_h}, '] /Resources << /Font << /F1 3 0 R >> >> /Contents ', "
        "cast(5 + 2 * i as string), ' 0 R >>', chr(10), 'endobj', chr(10))"
    )
    content_obj = (
        "concat(cast(5 + 2 * i as string), ' 0 obj', chr(10), "
        "'<< /Length ', cast(char_length(p.content) as string), ' >>', "
        "chr(10), 'stream', chr(10), p.content, chr(10), 'endstream', "
        "chr(10), 'endobj', chr(10))"
    )
    nl_splice = "', chr(10), '"
    catalog_sql = "concat('" + CATALOG_OBJ.replace("\n", nl_splice) + "')"
    font_sql = "concat('" + FONT_OBJ.replace("\n", nl_splice) + "')"
    objs = (
        f"concat(array({catalog_sql}), "
        f"array({pages_obj}), "
        f"array({font_sql}), "
        f"flatten(transform(pages, (p, i) -> "
        f"array({page_obj}, {content_obj}))))"
    )
    # offset of object i = len(header) + Σ len(objs[0..i-1]); header is
    # ASCII so char length == byte length everywhere in this build.
    # LINEAR prefix sum (r4): one aggregate pass carries (running total,
    # offsets-so-far) in a struct accumulator — the old per-entry
    # slice+aggregate form re-summed every prefix, O(pages²) interpreted
    # char_length calls, and was the measured 11.6 s/23.9 s bottleneck
    # of the 1000-page mega-doc soak (BENCH/BASELINE.md §3c).
    hlen = len(HEADER)
    offs = (
        f"aggregate(o2, "
        f"named_struct('acc', cast({hlen} as bigint), "
        "'arr', cast(array() as array<bigint>)), "
        "(s, x) -> named_struct("
        "'acc', s.acc + char_length(x), "
        "'arr', concat(s.arr, array(s.acc))))"
    )
    xref_entries = (
        "array_join(transform(offarr, o -> concat("
        "lpad(cast(o as string), 10, '0'), ' 00000 n ', chr(10))),"
        " '')"
    )
    total = f"{hlen} + aggregate(o2, 0L, (a, x) -> a + char_length(x))"
    pdf = (
        "concat('%PDF-1.4', chr(10), array_join(o2, ''), "
        "'xref', chr(10), '0 ', cast(size(o2) + 1 as string), chr(10), "
        "'0000000000 65535 f ', chr(10), "
        f"{xref_entries}, "
        "'trailer', chr(10), '<< /Size ', cast(size(o2) + 1 as string), "
        "' /Root 1 0 R >>', chr(10), 'startxref', chr(10), "
        f"cast({total} as string), chr(10), '%%EOF', chr(10))"
    )
    return (
        agg.withColumn("o2", F.expr(objs))
        .withColumn("offarr", F.expr(f"({offs}).arr"))
        .select(
            "doc_id",
            F.size("pages").alias("n_pages"),
            F.expr(pdf).alias("pdf"),
        )
    )
