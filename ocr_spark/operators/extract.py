"""The flagship extraction operator: documents(spans, meta) → extracted
spans + assembled text + word index, one row per document, ZERO shuffle.

Spark-first design (SURVEY.md §7):

* one row = one document, so every per-document kernel (classification,
  reading-order reconstruction, empty-word filtering, text assembly,
  dehyphenation, word index) runs inside a single ``mapInArrow`` pass —
  a narrow transformation: no shuffle at any data size, perfect linear
  scaling with executors.  The only shuffles in the whole engine are the
  cross-document aggregations (see operators/vocab.py), which are salted.
* the kernel is Arrow-native: list offsets + flattened child arrays are
  processed with Arrow compute kernels and numpy over integer columns (one
  packed reading-order key, masks, take/if_else span rebuild, Arrow hash
  aggregate for the word index).  Strings stay in Arrow from input to
  output; the only per-value Python is the page-banner loop and the
  dehyphenation merges — never per-row Python over all spans.  This is the
  batching moral of the reference's tesserocr path (one engine init per
  image, many rectangles — server/src/engines/ocr_tesserocr.py:102-124)
  applied to Arrow batches.
* only the meta fields the kernel reads cross into Python: each is
  projected as its own ``array<int>`` column, which Catalyst prunes down
  to the parquet scan (``meta.box`` is never decoded).

Reference semantics implemented (citations into /root/reference/):

* classify text/image/remove boxes     — server/celery_app.py:1048-1055
* boilerplate (remove) drop            — server/celery_app.py:1086-1092
* media_ref emission                   — server/celery_app.py:1062-1081
* ocr_image → text path                — server/celery_app.py:1137-1159
* empty-word filter                    — server/src/utils/parse_hocr.py:67-69
* reading order page→segment→para→line→word
                                       — server/celery_app.py:156-161,
                                         server/src/utils/parse_hocr.py:47-102
* confidence filtering surface (off by default, thresholds 75/85 are
  display constants)                   — website .../EditingMenu.js:76-88
* text assembly + page delimiters      — server/src/utils/file.py:586-596,
                                         server/src/utils/export.py:182-185
* dehyphenation + word index           — server/src/utils/export.py:492-530
* word count                           — server/src/utils/file.py:536-549
"""

from __future__ import annotations

import re as _re
from collections.abc import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PUNCT_CHARS = "«»“”.,;:!?()[]{}\"'"
_PUNCT_TABLE = str.maketrans("", "", PUNCT_CHARS)
# RE2 character class equivalent of _PUNCT_TABLE deletion, for the Arrow
# C++ fast path (pc.replace_substring_regex) — semantics-identical to
# str.translate: every listed code point is removed
_PUNCT_RE = "[" + "".join(_re.escape(c) for c in PUNCT_CHARS) + "]"

# meta fields the kernel reads (reading order, page universe, assembly);
# confidence joins them only when the filter is on
_LAYOUT_FIELDS = ("page_no", "segment_pos", "para_pos", "line_pos", "word_pos")
_TEXTISH = pa.array(["text", "ocr_image"])
# joining separator by code: 0 page start, 1 paragraph, 2 line, 3 word
_SEPARATORS = pa.array(["", "\n\n", "\n", " "])
_NULL_STR = pa.scalar(None, pa.string())

_SPAN_T = pa.struct(
    [("kind", pa.string()), ("text", pa.string()),
     ("media_ref", pa.string()), ("offset", pa.int32())]
)
_WIX_T = pa.struct(
    [("word", pa.string()), ("cnt", pa.int64()), ("pages", pa.list_(pa.int32()))]
)
_OUT_SCHEMA = pa.schema(
    [
        ("doc_id", pa.string()),
        ("spans", pa.list_(_SPAN_T)),
        ("doc_text", pa.string()),
        ("doc_text_delim", pa.string()),
        ("n_words", pa.int64()),
        ("word_index", pa.list_(_WIX_T)),
    ]
)

OUT_DDL = (
    "doc_id string, "
    "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>, "
    "doc_text string, doc_text_delim string, n_words bigint, "
    "word_index array<struct<word:string,cnt:bigint,pages:array<int>>>"
)


def _list_bounds(col: pa.Array) -> tuple[np.ndarray, pa.Array]:
    """(per-doc start offsets incl. end, flattened values) for a ListArray."""
    lens = pc.list_value_length(col).to_numpy(zero_copy_only=False)
    lens = np.nan_to_num(lens, nan=0).astype(np.int64)
    bounds = np.concatenate(([0], np.cumsum(lens)))
    return bounds, col.flatten()


def _mask(a: pa.Array) -> np.ndarray:
    """Boolean Arrow array → numpy bool, null counting as False."""
    return pc.fill_null(a, False).to_numpy(zero_copy_only=False)


def _segmented_rank(docix_sorted: np.ndarray) -> np.ndarray:
    """Dense 0-based rank within each doc for rows already doc-major sorted."""
    n = len(docix_sorted)
    if n == 0:
        return np.zeros(0, dtype=np.int32)
    first = np.zeros(n, dtype=bool)
    first[0] = True
    first[1:] = docix_sorted[1:] != docix_sorted[:-1]
    starts = np.maximum.accumulate(np.where(first, np.arange(n), -1))
    return (np.arange(n) - starts).astype(np.int32)


def _order_words(keys: list[np.ndarray]) -> list[np.ndarray]:
    """Pack integer sort keys (most significant first) into as few int64
    words as their ranges in this batch need.

    Each key is shifted by its batch minimum (the layout keys hold -1 on
    non-text spans), so it takes ``bit_length(max - min)`` bits and a key
    constant over the batch takes none.  Keys are packed greedily, 63 bits
    per word; comparing the words lexicographically orders rows exactly as
    the keys do, so ``np.lexsort(words[::-1])`` is the same stable order as
    ``np.lexsort(keys[::-1])`` — usually at the cost of one key.
    """
    words: list[np.ndarray] = []
    used = 0
    for k in keys:
        lo, hi = (int(k.min()), int(k.max())) if len(k) else (0, 0)
        bits = (hi - lo).bit_length()
        if bits == 0 and words:
            continue
        v = k.astype(np.int64) - lo
        if not words or used + bits > 63:
            words.append(v)
            used = bits
        else:
            words[-1] = (words[-1] << bits) | v
            used += bits
    return words


def _extract_batch(
    batch: pa.RecordBatch,
    order_by: str,
    conf_min: int | None,
    with_word_index: bool,
) -> pa.RecordBatch:
    n_docs = batch.num_rows
    bounds, flat_spans = _list_bounds(batch.column("spans"))
    flat_meta = batch.column("meta").flatten()
    docix = np.repeat(np.arange(n_docs), np.diff(bounds))

    kind = flat_spans.field("kind")
    text = flat_spans.field("text")
    offset = flat_spans.field("offset").to_numpy(zero_copy_only=False)
    page, seg, para, line, wpos = (
        flat_meta.field(f).to_numpy(zero_copy_only=False) for f in _LAYOUT_FIELDS
    )

    # ---- reading order (O1-O5 composite; SURVEY.md §2.4) -------------------
    if order_by == "meta":
        keys = [docix, page, seg, para, line, wpos, offset]
    else:
        keys = [docix, offset]
    order = np.lexsort(_order_words(keys)[::-1])

    # ---- classification + filters (P2, P6, P9, G9, G10) --------------------
    textish = _mask(pc.is_in(kind, value_set=_TEXTISH))
    # empty-word test: trim + length strips the same Unicode whitespace set
    # as Python's str.strip()
    keep_text = _mask(pc.greater(pc.utf8_length(pc.utf8_trim_whitespace(text)), 0))
    if conf_min is not None:
        conf = flat_meta.field("confidence").to_numpy(zero_copy_only=False)
        keep_text &= conf >= conf_min
    keep = np.where(textish, keep_text, _mask(pc.equal(kind, "media_ref")))

    o = order[keep[order]]  # kept spans in reading order
    d_o = docix[o]
    t_o = textish[o]

    # rebuilt contract spans
    is_text = pa.array(t_o)
    kept_per_doc = np.bincount(d_o, minlength=n_docs)
    spans_out = pa.ListArray.from_arrays(
        pa.array(np.concatenate(([0], np.cumsum(kept_per_doc))), type=pa.int32()),
        pa.StructArray.from_arrays(
            [
                pc.if_else(is_text, "text", "media_ref"),
                pc.if_else(is_text, pc.take(text, o), _NULL_STR),
                pc.if_else(is_text, _NULL_STR,
                           pc.take(flat_spans.field("media_ref"), o)),
                pa.array(_segmented_rank(d_o), type=pa.int32()),
            ],
            names=["kind", "text", "media_ref", "offset"],
        ),
    )

    # ---- per-doc page universe (page files exist for every page) -----------
    # spans are stored doc-major, so a segmented max over the non-empty
    # docs' bounds is each doc's last page
    n_pages = np.zeros(n_docs, dtype=np.int64)
    has_spans = bounds[:-1] < bounds[1:]
    n_pages[has_spans] = np.maximum.reduceat(page, bounds[:-1][has_spans])

    # ---- text rows (kept text-path spans, reading order) -------------------
    t_sel = o[t_o]
    dv = docix[t_sel]
    pv = page[t_sel]
    tokens = pc.take(text, t_sel)
    n_words = np.bincount(dv, minlength=n_docs).astype(np.int64)

    # ---- assembly (F1/F2): line ' ' → para '\n' → page '\n\n' + strip ------
    # Each token's joining separator is set by the boundary that precedes
    # it (word ' ', line '\n', paragraph '\n\n', page none); pages are then
    # one Arrow list join each — no per-token Python.
    m = len(t_sel)
    sv, pav, lv = seg[t_sel], para[t_sel], line[t_sel]
    new_page = np.ones(m, dtype=bool)
    new_page[1:] = (dv[1:] != dv[:-1]) | (pv[1:] != pv[:-1])
    new_para = new_page.copy()
    new_para[1:] |= (sv[1:] != sv[:-1]) | (pav[1:] != pav[:-1])
    new_line = new_para.copy()
    new_line[1:] |= lv[1:] != lv[:-1]
    sep = pc.take(_SEPARATORS, 3 - (new_page.astype(np.int8) + new_para + new_line))
    page_starts = np.flatnonzero(new_page)
    page_lists = pa.ListArray.from_arrays(
        pa.array(np.append(page_starts, m), type=pa.int32()),
        pc.binary_join_element_wise(sep, tokens, ""),
    )
    # utf8_trim_whitespace trims exactly the characters str.isspace accepts
    page_strs = pc.utf8_trim_whitespace(pc.binary_join(page_lists, ""))
    page_text = dict(zip(
        zip(dv[page_starts].tolist(), pv[page_starts].tolist()),
        page_strs.to_pylist(),
    ))
    doc_text, doc_text_delim = [], []
    for i in range(n_docs):
        plain, delim = [], []
        for p in range(1, int(n_pages[i]) + 1):
            pt = page_text.get((i, p), "")
            delim.append(f"----- PAGE {p:04d} -----\n\n")
            plain.append(pt + "\n\n")
            delim.append(pt + "\n\n")
        doc_text.append("".join(plain))
        doc_text_delim.append("".join(delim))

    # ---- word index (A1): dehyphenate → normalize → count ------------------
    if with_word_index:
        wix = _word_index(dv, pv, new_page, new_line, tokens, n_docs)
    else:
        wix = pa.ListArray.from_arrays(
            pa.array(np.zeros(n_docs + 1), type=pa.int32()),
            pa.array([], type=_WIX_T),
        )

    return pa.RecordBatch.from_arrays(
        [
            batch.column("doc_id").cast(pa.string()),
            spans_out,
            pa.array(doc_text, type=pa.string()),
            pa.array(doc_text_delim, type=pa.string()),
            pa.array(n_words, type=pa.int64()),
            wix,
        ],
        schema=_OUT_SCHEMA,
    )


def _word_index(
    d: np.ndarray,
    p: np.ndarray,
    new_page: np.ndarray,
    new_line: np.ndarray,
    txt: pa.Array,
    n_docs: int,
) -> pa.ListArray:
    """Vectorized find_index_words (export.py:492-530) over all docs at once.

    Input: the kept text rows in reading order — doc index ``d``, page
    ``p``, the assembly's page/line start flags, and the row texts.

    Dehyphenation, faithful to the reference's exact mechanics:

    * a line-final word ending '-' merges into the first word of the next
      line on the same (doc, page) — export.py:498-507;
    * the hyphen PREFIX is still counted (it was tallied when its line was
      scanned), then decremented by its **raw** text key — export.py:510-513.
      Since index keys are normalized (stripped+lowered single tokens), the
      decrement lands only when ``raw == normalize(raw)`` and raw is a
      single token; otherwise the prefix survives in the index ('Zu-' does,
      'zu-' does not — reference quirk preserved);
    * chains apply TOP-DOWN ('a-','b-','c' → count a-, ab-, abc; decrement
      a- and ab- → only 'abc' survives), matching the reference's
      sequential line walk.
    """
    n = len(d)
    line_final = np.ones(n, dtype=bool)
    line_final[:-1] = new_line[1:]
    same_page_next = np.zeros(n, dtype=bool)
    same_page_next[:-1] = ~new_page[1:]
    ends = _mask(pc.ends_with(txt, pattern="-"))
    dec_d: list = []
    dec_p: list = []
    dec_w: list = []
    if (ends & line_final & same_page_next).any():
        tv = txt.to_numpy(zero_copy_only=False)  # object copy the merges edit
        consumed = np.zeros(n, dtype=bool)
        while True:
            m = ends & line_final & same_page_next & ~consumed
            # top-down chains: defer a merge whose immediate predecessor is
            # itself a pending source ('a-' into 'b-' happens before the
            # result merges onward), matching the reference's forward walk
            prev_pending = np.zeros(n, dtype=bool)
            prev_pending[1:] = m[:-1]
            m_now = m & ~prev_pending
            if not m_now.any():
                break
            src = np.flatnonzero(m_now)
            for i in src:
                raw = tv[i]
                # raw-key decrement guard (export.py:510-513): the raw prefix
                # must itself be a normalized single-token key
                tok = raw.strip()
                if " " not in tok and tok.translate(_PUNCT_TABLE).lower() == raw:
                    dec_d.append(d[i]); dec_p.append(p[i]); dec_w.append(raw)
            merged = [tv[i].rstrip("-") + tv[i + 1] for i in src]
            tv[src + 1] = merged
            consumed[src] = True
            for i, s in zip(src + 1, merged):
                ends[i] = s.endswith("-")
        txt = pa.array(tv, type=pa.string())

    # every row's (post-merge) text is counted — prefixes included.
    # utf8_split_whitespace + RE2 punctuation strip + utf8_lower are the
    # reference's split/strip/translate/lower.  Python str.split() never
    # emits empty tokens, so split artifacts ('' from leading/trailing
    # whitespace) are masked out of the RAW tokens; a token that
    # NORMALIZES to '' is kept.
    tok_list = pc.utf8_split_whitespace(txt)
    n_tok = pc.list_value_length(tok_list).to_numpy(zero_copy_only=False)
    raw_tok = tok_list.flatten()
    words = pa.table({
        "d": np.repeat(d, n_tok),
        "w": pc.utf8_lower(pc.replace_substring_regex(raw_tok, _PUNCT_RE, "")),
        "p": np.repeat(p, n_tok),
        "c": np.ones(len(raw_tok), dtype=np.int64),
    }).filter(pc.not_equal(raw_tok, ""))
    if dec_w:
        words = pa.concat_tables([words, pa.table(
            {"d": dec_d, "w": dec_w, "p": dec_p, "c": [-1] * len(dec_w)},
            schema=words.schema,
        )])
    # single-threaded: each Python worker runs on the one core its Spark
    # task holds
    cnt = words.group_by(["d", "w", "p"], use_threads=False).aggregate([("c", "sum")])
    cnt = cnt.filter(pc.greater(cnt["c_sum"], 0))
    # reference sort key lower(w)+w (export.py:217-220).  Words are already
    # lowercase, but the doubling still matters: 'staro'+'staro' sorts
    # AFTER 'staroqui'+'staroqui', while plain w order would not.  Arrow
    # compares UTF-8 bytes, which is Python's code-point order.
    cnt = cnt.append_column("k", pc.binary_join_element_wise(cnt["w"], cnt["w"], ""))
    cnt = cnt.sort_by([("d", "ascending"), ("k", "ascending"), ("p", "ascending")])
    cd = cnt["d"].to_numpy()
    cw = cnt["w"].combine_chunks()
    # one (d, w) group per index entry; its rows are contiguous, pages ascending
    new_grp = np.ones(len(cd), dtype=bool)
    new_grp[1:] = (cd[1:] != cd[:-1]) | _mask(pc.not_equal(cw[1:], cw[:-1]))
    starts = np.flatnonzero(new_grp)
    rows_per_doc = np.bincount(cd[starts], minlength=n_docs)
    return pa.ListArray.from_arrays(
        pa.array(np.concatenate(([0], np.cumsum(rows_per_doc))), type=pa.int32()),
        pa.StructArray.from_arrays(
            [
                pc.take(cw, starts),
                pa.array(np.add.reduceat(cnt["c_sum"].to_numpy(), starts),
                         type=pa.int64()),
                pa.ListArray.from_arrays(
                    pa.array(np.append(starts, len(cd)), type=pa.int32()),
                    cnt["p"].combine_chunks(),
                ),
            ],
            names=["word", "cnt", "pages"],
        ),
    )


def extract_documents(
    df: DataFrame,
    order_by: str = "offset",
    conf_min: int | None = None,
    with_word_index: bool = True,
) -> DataFrame:
    """Run the full extraction kernel.  Input: doc_id, spans, meta.

    ``order_by='offset'`` trusts the input offsets; ``'meta'`` reconstructs
    reading order from the sidecar layout keys (O1-O5).  ``conf_min`` enables
    the word-confidence filter (P6; reference display thresholds are 75/85,
    the server default is no filtering).
    """
    fields = [*_LAYOUT_FIELDS, *(["confidence"] if conf_min is not None else [])]

    def fn(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in it:
            # the field columns share one list structure: rebuild the
            # list<struct> meta over their child arrays without copying
            lists = [b.column(f) for f in fields]
            meta = pa.ListArray.from_arrays(
                lists[0].offsets,
                pa.StructArray.from_arrays([c.values for c in lists], names=fields),
            )
            yield _extract_batch(
                pa.RecordBatch.from_arrays(
                    [b.column("doc_id"), b.column("spans"), meta],
                    names=["doc_id", "spans", "meta"],
                ),
                order_by, conf_min, with_word_index,
            )

    # Catalyst cannot prune nested fields through a higher-order-function
    # lambda, but it can through field access: ``meta.page_no`` on
    # array<struct> is an array<int> column, and the scan then reads only
    # these fields of meta (never box, confidence only when filtering).
    return df.select(
        "doc_id", "spans", *(F.col(f"meta.{f}").alias(f) for f in fields)
    ).mapInArrow(fn, OUT_DDL)

