"""Property-based tests: the Arrow kernel equals the pure-Python oracle on
arbitrary (hypothesis-generated) documents — ordering, filtering, assembly,
word counting and indexing under random structure, including empty docs,
all-boilerplate docs and whitespace-only words.

Hyphen merging is exercised by the seeded datagen suite (its placement
constraints mirror the reference's well-defined domain, SURVEY.md §5);
here generated words never end in '-' so the remaining semantics get free
rein.  Runs on the kernel directly (no Spark session) so hypothesis can
afford many examples.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st

from ocr_spark import oracle
from ocr_spark.operators.extract import _extract_batch, _order_words

WORDS = ["ba", "c", "díx", "e«f»", "g h", " ", "", "Zu", "ação!", "k,",
         # exotic whitespace inside a span locks the Arrow-vs-Python
         # split parity of the r2 kernel fast path (nbsp, tab)
         "a\xa0b", "c\td"]

span_st = st.fixed_dictionaries(
    {
        "kind": st.sampled_from(["text", "media_ref", "boilerplate", "ocr_image"]),
        "word": st.sampled_from(WORDS),
        "page_no": st.integers(1, 3),
        "segment_pos": st.integers(0, 2),
        "para_pos": st.integers(0, 2),
        "line_pos": st.integers(0, 3),
        "word_pos": st.integers(0, 5),
        "confidence": st.integers(0, 100),
    }
)

doc_st = st.lists(span_st, min_size=0, max_size=40)


def _build_batch(
    docs: list[list[dict]], offset_step: int = 1
) -> tuple[pa.RecordBatch, list[dict]]:
    """docs (list of span-dicts lists) → (arrow batch, oracle doc dicts).
    Offsets are reading-order ranks times ``offset_step``."""
    span_t = pa.struct(
        [("kind", pa.string()), ("text", pa.string()),
         ("media_ref", pa.string()), ("offset", pa.int32())]
    )
    meta_t = pa.struct(
        [("page_no", pa.int32()), ("segment_pos", pa.int32()),
         ("para_pos", pa.int32()), ("line_pos", pa.int32()),
         ("word_pos", pa.int32()), ("confidence", pa.int32()),
         ("box", pa.list_(pa.float64()))]
    )
    py_docs, spans_col, meta_col, ids = [], [], [], []
    for i, raw in enumerate(docs):
        rng = np.random.default_rng(i + 1)
        # offsets must be consistent with the meta reading order (in the
        # reference, offset IS the nested-structure enumeration, so words
        # of one line are contiguous in reading order — arbitrary
        # offset/meta combinations are unreachable states)
        reading = sorted(
            range(len(raw)),
            key=lambda j: (
                raw[j]["page_no"], raw[j]["segment_pos"], raw[j]["para_pos"],
                raw[j]["line_pos"], raw[j]["word_pos"], j,
            ),
        )
        offset_of = {j: rank for rank, j in enumerate(reading)}
        perm = rng.permutation(len(raw))
        spans, metas = [], []
        for j in perm:  # scrambled storage order
            s = raw[j]
            textish = s["kind"] in ("text", "ocr_image")
            spans.append(
                {
                    "kind": s["kind"],
                    "text": s["word"] if textish else None,
                    "media_ref": (
                        f"page{s['page_no']}_{s['segment_pos']}.png"
                        if s["kind"] == "media_ref"
                        else None
                    ),
                    "offset": int(offset_of[j]) * offset_step,
                }
            )
            metas.append(
                {
                    "page_no": s["page_no"],
                    "segment_pos": s["segment_pos"],
                    "para_pos": s["para_pos"],
                    "line_pos": s["line_pos"],
                    "word_pos": s["word_pos"],
                    "confidence": s["confidence"] if textish else -1,
                    "box": [0.0, 0.0, 1.0, 1.0],
                }
            )
        ids.append(f"doc-{i}")
        spans_col.append(spans)
        meta_col.append(metas)
        py_docs.append({"doc_id": f"doc-{i}", "spans": spans, "meta": metas})
    batch = pa.RecordBatch.from_arrays(
        [
            pa.array(ids, pa.string()),
            pa.array(spans_col, pa.list_(span_t)),
            pa.array(meta_col, pa.list_(meta_t)),
        ],
        names=["doc_id", "spans", "meta"],
    )
    return batch, py_docs


def _rows(batch: pa.RecordBatch) -> dict[str, dict]:
    return {r["doc_id"]: r for r in batch.to_pylist()}


@settings(max_examples=60, deadline=None)
@given(st.lists(doc_st, min_size=1, max_size=4), st.sampled_from(["offset", "meta"]))
def test_kernel_equals_oracle(docs, order_by):
    batch, py_docs = _build_batch(docs)
    out = _rows(_extract_batch(batch, order_by, None, True))
    for doc in py_docs:
        got = out[doc["doc_id"]]
        exp_spans = oracle.extract_expected(doc, order_by=order_by)
        assert [
            (s["kind"], s["text"], s["media_ref"], s["offset"])
            for s in got["spans"]
        ] == [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in exp_spans]
        assert got["doc_text"] == oracle.doc_text_expected(doc, order_by=order_by)
        assert got["doc_text_delim"] == oracle.doc_text_expected(
            doc, delimiter=True, order_by=order_by
        )
        assert got["n_words"] == oracle.word_count_expected(doc)
        exp_ix = oracle.word_index_expected(doc, order_by=order_by)
        assert [
            (w["word"], w["cnt"], w["pages"]) for w in got["word_index"]
        ] == [(w["word"], w["cnt"], w["pages"]) for w in exp_ix]


@settings(max_examples=30, deadline=None)
@given(st.lists(doc_st, min_size=1, max_size=3), st.integers(0, 100))
def test_confidence_filter_property(docs, conf_min):
    batch, py_docs = _build_batch(docs)
    out = _rows(_extract_batch(batch, "meta", conf_min, False))
    for doc in py_docs:
        got = out[doc["doc_id"]]
        exp = oracle.extract_expected(doc, order_by="meta", conf_min=conf_min)
        assert [
            (s["kind"], s["text"], s["media_ref"], s["offset"])
            for s in got["spans"]
        ] == [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in exp]


def _plant_hyphens(docs: list[list[dict]], p: float = 0.5) -> list[list[dict]]:
    """Append '-' to eligible words: line-final TEXT word whose successor in
    reading order is a text span in the same (page, segment, paragraph) —
    the reference's well-defined merge domain (datagen constraint,
    export.py:498-519)."""
    out = []
    for di, raw in enumerate(docs):
        rng = np.random.default_rng(1000 + di)
        order = sorted(
            range(len(raw)),
            key=lambda j: (
                raw[j]["page_no"], raw[j]["segment_pos"], raw[j]["para_pos"],
                raw[j]["line_pos"], raw[j]["word_pos"], j,
            ),
        )
        raw = [dict(s) for s in raw]
        for a, b in zip(order, order[1:]):
            sa, sb = raw[a], raw[b]
            if (
                sa["kind"] == "text"
                and sb["kind"] == "text"
                and sa["word"].strip() and sb["word"].strip()
                and " " not in sa["word"]
                and not sa["word"].endswith("-")
                and sa["page_no"] == sb["page_no"]
                and sa["segment_pos"] == sb["segment_pos"]
                and sa["para_pos"] == sb["para_pos"]
                and sa["line_pos"] != sb["line_pos"]   # line-final only
                and rng.random() < p
            ):
                sa["word"] = sa["word"] + "-"
        out.append(raw)
    return out


# dense structure so line-to-line adjacencies (the merge precondition)
# actually occur: one page/segment, two paragraphs, short lines
dense_span_st = st.fixed_dictionaries(
    {
        "kind": st.sampled_from(["text", "text", "text", "media_ref"]),
        "word": st.sampled_from(["ba", "c", "Zu", "ação!", "k,"]),
        "page_no": st.just(1),
        "segment_pos": st.just(0),
        "para_pos": st.integers(0, 1),
        "line_pos": st.integers(0, 3),
        "word_pos": st.integers(0, 2),
        "confidence": st.just(90),
    }
)
dense_doc_st = st.lists(dense_span_st, min_size=4, max_size=30)


@settings(max_examples=40, deadline=None)
@given(st.lists(dense_doc_st, min_size=1, max_size=3))
def test_dehyphenation_property(docs):
    """Random structures with domain-legal hyphen plantings: word index
    (merge + orphan-prefix removal + cascades) must match the oracle."""
    docs = _plant_hyphens(docs, p=1.0)
    batch, py_docs = _build_batch(docs)
    out = _rows(_extract_batch(batch, "meta", None, True))
    for doc in py_docs:
        got = out[doc["doc_id"]]
        exp_ix = oracle.word_index_expected(doc, order_by="meta")
        assert [
            (w["word"], w["cnt"], w["pages"]) for w in got["word_index"]
        ] == [(w["word"], w["cnt"], w["pages"]) for w in exp_ix]
        assert got["doc_text"] == oracle.doc_text_expected(doc, order_by="meta")


# ---------------------------------------------------------------------------
# reading order: the packed int64 words sort exactly as the seven keys
# ---------------------------------------------------------------------------

I32 = (-(2**31), 2**31 - 1)
key_value_st = st.one_of(
    st.integers(-1, 3), st.sampled_from(I32), st.integers(*I32)
)


@settings(max_examples=40, deadline=None)
@given(st.integers(0, 30).flatmap(
    lambda n: st.lists(st.lists(key_value_st, min_size=n, max_size=n),
                       min_size=7, max_size=7)))
def test_packed_order_equals_lexsort(cols):
    """-1 sentinels, int32 extremes, ties, a single span and an empty
    batch: the packed words give the 7-key stable lexsort order."""
    keys = [np.array(c, dtype=np.int32) for c in cols]
    words = _order_words(keys)
    assert words and all(w.dtype == np.int64 for w in words)
    assert np.array_equal(np.lexsort(words[::-1]), np.lexsort(keys[::-1]))


def test_packed_order_spills_into_more_words():
    keys = [np.array([I32[0], -1, I32[1], 0], dtype=np.int32)] * 7
    words = _order_words(keys)
    assert len(words) == 7  # 32 bits per key: no two share a word
    assert np.array_equal(np.lexsort(words[::-1]), np.lexsort(keys[::-1]))
    assert len(_order_words([np.zeros(5, np.int64)] * 3)) == 1


wide_span_st = st.fixed_dictionaries(
    {
        "kind": st.sampled_from(["text", "media_ref", "boilerplate", "ocr_image"]),
        "word": st.sampled_from(WORDS),
        "page_no": st.sampled_from([1, 2, 700, 2999]),
        "segment_pos": st.integers(0, 1000),
        "para_pos": st.sampled_from([-1, 0, 1, 1000]),
        "line_pos": st.sampled_from([-1, 0, 999]),
        "word_pos": st.integers(-1, 1000),
        "confidence": st.integers(0, 100),
    }
)


@settings(max_examples=25, deadline=None)
@given(st.lists(st.lists(wide_span_st, min_size=0, max_size=30),
                min_size=1, max_size=4),
       st.sampled_from(["offset", "meta"]))
def test_wide_key_ranges_equal_oracle(docs, order_by):
    """Pages up to 2999 and offsets up to ~2^30 need more than one packed
    word; spans still come out in the oracle's order."""
    batch, py_docs = _build_batch(docs, offset_step=1 << 25)
    out = _rows(_extract_batch(batch, order_by, None, False))
    for doc in py_docs:
        exp = oracle.extract_expected(doc, order_by=order_by)
        assert [
            (s["kind"], s["text"], s["media_ref"], s["offset"])
            for s in out[doc["doc_id"]]["spans"]
        ] == [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in exp]


def _line_words(*lines: list[str]) -> list[dict]:
    """One page/segment/paragraph; one list of text words per line."""
    return [
        {"kind": "text", "word": w, "page_no": 1, "segment_pos": 0,
         "para_pos": 0, "line_pos": li, "word_pos": wi, "confidence": 90}
        for li, words in enumerate(lines) for wi, w in enumerate(words)
    ]


def _index(doc: list[dict]) -> list[tuple]:
    batch, py_docs = _build_batch([doc])
    got = _extract_batch(batch, "meta", None, True).to_pylist()[0]
    exp = oracle.word_index_expected(py_docs[0], order_by="meta")
    assert got["word_index"] == exp
    return [(w["word"], w["cnt"]) for w in got["word_index"]]


def test_word_order_key_doubles_the_word():
    """Sort key lower(w)+w: 'staro' sorts AFTER 'staroqui'."""
    assert _index(_line_words(["staro", "staroqui", "b"])) == [
        ("b", 1), ("staroqui", 1), ("staro", 1)]


def test_hyphen_prefix_decrement_uses_raw_key():
    """The merged prefix is decremented by its RAW text: 'zu-' is a
    normalized key and leaves the index, 'Zu-' is not and survives."""
    assert _index(_line_words(["a", "zu-"], ["lu"])) == [
        ("a", 1), ("zulu", 1)]
    assert _index(_line_words(["a", "Zu-"], ["lu"])) == [
        ("a", 1), ("zu-", 1), ("zulu", 1)]
