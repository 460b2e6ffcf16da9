"""M0/M1: span-sequence equality of the Spark kernel vs the pandas oracle.

The invariant from BASELINE.json: per document, the extracted span sequence
must equal the oracle's on (kind, text, media_ref, order).
"""

import os

import pytest

from ocr_spark import datagen, oracle
from ocr_spark.operators.extract import extract_documents


@pytest.fixture(scope="module")
def small_tables(tmp_path_factory):
    d = tmp_path_factory.mktemp("data")
    paths = {}
    for name, scramble in [("ordered", False), ("scrambled", True)]:
        t = datagen.generate(n_docs=80, seed=42, scramble=scramble, mega_frac=0.0)
        p = os.path.join(d, f"{name}.parquet")
        datagen.write_parquet(t, p)
        paths[name] = (p, t.to_pylist())
    return paths


def _spans_tuples(spans):
    return [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans]


def _run_and_index(spark, path, **kw):
    df = extract_documents(spark.read.parquet(path), **kw)
    return {r["doc_id"]: r.asDict(recursive=True) for r in df.collect()}


@pytest.mark.parametrize("variant,order_by", [
    ("ordered", "offset"),
    ("scrambled", "offset"),   # offsets are trustworthy even when scrambled
    ("ordered", "meta"),
    ("scrambled", "meta"),     # full reading-order reconstruction
])
def test_span_sequence_equality(spark, small_tables, variant, order_by):
    path, docs = small_tables[variant]
    got = _run_and_index(spark, path, order_by=order_by)
    assert len(got) == len(docs)
    for doc in docs:
        exp = oracle.extract_expected(doc, order_by=order_by)
        g = _spans_tuples(got[doc["doc_id"]]["spans"])
        e = _spans_tuples(exp)
        assert g == e, f"span mismatch for {doc['doc_id']}"


def test_doc_text_and_word_count(spark, small_tables):
    path, docs = small_tables["scrambled"]
    got = _run_and_index(spark, path, order_by="meta")
    for doc in docs:
        g = got[doc["doc_id"]]
        assert g["doc_text"] == oracle.doc_text_expected(doc, order_by="meta")
        assert g["doc_text_delim"] == oracle.doc_text_expected(
            doc, delimiter=True, order_by="meta"
        )
        assert g["n_words"] == oracle.word_count_expected(doc)


def test_word_index(spark, small_tables):
    path, docs = small_tables["scrambled"]
    got = _run_and_index(spark, path, order_by="meta")
    for doc in docs:
        exp = oracle.word_index_expected(doc, order_by="meta")
        g = got[doc["doc_id"]]["word_index"]
        g_rows = [(r["word"], r["cnt"], r["pages"]) for r in g]
        e_rows = [(r["word"], r["cnt"], r["pages"]) for r in exp]
        assert g_rows == e_rows, f"word index mismatch for {doc['doc_id']}"


def test_confidence_filter(spark, small_tables):
    path, docs = small_tables["ordered"]
    got = _run_and_index(spark, path, order_by="offset", conf_min=75)
    for doc in docs:
        exp = oracle.extract_expected(doc, order_by="offset", conf_min=75)
        assert _spans_tuples(got[doc["doc_id"]]["spans"]) == _spans_tuples(exp)


def test_parallel_datagen_contract(tmp_path):
    """Chunked parallel generation keeps the contract: exact doc count,
    globally unique contiguous ids, the mega-doc skew tail present, and
    the kernel processes it identically to any other input."""
    import os

    import pyarrow.parquet as pq

    from ocr_spark import datagen

    p = os.path.join(tmp_path, "pgen")
    datagen.generate_to_path(
        p, n_docs=4000, seed=78, scramble=True, n_files=8, processes=4
    )
    t = pq.read_table(p)
    ids = t.column("doc_id").to_pylist()
    assert len(ids) == 4000 and len(set(ids)) == 4000
    assert min(ids) == "doc-00000000" and max(ids) == "doc-00003999"
    sizes = [len(s) for s in t.column("spans").to_pylist()]
    assert max(sizes) >= 50_000, "mega-doc tail missing from chunked gen"
    # deterministic for fixed (seed, n_docs, processes)
    p2 = os.path.join(tmp_path, "pgen2")
    datagen.generate_to_path(
        p2, n_docs=4000, seed=78, scramble=True, n_files=8, processes=4
    )
    t2 = pq.read_table(p2)
    assert t.equals(t2)


def test_parallel_datagen_mega_tail_survives_small_chunks(tmp_path):
    """The mega-doc skew tail is apportioned globally: with chunks small
    enough that per-chunk rounding of 0.1% would yield zero, the table
    must still carry its full tail."""
    import os

    import pyarrow.parquet as pq

    from ocr_spark import datagen

    p = os.path.join(tmp_path, "pgen_small_chunks")
    # 24 chunks of ~167 docs: round(0.167) == 0 in every chunk
    datagen.generate_to_path(
        p, n_docs=4000, seed=79, scramble=True, n_files=24, processes=24
    )
    t = pq.read_table(p)
    sizes = [len(s) for s in t.column("spans").to_pylist()]
    n_mega = sum(1 for s in sizes if s >= 50_000)
    assert n_mega == 4, f"expected the global tail of 4 mega docs, got {n_mega}"
