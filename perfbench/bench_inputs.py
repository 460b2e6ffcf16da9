"""Seeded inputs and their independent references, built once and cached.

Every input is a function of ``(seed, size)`` only, and lives in
``<work>/cache/<kind>-s<seed>-n<size>-v<version>/`` with a ``ref.json``
beside it.  A cache entry is written to a temporary name and renamed,
so a crash never leaves a half-built entry behind.  Building happens
before any timer starts; the build time is kept in ``ref.json`` so a
cache hit still reports it.

The documents table follows FIXTURES §1 (scrambled spans, meta sidecar)
with one deliberate change: the body of the table comes from ``seed``,
while the 0.1% mega-document tail always comes from the contract seed
42 and each mega document sits in a part file of its own.  The tail holds roughly 70%
of all spans and its sizes are drawn uniformly from 50k-200k, so a
per-seed tail would make the amount of work itself swing by ~10%
between seeds and hide real regressions.

References are computed without the code under test:

* spans — the DuckDB twin ``_contract_extract_sql`` (``__spark_entry__``),
  reduced to an order-independent digest;
* ``doc_text``, ``doc_text_delim``, ``n_words`` and ``word_index`` — the
  pure-Python reference in ``ocr_spark.oracle``, on a seeded sample of
  documents that always includes one mega document;
* media — bytes, SHA-1 and dimensions known at encode time, and for the
  lossless formats the feature vector of the source pixels.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import tempfile
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

VERSION = 8
TAIL_SEED = 42
N_FILES = 16
SAMPLE_DOCS = 48


def _md5(obj) -> str:
    return hashlib.md5(
        json.dumps(obj, sort_keys=True, ensure_ascii=False).encode()
    ).hexdigest()


# ---------------------------------------------------------------------------
# digests (DuckDB; the same SQL digests the references and the outputs)
# ---------------------------------------------------------------------------


def _row_hash(*cols: str) -> str:
    parts = ", ".join(f'coalesce(cast("{c}" as varchar), chr(0))' for c in cols)
    return (f"cast(('0x' || substr(md5(concat_ws(chr(31), {parts})), 1, 15))"
            " as bigint)")


SPAN_COLS = ("doc_id", "kind", "text", "media_ref", "offset")


def span_digest_sql(rows_sql: str) -> str:
    """(rows, digest) over rows (doc_id, kind, text, media_ref, offset)."""
    return (f"select count(*), cast(coalesce(sum(cast({_row_hash(*SPAN_COLS)}"
            f" as hugeint)), 0) as varchar) from ({rows_sql})")


def output_spans_sql(glob: str) -> str:
    return (f"select doc_id, s.kind as kind, s.text as text, "
            f's.media_ref as media_ref, s."offset" as "offset" from '
            f"(select doc_id, unnest(spans) as s from "
            f"read_parquet('{glob}', hive_partitioning = false))")


def other_digest_sql(glob: str) -> str:
    """One digest over every non-span output column, per document."""
    h = _row_hash("doc_id", "doc_text", "doc_text_delim", "n_words",
                  "word_index")
    return (f"select count(*), cast(sum(cast({h} as hugeint)) as varchar), "
            f"sum(n_words) from read_parquet('{glob}', "
            f"hive_partitioning = false)")


def duck():
    import duckdb

    con = duckdb.connect()
    con.execute(f"set threads = {len(os.sched_getaffinity(0))}")
    con.execute(f"set temp_directory = '{tempfile.gettempdir()}'")
    return con


def twin_reference(con, docs_glob: str) -> dict:
    """Span digest and counts of the DuckDB twin over a documents table."""
    from __spark_entry__ import _contract_extract_sql

    twin = _contract_extract_sql(docs_glob)
    n, digest = con.execute(span_digest_sql(twin)).fetchone()
    (text_rows,) = con.execute(
        f"select count(*) from ({twin}) where kind = 'text'").fetchone()
    return {"rows": n, "digest": digest, "text_rows": text_rows}


# ---------------------------------------------------------------------------
# oracle sample (doc_text, doc_text_delim, n_words, word_index)
# ---------------------------------------------------------------------------


def oracle_digest(doc: dict) -> str:
    from ocr_spark import oracle

    return _md5([
        oracle.doc_text_expected(doc, order_by="meta"),
        oracle.doc_text_expected(doc, delimiter=True, order_by="meta"),
        oracle.word_count_expected(doc),
        [[w["word"], w["cnt"], w["pages"]]
         for w in oracle.word_index_expected(doc, order_by="meta")],
    ])


def output_row_digest(row: dict) -> str:
    return _md5([
        row["doc_text"], row["doc_text_delim"], row["n_words"],
        [[w["word"], w["cnt"], list(w["pages"])] for w in row["word_index"]],
    ])


def _sample_ids(table: pa.Table, seed: int, n_mega: int) -> list[str]:
    ids = table.column("doc_id").to_pylist()
    lens = pc.list_value_length(table.column("spans")).to_numpy()
    rng = np.random.default_rng(seed)
    body = [i for i, n in enumerate(lens) if n < 50_000]
    pick = list(rng.choice(body, min(SAMPLE_DOCS, len(body)), replace=False))
    if n_mega:
        pick.append(int(np.argmin(np.where(lens >= 50_000, lens, 1 << 40))))
    return sorted(ids[i] for i in pick)


def oracle_sample(table: pa.Table, ids: list[str]) -> dict[str, str]:
    want = pa.array(ids)
    rows = table.filter(pc.is_in(table.column("doc_id"), want)).to_pylist()
    return {r["doc_id"]: oracle_digest(r) for r in rows}


# ---------------------------------------------------------------------------
# tables
# ---------------------------------------------------------------------------


def n_mega_for(n_docs: int) -> int:
    return int(round(n_docs * 0.001))


def documents(seed: int, n_docs: int) -> pa.Table:
    """Body rows from ``seed`` first, then the mega tail from the contract
    seed (see ``write_docs`` for how the tail is laid out on disk)."""
    from ocr_spark import datagen

    n_mega = n_mega_for(n_docs)
    body = datagen.generate(n_docs=n_docs - n_mega, seed=seed, scramble=True,
                            n_mega=0)
    parts = [body]
    if n_mega:
        parts.append(datagen.generate(
            n_docs=n_mega, seed=TAIL_SEED, scramble=True, n_mega=n_mega,
            id_offset=n_docs - n_mega))
    return pa.concat_tables(parts).combine_chunks()


def write_docs(table: pa.Table, path: str, n_files: int = N_FILES) -> None:
    """The body in ``n_files`` equal part files, and each mega document in
    a part file of its own.  The tail holds most of the work, so the way
    Spark packs files into scan tasks decides how evenly the cores are
    loaded.  With the tail in fixed files of fixed size, that packing no
    longer changes from seed to seed."""
    n_mega = n_mega_for(table.num_rows)
    body = table.slice(0, table.num_rows - n_mega)
    step = -(-body.num_rows // n_files)
    os.makedirs(path)
    parts = [body.slice(f * step, step) for f in range(n_files)]
    parts += [table.slice(body.num_rows + i, 1) for i in range(n_mega)]
    for f, part in enumerate(parts):
        pq.write_table(part, os.path.join(path, f"part-{f:05d}.parquet"),
                       row_group_size=256)


def edited(table: pa.Table, seed: int, n_edits: int) -> pa.Table:
    """The edit batch: ``n_edits`` body documents (seeded) whose text
    spans are upper-cased — corrected content for the overlay."""
    lens = pc.list_value_length(table.column("spans")).to_numpy()
    rng = np.random.default_rng(seed + 1)
    body = np.flatnonzero(lens < 50_000)
    pick = np.sort(rng.choice(body, n_edits, replace=False))
    sub = table.take(pa.array(pick))
    spans = sub.column("spans").combine_chunks()
    flat = spans.flatten()
    upper = pa.StructArray.from_arrays(
        [flat.field("kind"), pc.utf8_upper(flat.field("text")),
         flat.field("media_ref"), flat.field("offset")],
        names=["kind", "text", "media_ref", "offset"],
    )
    new_spans = pa.ListArray.from_arrays(spans.offsets, upper)
    return sub.set_column(sub.schema.get_field_index("spans"), "spans",
                          new_spans)


def apply_edits_locally(table: pa.Table, edits: pa.Table) -> pa.Table:
    keep = pc.invert(pc.is_in(table.column("doc_id"), edits.column("doc_id")))
    return pa.concat_tables([table.filter(keep), edits.cast(table.schema)])


# ---------------------------------------------------------------------------
# media
# ---------------------------------------------------------------------------

FORMATS = ("png", "jpeg", "gif", "bmp")
MIME = {"png": "image/png", "jpeg": "image/jpeg", "gif": "image/gif",
        "bmp": "image/bmp"}
# Image side per format, so that the PNG, JPEG and GIF decoders each carry
# a comparable share of a media pass; None keeps synth_image's 64-95 px.
# Per image, the pure-Python JPEG decoder costs ~100x the vectorized PNG
# one at the same size.  The BMP decoder is a byte copy whose cost scales
# with bytes only, so no sane input size gives it a comparable share.
SIDE = {"png": 512, "jpeg": 40, "gif": None, "bmp": None}


def fit(img: np.ndarray, side: int | None) -> np.ndarray:
    """``img`` tiled, then cropped, to ``side`` x ``side`` pixels."""
    if side is None:
        return img
    reps = (-(-side // img.shape[0]), -(-side // img.shape[1]))
    return np.tile(img, reps + (1,) * (img.ndim - 2))[:side, :side]


def encode(fmt: str, img: np.ndarray, variant: int) -> tuple[bytes, np.ndarray]:
    """(bytes, the pixels a lossless decoder must give back).  PNG rows
    use filter type ``variant % 3``, the vectorized-unfilter set that
    ``synth_media_for_spans`` draws from."""
    from ocr_spark.sources.bmp import encode_bmp
    from ocr_spark.sources.gif import encode_gif
    from ocr_spark.sources.jpeg import encode_jpeg
    from ocr_spark.sources.png import encode_png, to_gray

    if fmt == "png":
        return encode_png(img, filters=variant % 3, compress_level=1), img
    if fmt == "jpeg":
        return encode_jpeg(img), img
    if fmt == "gif":  # a grayscale frame fits the 256-entry table
        gray = to_gray(img)
        return encode_gif(gray), gray
    return encode_bmp(img), img


def feature(img: np.ndarray) -> list[float]:
    from ocr_spark.sources.png import grid8, to_gray

    return (grid8(to_gray(img)).mean(axis=0) / 255.0).astype(
        np.float32).tolist()


def media_rows(docs: pa.Table, seed: int, n_docs: int,
               per_doc: int = 2) -> list[dict]:
    """``per_doc`` distinct media refs from each of ``n_docs`` documents
    (seeded), encoded in turn with each of the four in-repo formats at
    that format's ``SIDE``.  A fixed count per document and per format
    keeps documents, images and the codec mix of an operation the same
    for every seed."""
    from ocr_spark.operators.multimodal import synth_image

    spans = docs.column("spans").combine_chunks()
    flat = spans.flatten()
    parent = pc.list_parent_indices(spans)
    is_media = pc.equal(flat.field("kind"), "media_ref")
    refs: dict[str, set] = {}
    for d, r in zip(pc.take(docs.column("doc_id"),
                            pc.filter(parent, is_media)).to_pylist(),
                    pc.filter(flat.field("media_ref"), is_media).to_pylist()):
        refs.setdefault(d, set()).add(r)
    eligible = sorted(d for d, rs in refs.items() if len(rs) >= per_doc)
    rng = np.random.default_rng(seed + 2)
    chosen = rng.choice(len(eligible), min(n_docs, len(eligible)),
                        replace=False)
    rows = []
    for i in sorted(chosen):
        d = eligible[i]
        for r in sorted(rng.choice(sorted(refs[d]), per_doc, replace=False)):
            key = f"{d}/{r}"
            h = hashlib.md5(key.encode()).digest()
            fmt = FORMATS[len(rows) % len(FORMATS)]
            img = fit(synth_image(f"{seed}:{key}"), SIDE[fmt])
            data, exact = encode(fmt, img, h[1])
            rows.append({
                "doc_id": d, "media_ref": str(r), "content": data,
                "mime": MIME[fmt],
                "ref": {
                    "n_bytes": len(data),
                    "sha1": hashlib.sha1(data).hexdigest(),
                    "width": int(img.shape[1]), "height": int(img.shape[0]),
                    "feat": None if fmt == "jpeg" else feature(exact),
                },
            })
    return rows


# ---------------------------------------------------------------------------
# the cache
# ---------------------------------------------------------------------------


class Inputs:
    """A built cache entry: ``path`` plus the parsed ``ref.json``."""

    def __init__(self, path: str):
        self.path = path
        with open(os.path.join(path, "ref.json")) as f:
            self.ref = json.load(f)

    def sub(self, name: str) -> str:
        return os.path.join(self.path, name)


def ensure(work: str, kind: str, seed: int, size: int, **params) -> Inputs:
    tag = "-".join(f"{k}{v}" for k, v in sorted(params.items()))
    name = f"{kind}-s{seed}-n{size}" + (f"-{tag}" if tag else "")
    path = os.path.join(work, "cache", f"{name}-v{VERSION}")
    if os.path.exists(os.path.join(path, "ref.json")):
        return Inputs(path)
    tmp = f"{path}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    try:
        t0 = time.perf_counter()
        ref = _MAKERS[kind](tmp, seed, size, **params)
        ref["build_s"] = time.perf_counter() - t0
        ref.update(seed=seed, size=size, kind=kind, version=VERSION)
        with open(os.path.join(tmp, "ref.json"), "w") as f:
            json.dump(ref, f)
        os.rename(tmp, path)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return Inputs(path)


def _build_docs(out: str, seed: int, size: int, edits: int = 24) -> dict:
    """The documents table, its span reference and oracle sample, and an
    edit batch with the reference of the table after that batch."""
    table = documents(seed, size)
    write_docs(table, os.path.join(out, "docs"))
    con = duck()
    sample = _sample_ids(table, seed, n_mega_for(size))
    ref = {
        "n_docs": table.num_rows,
        "spans": twin_reference(con, os.path.join(out, "docs", "*.parquet")),
        "oracle": oracle_sample(table, sample),
    }
    upd = edited(table, seed, edits)
    pq.write_table(upd, os.path.join(out, "edits.parquet"))
    after = apply_edits_locally(table, upd)
    after_path = os.path.join(out, "after_edits.parquet")
    pq.write_table(after, after_path)
    ids = sorted(upd.column("doc_id").to_pylist())
    ref["after_edits"] = {
        "n_docs": after.num_rows,
        "spans": twin_reference(con, after_path),
        "oracle": oracle_sample(after, sorted(set(sample) | set(ids[:8]))),
    }
    os.remove(after_path)
    ref["edited_ids"] = ids
    return ref


def _build_media(out: str, seed: int, size: int, mdocs: int) -> dict:
    ref = _build_docs(out, seed, size)
    table = pq.read_table(os.path.join(out, "docs"))
    rows = media_rows(table, seed, mdocs)
    media = pa.table({
        "doc_id": [r["doc_id"] for r in rows],
        "media_ref": [r["media_ref"] for r in rows],
        "content": pa.array([r["content"] for r in rows], pa.binary()),
        "mime": [r["mime"] for r in rows],
    })
    os.makedirs(os.path.join(out, "media"))
    step = -(-media.num_rows // 8)
    for f in range(8):
        pq.write_table(media.slice(f * step, step),
                       os.path.join(out, "media", f"part-{f:05d}.parquet"))
    ref["media"] = {f"{r['doc_id']}/{r['media_ref']}": r["ref"] for r in rows}
    ref["media_docs"] = len({r["doc_id"] for r in rows})
    return ref


_MAKERS = {"docs": _build_docs, "media": _build_media}


# ---------------------------------------------------------------------------
# output checks (run in the checker process, outside every timed region)
# ---------------------------------------------------------------------------


def check_extract(out_dir: str, ref: dict) -> tuple[list[str], dict]:
    """Problems found in an extraction output (flat or bucket-partitioned)
    against a ``ref`` from ``_build_docs``; plus the output's digests."""
    glob = os.path.join(out_dir, "**", "*.parquet")
    con = duck()
    problems = []
    got = list(con.execute(span_digest_sql(output_spans_sql(glob)))
               .fetchone())
    want = [ref["spans"]["rows"], ref["spans"]["digest"]]
    if got != want:
        problems.append(f"spans: (rows, digest) {got} != twin {want}")
    docs, other, words = con.execute(other_digest_sql(glob)).fetchone()
    if docs != ref["n_docs"]:
        problems.append(f"documents: {docs} != {ref['n_docs']}")
    if words != ref["spans"]["text_rows"]:
        problems.append(f"sum(n_words): {words} != twin text rows "
                        f"{ref['spans']['text_rows']}")
    ids = ", ".join(f"'{d}'" for d in ref["oracle"])
    rows = con.execute(
        "select doc_id, doc_text, doc_text_delim, n_words, word_index from "
        f"read_parquet('{glob}', hive_partitioning = false) "
        f"where doc_id in ({ids})").arrow().to_pylist()
    seen = {r["doc_id"]: output_row_digest(r) for r in rows}
    bad = sorted(d for d, h in ref["oracle"].items() if seen.get(d) != h)
    if bad:
        problems.append(f"oracle sample: {len(bad)} of {len(ref['oracle'])}"
                        f" documents differ, e.g. {bad[:3]}")
    return problems, {"other": other}


def check_manifest(manifest: str, run_id: str, n_buckets: int,
                   ref: dict) -> list[str]:
    """The committed manifest rows of ``run_id`` must cover every bucket
    and sum to the twin's totals."""
    rows = [r for r in pq.read_table(manifest).to_pylist()
            if r["run_id"] == run_id]
    problems = []
    if sorted(r["bucket"] for r in rows) != list(range(n_buckets)):
        problems.append(f"manifest: {len(rows)} rows for {n_buckets} buckets")
    totals = [sum(r[k] for r in rows)
              for k in ("doc_count", "span_count", "word_count")]
    want = [ref["n_docs"], ref["spans"]["rows"], ref["spans"]["text_rows"]]
    if totals != want:
        problems.append(f"manifest totals {totals} != twin {want}")
    return problems


def check_media(out_dir: str, ref: dict) -> tuple[list[str], dict]:
    """Every feature row against the values known at encode time."""
    rows = pq.read_table(out_dir).to_pylist()
    want = ref["media"]
    problems = []
    if len(rows) != len(want):
        problems.append(f"media rows: {len(rows)} != {len(want)}")
    bad = []
    feats = []
    for r in rows:
        key = f"{r['doc_id']}/{r['media_ref']}"
        w = want.get(key)
        feats.append([key, r["feat"]])
        if w is None or (r["n_bytes"], r["sha1"], r["width"], r["height"]) \
                != (w["n_bytes"], w["sha1"], w["width"], w["height"]) \
                or (w["feat"] is not None and r["feat"] != w["feat"]):
            bad.append(key)
    if bad:
        problems.append(f"media: {len(bad)} rows differ, e.g. {bad[:3]}")
    return problems, {"feat": _md5(sorted(feats))}


def drop_last_row(out_dir: str) -> None:
    """Corrupt an output on purpose: one document (or image) disappears."""
    import glob as _glob

    path = sorted(p for p in _glob.glob(os.path.join(out_dir, "**", "*.parquet"),
                                        recursive=True)
                  if pq.read_metadata(p).num_rows)[0]
    t = pq.read_table(path)
    pq.write_table(t.slice(0, t.num_rows - 1), path)
