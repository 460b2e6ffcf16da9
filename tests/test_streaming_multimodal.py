"""Streaming mode + multimodal plumbing tests.

Streaming: the foreachBatch extraction stream must produce exactly the
batch kernel's output (one engine, two drivers); the watermarked windowed
agg must run as a real streaming query.
Multimodal: binary columns flow through Arrow batches with typed metadata;
the synthesized PNG images and MJPEG-in-AVI video frames decode to real
pixels.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from ocr_spark import datagen
from ocr_spark.operators.extract import extract_documents
from ocr_spark.operators.multimodal import (
    extract_media_features,
    synth_media_for_spans,
)
from ocr_spark.streaming.pipeline import (
    run_extraction_stream,
    streaming_span_stats,
)


@pytest.fixture(scope="module")
def contract_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("stream")
    src_dir = os.path.join(d, "in")
    os.makedirs(src_dir)
    # two files → two potential micro-batches
    datagen.generate_to_path(
        os.path.join(src_dir, "part-0.parquet"), n_docs=40, seed=42, scramble=True
    )
    datagen.generate_to_path(
        os.path.join(src_dir, "part-1.parquet"), n_docs=40, seed=43, scramble=True
    )
    return d, src_dir


def test_stream_matches_batch(spark, contract_dir):
    d, src_dir = contract_dir
    out = os.path.join(d, "out")
    ckpt = os.path.join(d, "ckpt")
    run_extraction_stream(spark, src_dir, out, ckpt, order_by="meta")

    batch = extract_documents(
        spark.read.parquet(src_dir), order_by="meta"
    ).select("doc_id", F.to_json("spans").alias("sp"), "doc_text")
    stream = spark.read.parquet(out).select(
        "doc_id", F.to_json("spans").alias("sp"), "doc_text"
    )
    b = sorted(map(tuple, batch.collect()))
    s = sorted(map(tuple, stream.collect()))
    assert b == s and len(b) == 80


def test_stream_is_incremental(spark, contract_dir):
    """Restarting the stream with an unchanged source adds nothing (the
    stream checkpoint is the resume cursor)."""
    d, src_dir = contract_dir
    out = os.path.join(d, "out")
    ckpt = os.path.join(d, "ckpt")
    n_before = spark.read.parquet(out).count()
    run_extraction_stream(spark, src_dir, out, ckpt, order_by="meta")
    assert spark.read.parquet(out).count() == n_before


def test_streaming_windowed_agg(spark, tmp_path):
    src = os.path.join(tmp_path, "events")
    (
        spark.range(0, 1000)
        .select(
            F.timestamp_seconds(F.lit(1_700_000_000) + F.col("id") * 7).alias("ts"),
            (F.col("id") % 3).cast("string").alias("event_type"),
            (F.col("id") % 10).cast("double").alias("value"),
        )
        .write.parquet(src)
    )
    stream_src = (
        spark.readStream.schema("ts timestamp, event_type string, value double")
        .parquet(src)
    )
    agg = streaming_span_stats(stream_src)
    q = (
        agg.writeStream.format("memory")
        .queryName("span_stats")
        .outputMode("append")
        .option("checkpointLocation", os.path.join(tmp_path, "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql("select * from span_stats").collect()
    # append mode emits only watermark-closed windows; all but the last
    # 5-minute window close (watermark = max_ts - 10min)
    assert len(rows) > 0
    total = sum(r["n"] for r in rows)
    assert total <= 1000
    from datetime import timedelta

    assert all(
        r["win_end"] == r["win_start"] + timedelta(minutes=5) for r in rows
    )


def test_multimodal_features(spark, tmp_path):
    src = os.path.join(tmp_path, "docs.parquet")
    datagen.generate_to_path(src, n_docs=60, seed=42)
    docs = spark.read.parquet(src)
    media = synth_media_for_spans(docs)
    n_refs = (
        docs.select(F.explode("spans").alias("s"))
        .where(F.col("s.kind") == "media_ref")
        .select("s.media_ref")
        .count()
    )
    feats = extract_media_features(media)
    got = feats.collect()
    assert media.count() == len(got) <= n_refs
    for r in got[:20]:
        assert r["mime"] == "image/png"
        assert r["n_bytes"] > 8
        assert len(r["sha1"]) == 40
        assert 64 <= r["width"] < 256 and 64 <= r["height"] < 256
        assert len(r["feat"]) == 8

    # determinism: same (doc_id, media_ref) → same sha1/feature
    again = {(r["doc_id"], r["media_ref"]): r["sha1"] for r in feats.collect()}
    for r in got:
        assert again[(r["doc_id"], r["media_ref"])] == r["sha1"]


def test_stateful_streaming_dedup(spark, tmp_path):
    """applyInPandasWithState first-occurrence dedup: duplicates across
    micro-batches are suppressed by the state store (parquet sink so the
    second run recovers the state checkpoint)."""
    import os

    import pandas as pd

    from ocr_spark.streaming.stateful import streaming_dedup

    src = os.path.join(tmp_path, "fps")
    out = os.path.join(tmp_path, "out")
    ck = os.path.join(tmp_path, "ck")
    os.makedirs(src)

    def run():
        stream = (
            spark.readStream.schema("fp string, doc_id string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            streaming_dedup(stream)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {r["fp"]: r for r in spark.read.parquet(out).collect()}

    # batch 1: a,b,c (c twice within the batch)
    pd.DataFrame({"fp": ["a", "b", "c", "c"],
                  "doc_id": ["d1", "d2", "d3", "d4"]}).to_parquet(
        os.path.join(src, "b1.parquet"))
    first = run()
    assert set(first) == {"a", "b", "c"}
    assert first["c"]["doc_id"] == "d3"      # min doc_id within the batch
    assert first["c"]["dup_count"] == 2

    # batch 2: b,c again + new d → only d emits (state recovered)
    pd.DataFrame({"fp": ["b", "c", "d"],
                  "doc_id": ["d5", "d6", "d7"]}).to_parquet(
        os.path.join(src, "b2.parquet"))
    both = run()
    assert set(both) == {"a", "b", "c", "d"}
    assert both["d"]["doc_id"] == "d7"
    # a/b/c rows unchanged — no duplicate emission
    assert both["c"]["doc_id"] == "d3"


def test_fold_stream_output_into_bucketed_table(spark, tmp_path):
    """The stream's batch_id= layout folds into the batch job's bucket=
    table: contents equal a batch extraction, manifest gains
    'stream-fold' commits, folded batch dirs are deleted, and a later
    re-extraction of changed docs replaces rows (latest batch wins)."""
    from ocr_spark.streaming.pipeline import fold_stream_output

    src_dir = os.path.join(tmp_path, "in")
    os.makedirs(src_dir)
    # one table split into two files -> disjoint doc_ids per micro-batch
    datagen.generate_to_path(
        os.path.join(src_dir, "docs"), n_docs=80, seed=42, scramble=True,
        n_files=2,
    )
    src = os.path.join(src_dir, "docs")
    sout = os.path.join(tmp_path, "sout")
    ckpt = os.path.join(tmp_path, "ckpt")
    out = os.path.join(tmp_path, "out")
    man = os.path.join(tmp_path, "man")
    run_extraction_stream(spark, src, sout, ckpt, order_by="meta")

    st = fold_stream_output(spark, sout, out, man, "fold1", src, n_buckets=4)
    assert st["status"] == "ok" and st["folded_docs"] == 80
    assert st["folded_batches"] >= 1

    batch = extract_documents(
        spark.read.parquet(os.path.join(src_dir, "docs")), order_by="meta"
    ).select("doc_id", "doc_text")
    got = spark.read.parquet(out).select("doc_id", "doc_text")
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, batch.collect())
    )
    m = spark.read.parquet(man)
    folds = m.where(F.col("run_id") == "fold1").collect()
    assert folds and all(r["status"] == "stream-fold" for r in folds)
    assert not [
        d for d in os.listdir(sout) if d.startswith("batch_id=")
    ], "folded batch dirs must be deleted"

    # a changed doc re-streams (new source file) and replaces its row
    docs = spark.read.parquet(os.path.join(src_dir, "docs"))
    a = docs.select("doc_id").orderBy("doc_id").first()["doc_id"]
    (
        docs.where(F.col("doc_id") == a)
        .selectExpr(
            "doc_id",
            "transform(spans, s -> struct(s.kind as kind, upper(s.text) as "
            "text, s.media_ref as media_ref, s.offset as offset)) as spans",
            "meta",
        )
        .coalesce(1)
        .write.mode("append")
        .parquet(os.path.join(src_dir, "docs"))
    )
    run_extraction_stream(
        spark, os.path.join(src_dir, "docs"), sout, ckpt, order_by="meta"
    )
    st2 = fold_stream_output(spark, sout, out, man, "fold2", src, n_buckets=4)
    assert st2["status"] == "ok" and st2["folded_docs"] == 1
    t = spark.read.parquet(out)
    ta = t.where(F.col("doc_id") == a).first()["doc_text"]
    assert ta == ta.upper()
    assert t.count() == 80  # replaced, not appended

    # idempotent when nothing is pending
    assert fold_stream_output(spark, sout, out, man, "fold3", src)["status"] == "noop"


def test_fold_respects_overlay_tombstones_and_edits(spark, tmp_path):
    """A stream extraction pending in the fold queue must not resurrect
    a doc deleted through the seam, nor revert a seam edit — stream rows
    read RAW input and are stale by construction for any overlay-touched
    doc, so fold drops them when given the input path."""
    from ocr_spark.jobs.edits import apply_edits, delete_documents
    from ocr_spark.jobs.retention import expire_where
    from ocr_spark.streaming.pipeline import fold_stream_output

    src = os.path.join(tmp_path, "docs")
    datagen.generate_to_path(src, n_docs=40, seed=42, scramble=True, n_files=2)
    sout = os.path.join(tmp_path, "sout")
    ckpt = os.path.join(tmp_path, "ckpt")
    out = os.path.join(tmp_path, "out")
    man = os.path.join(tmp_path, "man")

    # first fold establishes the table
    run_extraction_stream(spark, src, sout, ckpt, order_by="meta")
    fold_stream_output(spark, sout, out, man, "f1", src, n_buckets=4)
    docs = spark.read.parquet(src)
    dead, edited = [
        r["doc_id"]
        for r in docs.select("doc_id").orderBy("doc_id").limit(2).collect()
    ]

    # durable delete + seam edit land AFTER the stream extracted
    expire_where(
        spark, out, man, "gdpr", F.col("doc_id") == dead, input_path=src
    )
    upd = docs.where(F.col("doc_id") == edited).selectExpr(
        "doc_id",
        "transform(spans, s -> struct(s.kind as kind, upper(s.text) as "
        "text, s.media_ref as media_ref, s.offset as offset)) as spans",
        "meta",
    )
    apply_edits(spark, upd, src, out, man, run_id="e1", n_buckets=4)
    text_e = spark.read.parquet(out).where(
        F.col("doc_id") == edited
    ).first()["doc_text"]
    assert text_e == text_e.upper()

    # a stale stream re-extraction of BOTH docs arrives (raw input —
    # no overlay applied) and gets folded
    (
        docs.where(F.col("doc_id").isin([dead, edited]))
        .coalesce(1)
        .write.mode("append")
        .parquet(src)
    )
    run_extraction_stream(spark, src, sout, ckpt, order_by="meta")
    st = fold_stream_output(spark, sout, out, man, "f2", src, n_buckets=4)
    assert st["folded_docs"] == 0  # both rows were overlay-stale

    t = spark.read.parquet(out)
    assert t.where(F.col("doc_id") == dead).count() == 0, "resurrected!"
    assert (
        t.where(F.col("doc_id") == edited).first()["doc_text"] == text_e
    ), "edit reverted!"


def test_resize_media_geometry(spark):
    """Aspect-preserving clamp: out dims ≤ max_px, ratio preserved within
    rounding, never upscaled; deterministic across runs."""
    from ocr_spark.operators.multimodal import resize_media, synth_media_for_spans
    from ocr_spark import datagen
    import tempfile, os

    p = os.path.join(tempfile.mkdtemp(), "docs.parquet")
    datagen.generate_to_path(p, n_docs=40, seed=42)
    media = synth_media_for_spans(spark.read.parquet(p))
    assert media.count() > 0
    out = resize_media(media, max_px=100)
    rows = out.collect()
    assert len(rows) == media.count()
    for r in rows:
        assert max(r["out_width"], r["out_height"]) <= 100
        assert r["out_width"] <= r["width"] and r["out_height"] <= r["height"]
        if max(r["width"], r["height"]) > 100:
            scale = 100 / max(r["width"], r["height"])
            assert r["out_width"] == max(1, int(r["width"] * scale + 0.5))
            assert r["out_height"] == max(1, int(r["height"] * scale + 0.5))
        else:  # never upscale
            assert (r["out_width"], r["out_height"]) == (r["width"], r["height"])
    again = {(r["doc_id"], r["media_ref"]): bytes(r["content"])
             for r in resize_media(media, max_px=100).collect()}
    assert {(r["doc_id"], r["media_ref"]): bytes(r["content"]) for r in rows} == again


def test_sample_frames_container_walk(spark):
    """AVI container walk over synthesized MJPEG videos: every_n stride,
    container-rate timestamps, real JPEG frames, truncated tails dropped,
    non-video rows skipped."""
    from ocr_spark.operators.multimodal import (
        sample_frames,
        synth_video_for_refs,
    )
    from ocr_spark.sources.jpeg import decode_jpeg
    import pandas as pd

    refs = spark.createDataFrame(
        [("d1", "v1"), ("d2", "v2")], "doc_id string, media_ref string"
    )
    video = synth_video_for_refs(refs, n_frames=24)
    out = sample_frames(video, every_n=8).collect()
    # 24 frames at 25 fps, stride 8 → frames 0, 8, 16 per video
    got = sorted((r["doc_id"], r["frame_no"], r["ts_ms"]) for r in out)
    assert got == [
        ("d1", 0, 0), ("d1", 8, 320), ("d1", 16, 640),
        ("d2", 0, 0), ("d2", 8, 320), ("d2", 16, 640),
    ]
    # frames are real 16×16 JPEGs, distinct per (doc, ref, frame_no)
    assert all(decode_jpeg(bytes(r["content"])).shape == (16, 16) for r in out)
    assert len({bytes(r["content"]) for r in out}) == 6
    # truncated container: tail frame dropped, earlier frames intact
    full = bytes(video.where("doc_id='d1'").first()["content"])
    rows = [
        ("d1", "trunc", full[:-10], "video/avi"),
        ("d3", "notvideo", b"\x89PNGxxxx", "image/png"),
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "media_ref", "content", "mime"])
    )
    out2 = sample_frames(df, every_n=23).collect()
    assert {r["doc_id"] for r in out2} == {"d1"}
    assert sorted(r["frame_no"] for r in out2) == [0]  # frame 23 truncated away
