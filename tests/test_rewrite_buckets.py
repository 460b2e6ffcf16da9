"""The shared bucket-rewrite protocol (extract_job.rewrite_buckets): the
jobs that rewrite a partitioned output leave the session's overwrite
mode alone, a bucket a rebuild leaves empty loses its directory, every
wave commits its own manifest rows, and a manifest that exists but
cannot be read is an error, never "no bucket done"."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from ocr_spark import datagen
from ocr_spark.jobs import extract_job
from ocr_spark.jobs.edits import apply_edits, delete_documents
from ocr_spark.jobs.retention import expire_where
from ocr_spark.jobs.shards import write_training_shards
from ocr_spark.streaming.pipeline import (
    fold_stream_output,
    run_extraction_stream,
)

MODE = "spark.sql.sources.partitionOverwriteMode"
N_BUCKETS = 4


def _upper_edit(docs, doc_ids):
    return docs.where(F.col("doc_id").isin(doc_ids)).selectExpr(
        "doc_id",
        "transform(spans, s -> struct(s.kind as kind, upper(s.text) as "
        "text, s.media_ref as media_ref, s.offset as offset)) as spans",
        "meta",
    )


def test_jobs_leave_session_overwrite_mode_alone(spark, tmp_path):
    src = os.path.join(tmp_path, "docs")
    out, man = os.path.join(tmp_path, "out"), os.path.join(tmp_path, "man")
    datagen.generate_to_path(
        src, n_docs=40, seed=42, scramble=True, n_files=2
    )
    docs = spark.read.parquet(src)
    ids = [r["doc_id"] for r in docs.select("doc_id").limit(2).collect()]
    sout = os.path.join(tmp_path, "sout")
    run_extraction_stream(
        spark, src, sout, os.path.join(tmp_path, "ckpt"), order_by="meta"
    )
    calls = {
        "run_extraction": lambda: extract_job.run_extraction(
            spark, src, out, man, "r", n_buckets=N_BUCKETS
        ),
        "apply_edits": lambda: apply_edits(
            spark, _upper_edit(docs, ids[:1]), src, out, man, "e",
            n_buckets=N_BUCKETS,
        ),
        "expire_where": lambda: expire_where(
            spark, out, man, "x", F.col("doc_id") == ids[1]
        ),
        "fold_stream_output": lambda: fold_stream_output(
            spark, sout, out, man, "f", src, n_buckets=N_BUCKETS
        ),
        "write_training_shards": lambda: write_training_shards(
            spark,
            docs.select(
                "doc_id", F.lit("s").alias("source"),
                F.lit("alpha beta gamma delta").alias("text"),
            ),
            os.path.join(tmp_path, "shards"), n_shards=4, seq_len=8,
        ),
    }
    before = spark.conf.get(MODE)
    try:
        spark.conf.set(MODE, "static")
        for name, call in calls.items():
            call()
            assert spark.conf.get(MODE) == "static", name
    finally:
        spark.conf.set(MODE, before)


def test_rebuild_drops_bucket_emptied_by_deletes(spark, tmp_path):
    """Tombstoning every doc of one bucket, then rebuilding into the same
    output with a fresh manifest, must not leave the old bucket's files
    (dynamic overwrite alone never touches a partition it does not
    write), and the manifest must count only live docs."""
    src = os.path.join(tmp_path, "docs")
    out = os.path.join(tmp_path, "out")
    datagen.generate_to_path(src, n_docs=40, seed=42, scramble=True)
    extract_job.run_extraction(
        spark, src, out, os.path.join(tmp_path, "man1"), "first",
        n_buckets=N_BUCKETS,
    )
    derived = spark.read.parquet(out)
    victim = derived.select("bucket").orderBy("bucket").first()["bucket"]
    dead = derived.where(F.col("bucket") == victim).select("doc_id")
    n_dead = delete_documents(spark, dead, src)
    assert n_dead > 0

    man2 = os.path.join(tmp_path, "man2")
    st = extract_job.run_extraction(
        spark, src, out, man2, "rebuild", n_buckets=N_BUCKETS, wave_size=2
    )
    assert st["status"] == "ok" and st["processed"] == N_BUCKETS
    assert f"bucket={victim}" not in os.listdir(out)
    live = extract_job.read_documents(spark, src).count()
    assert live == 40 - n_dead
    assert spark.read.parquet(out).count() == live
    m = extract_job.read_manifest(spark, man2)
    assert m.agg(F.sum("doc_count")).first()[0] == live == st["doc_count"]


def test_apply_edits_commits_one_row_per_bucket_across_waves(spark, tmp_path):
    src = os.path.join(tmp_path, "docs")
    out, man = os.path.join(tmp_path, "out"), os.path.join(tmp_path, "man")
    datagen.generate_to_path(src, n_docs=40, seed=42, scramble=True)
    extract_job.run_extraction(spark, src, out, man, "r", n_buckets=N_BUCKETS)
    derived = spark.read.parquet(out)
    firsts = derived.groupBy("bucket").agg(F.min("doc_id").alias("doc_id"))
    ids = [r["doc_id"] for r in firsts.collect()]
    assert len(ids) >= 3

    st = apply_edits(
        spark, _upper_edit(spark.read.parquet(src), ids), src, out, man,
        "e", n_buckets=N_BUCKETS, wave_size=1,
    )
    assert len(st["touched_buckets"]) == len(ids)
    rows = (
        extract_job.read_manifest(spark, man)
        .where(F.col("run_id") == "e").collect()
    )
    assert all(r["status"] == "edited" for r in rows)
    assert sorted(r["bucket"] for r in rows) == st["touched_buckets"]
    got = spark.read.parquet(out).where(F.col("doc_id").isin(ids))
    assert all(r["doc_text"] == r["doc_text"].upper() for r in got.collect())
    assert spark.read.parquet(out).count() == 40


def test_unreadable_manifest_raises(spark, tmp_path):
    """A manifest that exists but cannot be read must fail the resume —
    treating it as "no bucket done" would silently redo every bucket.
    One whose only content is a crashed first append's ``_temporary``
    holds no commit and reads as empty."""
    man = os.path.join(tmp_path, "man")
    os.makedirs(man)
    with open(os.path.join(man, "part-0.parquet"), "wb") as f:
        f.write(b"not a parquet file")
    with pytest.raises(Exception, match="FAILED_READ_FILE"):
        extract_job.completed_buckets(spark, man)

    crashed = os.path.join(tmp_path, "crashed")
    os.makedirs(os.path.join(crashed, "_temporary", "0"))
    assert extract_job.completed_buckets(spark, crashed) == []
    assert extract_job.completed_buckets(
        spark, os.path.join(tmp_path, "missing")
    ) == []
