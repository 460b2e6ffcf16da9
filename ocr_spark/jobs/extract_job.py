"""The deployable extraction job: bucketed, checkpointed, resumable.

This is the Spark restatement of the reference's incremental-skip +
completion-gate machinery (SURVEY.md §4 X6/X7):

* reference: exports return early if the output file exists
  (server/src/utils/export.py:142-143, 163-164), pages checkpoint as
  ``_ocr_results/*.json`` and the last finisher fires the export when
  ``len(files) == pages`` (server/celery_app.py:1162-1183).
* here: the table is salted into ``n_buckets`` partitions on
  ``pmod(xxhash64(doc_id), n_buckets)``; each completed bucket commits one
  **manifest row** ``(run_id, bucket, doc_count, span_count, word_count,
  wall_ms, status)``; a resumed run left-anti-joins the bucket universe
  against the manifest and processes only the remainder.

Crash-safety / exactly-once without Iceberg (the storage seam, SURVEY.md
§7.1 — no Iceberg jar in this sandbox, parquet + manifest table is the
degraded mode with the same commit protocol).  Every job that rewrites
the ``bucket=`` table goes through :func:`rewrite_buckets`, per wave:

* the wave is written ``partitionBy(bucket)`` as a **dynamic partition
  overwrite** — an option of that write, never a session setting that
  would leak into the caller's later overwrites — so re-processing a
  bucket atomically replaces exactly that bucket's directory, never
  duplicates it.
* dynamic overwrite keeps partitions the new rows lack, so the directory
  of a wave bucket the write left empty (all docs deleted or expired) is
  deleted; an ``Observation`` on the write names the buckets it produced,
  at no extra Spark job.
* the manifest rows are appended only *after* the wave's data is fully
  written; the manifest is therefore the commit point (a bucket with data
  but no manifest row is considered incomplete and redone — at most ~1/Nth
  of the table).

Scale notes: bucketing by hashed doc_id spreads mega-documents uniformly;
`n_buckets` should be ≥ executors so stragglers don't serialize the tail.
The per-bucket metrics land in the manifest (progress-heartbeat analog,
celery_app.py:1170-1180).
"""

from __future__ import annotations

import time
from typing import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ocr_spark.operators.extract import extract_documents

_MANIFEST_ROW_DDL = (
    "run_id string, bucket int, doc_count bigint, span_count bigint, "
    "word_count bigint, wall_ms bigint, status string"
)
MANIFEST_SCHEMA = _MANIFEST_ROW_DDL + ", committed_at timestamp"


def bucketed(df: DataFrame, n_buckets: int) -> DataFrame:
    """Add the salt column: pmod(xxhash64(doc_id), n_buckets) — the skew
    defense from SURVEY.md §4 item 1."""
    return df.withColumn(
        "bucket", F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets)).cast("int")
    )


def edits_overlay_path(input_path: str) -> str:
    return input_path.rstrip("/") + "_edits"


def hadoop_fs(spark: SparkSession, path_str: str):
    """(jvm, FileSystem, Path) for a path string — works on any Hadoop
    filesystem, not just local."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path_str)
    return jvm, p.getFileSystem(conf), p


def overlay_data_files(spark: SparkSession, input_path: str) -> list[str]:
    """Committed parquet files of the edit overlay (empty list if the
    overlay doesn't exist or holds no data yet).  Top-level files only —
    an in-flight append's ``_temporary`` subtree is invisible here, so
    callers that snapshot this list never touch uncommitted writes."""
    _, fs, p = hadoop_fs(spark, edits_overlay_path(input_path))
    if not fs.exists(p):
        return []
    return [
        f.getPath().toString()
        for f in fs.listStatus(p)
        if f.isFile() and f.getPath().getName().endswith(".parquet")
    ]


def normalize_overlay(ov: DataFrame) -> DataFrame:
    """Normalize overlay rows to (…, edit_seq, deleted): files written
    before tombstones existed lack the ``deleted`` column, so reads
    merge schemas and default it to false."""
    if "deleted" not in ov.columns:
        ov = ov.withColumn("deleted", F.lit(False))
    return ov.withColumn("deleted", F.coalesce("deleted", F.lit(False)))


def read_overlay(spark: SparkSession, input_path: str) -> DataFrame | None:
    """Read the edit overlay: rows (doc_id, spans, meta, edit_seq,
    deleted).  ``deleted`` marks a tombstone (the Iceberg delete-vector
    analog — retention writes these so an expired document cannot be
    resurrected by a later bucket re-derivation).

    Returns ``None`` when no overlay data exists — checked EXPLICITLY,
    never by swallowing read errors: a transient failure reading an
    overlay that does exist must raise, because proceeding with the bare
    base would silently revert edits and resurrect deleted documents in
    whatever buckets the caller derives."""
    files = overlay_data_files(spark, input_path)
    if not files:
        return None
    return normalize_overlay(
        spark.read.option("mergeSchema", "true").parquet(*files)
    )


def read_documents(
    spark: SparkSession, input_path: str, as_of_seq: int | None = None
) -> DataFrame:
    """THE source-of-truth read seam: the base documents table with the
    durable edit overlay applied (latest ``edit_seq`` per doc_id wins;
    a latest row that is a tombstone removes the document entirely).

    ``as_of_seq`` is the snapshot-read analog (Iceberg
    ``VERSION AS OF``): only overlay commits with ``edit_seq ≤
    as_of_seq`` are applied, reproducing the table exactly as any
    earlier derivation saw it — until compact_overlay folds the history
    away (the ``expire_snapshots`` analog).  ``overlay_versions`` lists
    the available commit points.

    The reference's editor overwrites the ``_ocr_results`` page JSONs in
    place (server/app.py:1057-1068) so every later regeneration sees the
    edits; here the overlay table beside the input plays that role —
    apply_edits appends to it BEFORE deriving, and every job that reads
    the source (full extraction runs included) reads through this seam,
    so re-deriving any bucket can never silently revert an edit or
    resurrect a deleted document.  On Iceberg the overlay collapses into
    MERGE INTO / DELETE + snapshots (SURVEY.md §3.3); on the parquet
    seam, jobs.edits.compact_overlay folds it into the base and
    truncates it.
    """
    base = spark.read.parquet(input_path).select("doc_id", "spans", "meta")
    ov = read_overlay(spark, input_path)
    if ov is None:
        return base
    if as_of_seq is not None:
        ov = ov.where(F.col("edit_seq") <= as_of_seq)
    return overlay_merge(base, ov)


def overlay_versions(spark: SparkSession, input_path: str) -> DataFrame:
    """The snapshot-list analog: one row per overlay commit point
    ``(edit_seq, n_rows, n_deletes)``, ascending — each ``edit_seq`` is
    a valid ``as_of_seq`` for read_documents.  Empty if no overlay."""
    ov = read_overlay(spark, input_path)
    if ov is None:
        return spark.createDataFrame(
            [], "edit_seq bigint, n_rows bigint, n_deletes bigint"
        )
    return (
        ov.groupBy("edit_seq")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.col("deleted").cast("long")).alias("n_deletes"),
        )
        .orderBy("edit_seq")
    )


def latest_edits(ov: DataFrame) -> DataFrame:
    """Collapse an overlay (doc_id, spans, meta, edit_seq, deleted) to
    the latest row per doc_id — tombstones compete in the same ordering
    (a delete after an edit wins; a re-add after a delete wins)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("doc_id").orderBy(F.desc("edit_seq"))
    return (
        ov.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("doc_id", "spans", "meta", "deleted")
    )


def overlay_merge(base: DataFrame, ov: DataFrame) -> DataFrame:
    """base ⊕ latest-overlay: overlay rows replace base rows by doc_id;
    a winning tombstone suppresses the document from the view."""
    latest = latest_edits(ov)
    return (
        base.join(latest.select("doc_id"), "doc_id", "left_anti")
        .unionByName(
            latest.where(~F.col("deleted")).select("doc_id", "spans", "meta")
        )
    )


def commit_manifest(
    spark: SparkSession,
    output_path: str,
    manifest_path: str,
    run_id: str,
    buckets: list[int],
    wall_ms: int,
    status: str,
) -> list:
    """THE shared manifest-commit protocol: compute per-bucket stats from
    the output table and append one row per bucket (MANIFEST_SCHEMA).
    rewrite_buckets commits every wave of every job that rewrites buckets
    through here so the manifest schema cannot silently fork between job
    types.  Returns the collected per-bucket stat rows."""
    stats = (
        spark.read.parquet(output_path)
        .where(F.col("bucket").isin(buckets))
        .groupBy("bucket")
        .agg(
            F.count("*").alias("doc_count"),
            F.sum(F.size("spans")).alias("span_count"),
            F.sum("n_words").alias("word_count"),
        )
        .collect()
    )
    per_bucket = {r["bucket"]: r for r in stats}
    rows = [
        (
            run_id,
            b,
            per_bucket[b]["doc_count"] if b in per_bucket else 0,
            per_bucket[b]["span_count"] if b in per_bucket else 0,
            per_bucket[b]["word_count"] if b in per_bucket else 0,
            wall_ms // max(len(buckets), 1),
            status,
        )
        for b in buckets
    ]
    (
        spark.createDataFrame(rows, _MANIFEST_ROW_DDL)
        .withColumn("committed_at", F.current_timestamp())
        .write.mode("append")
        .parquet(manifest_path)
    )
    return stats


def read_manifest(spark: SparkSession, manifest_path: str) -> DataFrame:
    """The committed manifest rows; empty only when none exist — never by
    swallowing read errors, which would silently redo every bucket."""
    _, fs, p = hadoop_fs(spark, manifest_path)
    if not fs.exists(p):
        return spark.createDataFrame([], MANIFEST_SCHEMA)
    # the fixed schema also reads a manifest whose first append crashed
    # (only ``_temporary`` inside) as empty, where inference would fail
    return spark.read.schema(MANIFEST_SCHEMA).parquet(manifest_path)


def completed_buckets(spark: SparkSession, manifest_path: str) -> list[int]:
    m = read_manifest(spark, manifest_path)
    return [
        r["bucket"]
        for r in m.where(F.col("status") == "ok").select("bucket").distinct().collect()
    ]


def rewrite_buckets(
    spark: SparkSession,
    rows_for: Callable[[list[int]], DataFrame],
    buckets: list[int],
    output_path: str,
    manifest_path: str,
    run_id: str,
    status: str,
    wave_size: int | None,
) -> dict:
    """THE bucket-rewrite protocol (module docstring) over ``buckets``
    in waves of ``wave_size`` (``None`` → one wave).  ``rows_for(wave)``
    returns the new rows, ``bucket`` included, of exactly those buckets.
    Returns the committed doc/span/word totals and summed ``wall_ms``."""
    _, fs, root = hadoop_fs(spark, output_path)
    step = wave_size or max(len(buckets), 1)
    totals = {"doc_count": 0, "span_count": 0, "word_count": 0, "wall_ms": 0}
    for i in range(0, len(buckets), step):
        wave = buckets[i : i + step]
        t0 = time.perf_counter()
        seen = Observation()
        (
            rows_for(wave)
            .observe(seen, F.collect_set("bucket").alias("buckets"))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket")
            .parquet(output_path)
        )
        for b in set(wave) - set(seen.get["buckets"]):
            fs.delete(root.suffix(f"/bucket={b}"), True)
        wall_ms = int((time.perf_counter() - t0) * 1000)
        totals["wall_ms"] += wall_ms
        for r in commit_manifest(
            spark, output_path, manifest_path, run_id, wave, wall_ms, status
        ):
            for k in ("doc_count", "span_count", "word_count"):
                totals[k] += r[k] or 0
    return totals


def derived_rows(
    spark: SparkSession, input_path: str, n_buckets: int, order_by: str
) -> Callable[[list[int]], DataFrame]:
    """``rows_for`` of run_extraction and apply_edits: the wave's source
    documents (read_documents, overlay snapshotted once) → the kernel."""
    src = bucketed(read_documents(spark, input_path), n_buckets)

    def rows_for(wave: list[int]) -> DataFrame:
        part = src.where(F.col("bucket").isin(wave))
        # bucket re-derives from doc_id after the kernel (cheap hash) rather
        # than being threaded through the Arrow schema or joined back.
        out = extract_documents(
            part.select("doc_id", "spans", "meta"), order_by=order_by
        )
        return bucketed(out, n_buckets)

    return rows_for


def run_extraction(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    manifest_path: str,
    run_id: str,
    n_buckets: int = 32,
    order_by: str = "meta",
    wave_size: int | None = None,
    fail_after_waves: int | None = None,
) -> dict:
    """Run (or resume) the extraction over all not-yet-committed buckets.

    Buckets are processed in *waves* of ``wave_size`` buckets: one input
    scan + one dynamic-partition-overwrite write per wave, then one
    manifest row per bucket in the wave.  ``wave_size=None`` → whole
    remainder in a single wave (max throughput, coarsest resume); small
    waves → checkpoint granularity approaching the reference's per-page
    commits, at the cost of extra input scans.  A crash between a wave's
    data write and its manifest append just redoes that wave (dynamic
    overwrite makes the rewrite idempotent).

    ``fail_after_waves`` is a test hook simulating a mid-run crash.
    """
    done = set(completed_buckets(spark, manifest_path))
    todo = [b for b in range(n_buckets) if b not in done]
    run = todo
    if fail_after_waves is not None:
        run = todo[: fail_after_waves * (wave_size or len(todo))]
    totals = rewrite_buckets(
        spark, derived_rows(spark, input_path, n_buckets, order_by), run,
        output_path, manifest_path, run_id, "ok", wave_size,
    )
    return {
        "status": "crashed" if len(run) < len(todo) else "ok",
        "processed": len(run),
        "skipped": len(done),
        **totals,
    }


def main(argv: list[str] | None = None) -> None:
    """spark-submit entry point:

        spark-submit --py-files dist/ocr_spark.zip \\
            -m ocr_spark.jobs.extract_job  # (or path to this file) \\
            --input s3://.../documents --output s3://.../spans_out \\
            --manifest s3://.../_manifests --run-id run-2026-08-17 \\
            --buckets 4096 --wave-size 256

    On a cluster, ``--buckets`` should be several × total executor cores
    and ``--wave-size`` the checkpoint granularity (buckets committed per
    manifest append).
    """
    import argparse
    import uuid

    from ocr_spark.session import get_spark

    ap = argparse.ArgumentParser(description="resumable extraction job")
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--manifest", required=True)
    ap.add_argument("--run-id", default=f"run-{uuid.uuid4().hex[:8]}")
    ap.add_argument("--buckets", type=int, default=64)
    ap.add_argument("--wave-size", type=int, default=None)
    ap.add_argument("--order-by", choices=["meta", "offset"], default="meta")
    args = ap.parse_args(argv)

    spark = get_spark("ocr-extract")
    stats = run_extraction(
        spark,
        args.input,
        args.output,
        args.manifest,
        args.run_id,
        n_buckets=args.buckets,
        order_by=args.order_by,
        wave_size=args.wave_size,
    )
    print(stats)
    spark.stop()


if __name__ == "__main__":
    main()
