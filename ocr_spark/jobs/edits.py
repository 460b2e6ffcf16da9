"""Incremental edit → re-derive (SURVEY.md §3.3).

Reference loop: the editor POSTs corrected nested page JSON
(``/submit-text``, server/app.py:1023-1078), the server overwrites the
chosen ``_ocr_results/*.json`` checkpoints IN PLACE and
``task_make_changes`` (server/celery_app.py:182-360) regenerates every
completed export with ``force_recreate=True`` — but only for THAT
document; every other document's artifacts are untouched.

Spark restatement on the parquet + manifest seam: the edited rows are
appended DURABLY to the edit-overlay table beside the input (the
``_ocr_results`` overwrite analog — extract_job.read_documents resolves
base ⊕ latest-overlay, so every later re-derivation of any bucket sees
the edits; a transient overlay would be one co-resident edit away from
silently reverting).  The derived table is then recomputed only for the
hash buckets the edited doc_ids land in, as a dynamic partition
overwrite of exactly those buckets — untouched buckets' files are never
rewritten (pytest proves this by file listing + mtime).

Crash-safety: the overlay append happens BEFORE derivation; a crash
mid-derive is healed by re-running apply_edits (the re-append is a
later edit_seq with identical content — latest-wins makes it a no-op)
or by a plain extract_job resume, which reads through the same seam.

Granularity note: re-deriving a bucket re-runs its unedited co-resident
docs too — that is the checkpoint granularity trade (buckets are the
commit unit, exactly like extract_job's resume).  At 4096 buckets an
edit batch touching k docs recomputes ≤ k/4096 of the corpus.  Touched
buckets go through extract_job's own wave loop (``rewrite_buckets``,
per-wave ``status='edited'`` commits; a bucket whose docs are all
deleted loses its directory) in waves of ``wave_size`` (measured: a
100-doc edit over a 400k-doc/64-bucket table touches ~all buckets and
OOM'd the single-wave form; 16-bucket waves run it comfortably).

Module map (the Iceberg mapping of each piece, parquet-seam degraded):

* ``append_edits``     — MERGE INTO content rows (latest edit_seq wins)
* ``delete_documents`` — DELETE WHERE via tombstone rows
* ``apply_edits``      — the §3.3 submit-text loop: durable write first,
  then touched-bucket re-derivation (streaming twin:
  streaming/pipeline.run_edits_stream)
* ``compact_overlay``  — snapshot compaction / expire_snapshots: folds
  base ⊕ overlay into a rewritten base and truncates the history that
  ``read_documents(as_of_seq=…)`` time-travels over
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_spark.jobs.extract_job import (
    bucketed,
    derived_rows,
    edits_overlay_path,
    hadoop_fs,
    normalize_overlay,
    overlay_data_files,
    overlay_merge,
    rewrite_buckets,
)


def _next_edit_seq(spark: SparkSession, input_path: str) -> int:
    """A strictly increasing per-table commit sequence: wall clock,
    floored at (existing max + 1) so cross-driver clock skew can never
    order a later commit before an earlier one — without the floor, a
    retention driver whose clock lags the edit driver's by ordinary NTP
    skew would write a tombstone that LOSES latest-wins to the earlier
    edit, and the delete would silently never take effect.  Remaining
    precondition (documented, not enforced): appends to one table do not
    overlap in wall-clock time; on Iceberg, snapshot sequence numbers
    replace this entirely."""
    seq = time.time_ns()
    files = overlay_data_files(spark, input_path)
    prev = None
    if files:
        try:
            # parquet footer statistics — no Spark job, no row scan
            # (a per-append full-overlay scan would make streaming edit
            # ingestion quadratic in total overlay rows)
            import pyarrow.parquet as pq

            for f in files:
                local = f[5:] if f.startswith("file:") else f
                md = pq.ParquetFile(local).metadata
                cols = {
                    md.schema.column(i).name: i
                    for i in range(md.num_columns)
                }
                if "edit_seq" not in cols:
                    continue
                ci = cols["edit_seq"]
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(ci).statistics
                    if st is not None and st.has_min_max:
                        m = st.max
                        if prev is None or m > prev:
                            prev = m
        except OSError:
            # non-local filesystem — fall back to a Spark aggregation
            prev = (
                spark.read.option("mergeSchema", "true").parquet(*files)
                .agg(F.max("edit_seq"))
                .first()[0]
            )
    if prev is not None and prev >= seq:
        seq = prev + 1
    return seq


def append_edits(updates: DataFrame, input_path: str) -> None:
    """THE durable overlay write: append replacement rows
    ``(doc_id, spans, meta)`` with a strictly increasing ``edit_seq``
    (see _next_edit_seq) so the latest edit of a doc wins in
    read_documents.

    A batch with several rows for ONE doc is REJECTED: all rows of a
    batch share one edit_seq, a DataFrame has no intrinsic row order to
    arbitrate "which edit is newer", and both silently materializing a
    same-seq tie (every later read breaks it differently) and silently
    keeping an arbitrary row (a correction durably lost with no error)
    are wrong.  Sequential edits of one doc belong in sequential batches
    — exactly what run_edits_stream's per-file micro-batches provide."""
    rows = updates.select("doc_id", "spans", "meta")
    dupes = [
        r["doc_id"]
        for r in rows.groupBy("doc_id").count().where("count > 1")
        .limit(5).collect()
    ]
    if dupes:
        raise ValueError(
            f"edit batch contains multiple rows for doc(s) {dupes}: "
            "a batch is unordered, so 'which edit wins' would be "
            "arbitrary — submit sequential edits as separate batches"
        )
    (
        rows
        .withColumn(
            "edit_seq",
            F.lit(_next_edit_seq(updates.sparkSession, input_path)),
        )
        .withColumn("deleted", F.lit(False))
        .write.mode("append")
        .parquet(edits_overlay_path(input_path))
    )


def apply_edits(
    spark: SparkSession,
    updates: DataFrame,
    input_path: str,
    output_path: str,
    manifest_path: str,
    run_id: str,
    n_buckets: int = 32,
    order_by: str = "meta",
    wave_size: int = 16,
) -> dict:
    """Apply edited documents durably and re-derive only their buckets.

    ``updates``: replacement rows ``(doc_id, spans, meta)`` — the edited
    nested content.  Returns stats including the touched bucket list.
    """
    up = bucketed(updates, n_buckets)
    touched = sorted(
        r["bucket"] for r in up.select("bucket").distinct().collect()
    )
    if not touched:
        return {"status": "noop", "edited_docs": 0, "touched_buckets": []}

    # 1. durable source-of-truth update (the _ocr_results overwrite
    #    analog): append to the overlay with a strictly increasing seq
    #    so the latest edit of a doc wins in read_documents
    append_edits(updates, input_path)

    # 2. re-derive the touched buckets from the merged view, in waves
    done = rewrite_buckets(
        spark, derived_rows(spark, input_path, n_buckets, order_by),
        touched, output_path, manifest_path, run_id, "edited", wave_size,
    )
    n_edited = updates.select("doc_id").distinct().count()
    return {
        "status": "ok",
        "edited_docs": n_edited,
        "touched_buckets": touched,
        "wall_ms": done["wall_ms"],
    }


def delete_documents(
    spark: SparkSession, doc_ids: DataFrame, input_path: str
) -> int:
    """Append tombstones for ``doc_ids`` to the durable edit overlay —
    the source-of-truth half of deletion (the Iceberg ``DELETE WHERE``
    analog on the parquet seam).

    Without this, removing rows from the derived table alone is not a
    delete: any later re-derivation of the doc's bucket (an edit of a
    co-resident doc, a resume, a fresh run) reads the source seam and
    resurrects it.  read_documents filters tombstoned docs out of every
    derivation, and compact_overlay applies them to the base
    permanently.  Returns the number of documents tombstoned."""
    base = spark.read.parquet(input_path)
    tomb = (
        doc_ids.select("doc_id").distinct()
        .withColumn("spans", F.lit(None).cast(base.schema["spans"].dataType))
        .withColumn("meta", F.lit(None).cast(base.schema["meta"].dataType))
        .withColumn("edit_seq", F.lit(_next_edit_seq(spark, input_path)))
        .withColumn("deleted", F.lit(True))
    )
    n = tomb.count()
    if n:
        tomb.write.mode("append").parquet(edits_overlay_path(input_path))
    return n


def compact_overlay(
    spark: SparkSession, input_path: str, n_files: int | None = None
) -> dict:
    """Fold the durable edit overlay into the base documents table.

    The overlay grows by one append per edit batch forever; at scale the
    per-read latest-wins window over it stops being free, so this is the
    maintenance job (the Iceberg analog is snapshot compaction /
    ``rewrite_data_files``; on the parquet seam it is explicit).
    Protocol, concurrent-edit-safe where it can be and documented where
    the seam cannot:

    1. **Snapshot** the overlay's file list first and read exactly those
       files — an edit batch appended while compaction runs is neither
       folded in nor deleted, and still wins afterwards (overlay rows
       beat base rows by construction, independent of what was folded).
    2. Write base ⊕ latest-overlay to a ``_compacting`` temp dir
       (crash here: orphan temp, overwritten next run).
    3. Swap: base → ``_precompact``, temp → base, delete old.  The two
       renames are the seam's non-atomic window (Iceberg makes this one
       snapshot commit); a crash between them is healed by the recovery
       step below on the next call.
    4. Delete only the snapshotted overlay FILES — never the overlay
       directory.  A dir-level delete would race a concurrent append
       (its in-flight ``_temporary`` subtree is invisible to a file
       listing, so "the dir looks empty" proves nothing) and could
       destroy a durable edit; the empty directory is harmless.  A crash
       mid-delete leaves rows whose content was already folded —
       re-applying them over the compacted base is a no-op (idempotent;
       a re-applied tombstone deletes a doc that is already gone).

    Folding applies tombstones permanently: a doc whose latest overlay
    row is a delete is absent from the rewritten base.

    Caller caveat: DataFrames created over ``input_path`` BEFORE
    compaction hold the pre-rewrite file list and fail with
    FILE_NOT_EXIST afterwards — re-read the path (Iceberg's snapshot
    isolation is what removes this hazard on the real seam).
    """
    jvm, fs, base_p = hadoop_fs(spark, input_path)
    old_p = jvm.org.apache.hadoop.fs.Path(input_path + "_precompact")
    tmp_s = input_path + "_compacting"
    tmp_p = jvm.org.apache.hadoop.fs.Path(tmp_s)

    # recovery: a crash between the two swap renames left no base table
    if not fs.exists(base_p) and fs.exists(old_p):
        if not fs.rename(old_p, base_p):
            raise IOError(f"recovery rename failed: {old_p} -> {base_p}")

    data_files = overlay_data_files(spark, input_path)
    if not data_files:
        return {"status": "noop", "folded_edit_rows": 0}

    ov = normalize_overlay(
        spark.read.option("mergeSchema", "true").parquet(*data_files)
    )
    n_rows = ov.count()
    base = spark.read.parquet(input_path).select("doc_id", "spans", "meta")
    merged = overlay_merge(base, ov)
    if n_files is not None:
        merged = merged.coalesce(n_files)
    fs.delete(tmp_p, True)
    merged.write.mode("overwrite").parquet(tmp_s)
    n_docs = spark.read.parquet(tmp_s).count()

    fs.delete(old_p, True)
    if not fs.rename(base_p, old_p):
        raise IOError(f"swap rename failed: {base_p} -> {old_p}")
    if not fs.rename(tmp_p, base_p):
        raise IOError(f"swap rename failed: {tmp_p} -> {base_p}")
    fs.delete(old_p, True)
    for f in data_files:
        fs.delete(jvm.org.apache.hadoop.fs.Path(f), False)
    return {"status": "ok", "folded_edit_rows": n_rows, "docs": n_docs}


def main(argv: list | None = None, spark: SparkSession | None = None):
    """spark-submit entry for the edit-lifecycle jobs::

        spark-submit --py-files ocr_spark.zip -m ocr_spark.jobs.edits \\
            apply   --updates s3://…/edits.parquet --input … --output … \\
                    --manifest … [--run-id …] [--buckets N] [--wave-size N]
        spark-submit … delete  --doc-ids s3://…/ids.parquet --input …
        spark-submit … compact --input … [--n-files N]
    """
    import argparse
    import uuid

    from ocr_spark.session import get_spark

    ap = argparse.ArgumentParser(description="edit lifecycle jobs")
    sub = ap.add_subparsers(dest="cmd", required=True)
    a = sub.add_parser("apply", help="durable edit batch + bucket re-derive")
    a.add_argument("--updates", required=True)
    a.add_argument("--input", required=True)
    a.add_argument("--output", required=True)
    a.add_argument("--manifest", required=True)
    a.add_argument("--run-id", default=f"edit-{uuid.uuid4().hex[:8]}")
    a.add_argument("--buckets", type=int, default=64)
    a.add_argument("--wave-size", type=int, default=16)
    a.add_argument("--order-by", choices=["meta", "offset"], default="meta")
    d = sub.add_parser("delete", help="durable delete (source tombstones)")
    d.add_argument("--doc-ids", required=True,
                   help="parquet path with a doc_id column")
    d.add_argument("--input", required=True)
    c = sub.add_parser("compact", help="fold the overlay into the base")
    c.add_argument("--input", required=True)
    c.add_argument("--n-files", type=int, default=None)
    args = ap.parse_args(argv)

    own = spark is None
    spark = spark or get_spark("ocr-edits")
    if args.cmd == "apply":
        out = apply_edits(
            spark, spark.read.parquet(args.updates), args.input, args.output,
            args.manifest, args.run_id, n_buckets=args.buckets,
            order_by=args.order_by, wave_size=args.wave_size,
        )
    elif args.cmd == "delete":
        out = {
            "deleted": delete_documents(
                spark, spark.read.parquet(args.doc_ids), args.input
            )
        }
    else:
        out = compact_overlay(spark, args.input, n_files=args.n_files)
    print(out)
    if own:
        spark.stop()
    return out


if __name__ == "__main__":
    main()
