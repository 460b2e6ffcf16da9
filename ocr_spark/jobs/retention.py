"""Retention / expiry job — the Spark restatement of the reference's
daily cleanup cron (SURVEY.md §2.11: redbeat crontab deletes private
spaces older than ``MAX_PRIVATE_SPACE_AGE`` days,
server/celery_app.py:1469-1505; the Iceberg analog is
``expire_snapshots`` + a delete, SURVEY.md §2.11).

On the parquet + manifest seam, deletion is a bucket rewrite: find the
hash buckets that contain any expired row and rewrite exactly those
buckets without the expired rows through extract_job.rewrite_buckets
(waves, a bucket left empty loses its directory, ``status='retention'``
manifest rows committed per wave).  Buckets with nothing to expire are
never rewritten, and a re-run with the same predicate is a no-op (no
matching buckets → no writes) — the job is idempotent.
"""

from __future__ import annotations

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F

from ocr_spark.jobs.extract_job import rewrite_buckets


def expire_where(
    spark: SparkSession,
    output_path: str,
    manifest_path: str,
    run_id: str,
    predicate: Column,
    wave_size: int = 16,
    input_path: str | None = None,
) -> dict:
    """Delete every row of the bucketed output table matching
    ``predicate``, rewriting only the buckets that contain matches.

    The table must be the extract_job layout (``bucket`` partition
    column).  Returns stats: expired row count and touched buckets.

    Pass ``input_path`` (the source documents table) to make the delete
    durable: tombstones for the expired doc_ids are appended to the
    source's edit overlay BEFORE the derived rewrite, so no later bucket
    re-derivation (edit, resume, fresh run) can resurrect them — the
    reference cron deletes the whole private space, source included
    (celery_app.py:1469-1505).  Without it only the derived table is
    cleaned and the delete is NOT durable against re-derivation.

    Self-overwrite note: each wave reads a bucket and dynamically
    overwrites the same bucket; the staged-commit protocol makes this
    safe within one job (all task reads finish before the commit swaps
    files), but a crash exactly between a wave's commit and its manifest
    append re-deletes idempotently on re-run (predicate matches nothing
    the second time).  On Iceberg this whole job is a single
    ``DELETE WHERE`` + ``expire_snapshots`` (SURVEY.md §2.11).
    """
    tbl = spark.read.parquet(output_path)
    # three-valued logic made explicit: NULL predicate = NOT expired.
    # Without the coalesce, rows where the predicate evaluates NULL fall
    # out of BOTH hits (where p) and keep (where ~p) — silently deleted
    # and never counted.
    pred = F.coalesce(predicate, F.lit(False))
    hits = tbl.where(pred)
    touched = sorted(
        r["bucket"] for r in hits.select("bucket").distinct().collect()
    )
    n_expired = hits.count()
    if not touched:
        return {"status": "noop", "expired": 0, "touched_buckets": []}

    if input_path is not None:
        # durable half first (source-of-truth ordering, same as
        # apply_edits): tombstone the source overlay BEFORE the derived
        # rewrite so a crash in between leaves the delete pending in the
        # seam, not silently reverted
        from ocr_spark.jobs.edits import delete_documents

        delete_documents(spark, hits.select("doc_id"), input_path)

    done = rewrite_buckets(
        spark,
        lambda wave: tbl.where(F.col("bucket").isin(wave)).where(~pred),
        touched, output_path, manifest_path, run_id, "retention", wave_size,
    )
    return {
        "status": "ok",
        "expired": n_expired,
        "touched_buckets": touched,
        "wall_ms": done["wall_ms"],
    }


def main(argv: list | None = None, spark: SparkSession | None = None):
    """spark-submit entry for the retention cron::

        spark-submit --py-files ocr_spark.zip -m ocr_spark.jobs.retention \\
            --output s3://…/spans_out --manifest s3://…/_manifests \\
            --where "doc_text like '%DRAFT%'" [--input s3://…/documents]

    ``--where`` is a SQL predicate over the derived table; pass
    ``--input`` to make the delete durable (source tombstones).
    """
    import argparse
    import uuid

    from ocr_spark.session import get_spark

    ap = argparse.ArgumentParser(description="retention / expiry job")
    ap.add_argument("--output", required=True)
    ap.add_argument("--manifest", required=True)
    ap.add_argument("--where", required=True)
    ap.add_argument("--input", default=None)
    ap.add_argument("--run-id", default=f"ret-{uuid.uuid4().hex[:8]}")
    ap.add_argument("--wave-size", type=int, default=16)
    args = ap.parse_args(argv)

    own = spark is None
    spark = spark or get_spark("ocr-retention")
    out = expire_where(
        spark, args.output, args.manifest, args.run_id, F.expr(args.where),
        wave_size=args.wave_size, input_path=args.input,
    )
    print(out)
    if own:
        spark.stop()
    return out


if __name__ == "__main__":
    main()
