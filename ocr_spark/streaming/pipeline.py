"""Structured Streaming mode of the extraction engine.

The reference is batch-per-document over a Celery queue (SURVEY.md §2.11:
no true streaming operators), with prefetch-1 / late-ack / priority
scheduling (server/celery_app.py:72-79).  The Spark restatement:

* the task queue       → a file-source stream over the documents table
  (``maxFilesPerTrigger`` = prefetch analog)
* per-page tasks       → the same ``extract_documents`` Arrow kernel,
  applied per micro-batch via ``foreachBatch`` (identical code path as
  batch — one engine, two drivers)
* progress heartbeats (celery_app.py:1170-1180) → StreamingQuery progress +
  the manifest rows written by the sink
* the daily retention job (celery_app.py:1469-1505) → out of scope here
  (table maintenance), noted for parity.

Watermarked event-time aggregation is included for the streaming-agg
surface: span counts per (window, kind) with late-data tolerance — the
streaming twin of relational.events_windowed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_spark.operators.extract import extract_documents


def stream_documents(
    spark: SparkSession,
    input_path: str,
    schema_source_path: str | None = None,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """readStream over a parquet directory of contract-table files.
    Schema is inferred from a static read (streams need explicit schema)."""
    schema = spark.read.parquet(schema_source_path or input_path).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_path)
    )


def run_extraction_stream(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    order_by: str = "offset",
    await_termination: bool = True,
):
    """Streaming extraction: each micro-batch runs the batch kernel and
    lands under the output table.  ``foreachBatch`` keeps one code path for
    batch and stream.  Exactly-once: the stream checkpoint deduplicates
    triggers, and the per-batch write is idempotent because each batch
    overwrites its own ``batch_id=<id>/`` partition directory — a replay of
    a batch that failed between write and checkpoint commit rewrites the
    same directory instead of appending duplicates.  (A plain append here
    would be at-least-once.)  Readers scan ``output_path`` and see
    ``batch_id`` as a discovered partition column."""
    src = stream_documents(spark, input_path)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        out = extract_documents(batch_df, order_by=order_by)
        out.write.mode("overwrite").parquet(
            f"{output_path}/batch_id={batch_id}"
        )

    q = (
        src.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    if await_termination:
        q.awaitTermination()
    return q


def run_decontaminate_stream(
    spark: SparkSession,
    input_path: str,
    eval_docs: DataFrame,
    output_path: str,
    checkpoint_path: str,
    n: int = 4,
    k: int = 3,
    m: int = 1 << 20,
    await_termination: bool = True,
):
    """Streaming benchmark decontamination — the Bloom probe as a
    stream-static pattern: training documents arrive as a file stream,
    the eval suite is compressed ONCE into its position filter
    (:func:`~ocr_spark.operators.contamination.bloom_eval_filter`,
    ≤ 8 MB) and persisted, and every micro-batch runs the SAME batch
    operator against that static side via ``foreachBatch`` — one engine,
    two drivers, identical verdicts (asserted stream==batch in tests).

    This is the shape a 100 TB ingest-time hygiene gate wants: the eval
    filter is built once per eval-suite release, broadcast to every
    micro-batch's executors, and the stream never shuffles gram strings
    (the per-doc verdict aggregation is batch-local).  Idempotence:
    per-batch ``batch_id=<id>/`` dynamic overwrite, exactly like
    :func:`run_extraction_stream`.
    """
    from ocr_spark.operators.contamination import (
        bloom_decontaminate,
        bloom_eval_filter,
    )

    filt = bloom_eval_filter(eval_docs, n=n, k=k, m=m).persist()
    filt.count()  # materialize once, before the first trigger
    src = stream_documents(spark, input_path)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        out = bloom_decontaminate(batch_df, n=n, k=k, m=m, filt=filt)
        out.write.mode("overwrite").parquet(
            f"{output_path}/batch_id={batch_id}"
        )

    q = (
        src.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    try:
        if await_termination:
            q.awaitTermination()
    finally:
        if await_termination:
            filt.unpersist()
    return q


def fold_stream_output(
    spark: SparkSession,
    stream_output_path: str,
    output_path: str,
    manifest_path: str,
    run_id: str,
    input_path: str | None,
    n_buckets: int = 32,
) -> dict:
    """Fold the streaming extraction's ``batch_id=`` partitions into the
    batch job's bucketed table — one table, two drivers.

    The stream lands per-micro-batch directories (idempotent overwrite
    per batch id); the batch job's readers, edit/retention jobs and
    manifest all speak the ``bucket=`` layout.  This maintenance job
    merges the accumulated stream rows in (latest batch_id wins per
    doc), rewrites only the touched buckets in one wave of the batch
    jobs' extract_job.rewrite_buckets (``status='stream-fold'`` commit),
    and deletes exactly the batch directories it folded (snapshot-first,
    so micro-batches landing DURING the fold survive to the next one; a
    crash after the bucket write re-folds identical rows — idempotent).

    ``input_path`` is REQUIRED (no default) because forgetting it is a
    silent correctness bug, not a tuning choice: the stream extracts RAW
    input files, never the overlay seam, so a stream row for any
    overlay-touched doc is stale by construction — folding it would
    resurrect a tombstoned doc or revert an edit whose bucket
    apply_edits already re-derived.  Those rows are dropped (their
    correct state is already in the table, or legitimately absent).
    Pass ``None`` explicitly only when the source genuinely has no edit
    overlay."""
    from pyspark.sql.window import Window

    from ocr_spark.jobs.extract_job import (
        bucketed, hadoop_fs, read_overlay, rewrite_buckets,
    )

    jvm, fs, root = hadoop_fs(spark, stream_output_path)
    if not fs.exists(root):
        return {"status": "noop", "folded_docs": 0, "touched_buckets": []}
    snapshot = [
        f.getPath()
        for f in fs.listStatus(root)
        if f.isDirectory() and f.getPath().getName().startswith("batch_id=")
    ]
    if not snapshot:
        return {"status": "noop", "folded_docs": 0, "touched_buckets": []}

    inc = spark.read.option("basePath", stream_output_path).parquet(
        *[p.toString() for p in snapshot]
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("batch_id"))
    latest = (
        inc.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn", "batch_id")
    )
    if input_path is not None:
        ov = read_overlay(spark, input_path)
        if ov is not None:
            latest = latest.join(
                ov.select("doc_id").distinct(), "doc_id", "left_anti"
            )
    up = bucketed(latest, n_buckets).persist()
    touched = sorted(
        r["bucket"] for r in up.select("bucket").distinct().collect()
    )
    n_docs = up.count()
    if not touched:
        up.unpersist()
        for p in snapshot:
            fs.delete(p, True)  # everything pending was overlay-stale
        return {"status": "noop", "folded_docs": 0, "touched_buckets": []}

    try:
        _, out_fs, out_p = hadoop_fs(spark, output_path)
        if out_fs.exists(out_p):
            # existence checked explicitly — a transient READ error here
            # must raise, not silently drop co-resident rows from
            # touched buckets
            existing = spark.read.parquet(output_path).where(
                F.col("bucket").isin(touched)
            )
            keep = existing.join(up.select("doc_id"), "doc_id", "left_anti")
            merged = keep.unionByName(up)
        else:
            merged = up
        # one wave (wave_size None), so the wave is exactly ``touched``
        done = rewrite_buckets(
            spark, lambda wave: merged, touched, output_path, manifest_path,
            run_id, "stream-fold", None,
        )
    finally:
        up.unpersist()
    for p in snapshot:
        fs.delete(p, True)
    return {
        "status": "ok",
        "folded_docs": n_docs,
        "folded_batches": len(snapshot),
        "touched_buckets": touched,
        "wall_ms": done["wall_ms"],
    }


def run_edits_stream(
    spark: SparkSession,
    edits_path: str,
    input_path: str,
    output_path: str,
    manifest_path: str,
    checkpoint_path: str,
    n_buckets: int = 32,
    order_by: str = "meta",
    await_termination: bool = True,
):
    """Streaming edit ingestion — §3.3's submit-text loop as a stream
    (the reference editor POSTs one correction at a time; at fleet scale
    those arrive continuously).  Editor-submitted replacement rows
    ``(doc_id, spans, meta)`` land as parquet files under
    ``edits_path``; each micro-batch goes through the SAME durable
    ``apply_edits`` path as batch edits: overlay append first, then
    touched-bucket re-derivation — one code path, two drivers.

    Exactly-once end state without an idempotent overlay append: a batch
    replayed after a crash re-appends its rows with a LATER edit_seq and
    identical content, so latest-wins makes the replay semantically a
    no-op, and the bucket re-derivation is a deterministic overwrite.
    The overlay may hold duplicate rows until compact_overlay folds it;
    the derived table never does."""
    from ocr_spark.jobs.edits import apply_edits

    schema = spark.read.parquet(input_path).schema
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(edits_path)
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        apply_edits(
            batch_df.sparkSession,
            batch_df,
            input_path,
            output_path,
            manifest_path,
            run_id=f"stream-edit-{batch_id}",
            n_buckets=n_buckets,
            order_by=order_by,
        )

    q = (
        src.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    if await_termination:
        q.awaitTermination()
    return q


def streaming_span_stats(
    events: DataFrame,
    watermark: str = "10 minutes",
    window: str = "5 minutes",
) -> DataFrame:
    """Watermarked tumbling-window aggregation over a streaming events frame
    with (ts timestamp, event_type string, value double): late data beyond
    the watermark is dropped, state is bounded — the streaming agg surface
    (SURVEY.md §2.11 mapping)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("sum_value"))
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def session_stats_stream(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Native gap-based session windows (``F.session_window``) — the
    streaming counterpart of the batch gaps-and-islands ``sessionize``
    (operators/relational.py): per user, events whose ``[ts, ts+gap)``
    windows overlap merge into one session; the aggregate is incremental
    (MergingSessions state operator), and the watermark bounds state —
    a session's state is dropped once the watermark passes its close,
    so open sessions never accumulate forever.

    Boundary semantics MATCH the batch operator: the session extension
    test is inclusive (an event exactly ``gap`` after the previous one
    merges — touching windows coalesce), just as the batch ``> gap``
    split test keeps exactly-gap events together — pinned by test.

    Works identically on a batch frame (session_window is a plain
    groupBy key there; the watermark is only attached to streaming
    inputs), which is what the stream==batch test compares against.
    """
    if events.isStreaming:
        events = events.withWatermark("ts", watermark)
    return (
        events.groupBy("user_id", F.session_window("ts", gap).alias("win"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("win.start").alias("sess_start"),
            F.col("win.end").alias("sess_end"),
            "n_events",
            "sum_value",
        )
    )


def interval_join_streams(
    submissions: DataFrame,
    results: DataFrame,
    max_lag: str = "30 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermarked stream-stream interval join — the remaining classic
    Structured Streaming surface (§2.11): pair each OCR *result* with the
    *submission* it answers, provided the result's event time falls
    within ``[submit_ts, submit_ts + max_lag]``.

    Inputs: ``submissions(doc_id, submit_ts timestamp)`` and
    ``results(doc_id, result_ts timestamp, n_spans)`` — both streaming.
    Both sides carry a watermark AND the join condition bounds
    ``result_ts`` relative to ``submit_ts`` from both directions, which
    is exactly what Spark needs to compute how long each side's state
    must be retained; without the interval bound the join state would
    grow forever.  Inner join: unanswered submissions age out of state
    silently (the resume/manifest seam, not the stream, owns
    retry/timeout bookkeeping — jobs/extract_job.py).

    Reference tie-in: the Celery result backend correlates task results
    to submitted page tasks by task id (server/celery_app.py result
    bookkeeping); this is its event-time streaming restatement.
    """
    s = submissions.withWatermark("submit_ts", watermark).alias("s")
    r = results.withWatermark("result_ts", watermark).alias("r")
    return (
        s.join(
            r,
            F.expr(
                "s.doc_id = r.doc_id"
                " AND r.result_ts >= s.submit_ts"
                f" AND r.result_ts <= s.submit_ts + interval {max_lag}"
            ),
        )
        .select(
            F.col("s.doc_id").alias("doc_id"),
            F.col("s.submit_ts").alias("submit_ts"),
            F.col("r.result_ts").alias("result_ts"),
            F.col("r.n_spans").alias("n_spans"),
            (
                F.col("r.result_ts").cast("long")
                - F.col("s.submit_ts").cast("long")
            ).alias("lag_sec"),
        )
    )


def main(argv: list | None = None, spark: SparkSession | None = None):
    """spark-submit entry for the streaming surfaces::

        spark-submit … -m ocr_spark.streaming.pipeline \\
            extract --input … --output … --checkpoint …
        spark-submit … edits   --edits …  --input … --output … \\
                               --manifest … --checkpoint … [--buckets N]
        spark-submit … fold    --stream-output … --output … --manifest … \\
                               [--input …] [--buckets N]

    ``extract``/``edits`` run availableNow triggers (drain the backlog,
    then stop — the cron-friendly shape); ``fold`` merges the stream's
    batch_id= layout into the bucketed table (pass --input whenever the
    source has an edit overlay, see fold_stream_output).
    """
    import argparse
    import uuid

    from ocr_spark.session import get_spark

    ap = argparse.ArgumentParser(description="streaming jobs")
    sub = ap.add_subparsers(dest="cmd", required=True)
    x = sub.add_parser("extract")
    x.add_argument("--input", required=True)
    x.add_argument("--output", required=True)
    x.add_argument("--checkpoint", required=True)
    x.add_argument("--order-by", choices=["meta", "offset"], default="meta")
    e = sub.add_parser("edits")
    e.add_argument("--edits", required=True)
    e.add_argument("--input", required=True)
    e.add_argument("--output", required=True)
    e.add_argument("--manifest", required=True)
    e.add_argument("--checkpoint", required=True)
    e.add_argument("--buckets", type=int, default=64)
    f = sub.add_parser("fold")
    f.add_argument("--stream-output", required=True)
    f.add_argument("--output", required=True)
    f.add_argument("--manifest", required=True)
    g = f.add_mutually_exclusive_group(required=True)
    g.add_argument("--input", default=None,
                   help="source documents table (its edit overlay makes "
                        "pending stale stream rows droppable)")
    g.add_argument("--no-overlay", action="store_true",
                   help="assert the source has no edit overlay")
    f.add_argument("--buckets", type=int, default=64)
    f.add_argument("--run-id", default=f"fold-{uuid.uuid4().hex[:8]}")
    args = ap.parse_args(argv)

    own = spark is None
    spark = spark or get_spark("ocr-streaming")
    if args.cmd == "extract":
        run_extraction_stream(
            spark, args.input, args.output, args.checkpoint,
            order_by=args.order_by,
        )
        out = {"status": "drained"}
    elif args.cmd == "edits":
        run_edits_stream(
            spark, args.edits, args.input, args.output, args.manifest,
            args.checkpoint, n_buckets=args.buckets,
        )
        out = {"status": "drained"}
    else:
        out = fold_stream_output(
            spark, args.stream_output, args.output, args.manifest,
            args.run_id, args.input, n_buckets=args.buckets,
        )
    print(out)
    if own:
        spark.stop()
    return out


if __name__ == "__main__":
    main()
