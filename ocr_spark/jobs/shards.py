"""Training-shard writer — the durable OUTPUT leg of the training-data
pipeline: packed sequences land in deterministic, size-balanced shard
files with a per-shard token-count manifest, so a downstream trainer can
address, checksum, and stream shards independently of how many Spark
tasks produced them.

Determinism contract: a sequence's shard is a pure function of its
identity — ``md5(source | win_id) % n_shards`` — never of task layout,
input file order, or executor count.  Re-running the job over the same
input reproduces byte-identical shard MEMBERSHIP (the per-shard row
sets; file-internal row order is per-task), so the write is made
idempotent with dynamic partition overwrite exactly like the extraction
job's bucket writes (extract_job.py): a re-run or a crash-retry
overwrites each shard directory in place instead of appending
duplicates.

Scale shape: ONE shuffle — ``repartition(n_shards, shard)`` on the
md5-uniform shard key — and the manifest aggregation reuses that same
partitioning (groupBy shard after repartition(shard) needs no second
exchange under AQE).  The manifest's per-shard fingerprint is an
order-invariant bigint sum of 48-bit sequence-hash prefixes, so partial
aggregation order can never change it; at 10^12 documents the manifest
stays n_shards rows.

Reference tie-in: the per-shard manifest mirrors the reference's export
bookkeeping concept (export.py manifest + checksums, E5/E8) applied to
the training-output surface; beyond-reference scope otherwise
(SURVEY.md §2 LLM-data table).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_spark.operators.packing import pack_sequences


def seq_shard_id(source, win_id, n_shards: int):
    """Deterministic shard of a packed sequence: bigint of the first 12
    md5 hex chars of ``source|win_id``, mod ``n_shards``.  Pure Catalyst;
    mirrored by the DuckDB twin in __spark_entry__."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat_ws("|", source, win_id.cast("string"))), 1, 12
            ),
            16,
            10,
        ).cast("bigint")
        % F.lit(int(n_shards))
    ).alias("shard")


def shard_assign(seqs: DataFrame, n_shards: int) -> DataFrame:
    """Packed sequences (``source, win_id, n_tokens, text``) → same rows
    plus the deterministic ``shard`` column."""
    return seqs.select(
        seq_shard_id(F.col("source"), F.col("win_id"), n_shards),
        "source",
        "win_id",
        "n_tokens",
        "text",
    )


def shard_stats(seqs_with_shard: DataFrame) -> DataFrame:
    """Per-shard manifest rows: ``shard, n_seqs, n_tokens, fp_sum`` —
    ``fp_sum`` is the order-invariant content fingerprint (bigint sum of
    48-bit md5 prefixes of each sequence text; 2^48·n_seqs stays far
    inside bigint)."""
    fp = F.conv(F.substring(F.md5(F.col("text")), 1, 12), 16, 10).cast(
        "bigint"
    )
    return seqs_with_shard.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_seqs"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        F.sum(fp).cast("bigint").alias("fp_sum"),
    )


def write_training_shards(
    spark: SparkSession,
    docs: DataFrame,
    out_path: str,
    n_shards: int = 64,
    seq_len: int = 128,
) -> DataFrame:
    """Pack ``docs`` and write ``out_path/data/shard=K/`` parquet plus
    ``out_path/manifest/`` (one row per shard).  Idempotent: dynamic
    partition overwrite per shard directory; the manifest derives from
    the data and is rewritten whole.  Returns the manifest DataFrame
    (read back from disk, so the caller sees exactly what a trainer
    would)."""
    seqs = shard_assign(pack_sequences(docs, seq_len=seq_len), n_shards)
    staged = seqs.repartition(n_shards, "shard")
    (
        staged.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("shard")
        .parquet(f"{out_path}/data")
    )
    # manifest from the WRITTEN table, not the in-flight plan: it attests
    # the files a trainer will read, surviving any write-side surprise
    written = spark.read.parquet(f"{out_path}/data")
    shard_stats(written).write.mode("overwrite").parquet(
        f"{out_path}/manifest"
    )
    return spark.read.parquet(f"{out_path}/manifest")


def verify_shards(spark: SparkSession, out_path: str) -> bool:
    """Recompute shard stats from the data files and compare with the
    stored manifest — the trainer-side integrity check.  True iff every
    shard's (n_seqs, n_tokens, fp_sum) matches exactly."""
    data = spark.read.parquet(f"{out_path}/data")
    manifest = spark.read.parquet(f"{out_path}/manifest")
    recomputed = shard_stats(data)
    cols = ["shard", "n_seqs", "n_tokens", "fp_sum"]
    matched = recomputed.join(manifest, cols).count()
    return matched == manifest.count() == recomputed.count()
