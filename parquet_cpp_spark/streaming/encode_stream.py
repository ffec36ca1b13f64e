"""Streaming encode: readStream over arriving token files -> foreachBatch
encode -> chunk + manifest sinks.

The reference is batch-only (its encoders are streaming *accumulators*
within a chunk, ``/root/reference/src/parquet/encoding.h:41-86``); the
engine's streaming mode wraps the same encode pipeline in Structured
Streaming. ``foreachBatch`` is the idiomatic sink here because each
micro-batch must write two coordinated outputs (chunks + manifest rows) —
exactly the checkpoint/resume unit the batch job uses, so a restarted
stream resumes from the last committed micro-batch (Spark's checkpoint
tracks the input files; the manifest tracks our partitions).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession, functions as F

from ..operators.encode_arrow import encode_scan_local
from ..plans.encode_job import manifest_from_chunks

TOKEN_SCHEMA = ("doc_id string, tokens array<int>, n_tok int, source string")


def start_encode_stream(spark: SparkSession, input_dir: str, out_dir: str,
                        checkpoint_dir: str | None = None,
                        trigger_available_now: bool = True,
                        max_files_per_trigger: int = 16):
    """Start (and return) the streaming query. With
    ``trigger_available_now`` the stream drains everything present and
    stops — the batch-parity mode the tests use; without it, it runs
    continuously with ``maxFilesPerTrigger`` rate control."""
    chunks_path = os.path.join(out_dir, "chunks")
    manifest_path = os.path.join(out_dir, "manifest")
    checkpoint_dir = checkpoint_dir or os.path.join(out_dir, "_checkpoint")

    stream = (spark.readStream.schema(TOKEN_SCHEMA)
              .option("maxFilesPerTrigger", str(max_files_per_trigger))
              .parquet(input_dir))

    def sink(batch_df, batch_id: int):
        chunks = encode_scan_local(batch_df)
        chunks.persist()
        try:
            chunks.write.mode("append").parquet(chunks_path)
            (manifest_from_chunks(chunks)
             .withColumn("batch_id", F.lit(batch_id))
             .write.mode("append").parquet(manifest_path))
        finally:
            chunks.unpersist()

    writer = (stream.writeStream.foreachBatch(sink)
              .option("checkpointLocation", checkpoint_dir))
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_parquet_emit_stream(spark: SparkSession, input_dir: str,
                              out_dir: str,
                              checkpoint_dir: str | None = None,
                              trigger_available_now: bool = True,
                              max_files_per_trigger: int = 16,
                              files_per_batch: int | None = None,
                              snapshot: bool = True,
                              **writer_kw):
    """Streaming ENGINE-PARQUET emission: readStream over arriving token
    files -> foreachBatch -> executors write engine-format PAR1 files
    (``sources.parquet_sink.emit_parquet_dataset``) + a manifest.

    Idempotency across micro-batch retries: the batch is hash-partitioned
    on doc_id AND sorted within partitions (shuffle fetch order is
    nondeterministic — without the sort, a replayed task could produce
    different bytes, a different content sha, and a DUPLICATE data file),
    so files are named ``b{batch_id}-part-{content_sha}.parquet`` and a
    replayed batch rewrites the same bytes to the same names; the
    manifest is written with dynamic partition overwrite on batch_id, so
    a batch replayed after a crash between manifest write and checkpoint
    commit REPLACES its own manifest rows instead of appending
    duplicates. The replay guarantee holds for one writer version: a
    batch written but not committed before an upgrade that changes the
    encoder's choices (the sink's dictionary-everywhere pages gave way
    to the codec selector) replays under new names, next to the files of
    its first run, so drain the stream before upgrading. The output dir
    is a plain parquet dataset Spark/DuckDB scan directly, growing one
    micro-batch at a time.

    ``snapshot=True`` additionally commits each micro-batch's manifest
    rows to the dataset's snapshot log (``sources/snapshots.py``) —
    readers planning from the log (``record_assembly.
    read_parquet_dataset``, ``snapshots.read_snapshot``) see whole
    committed batches ATOMICALLY, never a batch's files mid-write;
    a replayed batch re-emits identical bytes under identical names, so
    its re-commit is a listing no-op and mints no duplicate version."""
    from ..sources.parquet_sink import emit_parquet_dataset

    manifest_path = os.path.join(out_dir, "_manifest")
    data_dir = os.path.join(out_dir, "data")
    checkpoint_dir = checkpoint_dir or os.path.join(out_dir, "_checkpoint")

    stream = (spark.readStream.schema(TOKEN_SCHEMA)
              .option("maxFilesPerTrigger", str(max_files_per_trigger))
              .parquet(input_dir))

    def sink(batch_df, batch_id: int):
        n = files_per_batch or max(
            1, batch_df.sparkSession.sparkContext.defaultParallelism)
        part = batch_df.repartition(n, "doc_id") \
            .sortWithinPartitions("doc_id")
        man = emit_parquet_dataset(part, data_dir,
                                   name_prefix=f"b{batch_id:06d}-",
                                   **writer_kw)
        if snapshot:
            # materialize the (tiny, one-per-file) manifest rows on the
            # driver: data files are written HERE, then the same rows
            # feed both the manifest parquet and the snapshot commit
            from ..sources.snapshots import commit_snapshot
            rows = man.collect()
            spark_b = batch_df.sparkSession
            man = spark_b.createDataFrame(rows, man.schema)
            (man.withColumn("batch_id", F.lit(batch_id))
                .coalesce(1).write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("batch_id").parquet(manifest_path))
            if rows:
                commit_snapshot(data_dir, rows)
        else:
            (man.withColumn("batch_id", F.lit(batch_id))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("batch_id").parquet(manifest_path))

    writer = (stream.writeStream.foreachBatch(sink)
              .option("checkpointLocation", checkpoint_dir))
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
