"""Streaming encode + bloom point-lookup tests."""

import os

import numpy as np
import pytest

pyspark = pytest.importorskip("pyspark")

from pyspark.sql import functions as F

from parquet_cpp_spark.operators.encode_arrow import encode_df_arrow
from parquet_cpp_spark.operators.decode_arrow import decode_chunks_arrow
from parquet_cpp_spark.plans import lookup
from parquet_cpp_spark.sources import tokens as tokens_src
from parquet_cpp_spark.streaming.encode_stream import start_encode_stream

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    from parquet_cpp_spark.session import get_spark
    return get_spark(master="local[4]", app_name="pcs-stream",
                     shuffle_partitions=4)


def test_streaming_encode_matches_batch(spark, tmp_path):
    src = tokens_src.tokens_from_documents(spark, SF_DIR, 4) \
        .select("doc_id", "tokens", "n_tok", "source")
    in_dir = str(tmp_path / "in")
    # two separate file drops -> two micro-batch inputs
    src.filter(F.col("doc_id") < "3").write.parquet(in_dir)
    src.filter(F.col("doc_id") >= "3").write.mode("append").parquet(in_dir)

    out = str(tmp_path / "out")
    q = start_encode_stream(spark, in_dir, out, max_files_per_trigger=2)
    q.awaitTermination(120)

    chunks = spark.read.parquet(os.path.join(out, "chunks"))
    decoded = decode_chunks_arrow(chunks)
    got = sorted((r.doc_id, tuple(r.tokens)) for r in decoded.collect())
    want = sorted((r.doc_id, tuple(r.tokens)) for r in src.collect())
    assert got == want

    manifest = spark.read.parquet(os.path.join(out, "manifest"))
    assert manifest.count() == chunks.select("part_id").distinct().count()

    # restart with nothing new: stream must be a no-op (checkpoint resume)
    q2 = start_encode_stream(spark, in_dir, out)
    q2.awaitTermination(120)
    assert spark.read.parquet(os.path.join(out, "chunks")).count() == \
        chunks.count()


def test_point_lookup_prunes_and_finds(spark):
    src = tokens_src.tokens_from_documents(spark, SF_DIR, 8)
    chunks = encode_df_arrow(src, 8).cache()
    try:
        surviving = lookup.prune_parts(chunks, [("doc_id", "==", "42")])
        n_total = chunks.select("part_id").distinct().count()
        n_kept = len(surviving)
        assert 1 <= n_kept < n_total  # pruning actually prunes
        rows = lookup.point_lookup(chunks, "42").collect()
        assert len(rows) == 1 and rows[0].doc_id == "42"
        # absent key: bloom + stats should prune everything or find nothing
        assert lookup.point_lookup(chunks, "no-such-doc").count() == 0
        # a cached DataFrame is no bare file relation: the lookup maps
        # over its cached rows through the part_id filter
        assert lookup._local_chunk_files(chunks) is None
        plan = lookup.point_lookup(chunks, "42")._jdf.queryExecution() \
            .executedPlan().toString()
        assert "InMemoryTableScan" in plan and "part_id" in plan, plan
        assert "Filter" in plan and "Generate" not in plan, plan
    finally:
        chunks.unpersist()


def test_streaming_parquet_emission(spark, tmp_path):
    """Streaming engine-parquet emission: micro-batches land as
    engine-written PAR1 files that Spark's JVM reader scans directly;
    content equals the batch source; a checkpoint-resumed restart with no
    new input adds nothing; manifest rows carry batch ids and checksums
    that match the files on disk."""
    import hashlib

    from parquet_cpp_spark.streaming.encode_stream import \
        start_parquet_emit_stream

    src = tokens_src.tokens_from_documents(spark, SF_DIR, 4) \
        .select("doc_id", "tokens", "n_tok", "source")
    in_dir = str(tmp_path / "in")
    src.filter(F.col("doc_id") < "3").write.parquet(in_dir)
    src.filter(F.col("doc_id") >= "3").write.mode("append").parquet(in_dir)

    out = str(tmp_path / "out")
    q = start_parquet_emit_stream(spark, in_dir, out,
                                  max_files_per_trigger=2,
                                  files_per_batch=2)
    q.awaitTermination(120)

    data = spark.read.parquet(os.path.join(out, "data"))
    got = sorted((r.doc_id, tuple(r.tokens)) for r in data.collect())
    want = sorted((r.doc_id, tuple(r.tokens)) for r in src.collect())
    assert got == want

    man = spark.read.parquet(os.path.join(out, "_manifest")).collect()
    assert {r.batch_id for r in man} >= {0}
    for r in man:
        with open(r.file, "rb") as fh:
            assert hashlib.sha256(fh.read()).hexdigest() == r.checksum
    data_dir = os.path.join(out, "data")
    n_files = len([f for f in os.listdir(data_dir)
                   if f.endswith(".parquet")])
    assert n_files == len(man)

    # per-batch snapshot commits: one version per micro-batch, the
    # current version lists every emitted file, and a log-planned read
    # equals the directory scan
    from parquet_cpp_spark.sources import snapshots as snap
    versions = snap.list_versions(data_dir)
    assert len(versions) == len({r.batch_id for r in man})
    cur = snap.load_snapshot(data_dir)
    assert cur["total_files"] == n_files
    assert snap.read_snapshot(spark, data_dir).count() == data.count()

    # checkpoint resume: nothing new -> no new files, no new snapshot
    q2 = start_parquet_emit_stream(spark, in_dir, out)
    q2.awaitTermination(120)
    assert len([f for f in os.listdir(data_dir)
                if f.endswith(".parquet")]) == n_files
    assert snap.list_versions(data_dir) == versions
