"""End-to-end Spark round-trip tests (FIXTURES F4/F5): tokens table ->
repartition -> applyInPandas encode -> chunk DF -> decode -> per-row token
array equality (the reference's universal oracle, encoding-test.cc:218-229),
plus size-vs-pyarrow and manifest resume."""

import io
import os
import shutil

import numpy as np
import pytest

pyspark = pytest.importorskip("pyspark")

from pyspark.sql import functions as F

from parquet_cpp_spark.plans import encode_job
from parquet_cpp_spark.properties import WriterProperties
from parquet_cpp_spark.sources import tokens as tokens_src

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    from parquet_cpp_spark.session import get_spark
    s = get_spark(master="local[4]", app_name="pcs-tests",
                  shuffle_partitions=4)
    yield s


def _collect_sorted(df, cols=("doc_id", "tokens", "n_tok", "source")):
    rows = df.select(*cols).collect()
    return sorted((r.doc_id, tuple(r.tokens), r.n_tok, r.source)
                  for r in rows)


def test_roundtrip_auto(spark):
    src = tokens_src.tokens_from_documents(spark, SF_DIR, num_parts=8)
    chunks = encode_job.encode_pipeline(src, 8)
    decoded = encode_job.decode_pipeline(chunks)
    assert _collect_sorted(decoded) == _collect_sorted(src)


@pytest.mark.parametrize("codec", ["PLAIN", "RLE", "DELTA_BINARY_PACKED",
                                   "RLE_DICTIONARY"])
def test_roundtrip_forced_token_codec(spark, codec):
    src = tokens_src.tokens_from_documents(spark, SF_DIR, num_parts=4)
    chunks = encode_job.encode_pipeline(
        src, 4, props=WriterProperties(codec_overrides={"tokens": codec}))
    got = {r.col: r.codec for r in
           chunks.select("col", "codec").distinct().collect()}
    assert got["tokens"] == codec
    decoded = encode_job.decode_pipeline(chunks)
    assert _collect_sorted(decoded) == _collect_sorted(src)


def test_roundtrip_fsst_strings(spark):
    src = tokens_src.tokens_from_documents(spark, SF_DIR, num_parts=4)
    chunks = encode_job.encode_pipeline(
        src, 4, props=WriterProperties(
            codec_overrides={"doc_id": "FSST", "source": "FSST"}))
    decoded = encode_job.decode_pipeline(chunks)
    assert _collect_sorted(decoded) == _collect_sorted(src)


def test_chunk_metadata_matches_sql_stats(spark):
    """Chunk min/max/n_values vs a plain SQL aggregation (stats oracle,
    statistics-test.cc:285-308 analog)."""
    src = tokens_src.tokens_from_documents(spark, SF_DIR, num_parts=8)
    chunks = encode_job.encode_pipeline(src, 8).cache()
    meta = {r.part_id: (r.n_values, int(r.min_val), int(r.max_val))
            for r in chunks.filter(F.col("col") == "tokens").collect()}
    expect = {r.part_id: (r.nv, r.mn, r.mx) for r in
              src.select("part_id", F.explode("tokens").alias("t"))
              .groupBy("part_id")
              .agg(F.count("t").alias("nv"), F.min("t").alias("mn"),
                   F.max("t").alias("mx")).collect()}
    for pid, (nv, mn, mx) in expect.items():
        assert meta[pid] == (nv, mn, mx), pid
    chunks.unpersist()


def test_total_size_beats_pyarrow_reference(spark):
    """North-rule size oracle: sum(enc_bytes) <= pyarrow parquet writer with
    reference defaults (dict on, uncompressed) on the same data."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tokens_src.tokens_from_documents(spark, SF_DIR, num_parts=4)
    chunks = encode_job.encode_pipeline(src, 4)
    ours = chunks.agg(F.sum("enc_bytes")).collect()[0][0]

    pdf = src.select("doc_id", "tokens", "n_tok", "source").toPandas()
    tbl = pa.Table.from_pandas(pdf)
    buf = io.BytesIO()
    pq.write_table(tbl, buf, compression="NONE", use_dictionary=True)
    assert ours <= len(buf.getvalue()), \
        f"ours={ours} pyarrow={len(buf.getvalue())}"


def test_manifest_resume(spark, tmp_path):
    """FIXTURES F5: kill after k of P partitions, re-run, final result equals
    a clean run and completed partitions are skipped."""
    out = str(tmp_path / "job")
    src = tokens_src.tokens_from_documents(spark, SF_DIR, num_parts=6)

    r1 = encode_job.run_checkpointed(spark, src, out, 6, fail_after_parts=2)
    assert r1["parts_processed"] == 2
    man1 = spark.read.parquet(r1["manifest_path"])
    assert man1.count() == 2

    r2 = encode_job.run_checkpointed(spark, src, out, 6)
    assert r2["parts_processed"] == 4  # only the missing partitions

    r3 = encode_job.run_checkpointed(spark, src, out, 6)
    assert r3["parts_processed"] == 0  # idempotent

    chunks = spark.read.parquet(r2["chunks_path"])
    decoded = encode_job.decode_pipeline(chunks)
    assert _collect_sorted(decoded) == _collect_sorted(src)

    # manifest checksums must equal a clean single-run encode's checksums
    clean = encode_job.run_checkpointed(
        spark, src, str(tmp_path / "clean"), 6)
    m_resumed = {r.part_id: r.checksum for r in
                 spark.read.parquet(r2["manifest_path"]).collect()}
    m_clean = {r.part_id: r.checksum for r in
               spark.read.parquet(clean["manifest_path"]).collect()}
    assert m_resumed == m_clean


def test_jobs_encode_shuffle_honours_writer_flags(spark, tmp_path):
    """``jobs encode --shuffle`` and ``--resume`` build the same
    WriterProperties as the direct mode: every chunk blob carries the
    GZIP compression byte, forced codecs apply and no dictionary is
    chosen. Both modes used to take only ``--codec`` and silently wrote
    uncompressed chunks."""
    from parquet_cpp_spark import chunk as chunkmod
    from parquet_cpp_spark import jobs

    inp = str(tmp_path / "tokens.parquet")
    tokens_src.tokens_from_documents(spark, SF_DIR, num_parts=2) \
        .select("doc_id", "tokens", "n_tok", "source").write.parquet(inp)
    for mode in ("--shuffle", "--resume"):
        out = str(tmp_path / mode.strip("-"))
        jobs.main(["encode", "--input", inp, "--out", out, mode,
                   "--parts", "2", "--compression", "GZIP",
                   "--no-dictionary", "--codec", "tokens=PLAIN"])
        rows = spark.read.parquet(out + "/chunks") \
            .select("col", "codec", "blob").collect()
        assert rows, mode
        assert {r.blob[7] for r in rows} == {chunkmod.GZIP}, mode
        assert {r.codec for r in rows if r.col == "tokens"} == {"PLAIN"}
        assert "RLE_DICTIONARY" not in {r.codec for r in rows}, mode


def test_salted_partitioning_spreads_hot_source(spark):
    src = tokens_src.tokens_from_documents(spark, SF_DIR, num_parts=4)
    salted = encode_job.add_salted_part_id(
        src.drop("part_id"), {"web": 8, "books": 2})
    per_source = {r.source: r.n for r in
                  salted.groupBy("source")
                  .agg(F.countDistinct("part_id").alias("n")).collect()}
    if "web" in per_source:
        assert per_source["web"] > 1  # hot source split across salt buckets
    decoded = encode_job.decode_pipeline(encode_job.encode_pipeline(salted, 16))
    assert _collect_sorted(decoded) == _collect_sorted(src)


def test_plan_salted_parts_proportional(spark):
    src = tokens_src.tokens_from_documents(spark, SF_DIR, num_parts=4)
    spread = encode_job.plan_salted_parts(src, 20)
    assert sum(spread.values()) >= len(spread)  # every source gets >=1
    # the heaviest source gets the largest spread
    weights = {r.source: r.w for r in
               src.groupBy("source").agg(F.sum("n_tok").alias("w")).collect()}
    heaviest = max(weights, key=weights.get)
    assert spread[heaviest] == max(spread.values())
    salted = encode_job.add_salted_part_id(src.drop("part_id"), spread)
    decoded = encode_job.decode_pipeline(
        encode_job.encode_pipeline(salted, sum(spread.values())))
    assert _collect_sorted(decoded) == _collect_sorted(src)


def test_dict_fallback_through_pipeline(spark):
    """FIXTURES F4 fallback oracle at the Spark level: a chunk whose
    dictionary overflows the limit records encodings
    [PLAIN_DICTIONARY, PLAIN, RLE] (column_writer-test.cc:495-505) and
    still round-trips."""
    src = tokens_src.tokens_from_documents(spark, SF_DIR, num_parts=2)
    chunks = encode_job.encode_pipeline(
        src, 2, props=WriterProperties(
            codec_overrides={"tokens": "RLE_DICTIONARY"},
            dictionary_pagesize_limit=64)).cache()
    try:
        encs = {tuple(r.encodings) for r in
                chunks.filter(F.col("col") == "tokens").collect()}
        assert ("RLE", "PLAIN_DICTIONARY", "PLAIN") in encs or \
            ("PLAIN_DICTIONARY", "PLAIN", "RLE") in encs, encs
        decoded = encode_job.decode_pipeline(chunks)
        assert _collect_sorted(decoded) == _collect_sorted(src)
    finally:
        chunks.unpersist()


def test_colocated_decode_matches(spark, tmp_path):
    from parquet_cpp_spark.operators.decode_arrow import decode_chunks_arrow
    from parquet_cpp_spark.operators.encode_arrow import encode_scan_local
    src = tokens_src.tokens_from_documents(spark, SF_DIR, num_parts=4)
    p = str(tmp_path / "chunks")
    encode_scan_local(src).write.parquet(p)
    dec = decode_chunks_arrow(spark.read.parquet(p), assume_colocated=True)
    assert _collect_sorted(dec) == _collect_sorted(src)


def test_written_part_ids_nonnumeric_fallback(spark, tmp_path):
    """Resume listing survives non-numeric partition dirs (e.g.
    __HIVE_DEFAULT_PARTITION__) by falling back to a Spark read instead of
    crashing on int()."""
    from parquet_cpp_spark.plans.encode_job import _written_part_ids

    chunks = tmp_path / "chunks"
    (chunks / "part_id=3").mkdir(parents=True)
    df = spark.createDataFrame([(3, "x")], "part_id bigint, col string")
    df.write.mode("overwrite").partitionBy("part_id").parquet(str(chunks))
    # sane layout: dir listing path
    have = _written_part_ids(spark, str(chunks))
    assert {r.part_id for r in have.collect()} == {3}
    # poison it with a non-numeric partition dir -> Spark-read fallback
    (chunks / "part_id=__HIVE_DEFAULT_PARTITION__").mkdir()
    have2 = _written_part_ids(spark, str(chunks))
    assert 3 in {r.part_id for r in have2.collect()}
    # absent dataset -> None
    assert _written_part_ids(spark, str(tmp_path / "nope")) is None


def test_chunk_sink_direct(spark, tmp_path):
    """Direct sink: encode tasks write chunk files worker-side; only
    manifest rows (no blob) cross the JVM; decode_parquet_direct reads the
    files back bit-identically."""
    from pyspark.sql import functions as F

    from parquet_cpp_spark.operators.decode_arrow import decode_parquet_direct
    from parquet_cpp_spark.sources.chunk_sink import encode_parquet_direct_sink
    from parquet_cpp_spark.sources.tokens import synthesize_tokens_parquet

    src_path = synthesize_tokens_parquet(
        str(tmp_path / "tok.parquet"), 2000, 7, row_group_size=500)
    out = str(tmp_path / "chunks")
    man = encode_parquet_direct_sink(spark, src_path, out)
    assert "blob" not in man.columns and "file" in man.columns
    rows = man.collect()
    assert rows and all(r.checksum for r in rows)

    def csum(df):
        h = F.xxhash64("doc_id", "tokens", "n_tok", "source") \
            .cast("decimal(38,0)")
        return df.agg(F.sum(h).alias("s"), F.count("*").alias("n")).collect()[0]
    a = csum(spark.read.parquet(src_path))
    b = csum(decode_parquet_direct(spark, out).drop("part_id"))
    assert a.s == b.s and a.n == b.n


def test_chunk_sink_colliding_part_ids_get_distinct_files(spark, tmp_path):
    """Two DISTINCT row groups that share a first doc_id and row count
    derive the same content part_id; the (file, row-group) tag in the
    filename must keep their chunk files separate (a shared name would let
    os.replace silently discard one row group's chunks while both manifest
    rows still reference the surviving file)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from parquet_cpp_spark.operators.decode_arrow import decode_parquet_direct
    from parquet_cpp_spark.sources.chunk_sink import encode_parquet_direct_sink

    def rg(doc_ids, tok):
        return pa.table({
            "doc_id": pa.array([str(d) for d in doc_ids]),
            "tokens": pa.array([[tok + i] * 4 for i in range(len(doc_ids))],
                               type=pa.list_(pa.int32())),
            "n_tok": pa.array([4] * len(doc_ids), type=pa.int32()),
            "source": pa.array(["web"] * len(doc_ids)),
        })
    # both row groups: first doc_id "0", 10 rows -> identical part_id
    src = str(tmp_path / "dup.parquet")
    with pq.ParquetWriter(src, rg([0], 0).schema) as w:
        w.write_table(rg(["0", *range(1, 10)], 100))
        w.write_table(rg(["0", *range(10, 19)], 200))
    out = str(tmp_path / "chunks")
    man = encode_parquet_direct_sink(spark, src, out).collect()
    files = {r.file for r in man}
    pids = {r.part_id for r in man}
    assert len(pids) == 1          # the collision actually happened
    assert len(files) == 2         # ...and produced two distinct files
    # both row groups' rows survive the round trip
    dec = decode_parquet_direct(spark, out)
    assert dec.count() == 20
    assert dec.filter(F.col("doc_id") == "0").count() == 2


def test_written_part_ids_reraises_non_absence_errors(spark, tmp_path):
    """The resume orphan guard must ABORT on a real read failure instead of
    treating it as dataset-absent (which would re-append crash-window
    partitions and duplicate chunk rows). Only path-not-found disengages."""
    from parquet_cpp_spark.plans.encode_job import _written_part_ids

    chunks = tmp_path / "chunks"
    # non-numeric partition dir forces the Spark-read fallback; a garbage
    # file inside makes that read fail with a non-PATH_NOT_FOUND error
    bad = chunks / "part_id=__HIVE_DEFAULT_PARTITION__"
    bad.mkdir(parents=True)
    (bad / "junk.parquet").write_bytes(b"this is not a parquet file")
    with pytest.raises(Exception) as exc_info:
        _written_part_ids(spark, str(chunks))
    assert "PATH_NOT_FOUND" not in str(exc_info.value)


def test_written_part_ids_empty_dir_counts_as_absent(spark, tmp_path):
    """A chunks dir that EXISTS but holds no committed data files (crash
    between makedirs and the first atomic rename) must read as
    dataset-absent so resume re-encodes from scratch — previously the
    Spark-read fallback surfaced UNABLE_TO_INFER_SCHEMA and aborted.
    A dir that holds ANY file (even an unreadable one) still aborts:
    Spark fails reading it before schema inference, and conservative
    abort is exactly right for maybe-partial state."""
    from parquet_cpp_spark.plans.encode_job import _written_part_ids

    chunks = tmp_path / "chunks"
    # non-numeric partition dir so the local fast path defers to Spark
    bad = chunks / "part_id=__HIVE_DEFAULT_PARTITION__"
    bad.mkdir(parents=True)
    assert _written_part_ids(spark, str(chunks)) is None

    (bad / "c.parquet").write_bytes(b"not parquet at all")
    with pytest.raises(Exception):
        _written_part_ids(spark, str(chunks))
