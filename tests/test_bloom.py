"""Bloom filter tests mirroring the reference's suite
(bloom_filter-test.cc:102-150: no false negatives, measured FPP within
1.15x of target on 10K random strings; :152-207 serialization)."""

import numpy as np

from parquet_cpp_spark.kernels import ba, bloom

RNG = np.random.default_rng(42)


def test_no_false_negatives_int64():
    keys = RNG.integers(-2**62, 2**62, 10000)
    bf = bloom.BlockSplitBloomFilter(bloom.optimal_num_bytes(10000, 0.01))
    bf.insert_int64(keys)
    assert bf.check_int64(keys).all()


def test_fpp_within_target():
    n, fpp = 10000, 0.01
    keys = np.arange(n, dtype=np.int64)
    bf = bloom.BlockSplitBloomFilter(bloom.optimal_num_bytes(n, fpp))
    bf.insert_int64(keys)
    probes = np.arange(n, n + 100000, dtype=np.int64)
    measured = bf.check_int64(probes).mean()
    assert measured < fpp * 1.15, measured


def test_bytes_and_int64_hash_agree():
    keys = RNG.integers(-2**62, 2**62, 100)
    vec = bloom.murmur3_64_int64(keys)
    scalar = np.array(
        [bloom.murmur3_64_bytes(int(k).to_bytes(8, "little", signed=True))
         for k in keys], dtype=np.uint64)
    np.testing.assert_array_equal(vec, scalar)


def test_string_keys():
    keys = [f"doc-{i:08d}".encode() for i in range(5000)]
    bf = bloom.BlockSplitBloomFilter(bloom.optimal_num_bytes(5000, 0.01))
    bf.insert_bytes(keys)
    assert bf.check_bytes(keys).all()
    absent = [f"other-{i}".encode() for i in range(5000)]
    assert bf.check_bytes(absent).mean() < 0.02


def test_vectorized_bytes_hash_matches_scalar():
    """The byte-key hash is vectorized (keys grouped by length, hashed as
    u64 word lanes) and must equal the scalar murmur3 bit for bit: lengths
    0-64 cover whole 16-byte blocks, tails of 1-8 bytes (k1 only) and
    9-15 bytes (k1 and k2), mixed in one view in random order."""
    rng = np.random.default_rng(7)
    keys = [rng.integers(0, 256, n, dtype=np.uint8).tobytes()
            for n in range(65) for _ in range(4)]
    keys = [keys[i] for i in rng.permutation(len(keys))]
    scalar = np.array([bloom.murmur3_64_bytes(k) for k in keys],
                      dtype=np.uint64)
    np.testing.assert_array_equal(bloom.murmur3_64_view(keys), scalar)
    np.testing.assert_array_equal(
        bloom.murmur3_64_view(ba.from_list(keys)), scalar)
    for n in (0, 7, 8, 9, 16, 24, 32, 33):      # one length: contiguous rows
        same = [k for k in keys if len(k) == n]
        np.testing.assert_array_equal(
            bloom.murmur3_64_view(same, seed=0),
            [bloom.murmur3_64_bytes(k, seed=0) for k in same])
    assert len(bloom.murmur3_64_view([])) == 0
    # insert_bytes/check_bytes hash through it: same bitset as the scalar
    bf = bloom.BlockSplitBloomFilter(1024)
    bf.insert_bytes(ba.from_list(keys))
    ref = bloom.BlockSplitBloomFilter(1024)
    ref.insert_hashes(scalar)
    np.testing.assert_array_equal(bf.words, ref.words)
    assert bf.check_bytes(keys).all()


def test_serialize_roundtrip():
    keys = np.arange(1000, dtype=np.int64)
    bf = bloom.BlockSplitBloomFilter(1024)
    bf.insert_int64(keys)
    blob = bf.serialize()
    bf2 = bloom.BlockSplitBloomFilter.deserialize(blob)
    assert bf2.check_int64(keys).all()
    np.testing.assert_array_equal(bf.words, bf2.words)


def test_murmur3_reference_vectors():
    # public murmur3_x64_128 test vectors (first 64 bits, seed 0) — the
    # seed parameter defaults to the reference's bloom seed 1361930890
    # (murmur3.h:47-49), so canonical seed-0 vectors pass seed=0 explicitly
    assert bloom.murmur3_64_bytes(b"", seed=0) == 0
    # value computed from the canonical smhasher implementation
    h = bloom.murmur3_64_bytes(b"hello", seed=0)
    assert h == 0xcbd8a7b341bd9b02, hex(h)
    # the parquet-mr-seeded path is pinned bit-for-bit against
    # /root/reference/data/bloom_filter.bin in
    # tests/test_golden_reference_files.py


# ---------------------------------------------------------------------------
# Round 7: the STANDARD footer bloom (XXH64 + fixed-point block mapping)
# ---------------------------------------------------------------------------

def test_xxh64_spark_jvm_pin():
    """kernels/xxh's XXH64 against Spark's JVM Catalyst implementation
    (XxHash64 = XXH64 seed 42 over the long's 8 LE bytes): values below
    were produced by F.xxhash64 on a live Spark session — an independent
    implementation on a second runtime. Plus the canonical empty-input
    known answer from the public xxHash spec."""
    from parquet_cpp_spark.kernels import xxh

    assert xxh.xxh64_bytes(b"") == 0xEF46DB3751D8E999
    vals = [0, 1, -1, 42, 2**62, -2**62, 987654321012345]
    spark_jvm = [-5252525462095825812, -7001672635703045582,
                 3858142552250413010, -6876166290308861218,
                 8973626371093010265, 5005707091092326006,
                 297782054383540146]
    ours = xxh.xxh64_int64(np.array(vals, np.int64),
                           seed=42).view(np.int64).tolist()
    assert ours == spark_jvm
    # bytes path consistent with both vectorized lanes
    for v in vals:
        assert xxh.xxh64_bytes(np.int64(v).tobytes()) == \
            int(xxh.xxh64_int64(np.array([v]))[0])
    for v in [0, 1, -1, 2**30]:
        assert xxh.xxh64_bytes(np.int32(v).tobytes()) == \
            int(xxh.xxh64_int32(np.array([v], np.int32))[0])


def test_standard_bloom_no_false_negatives_and_fpp():
    from parquet_cpp_spark.kernels import bloom as bm

    keys = np.arange(5000, dtype=np.int64) * 7919
    bf = bm.StandardBloomFilter(bm.optimal_num_bytes(5000, 0.01))
    bf.insert_int64(keys)
    assert bf.check_int64(keys).all()          # no false negatives, ever
    probes = np.arange(1, 20001, 2, dtype=np.int64) * 104729 + 1
    fpp = float(bf.check_int64(probes).mean())
    assert fpp < 0.05, fpp                     # sized for 1%; generous cap
    # byte keys
    bks = [b"doc-%d" % i for i in range(800)]
    bf2 = bm.StandardBloomFilter(bm.optimal_num_bytes(800, 0.01))
    bf2.insert_bytes(bks)
    assert bf2.check_bytes(bks).all()
    miss = [b"nope-%d" % i for i in range(2000)]
    assert float(bf2.check_bytes(miss).mean()) < 0.05
    # non-power-of-two sizes are legal for the standard filter
    bm.StandardBloomFilter(96)


def test_footer_bloom_write_and_chunk_skip(tmp_path):
    """Engine-written parquet with footer-linked blooms: a miss key skips
    every chunk (0 pages decoded) BEFORE the PageIndex is consulted; a
    present key still finds its rows; pyarrow ignores the extra region
    and reads the file fine."""
    import pyarrow.parquet as pq

    from parquet_cpp_spark.sources import parquet_format as pf
    from parquet_cpp_spark.sources import parquet_writer as pw

    n = 4000
    ids = (np.arange(n, dtype=np.int64) * 2 + 1)      # odd ids only
    names = [b"key-%06d" % i for i in range(n)]
    small = (ids % 977).astype(np.int32)
    path = str(tmp_path / "b.parquet")
    pw.write_file(path, [
        ("id", "int64", ids),
        ("name", "byte_array", names, None, True),
        ("small", "int32", small),
    ], n, row_group_rows=1000, page_rows=200, utf8_columns={"name"},
        bloom_filter_columns={"id", "name", "small"})

    assert pq.read_table(path).column("id").to_pylist() == ids.tolist()

    with open(path, "rb") as f:
        mv = memoryview(f.read())
    meta = pf.read_footer(mv)
    for ch in meta.row_groups[0]:
        assert ch.bloom_filter is not None
        assert pf.read_bloom(mv, ch) is not None

    # present key: found, few pages decoded
    rows, dec, tot = pf.lookup_rows(path, "id", int(ids[1234]))
    assert rows == [1234] and tot == 20 and dec >= 1
    # miss key INSIDE the min/max range (even id): the PageIndex alone
    # could not prune it — only the bloom can take dec to 0
    rows, dec, tot = pf.lookup_rows(path, "id", int(ids[1234]) + 1)
    assert rows == [] and dec == 0, (rows, dec)
    rows, dec, _ = pf.lookup_rows(path, "name", b"key-001234")
    assert rows == [1234]
    rows, dec, _ = pf.lookup_rows(path, "name", b"key-xxxxxx")
    assert rows == [] and dec == 0
    # int32 key present somewhere
    rows, dec, _ = pf.lookup_rows(path, "small", int(small[7]))
    assert 7 in rows


def test_sink_bloom_passthrough_and_resume(tmp_path):
    """bloom_filter_columns flows through write_parquet_dataset to every
    executor-written file, and joins the resume params tag (a rerun with
    different bloom columns re-encodes instead of trusting stale files)."""
    from parquet_cpp_spark.session import get_spark
    from parquet_cpp_spark.sources import parquet_format as pf
    from parquet_cpp_spark.sources.parquet_sink import write_parquet_dataset
    from parquet_cpp_spark.sources.tokens import synthesize_tokens_parquet

    spark = get_spark(master="local[4]", app_name="pcs-bloom-sink",
                      shuffle_partitions=4)
    src = synthesize_tokens_parquet(
        str(tmp_path / "tok.parquet"), 600, 5, row_group_size=300)
    out = str(tmp_path / "out")
    man = write_parquet_dataset(spark, src, out,
                                bloom_filter_columns={"doc_id"}).collect()
    assert len(man) == 2
    for r in man:
        with open(r.file, "rb") as f:
            mv = memoryview(f.read())
        meta = pf.read_footer(mv)
        by = {c.path: c for c in meta.row_groups[0]}
        assert by["doc_id"].bloom_filter is not None
        assert by["n_tok"].bloom_filter is None
        hit_id = next(iter(
            __import__("pyarrow.parquet", fromlist=["x"])
            .ParquetFile(r.file).read(columns=["doc_id"])
            .column("doc_id").to_pylist()))
        rows, dec, _ = pf.lookup_rows(r.file, "doc_id", hit_id)
        assert rows and dec >= 1
        rows, dec, _ = pf.lookup_rows(r.file, "doc_id", "no-such-doc")
        assert rows == [] and dec == 0
    # resume honors the bloom param: same params skip, different re-encode
    m2 = write_parquet_dataset(spark, src, out, resume=True,
                               bloom_filter_columns={"doc_id"}).collect()
    assert {r.file: r.checksum for r in man} == \
        {r.file: r.checksum for r in m2}


def test_corrupt_bloom_header_degrades_to_pageindex(tmp_path, capsys):
    """A smashed bloom header region must never crash or mis-skip:
    read_bloom returns None (cannot consult), lookup_rows falls back to
    the PageIndex and still returns exactly the right rows; the inspect
    dump labels the region instead of raising."""
    from parquet_cpp_spark import inspect as insp
    from parquet_cpp_spark.sources import parquet_format as pf
    from parquet_cpp_spark.sources import parquet_writer as pw

    n = 2000
    ids = np.arange(n, dtype=np.int64) * 2 + 1
    path = str(tmp_path / "cb.parquet")
    pw.write_file(path, [("id", "int64", ids)], n,
                  row_group_rows=1000, page_rows=200,
                  bloom_filter_columns={"id"})
    with open(path, "rb") as f:
        data = bytearray(f.read())
    meta = pf.read_footer(memoryview(bytes(data)))
    off, _ln = meta.row_groups[0][0].bloom_filter
    data[off:off + 8] = b"\xff" * 8          # garbage thrift header
    with open(path, "wb") as f:
        f.write(data)

    mv = memoryview(bytes(data))
    meta = pf.read_footer(mv)
    assert pf.read_bloom(mv, meta.row_groups[0][0]) is None
    # present key: found via PageIndex despite the dead bloom
    rows, dec, tot = pf.lookup_rows(path, "id", int(ids[123]))
    assert rows == [123] and dec >= 1
    # miss key inside the range: bloom can't prune, PageIndex pages decode
    rows, dec, tot = pf.lookup_rows(path, "id", int(ids[123]) + 1)
    assert rows == [] and dec >= 1           # conservative, not wrong

    insp.cmd_parquet(path, scan=False)
    out = capsys.readouterr().out
    assert "foreign/corrupt variant" in out


def test_inspect_dumps_bloom_stats(tmp_path, capsys):
    """inspect --parquet prints the bloom region (size, blocks, fill
    rate) for engine-written files — the parquet-tools bloom dump."""
    from parquet_cpp_spark import inspect as insp
    from parquet_cpp_spark.sources import parquet_writer as pw

    n = 1000
    pw.write_file(str(tmp_path / "d.parquet"),
                  [("id", "int64", np.arange(n, dtype=np.int64))], n,
                  bloom_filter_columns={"id"})
    insp.cmd_parquet(str(tmp_path / "d.parquet"), scan=False)
    out = capsys.readouterr().out
    assert "XXH64/BLOCK" in out and "fill" in out
