"""Corrupt-input robustness matrix, mirroring the reference's deserialize
battery (/root/reference/src/parquet/file-deserialize-test.cc:124-296):
truncated headers and bodies, bad magic/version, inflated counts, corrupt
compressed blocks, and bit flips must all raise — never return wrong data
silently. Decodes that happen to survive a mutation must still round-trip
the original values exactly (a mutation may hit padding)."""

import zlib

import numpy as np
import pytest

from parquet_cpp_spark import chunk as chunkmod
from parquet_cpp_spark.kernels import ba

RNG = np.random.default_rng(99)


def _flavors():
    vals = RNG.integers(0, 5000, 4000).astype(np.int64)
    strs = ba.from_list([f"string-{i % 97}".encode() for i in range(3000)])
    lengths = RNG.integers(0, 7, 900).astype(np.int64)
    lvals = RNG.integers(0, 100, int(lengths.sum())).astype(np.int32)
    out = {
        "plain_int": chunkmod.encode_chunk(vals, "int64", chunkmod.PLAIN,
                                           page_size=None),
        "dict_int": chunkmod.encode_chunk(vals, "int64",
                                          chunkmod.RLE_DICTIONARY,
                                          page_size=None),
        "delta_int": chunkmod.encode_chunk(vals, "int64",
                                           chunkmod.DELTA_BINARY_PACKED,
                                           page_size=None),
        "plain_str": chunkmod.encode_chunk(strs, "byte_array",
                                           chunkmod.PLAIN, page_size=None),
        "fsst_str": chunkmod.encode_chunk(strs, "byte_array",
                                          chunkmod.FSST, page_size=None),
        "gzip_int": chunkmod.encode_chunk(vals, "int64", chunkmod.PLAIN,
                                          compression=chunkmod.GZIP,
                                          page_size=None),
        "list_rle": chunkmod.encode_chunk(lvals, "int32", chunkmod.RLE,
                                          row_lengths=lengths,
                                          page_size=None),
        "paged_int": chunkmod.encode_chunk(vals, "int64", chunkmod.PLAIN,
                                           page_size=4096),
        "paged_dict": chunkmod.encode_chunk(vals, "int64",
                                            chunkmod.RLE_DICTIONARY,
                                            page_size=4096),
    }
    return out


FLAVORS = _flavors()

EXPECT_ERRORS = (ValueError, IndexError, OverflowError, KeyError,
                 zlib.error, struct_err := __import__("struct").error,
                 EOFError)


@pytest.mark.parametrize("flavor", sorted(FLAVORS))
def test_empty_and_magic_and_version(flavor):
    blob = FLAVORS[flavor].blob
    with pytest.raises(EXPECT_ERRORS):
        chunkmod.decode_chunk(b"")
    bad_magic = b"XXXX" + blob[4:]
    with pytest.raises(EXPECT_ERRORS):
        chunkmod.decode_chunk(bad_magic)
    bad_version = blob[:4] + bytes([250]) + blob[5:]
    with pytest.raises(EXPECT_ERRORS):
        chunkmod.decode_chunk(bad_version)


@pytest.mark.parametrize("flavor", sorted(FLAVORS))
@pytest.mark.parametrize("frac", [0.1, 0.3, 0.6, 0.9, 0.99])
def test_truncation_raises(flavor, frac):
    """A prefix of a valid blob must raise, never decode short data."""
    enc = FLAVORS[flavor]
    cut = max(1, int(len(enc.blob) * frac))
    truncated = enc.blob[:cut]
    with pytest.raises(EXPECT_ERRORS):
        dec = chunkmod.decode_chunk(truncated)
        # reaching here with fewer values than declared is silent data loss
        if dec.n_values != enc.n_values or len(dec.values) != enc.n_values:
            raise ValueError("silent short decode")


@pytest.mark.parametrize("flavor", sorted(FLAVORS))
def test_inflated_counts_raise(flavor):
    """Header n_rows/n_values inflated 4x must not fabricate values."""
    enc = FLAVORS[flavor]
    blob = bytearray(enc.blob)
    version = blob[4]
    # n_rows/n_values live at 9..17 for v2/v3 headers
    if version == 1:
        pos = 8
    else:
        pos = 9
    n_rows = int.from_bytes(blob[pos:pos + 4], "little")
    n_vals = int.from_bytes(blob[pos + 4:pos + 8], "little")
    blob[pos:pos + 4] = (n_rows * 4).to_bytes(4, "little")
    blob[pos + 4:pos + 8] = (n_vals * 4).to_bytes(4, "little")
    with pytest.raises(EXPECT_ERRORS):
        dec = chunkmod.decode_chunk(bytes(blob))
        if len(dec.values) != n_vals * 4:
            raise ValueError("silent short decode vs inflated header")


@pytest.mark.parametrize("flavor", ["gzip_int"])
def test_corrupt_compressed_block(flavor):
    enc = FLAVORS[flavor]
    blob = bytearray(enc.blob)
    # flip bytes inside the compressed body (after the 21-byte header)
    for off in range(30, min(60, len(blob))):
        blob[off] ^= 0xFF
    with pytest.raises(EXPECT_ERRORS):
        chunkmod.decode_chunk(bytes(blob))


def _token_chunk_table():
    """Chunk rows (full schema incl. checksum) for one token partition,
    built Spark-free via the Arrow encode operator."""
    import pyarrow as pa

    from parquet_cpp_spark.operators.encode_arrow import make_arrow_encode_fn
    rng = np.random.default_rng(5)
    n = 400
    tbl = pa.table({
        "doc_id": [f"d{i}" for i in range(n)],
        "tokens": [rng.integers(0, 32768,
                                int(rng.integers(1, 40))).astype(np.int32)
                   .tolist() for i in range(n)],
        "n_tok": np.ones(n, dtype=np.int32),
        "source": ["s"] * n,
    })
    fn = make_arrow_encode_fn()
    return pa.Table.from_batches([fn.encode_part(tbl, 0)])


def test_bitflips_detected_by_checksum_layer():
    """A bit flip ANYWHERE in a blob (including inside value payloads,
    where the format itself — like the reference's pages — has no CRC) must
    raise through the checksum-verifying decode, never emit wrong rows."""
    import pyarrow as pa

    from parquet_cpp_spark.operators.decode_arrow import _decode_table
    chunk_tbl = _token_chunk_table()
    # clean table decodes fine under verification
    out = list(_decode_table(chunk_tbl, verify_checksums=True))
    assert sum(b.num_rows for b in out) == 400

    blob_idx = chunk_tbl.column_names.index("blob")
    rng = np.random.default_rng(17)
    for row in range(chunk_tbl.num_rows):
        raw = bytearray(chunk_tbl.column("blob")[row].as_py())
        for _ in range(4):
            blob = bytearray(raw)
            off = int(rng.integers(0, len(blob)))
            blob[off] ^= 1 << int(rng.integers(0, 8))
            blobs = chunk_tbl.column("blob").to_pylist()
            blobs[row] = bytes(blob)
            mutated = chunk_tbl.set_column(
                blob_idx, "blob", pa.array(blobs, type=pa.binary()))
            with pytest.raises(ValueError, match="corrupt chunk"):
                list(_decode_table(mutated, verify_checksums=True))


def test_verify_checksums_requires_column():
    from parquet_cpp_spark.operators.decode_arrow import _decode_table
    chunk_tbl = _token_chunk_table().drop_columns(["checksum"])
    with pytest.raises(ValueError, match="no checksum column"):
        list(_decode_table(chunk_tbl, verify_checksums=True))


def test_list_offsets_overflow_raises():
    """A list column past 2^31 elements in one partition cannot take int32
    Arrow offsets: the decode must refuse it, not wrap the offsets."""
    from parquet_cpp_spark.operators.decode_arrow import _offsets
    assert _offsets(np.array([3, 0, 2])).to_pylist() == [0, 3, 3, 5]
    with pytest.raises(ValueError, match="int32 list offsets"):
        _offsets(np.array([1 << 30, 1 << 30], dtype=np.int64))


def test_typed_decode_names_truncated_chunk():
    """Every chunk decoder wraps a decode failure with the part and
    column: a truncated tokens blob through ``decode_chunks_typed`` must
    fail as ``corrupt chunk: part_id=.. col='tokens'``."""
    pytest.importorskip("pyspark")
    from parquet_cpp_spark.operators.decode_arrow import decode_chunks_typed
    from parquet_cpp_spark.operators.encode_arrow import (
        CHUNK_SCHEMA, TOKEN_TABLE_COLUMNS)
    from parquet_cpp_spark.session import get_spark

    rows = _token_chunk_table().to_pylist()
    for r in rows:
        if r["col"] == "tokens":
            r["blob"] = r["blob"][: len(r["blob"]) // 2]
    spark = get_spark(master="local[4]", app_name="pcs-corrupt",
                      shuffle_partitions=4)
    chunks = spark.createDataFrame(rows, CHUNK_SCHEMA)
    with pytest.raises(Exception,
                       match=r"ValueError: corrupt chunk: part_id=0 "
                             r"col='tokens'"):
        decode_chunks_typed(chunks, TOKEN_TABLE_COLUMNS).collect()


def _bloom_blob(num_bytes=64, hash_id=0, alg_id=0, bitset=None):
    bitset = bytes(num_bytes) if bitset is None else bitset
    return (num_bytes.to_bytes(4, "little") + hash_id.to_bytes(4, "little")
            + alg_id.to_bytes(4, "little") + bitset)


def test_corrupt_bloom_raises_naming_part():
    """Blooms are deserialized on the driver from chunk rows read off
    storage: a header that disagrees with its buffer must raise a
    ValueError naming the part, not index past the bitset later."""
    pytest.importorskip("pyspark")
    from parquet_cpp_spark.kernels.bloom import BlockSplitBloomFilter
    from parquet_cpp_spark.plans.lookup import may_contain

    good = BlockSplitBloomFilter(64)
    good.insert_bytes([b"k"])
    blob = good.serialize()
    assert may_contain([(7, blob), (8, None)], [b"k"]) == [7, 8]
    assert may_contain([(7, _bloom_blob())], [b"k"]) == []
    bad = {
        "truncated": blob[:-1],
        "trailing bytes": blob + b"\0",
        "header only": blob[:12],
        "short header": blob[:5],
        "num_bytes not a power of two": _bloom_blob(48),
        "num_bytes below 32": _bloom_blob(16),
        "hash id": _bloom_blob(hash_id=1),
        "algorithm id": _bloom_blob(alg_id=2),
        "huge num_bytes": _bloom_blob(1 << 31, bitset=bytes(64)),
    }
    for what, buf in bad.items():
        with pytest.raises(ValueError, match="corrupt bloom part_id=7"):
            may_contain([(7, buf)], [b"k"])
        with pytest.raises(ValueError, match="corrupt bloom"):
            BlockSplitBloomFilter.deserialize(buf)


def _delta_header(block_size, miniblocks, n, first=0):
    from parquet_cpp_spark.kernels import varint
    return (varint.encode_uvarint(block_size)
            + varint.encode_uvarint(miniblocks) + varint.encode_uvarint(n)
            + varint.encode_zigzag_varint(first))


def test_delta_header_bounds():
    """DELTA_BINARY_PACKED checks its header before it allocates: a
    25-byte stream that claims 2^34 values (128 GiB of int64), the
    geometries the spec forbids (zero miniblocks used to divide by zero)
    and truncated streams raise ValueError; valid streams decode
    unchanged."""
    from parquet_cpp_spark.kernels import delta

    bomb = _delta_header(128, 4, 1 << 34)
    bomb += bytes(25 - len(bomb))
    assert len(bomb) == 25
    with pytest.raises(ValueError, match="corrupt delta header"):
        delta.decode(bomb)
    for block_size, miniblocks in [(128, 0), (0, 4), (0, 0), (100, 4),
                                   (128, 8), (1 << 40, 4)]:
        buf = _delta_header(block_size, miniblocks, 1000) + bytes(64)
        with pytest.raises(ValueError, match="corrupt delta header"):
            delta.decode(buf)
    vals = np.arange(1000, dtype=np.int64) * 3
    enc = delta.encode(vals)
    out, pos = delta.decode(enc)
    assert pos == len(enc) and np.array_equal(out, vals)
    # 999 deltas are 8 blocks of >= 5 bytes each: one byte short
    truncated = _delta_header(128, 4, 1000) + bytes(8 * 5 - 1)
    with pytest.raises(ValueError, match="corrupt delta header"):
        delta.decode(truncated)
    for n in (0, 1, 2, 129, 257):
        vals = np.random.default_rng(n).integers(-1 << 40, 1 << 40, n)
        out, _ = delta.decode(delta.encode(vals) + b"tail")
        assert np.array_equal(out, vals)
    # every truncation of a valid stream is a ValueError, never an
    # IndexError or silently short output
    enc = delta.encode(np.random.default_rng(3).integers(0, 1 << 20, 300))
    for cut in range(len(enc)):
        with pytest.raises(ValueError, match="corrupt delta"):
            delta.decode(enc[:cut])


def _run_limited(child: str) -> None:
    """Run ``child`` in a fresh interpreter; it sets its own 2 GiB
    address-space limit, so a check that fires after a large allocation
    fails it."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, PYTHONPATH=root, OPENBLAS_NUM_THREADS="1",
               OMP_NUM_THREADS="1")
    res = subprocess.run([sys.executable, "-c", child],
                         env=env, capture_output=True, text=True,
                         timeout=120)
    assert res.returncode == 0, res.stderr[-3000:]


_FSST_BOUNDS_CHILD = r"""
import resource
resource.setrlimit(resource.RLIMIT_AS, (2 << 30, 2 << 30))

import pytest

from parquet_cpp_spark.kernels import fsst

values = [b"hello world", b"hello there", b"", b"abc\xff"] * 10
enc = fsst.encode(values)
out, pos = fsst.decode(enc)
assert pos == len(enc) and out == values
p = 1                       # end of the symbol table
for _ in range(enc[0]):
    p += 1 + enc[p]
# n_strings claims 2^32 - 16: 32 GiB of offsets before the check
bomb = enc[:p] + (2**32 - 16).to_bytes(4, "little") + enc[p + 4:]
bad = {"n_strings bomb": bomb,
       "truncated symbol table": bytes([3, 2, 65, 66, 8]),
       "zero-length symbol": bytes([1, 0]) + enc[p:],
       "9-byte symbol": bytes([1, 9]) + b"x" * 9 + enc[p:]}
bad.update({f"cut at {cut}": enc[:cut] for cut in range(len(enc))})
for what, buf in bad.items():
    with pytest.raises(ValueError, match="corrupt FSST"):
        fsst.decode_view(buf)
# a stream inside a larger buffer still decodes from its offset
out, pos = fsst.decode(b"xyz" + enc + b"tail", 3)
assert pos == 3 + len(enc) and out == values
"""


def test_fsst_header_bounds():
    """FSST checks its header before it allocates: a stream whose string
    count claims 2^32 - 16 (32 GiB of offsets), a truncated symbol table,
    out-of-range symbol lengths and every truncation of a valid stream
    raise ValueError. Runs in a child process under a 2 GiB address-space
    limit, so a check that fires after the allocation fails the test."""
    _run_limited(_FSST_BOUNDS_CHILD)


def test_fsst_code_past_symbol_table():
    """A non-escape code at or past the symbol count raises instead of
    decoding as an empty symbol."""
    from parquet_cpp_spark.kernels import delta, fsst

    enc = bytearray(fsst.encode([b"hello world"]))
    p = 1                       # end of the symbol table
    for _ in range(enc[0]):
        p += 1 + enc[p]
    lens_len = int.from_bytes(enc[p + 4: p + 8], "little")
    payload = p + 8 + lens_len
    lens, _ = delta.decode(bytes(enc[p + 8: payload]))
    assert payload + int(lens.sum()) == len(enc)
    assert enc[0] < 200 and enc[payload] != fsst.ESCAPE
    enc[payload] = 200
    with pytest.raises(ValueError, match="corrupt FSST stream: symbol code"):
        fsst.decode_view(bytes(enc))


@pytest.mark.parametrize("phys,values", [
    ("byte_array", [b"ab", b"cd", b"ef", b"ab"]),
    ("int32", np.array([7, 8, 9, 7], dtype=np.int32))])
def test_dictionary_index_out_of_range(phys, values):
    """An index at or past the dictionary's entry count raises ValueError
    for both physical types, not the gather's own index error."""
    import dataclasses

    from parquet_cpp_spark.kernels import dictionary, rle

    enc = dictionary.encode(values, phys)
    assert enc.num_entries == 3 and enc.indices_blob[0] == 2
    out = dictionary.decode(enc, phys)
    assert list(ba.to_list(out) if phys == "byte_array" else out) == \
        list(values)
    bad = dataclasses.replace(enc, indices_blob=bytes([2]) + rle.encode(
        np.array([0, 1, 3, 0]), 2))
    with pytest.raises(ValueError, match="corrupt dictionary indices"):
        dictionary.decode(bad, phys)


_COUNT_CHILD = r"""
import resource
resource.setrlimit(resource.RLIMIT_AS, (2 << 30, 2 << 30))

import numpy as np
import pytest

from parquet_cpp_spark import chunk as C

keys = np.arange(300) % 23
cases = [("int32", C.PLAIN), ("int32", C.RLE),
         ("int32", C.DELTA_BINARY_PACKED), ("int32", C.RLE_DICTIONARY),
         ("boolean", C.RLE), ("byte_array", C.PLAIN),
         ("byte_array", C.DELTA_LENGTH_BYTE_ARRAY),
         ("byte_array", C.DELTA_BYTE_ARRAY), ("byte_array", C.RLE_DICTIONARY),
         ("boolean", C.PLAIN), ("double", C.PLAIN), ("flba:4", C.PLAIN),
         ("flba:4", C.RLE_DICTIONARY), ("byte_array", C.FSST)]
values = {"int32": keys.astype(np.int32), "boolean": keys % 2 == 1,
          "double": keys * 0.5,
          "byte_array": [f"value-{k}".encode() for k in keys],
          "flba:4": [f"{k:04d}".encode() for k in keys]}
for phys, codec in cases:
    blob = C.encode_chunk(values[phys], phys, codec).blob
    assert blob[4] == C.VERSION
    for n in (2 * len(keys), 2**32 - 1):
        bad = blob[:13] + n.to_bytes(4, "little") + blob[17:]
        with pytest.raises(ValueError, match="corrupt"):
            C.decode_chunk(bad)
# multi-page chunks: the dictionary page's entry count, below the indices
# the pages hold and at 2^32 - 1
for phys in ("int32", "byte_array"):
    vals = values[phys] * 40 if phys == "byte_array" else \
        np.tile(values[phys], 40)
    blob = bytearray(C.encode_chunk(vals, phys, C.RLE_DICTIONARY,
                                    page_size=4096).blob)
    assert blob[4] == C.VERSION_PAGED
    at = 29 + int.from_bytes(blob[25:29], "little")  # past len + dict page
    for n in (10, 2**32 - 1):
        blob[at: at + 4] = n.to_bytes(4, "little")
        with pytest.raises(ValueError):
            C.decode_chunk(bytes(blob))
"""


def test_inflated_value_count_is_value_error():
    """A chunk header whose value count is twice the payload's, or 2^32 - 1,
    raises ValueError for every codec: no value-count mismatch comes out
    silently, no IndexError from the RLE stream, no 32 GiB byte_array
    PLAIN allocation. So does a multi-page chunk whose dictionary page
    claims fewer entries than its indices reach, or 2^32 - 1. Runs in a
    child process under a 2 GiB address-space limit, so a check that
    fires after the allocation fails the test."""
    _run_limited(_COUNT_CHILD)


_BIT1_CUT_CHILD = r"""
import resource
resource.setrlimit(resource.RLIMIT_AS, (2 << 30, 2 << 30))

import numpy as np
import pytest

from parquet_cpp_spark.kernels import rle

rng = np.random.default_rng(11)
streams = []
for p_empty, avg in ((0.0, 40), (0.3, 3), (0.9, 2), (0.02, 200)):
    lengths = rng.integers(1, 2 * avg, 300)
    lengths[rng.random(300) < p_empty] = 0
    slots = np.maximum(lengths, 1)
    starts = np.cumsum(slots) - slots
    rep = np.ones(int(slots.sum()), dtype=np.int64)
    rep[starts] = 0
    deflev = np.ones_like(rep)
    deflev[starts[lengths == 0]] = 0
    streams += [rep, deflev]
streams.append((rng.random(5000) < 0.5).astype(np.int64))    # literal runs
for lv in streams:
    n = len(lv)
    s = rle.encode_length_prefixed(lv, 1)
    got, end = rle.decode_length_prefixed(s, n, 1)
    assert end == len(s) and np.array_equal(got, lv)
    payload = s[4:]
    for k in range(len(s)):
        # the buffer cut under an intact length prefix
        with pytest.raises(ValueError, match="corrupt RLE"):
            rle.decode_length_prefixed(s[:k], n, 1)
        # a length prefix that agrees with the cut
        if k >= 4:
            cut = (k - 4).to_bytes(4, "little") + s[4:k]
            with pytest.raises(ValueError, match="corrupt RLE"):
                rle.decode_length_prefixed(cut, n, 1)
    for k in range(len(payload)):
        # V2 layout: the stream's bound is [pos, end), bytes follow it
        with pytest.raises(ValueError, match="corrupt RLE"):
            rle.decode_bit1(payload, n, 0, k)
"""


def test_bit1_level_stream_truncation():
    """Every truncation of a valid bit-width-1 rep or def level stream
    raises ValueError from the vectorized bit-1 path: the buffer cut
    under its length prefix, a prefix that agrees with the cut, and a
    V2-style [pos, end) bound inside a longer buffer. The kept runs must
    cover the value count inside the stream, never index past it. Runs
    under a 2 GiB address-space limit."""
    _run_limited(_BIT1_CUT_CHILD)


@pytest.mark.parametrize("encoding", ["plain", "dict", "delta", "dba"])
def test_def_level_above_max_raises(tmp_path, encoding):
    """A def level above the leaf's max_def (here 3 under max_def 2,
    which a 2-bit width can carry) is rejected by pyarrow as malformed
    and by the engine's page decoder with a ValueError naming the
    column and page, whatever the page's value encoding: the check runs
    on the levels, before the value count they imply is decoded."""
    import pyarrow.parquet as pq

    from parquet_cpp_spark.sources import parquet_format as pf
    from parquet_cpp_spark.sources import parquet_writer as pw
    from parquet_cpp_spark.sources.record_assembly import assemble_file

    path = str(tmp_path / "s.parquet")
    n = 50
    vals = ba.from_list([b"k%03d" % i for i in range(n)]) \
        if encoding == "dba" else np.arange(n, dtype=np.int32)
    phys = "byte_array" if encoding == "dba" else "int32"
    st = pw.StructColumn("st", [("a", phys, vals, np.ones(n, bool),
                                 encoding == "dict")],
                         valid=np.ones(n, bool))
    pw.write_file(path, [st], n,
                  encodings={"st.a": encoding}
                  if encoding in ("delta", "dba") else None)
    data = bytearray(open(path, "rb").read())
    meta = pf.read_footer(memoryview(bytes(data)))
    assert meta.leaves[0].max_def == 2
    chunk = meta.row_groups[0][0]
    rd = pf._Compact(memoryview(bytes(data)), chunk.data_page_offset)
    rd.struct()
    # uncompressed V1 body: u32 len, then one RLE run (header 50 << 1,
    # value byte 2) of def levels
    body = rd.pos
    assert bytes(data[body: body + 6]) == bytes([2, 0, 0, 0, 100, 2])
    data[body + 5] = 3
    with open(path, "wb") as fh:
        fh.write(data)
    with pytest.raises(Exception, match="Malformed levels"):
        pq.read_table(path)
    with pytest.raises(ValueError, match=r"column 'st.a', page at byte "
                       rf"{chunk.data_page_offset}: definition level 3"):
        assemble_file(path)


def test_byte_array_dictionary_section_overrun():
    """A one-page chunk's byte_array dictionary stores no entry count:
    the decode walks the section to its end. A last length that runs
    past the section raises ValueError; the intact blob decodes to the
    same values."""
    from parquet_cpp_spark.kernels import plain

    vals = [f"entry-{i % 40}".encode() for i in range(400)]
    blob = bytearray(chunkmod.encode_chunk(ba.from_list(vals), "byte_array",
                                           chunkmod.RLE_DICTIONARY,
                                           page_size=None).blob)
    assert ba.to_list(chunkmod.decode_chunk(bytes(blob)).values) == vals
    section = plain.encode_byte_array(list(dict.fromkeys(vals)))
    at = bytes(blob).index(section) + len(section) - 4 - len(vals[39])
    assert int.from_bytes(blob[at: at + 4], "little") == len(vals[39])
    blob[at: at + 4] = (len(vals[39]) + 1).to_bytes(4, "little")
    with pytest.raises(ValueError, match="run past"):
        chunkmod.decode_chunk(bytes(blob))


def test_rle_run_value_wider_than_bit_width():
    """An RLE run stores its value in whole bytes, so a run can carry a
    value its bit width cannot: the run [16, 5] (eight 5s) read at width
    1 used to decode as eight 1s through ``decode_bit1`` and as no zeros
    through ``bit1_zero_positions``, and ``rle.decode`` returned 5s at
    widths 1 and 2. Every parser rejects it; a fitting run still
    decodes."""
    from parquet_cpp_spark.kernels import rle

    run = bytes([16, 5])
    for parse in (lambda: rle.decode(run, 8, 1),
                  lambda: rle.decode(run, 8, 2),
                  lambda: rle.bit1_zero_positions(run, 8, 0, 2),
                  lambda: rle.decode_bit1(run, 8, 0, 2)):
        with pytest.raises(ValueError, match="run value 5 wider than bit"):
            parse()
    assert rle.decode(bytes([16, 3]), 8, 2)[0].tolist() == [3] * 8
    assert rle.decode_bit1(bytes([16, 1]), 8, 0, 2).tolist() == [1] * 8


def _optional_int32_file(path, n=50):
    """An engine-written one-page file of one optional int32 leaf
    (max_def 1, V1 page, uncompressed): the path's bytes, the page's
    byte offset and the leaf."""
    from parquet_cpp_spark.sources import parquet_format as pf
    from parquet_cpp_spark.sources import parquet_writer as pw

    pw.write_file(path, [("v", "int32", np.arange(n, dtype=np.int32),
                          np.ones(n, bool))], n)
    data = bytearray(open(path, "rb").read())
    meta = pf.read_footer(memoryview(bytes(data)))
    assert meta.leaves[0].max_def == 1
    return data, meta.row_groups[0][0].data_page_offset, meta.leaves[0]


def test_def_run_value_above_bit_width_rejected(tmp_path):
    """A max_def 1 leaf whose def-level run value byte reads 5: pyarrow
    rejects the file as malformed levels, and the engine's assembly
    raises ValueError instead of decoding every row as present, naming
    the column and the page's byte offset like the page layer's own
    checks (a nested leaf by its dotted name)."""
    import pyarrow.parquet as pq

    from parquet_cpp_spark.sources import parquet_format as pf
    from parquet_cpp_spark.sources import parquet_writer as pw
    from parquet_cpp_spark.sources.record_assembly import assemble_file

    path = str(tmp_path / "o.parquet")
    data, off, _leaf = _optional_int32_file(path)
    rd = pf._Compact(memoryview(bytes(data)), off)
    rd.struct()
    # uncompressed V1 body: u32 len, then one RLE run (header 50 << 1,
    # value byte 1) of def levels
    body = rd.pos
    assert bytes(data[body: body + 6]) == bytes([2, 0, 0, 0, 100, 1])
    data[body + 5] = 5
    with open(path, "wb") as fh:
        fh.write(data)
    with pytest.raises(Exception, match="Malformed levels"):
        pq.read_table(path)
    with pytest.raises(ValueError, match=rf"column 'v', page at byte {off}: "
                       "corrupt RLE stream: run value 5 wider than bit"):
        assemble_file(path)
    # the same run under a 2-bit def width (max_def 2) names the nested
    # leaf and its page
    path = str(tmp_path / "s.parquet")
    st = pw.StructColumn("st", [("a", "int32", np.arange(50, dtype=np.int32),
                                 np.ones(50, bool))],
                         valid=np.ones(50, bool))
    pw.write_file(path, [st], 50)
    data = bytearray(open(path, "rb").read())
    off = pf.read_footer(memoryview(bytes(data))).row_groups[0][0] \
        .data_page_offset
    rd = pf._Compact(memoryview(bytes(data)), off)
    rd.struct()
    assert bytes(data[rd.pos: rd.pos + 6]) == bytes([2, 0, 0, 0, 100, 2])
    data[rd.pos + 5] = 5
    with open(path, "wb") as fh:
        fh.write(data)
    with pytest.raises(ValueError, match=rf"column 'st.a', page at byte "
                       rf"{off}: corrupt RLE stream: run value 5 wider"):
        assemble_file(path)


def test_corrupt_page_header_raises_value_error(tmp_path):
    """A thrift read past the buffer raises ValueError (it raised
    IndexError), every cut of a real page header names the column and
    the page's byte offset, and a header without its data-page struct
    (field 5, renamed here to the unused field 6) raises ValueError
    naming them instead of KeyError."""
    from parquet_cpp_spark.sources import parquet_format as pf
    from parquet_cpp_spark.sources.record_assembly import assemble_file

    with pytest.raises(ValueError, match="read past the end"):
        pf._Compact(memoryview(bytes([0x15]))).struct()
    path = str(tmp_path / "o.parquet")
    data, off, leaf = _optional_int32_file(path)
    rd = pf._Compact(memoryview(bytes(data)), off)
    rd.struct()
    header = bytes(data[off: rd.pos])
    for k in range(len(header)):
        with pytest.raises(ValueError, match=r"column 'v', page at byte 0"):
            pf._page_header(memoryview(header[:k]), 0, leaf)
    # walk the header's fields to field 5's field-header byte
    rd = pf._Compact(memoryview(bytes(data)), off)
    fid = 0
    while True:
        at = rd.pos
        head = data[at]
        rd.pos += 1
        fid += head >> 4
        if fid == 5:
            break
        rd._value(head & 0x0F)
    data[at] = head + 0x10                      # field 5 -> field 6
    with open(path, "wb") as fh:
        fh.write(data)
    with pytest.raises(ValueError, match=rf"column 'v', page at byte {off}: "
                       "page header lacks required field 5"):
        assemble_file(path)


def test_delta_byte_array_prefix_too_large(tmp_path):
    """A DELTA_BYTE_ARRAY prefix can only reuse bytes the previous value
    has: a first prefix above 0, or a prefix longer than the previous
    value, raises ValueError before the output is allocated (it used to
    decode, reading another value's bytes). Checked on bare streams and
    on an engine-written DBA page patched by hand, which pyarrow rejects
    too and the engine's assembly names by column and page."""
    import pyarrow.parquet as pq

    from parquet_cpp_spark.kernels import bytearray_codecs as bac
    from parquet_cpp_spark.kernels import delta
    from parquet_cpp_spark.sources import parquet_writer as pw
    from parquet_cpp_spark.sources.record_assembly import assemble_file

    def stream(prefix_lens, suffixes):
        return delta.encode(np.array(prefix_lens, np.int64)) \
            + bac.encode_delta_length_spec(suffixes)

    for prefix_lens, suffixes in (([1, 0], [b"x", b"y"]),
                                  ([0, 5], [b"abc", b"d"]),
                                  ([0, 3, 5], [b"abc", b"d", b"e"])):
        with pytest.raises(ValueError, match="DELTA_BYTE_ARRAY: prefix "
                           "length too large"):
            bac.decode_delta_byte_array_spec(stream(prefix_lens, suffixes))
    ok, _ = bac.decode_delta_byte_array_spec(stream([0, 3, 4],
                                                    [b"abc", b"d", b"e"]))
    assert ba.to_list(ok) == [b"abc", b"abcd", b"abcde"]

    path = str(tmp_path / "dba.parquet")
    vals = [b"abc", b"abd"]
    pw.write_file(path, [("s", "byte_array", ba.from_list(vals))], 2,
                  encodings={"s": "dba"})
    good = bac.encode_delta_byte_array_spec(vals)
    bad = stream([0, 5], [b"abc", b"d"])      # same length as good
    data = open(path, "rb").read()
    assert len(bad) == len(good) and data.count(good) == 1
    with open(path, "wb") as fh:
        fh.write(data.replace(good, bad))
    with pytest.raises(Exception, match="prefix length too large"):
        pq.read_table(path)
    with pytest.raises(ValueError, match=r"column 's', page at byte \d+: "
                       "DELTA_BYTE_ARRAY: prefix length too large"):
        assemble_file(path)


def test_fsst_code_match_contract():
    """``plans.lookup._find_rows`` matches a one-page FSST chunk in the
    code domain, which is exact for every blob ``fsst.encode`` writes: a
    hand-made stream whose table holds the symbol "ab" but which codes
    the string "ab" as two escapes decodes to "ab", and the code-domain
    match does not find it, while the encoder's blob of the same values
    does."""
    from parquet_cpp_spark.kernels import delta, fsst
    from parquet_cpp_spark.plans.lookup import _find_rows

    vals = [b"ab", b"zz"]
    codes = [bytes([fsst.ESCAPE, ord("a"), fsst.ESCAPE, ord("b")]),
             bytes([fsst.ESCAPE, ord("z"), fsst.ESCAPE, ord("z")])]
    lens = delta.encode(np.array([len(c) for c in codes], np.int64))
    stream = (bytes([1, 2]) + b"ab" + len(vals).to_bytes(4, "little")
              + len(lens).to_bytes(4, "little") + lens + b"".join(codes))
    header = (chunkmod.MAGIC
              + bytes([chunkmod.VERSION, chunkmod.FSST,
                       chunkmod.PHYS_IDS["byte_array"],
                       chunkmod.UNCOMPRESSED, 0])
              + len(vals).to_bytes(4, "little") * 2 + bytes(4))
    blob = header + len(stream).to_bytes(4, "little") + stream
    assert ba.to_list(chunkmod.decode_chunk(blob).values) == vals
    assert _find_rows(blob, b"ab") == []
    assert _find_rows(blob, b"zz") == [1]
    enc = chunkmod.encode_chunk(vals, "byte_array", chunkmod.FSST,
                                page_size=None).blob
    assert _find_rows(enc, b"ab") == [0] and _find_rows(enc, b"zz") == [1]
