"""Kernel round-trip tests, mirroring the reference's encoding-test.cc:
seeded random data per profile, Put -> Flush -> SetData -> Decode ->
element equality (/root/reference/src/parquet/encoding-test.cc:212-309),
delta-family cases (/root/reference/benchmarks/decode_benchmark.cc:323-433),
and level-coder torture across widths/run lengths
(/root/reference/src/parquet/column_writer-test.cc:584-748)."""

import numpy as np
import pytest

from parquet_cpp_spark.kernels import (bitpack, bytearray_codecs, delta,
                                       dictionary, fsst, plain, rle, varint)

RNG = np.random.default_rng(42)


# ---------- profiles from FIXTURES.md F3 ----------
def profiles_int32():
    return {
        "constant": np.full(5000, 7, dtype=np.int32),
        "low-card": RNG.integers(0, 100, 5000).astype(np.int32),
        "mid-card-repeats": np.tile(RNG.integers(0, 1 << 20, 2500), 2).astype(np.int32),
        "high-card": RNG.integers(0, 262144, 5000).astype(np.int32),
        "sorted": np.cumsum(RNG.integers(0, 5, 5000)).astype(np.int32),
        "runs": np.repeat(np.arange(256, dtype=np.int32),
                          RNG.integers(1, 129, 256)),
        "adversarial": np.tile(np.array([0, 1], dtype=np.int32), 2500),
        "negatives": RNG.integers(-100000, 100000, 5000).astype(np.int32),
        "empty": np.array([], dtype=np.int32),
        "single": np.array([123], dtype=np.int32),
        "len7": np.arange(7, dtype=np.int32),
        "len9": np.arange(9, dtype=np.int32),
    }


# ---------- varint ----------
def test_varint_roundtrip():
    for v in [0, 1, 127, 128, 300, 2**31, 2**62]:
        buf = varint.encode_uvarint(v)
        out, pos = varint.decode_uvarint(buf)
        assert out == v and pos == len(buf)
    for v in [0, -1, 1, -64, 63, -2**31, 2**31, -2**62]:
        buf = varint.encode_zigzag_varint(v)
        out, pos = varint.decode_zigzag_varint(buf)
        assert out == v and pos == len(buf)


# ---------- bitpack ----------
@pytest.mark.parametrize("width", [1, 2, 3, 5, 7, 8, 13, 16, 20, 24, 25,
                                   26, 31, 32])
def test_bitpack_roundtrip(width):
    # 24/25/26 bracket the u32-lane boundary (pack_rows32 covers <= 25)
    n = 1000
    vals = RNG.integers(0, 2**width, n, dtype=np.uint64)
    buf = bitpack.pack(vals, width)
    assert len(buf) == bitpack.bytes_for(n, width)
    out = bitpack.unpack(buf, n, width, np.uint64)
    np.testing.assert_array_equal(out, vals)


@pytest.mark.parametrize("width", list(range(2, 26)))
def test_pack_rows32_bitstream_equals_u64_lane(width):
    """The u32 pack lane must produce the IDENTICAL bitstream as the u64
    lane for every width it covers (little-endian words of either size
    concatenate to the same LSB-first stream)."""
    vals = RNG.integers(0, 2**width, (64, 8), dtype=np.uint64)
    a = bitpack.pack_rows(vals, width)
    b = bitpack.pack_rows32(vals.astype(np.uint32), width)
    np.testing.assert_array_equal(a, b)


def test_bitpack_non_byte_boundary():
    # reference: bit-packing at non-byte boundaries, column_writer-test.cc:529-543
    vals = np.tile([0, 1], 31).astype(np.uint64)  # 62 values at width 1
    out = bitpack.unpack(bitpack.pack(vals, 1), 62, 1)
    np.testing.assert_array_equal(out, vals)


# ---------- RLE hybrid ----------
@pytest.mark.parametrize("width", [1, 2, 4, 8, 12, 16, 20, 32])
def test_rle_roundtrip_random(width):
    n = 4097
    vals = RNG.integers(0, 2**min(width, 31), n)
    buf = rle.encode(vals, width)
    out, pos = rle.decode(buf, n, width)
    np.testing.assert_array_equal(out, vals)
    assert pos == len(buf)


def test_rle_torture_runs():
    # level-coder torture: widths 1-8, run lengths 2^0..2^7
    # (column_writer-test.cc:584-748)
    for width in range(1, 9):
        for exp in range(8):
            run = 2 ** exp
            vals = np.repeat(np.arange(2**width) % (2**width), run)
            buf = rle.encode(vals, width)
            out, _ = rle.decode(buf, len(vals), width)
            np.testing.assert_array_equal(out, vals)


def test_rle_long_run_compresses():
    vals = np.full(100000, 3)
    buf = rle.encode(vals, 2)
    assert len(buf) < 16  # one run header + value
    out, _ = rle.decode(buf, len(vals), 2)
    np.testing.assert_array_equal(out, vals)


def test_rle_tail_cases():
    for n in [1, 7, 8, 9, 15, 16, 17, 63]:
        vals = RNG.integers(0, 4, n)
        out, _ = rle.decode(rle.encode(vals, 2), n, 2)
        np.testing.assert_array_equal(out, vals)
    # tail merging into a final RLE run
    vals = np.concatenate([np.arange(8), np.full(13, 5)])
    out, _ = rle.decode(rle.encode(vals, 4), len(vals), 4)
    np.testing.assert_array_equal(out, vals)


def test_rle_truncated_stream_raises():
    """A stream that ends before its declared count, with a run header or
    a multi-byte run value cut, is a ValueError, not an IndexError or a
    wrong value."""
    vals = np.array([1000] * 50 + [7] * 30, dtype=np.int64)
    enc = rle.encode(vals, 10)
    np.testing.assert_array_equal(rle.decode(enc, 80, 10)[0], vals)
    for cut in range(len(enc)):
        with pytest.raises(ValueError, match="corrupt RLE stream"):
            rle.decode(enc[:cut], 80, 10)


# ---------- PLAIN ----------
@pytest.mark.parametrize("phys,dtype", [("int32", np.int32), ("int64", np.int64),
                                        ("float", np.float32), ("double", np.float64)])
def test_plain_fixed_roundtrip(phys, dtype):
    vals = RNG.integers(-1000, 1000, 999).astype(dtype)
    buf = plain.encode_fixed(vals, phys)
    out, pos = plain.decode_fixed(buf, len(vals), phys)
    np.testing.assert_array_equal(out, vals)
    assert pos == len(buf) == len(vals) * vals.dtype.itemsize


def test_plain_boolean_roundtrip():
    vals = RNG.integers(0, 2, 77).astype(bool)
    out, _ = plain.decode_boolean(plain.encode_boolean(vals), 77)
    np.testing.assert_array_equal(out, vals)


def test_plain_byte_array_roundtrip():
    vals = [b"", b"a", b"hello world", bytes(RNG.integers(0, 256, 100).astype(np.uint8))]
    buf = plain.encode_byte_array(vals)
    out, pos = plain.decode_byte_array(buf, len(vals))
    assert out == vals and pos == len(buf)


def test_plain_flba_roundtrip():
    vals = [b"abcd", b"efgh", b"ijkl"]
    out, _ = plain.decode_flba(plain.encode_flba(vals, 4), 3, 4)
    assert out == vals


# ---------- DELTA_BINARY_PACKED ----------
@pytest.mark.parametrize("name", ["zeros", "sorted", "rand10k", "rand100",
                                  "negatives", "single", "two", "block_edge"])
def test_delta_roundtrip(name):
    cases = {
        "zeros": np.zeros(1000, dtype=np.int64),
        "sorted": np.arange(1, 1025, dtype=np.int64),
        "rand10k": RNG.integers(0, 10000, 1_0000),
        "rand100": RNG.integers(0, 100, 1_0000),
        "negatives": RNG.integers(-2**31, 2**31, 5000),
        "single": np.array([42], dtype=np.int64),
        "two": np.array([5, -5], dtype=np.int64),
        "block_edge": RNG.integers(0, 100, 128 * 3 + 1),
    }
    vals = cases[name]
    buf = delta.encode(vals)
    out, pos = delta.decode(buf)
    np.testing.assert_array_equal(out, vals)
    assert pos == len(buf)


def test_delta_compresses_sorted():
    vals = np.arange(100000, dtype=np.int64)
    buf = delta.encode(vals)
    assert len(buf) < 100000 * 8 / 50  # constant delta -> ~0 bits/value


# ---------- dictionary ----------
def test_dictionary_first_appearance_order():
    vals = np.array([30, 10, 30, 20, 10], dtype=np.int32)
    enc = dictionary.encode(vals, "int32")
    uniques, _ = plain.decode_fixed(enc.dict_blob, enc.num_entries, "int32")
    np.testing.assert_array_equal(uniques, [30, 10, 20])


@pytest.mark.parametrize("name", list(profiles_int32().keys()))
def test_dictionary_roundtrip_int32(name):
    vals = profiles_int32()[name]
    enc = dictionary.encode(vals, "int32")
    out = dictionary.decode(enc, "int32")
    np.testing.assert_array_equal(np.asarray(out, dtype=np.int32), vals)


def test_dictionary_roundtrip_bytes():
    vals = [f"doc-{i % 50:06d}".encode() for i in range(2000)]
    enc = dictionary.encode(vals, "byte_array")
    assert enc.num_entries == 50 and not enc.fallback
    assert dictionary.decode(enc, "byte_array") == vals


def test_dictionary_fallback():
    # dict-overflow: force fallback with a tiny limit (reference semantics:
    # VERY_LARGE_SIZE=400000 distinct values, column_writer-test.cc:478-506)
    vals = np.arange(1000, dtype=np.int32)
    enc = dictionary.encode(vals, "int32", dict_size_limit=400)  # 100 entries
    assert enc.fallback
    assert enc.n_dict_values + enc.n_plain_values == 1000
    assert enc.num_entries <= 100
    out = dictionary.decode(enc, "int32")
    np.testing.assert_array_equal(np.asarray(out, dtype=np.int32), vals)


def test_dictionary_fallback_bytes():
    vals = [f"unique-{i:08d}".encode() for i in range(5000)]
    enc = dictionary.encode(vals, "byte_array", dict_size_limit=1000)
    assert enc.fallback
    assert dictionary.decode(enc, "byte_array") == vals


# ---------- string codecs ----------
WORDS = [w.encode() for w in
         ("myxa myxophyta myxopod nab nabbed nabbing nabbed nabber nabob "
          "nacarat nacelle").split()]  # the reference's word-list fixture


def test_delta_length_roundtrip():
    out, pos = bytearray_codecs.decode_delta_length(
        bytearray_codecs.encode_delta_length(WORDS))
    assert out == WORDS


def test_delta_byte_array_roundtrip():
    buf = bytearray_codecs.encode_delta_byte_array(WORDS)
    out, _ = bytearray_codecs.decode_delta_byte_array(buf)
    assert out == WORDS
    # shared prefixes must compress vs delta-length
    sorted_ids = [f"corpus/shard{i // 100:03d}/doc-{i:012d}".encode()
                  for i in range(3000)]
    dba = bytearray_codecs.encode_delta_byte_array(sorted_ids)
    dlb = bytearray_codecs.encode_delta_length(sorted_ids)
    assert len(dba) < len(dlb)


def test_fsst_roundtrip():
    vals = [f"corpus/shard{i % 7:03d}/doc-{i:012d}".encode() for i in range(500)]
    blob = fsst.encode(vals)
    out, _ = fsst.decode(blob)
    assert out == vals
    raw = sum(len(v) for v in vals)
    assert len(blob) < raw  # must actually compress the repetitive structure


def test_fsst_roundtrip_edge():
    vals = [b"", b"\xff", b"\xff\xff escape heavy \xff", b"a" * 100]
    out, _ = fsst.decode(fsst.encode(vals))
    assert out == vals


def test_fsst_deterministic():
    vals = [f"doc-{i:06d}".encode() for i in range(200)]
    assert fsst.encode(vals) == fsst.encode(list(vals))


# --- ba.ByteArrayView primitives ---

def test_ba_view_primitives():
    import numpy as np
    from parquet_cpp_spark.kernels import ba
    vals = [b"", b"a", b"hello", b"\x00\xff" * 5, b"zz"]
    v = ba.from_list(vals)
    assert len(v) == 5 and list(v) == vals and v == vals
    assert v[2] == b"hello"
    assert v[1:4] == vals[1:4]
    np.testing.assert_array_equal(v.lengths, [0, 1, 5, 10, 2])
    # take / concat / slice
    t = ba.take(v, np.array([4, 0, 2, 2]))
    assert t == [b"zz", b"", b"hello", b"hello"]
    c = ba.concat(ba.slice_rows(v, 0, 2), ba.slice_rows(v, 3, 5))
    assert c == [b"", b"a", b"\x00\xff" * 5, b"zz"]
    # arrow round-trip (zero-copy both ways)
    assert ba.from_arrow(ba.to_arrow(v)) == vals
    mn, mx = ba.minmax(v)
    assert mn == b"" and mx == b"zz"
    # empty
    e = ba.from_list([])
    assert len(e) == 0 and ba.to_list(e) == []
    assert ba.take(e, np.array([], dtype=np.int64)) == []


def test_delta_narrow_lane_edges():
    """Narrow int32-lane delta paths: uint32 small-span, int16, unaligned
    inputs, and the exact 2^31-1 span boundary all match the wide path
    byte-for-byte."""
    import numpy as np

    from parquet_cpp_spark.kernels import delta

    cases = [
        (np.arange(50000, dtype=np.uint32) % 1000),
        ((np.arange(30000) % 7).astype(np.int16) - 3),
        np.array([0, 2**31 - 1, 0, 2**31 - 1], dtype=np.int64)
        .astype(np.int32, copy=False),                # span == 2^31-1 edge
        np.ones(999, dtype=np.int8)[1:].astype(np.int16),  # from odd slice
    ]
    for c in cases:
        got = delta.encode(c)
        wide = delta.encode(np.ascontiguousarray(c, dtype=np.int64))
        assert got == wide
        dec, _ = delta.decode(got, out_dtype=np.int64)
        assert np.array_equal(np.asarray(dec, dtype=c.dtype), c)
