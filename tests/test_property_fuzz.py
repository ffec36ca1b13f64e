"""Property-based fuzzing of the codec kernels (hypothesis).

Generalizes the reference's seeded-random round-trip strategy
(encoding-test.cc generators, util/test-common.h:126-202) into generated
inputs: arbitrary int32 arrays, arbitrary byte strings, arbitrary row-length
structures — every codec must round-trip element-exactly, and the chunk
layer must round-trip with any (codec, compression, mask) combination it
accepts.
"""

import numpy as np
from hypothesis import given, settings, strategies as st

from parquet_cpp_spark import chunk as chunkmod
from parquet_cpp_spark import selector
from parquet_cpp_spark.kernels import (bytearray_codecs, delta, dictionary,
                                       fsst, rle)

int32s = st.integers(min_value=-(2**31), max_value=2**31 - 1)
small_nonneg = st.integers(min_value=0, max_value=2**20 - 1)


@settings(max_examples=60, deadline=None)
@given(st.lists(int32s, max_size=700))
def test_fuzz_delta_roundtrip(xs):
    vals = np.array(xs, dtype=np.int32)
    if len(vals) == 0:
        return
    out, _ = delta.decode(delta.encode(vals))
    np.testing.assert_array_equal(out.astype(np.int32), vals)


@settings(max_examples=60, deadline=None)
@given(st.lists(int32s, min_size=1, max_size=700))
def test_fuzz_delta_wrap32_roundtrip(xs):
    """wrap32 mode (the parquet INT32 page convention): every miniblock
    width must stay <= 32 and mod-2^32 decode must reconstruct exactly,
    for ANY int32 input including full-range spans."""
    vals = np.array(xs, dtype=np.int32)
    blob = delta.encode(vals, wrap32=True)
    out, _ = delta.decode(blob, out_dtype=np.int32)
    np.testing.assert_array_equal(out, vals)
    # width bytes sit after [hdr varints][zigzag min]; cheap structural
    # check: no byte of the stream may declare a width > 32 where a width
    # byte is expected -- decode succeeding at int32 out already implies
    # widths <= 32 (the unpack path masks at the declared width)


@settings(max_examples=60, deadline=None)
@given(st.lists(small_nonneg, min_size=1, max_size=700),
       st.integers(min_value=20, max_value=32))
def test_fuzz_rle_roundtrip(xs, width):
    vals = np.array(xs, dtype=np.int64)
    out, _ = rle.decode(rle.encode(vals, width), len(vals), width)
    np.testing.assert_array_equal(out, vals)


@settings(max_examples=60, deadline=None)
@given(st.lists(int32s, min_size=1, max_size=500))
def test_fuzz_dictionary_roundtrip(xs):
    vals = np.array(xs, dtype=np.int32)
    out = dictionary.decode(dictionary.encode(vals, "int32"), "int32")
    np.testing.assert_array_equal(np.asarray(out, dtype=np.int32), vals)


@settings(max_examples=40, deadline=None)
@given(st.lists(st.binary(max_size=40), max_size=200))
def test_fuzz_string_codecs(xs):
    for enc, dec in [
        (bytearray_codecs.encode_delta_length,
         bytearray_codecs.decode_delta_length),
        (bytearray_codecs.encode_delta_byte_array,
         bytearray_codecs.decode_delta_byte_array),
    ]:
        out, _ = dec(enc(list(xs)))
        assert out == list(xs)
    if xs:
        out, _ = fsst.decode(fsst.encode(list(xs)))
        assert out == list(xs)


@settings(max_examples=40, deadline=None)
@given(st.lists(st.binary(max_size=40), max_size=200))
def test_fuzz_string_codecs_spec_framing(xs):
    """The parquet-format page framings (no chunk-format length
    prefixes; DELTA_BINARY_PACKED sub-streams self-delimit) round-trip
    through the engine's own decoders AND through pyarrow's, via a
    single-page engine-written file."""
    from parquet_cpp_spark.kernels import ba
    for enc, dec in [
        (bytearray_codecs.encode_delta_length_spec,
         bytearray_codecs.decode_delta_length_spec),
        (bytearray_codecs.encode_delta_byte_array_spec,
         bytearray_codecs.decode_delta_byte_array_spec),
    ]:
        view, pos = dec(enc(list(xs)))
        assert ba.to_list(view) == list(xs)
        assert pos == len(enc(list(xs)))   # stream fully consumed


@settings(max_examples=15, deadline=None)
@given(st.lists(st.binary(max_size=32), min_size=1, max_size=120),
       st.sampled_from(["delta_length", "delta_byte_array"]),
       st.sampled_from([1, 2]))
def test_fuzz_dba_pages_pyarrow_cross_decode(tmp_path_factory, xs, kind,
                                             dpv):
    """Engine-written DELTA_(LENGTH_)BYTE_ARRAY pages decode identically
    through pyarrow for arbitrary binary values (empty strings, shared
    prefixes, duplicates) across page splits and both page versions."""
    import pyarrow.parquet as pq

    from parquet_cpp_spark.sources import parquet_writer as pw
    d = tmp_path_factory.mktemp("dbafuzz")
    path = str(d / "f.parquet")
    enc = "dlba" if kind == "delta_length" else "dba"
    pw.write_file(path, [("v", "byte_array", list(xs))], len(xs),
                  page_rows=37, data_page_version=dpv,
                  encodings={"v": enc})
    assert pq.read_table(path).column("v").to_pylist() == list(xs)


@settings(max_examples=30, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=60),
                min_size=1, max_size=120),
       st.sampled_from(["auto", "PLAIN", "RLE_DICTIONARY",
                        "DELTA_BINARY_PACKED"]),
       st.sampled_from([chunkmod.UNCOMPRESSED, chunkmod.GZIP]))
def test_fuzz_chunk_list_column(lengths, codec, compression):
    lengths = np.array(lengths, dtype=np.int64)
    rng = np.random.default_rng(int(lengths.sum()) + len(lengths))
    vals = rng.integers(0, 1 << 17, int(lengths.sum())).astype(np.int32)
    if codec == "auto":
        enc = selector.encode_best(vals, "int32", row_lengths=lengths,
                                   compression=compression)
    else:
        enc = chunkmod.encode_chunk(vals, "int32",
                                    chunkmod.CODEC_IDS[codec],
                                    row_lengths=lengths,
                                    compression=compression)
    dec = chunkmod.decode_chunk(enc.blob)
    np.testing.assert_array_equal(dec.row_lengths, lengths)
    np.testing.assert_array_equal(np.asarray(dec.values, np.int32), vals)


@settings(max_examples=30, deadline=None)
@given(st.lists(st.booleans(), min_size=1, max_size=300))
def test_fuzz_nullable_mask(mask_list):
    mask = np.array(mask_list, dtype=bool)
    vals = np.arange(len(mask), dtype=np.int32)
    enc = chunkmod.encode_chunk(vals, "int32", chunkmod.PLAIN,
                                valid_mask=mask)
    dec = chunkmod.decode_chunk(enc.blob)
    np.testing.assert_array_equal(dec.valid_mask, mask)
    np.testing.assert_array_equal(np.asarray(dec.values, np.int32),
                                  vals[mask])


@settings(max_examples=25, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=300),
                min_size=1, max_size=300),
       st.sampled_from(["PLAIN", "DELTA_BINARY_PACKED", "RLE_DICTIONARY"]),
       st.integers(min_value=256, max_value=4096),
       st.sampled_from([chunkmod.UNCOMPRESSED, chunkmod.GZIP]),
       st.sampled_from([1, 2]))
def test_fuzz_paged_chunk(lengths, codec, page_size, compression, dpv):
    """Multi-page chunks round-trip for any page size / codec /
    compression / page-layout version, including partial row reads."""
    lengths = np.array(lengths, dtype=np.int64)
    rng = np.random.default_rng(int(lengths.sum()) * 7 + len(lengths))
    vals = rng.integers(0, 1 << 15, int(lengths.sum())).astype(np.int32)
    enc = chunkmod.encode_chunk(vals, "int32", chunkmod.CODEC_IDS[codec],
                                row_lengths=lengths, page_size=page_size,
                                compression=compression,
                                data_page_version=dpv)
    dec = chunkmod.decode_chunk(enc.blob)
    np.testing.assert_array_equal(dec.row_lengths, lengths)
    np.testing.assert_array_equal(np.asarray(dec.values, np.int32), vals)
    # random row range partial read
    lo = int(rng.integers(0, len(lengths)))
    hi = int(rng.integers(lo, len(lengths))) + 1
    cum = np.concatenate(([0], np.cumsum(lengths)))
    part = chunkmod.decode_chunk_rows(enc.blob, lo, hi)
    np.testing.assert_array_equal(np.asarray(part.values, np.int32),
                                  vals[cum[lo]: cum[hi]])
    np.testing.assert_array_equal(part.row_lengths, lengths[lo: hi])


@settings(max_examples=25, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=8),
                min_size=1, max_size=200),
       st.randoms(use_true_random=False))
def test_fuzz_nullable_list_elements(lengths, rnd):
    lengths = np.array(lengths, dtype=np.int64)
    n_slots = int(lengths.sum())
    valid = np.array([rnd.random() > 0.4 for _ in range(n_slots)],
                     dtype=bool)
    dense = np.arange(int(valid.sum()), dtype=np.int32) * 3
    enc = chunkmod.encode_chunk(dense, "int32", chunkmod.PLAIN,
                                row_lengths=lengths, elem_valid=valid)
    dec = chunkmod.decode_chunk(enc.blob)
    np.testing.assert_array_equal(dec.row_lengths, lengths)
    np.testing.assert_array_equal(dec.valid_mask, valid)
    np.testing.assert_array_equal(np.asarray(dec.values, np.int32), dense)


@settings(max_examples=25, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=4),
                min_size=1, max_size=120))
def test_fuzz_list_of_list(outer_list):
    outer = np.array(outer_list, dtype=np.int64)
    rng = np.random.default_rng(len(outer) * 31 + int(outer.sum()))
    inner = rng.integers(0, 5, int(outer.sum())).astype(np.int64)
    vals = rng.integers(0, 1 << 15, int(inner.sum())).astype(np.int32)
    enc = chunkmod.encode_chunk(vals, "int32", chunkmod.PLAIN,
                                row_lengths=outer, inner_lengths=inner)
    dec = chunkmod.decode_chunk(enc.blob)
    np.testing.assert_array_equal(dec.row_lengths, outer)
    np.testing.assert_array_equal(dec.inner_lengths, inner)
    np.testing.assert_array_equal(np.asarray(dec.values, np.int32), vals)


@settings(max_examples=25, deadline=None)
@given(lengths=st.lists(st.integers(min_value=0, max_value=9), min_size=1,
                        max_size=120),
       page_rows=st.integers(min_value=1, max_value=40),
       enc=st.sampled_from(["plain", "dict", "delta"]),
       ver=st.sampled_from([1, 2]))
def test_fuzz_list_column_writer_roundtrip(tmp_path_factory, lengths,
                                           page_rows, enc, ver):
    """REPEATED-leaf writer fuzz: ANY list-length structure (empties
    anywhere, rows split across arbitrary page boundaries) x encoding x
    page version must read back row-exact through pyarrow AND the
    engine's own reader (rep/def level round-trip)."""
    import pyarrow.parquet as pq

    from parquet_cpp_spark import levels
    from parquet_cpp_spark.sources import parquet_format as pfmt
    from parquet_cpp_spark.sources import parquet_writer as pw

    lens = np.array(lengths, dtype=np.int64)
    n = len(lens)
    rng = np.random.default_rng(int(lens.sum()) + n)
    vals = rng.integers(-2**31, 2**31, int(lens.sum())).astype(np.int32)
    path = str(tmp_path_factory.mktemp("lf") / "f.parquet")
    pw.write_file(path, [pw.ListColumn("t", "int32", vals, lens,
                                       use_dictionary=enc == "dict")],
                  n, page_rows=page_rows, data_page_version=ver,
                  encodings={"t": "delta"} if enc == "delta" else None)
    ofs = np.zeros(n + 1, np.int64)
    np.cumsum(lens, out=ofs[1:])
    exp = [vals[ofs[i]:ofs[i + 1]].tolist() for i in range(n)]
    assert pq.read_table(path).column("t").to_pylist() == exp
    v, d, r = pfmt.read_file(path)["t.list.element"]
    assert levels.lengths_from_levels(r, d).tolist() == lens.tolist()
    assert np.asarray(v).tolist() == vals.tolist()
