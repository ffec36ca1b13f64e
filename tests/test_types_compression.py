"""Coverage for the remaining physical types (BOOLEAN, FLOAT, DOUBLE, FLBA,
INT96-as-flba:12) and block compression codecs — mirroring the reference's
all-types round-trips (arrow-reader-writer-test.cc:595-1928) and
all-codecs-x-stats tests (column_writer-test.cc:332-385)."""

import numpy as np
import pytest

from parquet_cpp_spark import chunk as chunkmod
from parquet_cpp_spark import selector

RNG = np.random.default_rng(42)


def test_boolean_roundtrip_plain_and_rle():
    vals = RNG.integers(0, 2, 1001).astype(bool)
    for codec in (chunkmod.PLAIN, chunkmod.RLE):
        enc = chunkmod.encode_chunk(vals, "boolean", codec)
        dec = chunkmod.decode_chunk(enc.blob)
        np.testing.assert_array_equal(np.asarray(dec.values), vals)
    # mostly-constant booleans must compress via RLE
    skewed = np.zeros(100000, dtype=bool)
    skewed[::1000] = True
    enc = selector.encode_best(skewed, "boolean")
    plain = chunkmod.encode_chunk(skewed, "boolean", chunkmod.PLAIN)
    assert enc.enc_bytes <= plain.enc_bytes


def test_boolean_dictionary_rejected():
    # reference parity: dict-of-boolean must throw (encoding-test.cc:304-309)
    with pytest.raises(ValueError):
        chunkmod.encode_chunk(np.array([True, False]), "boolean",
                              chunkmod.RLE_DICTIONARY)


_FIXED_CODECS = (chunkmod.PLAIN, chunkmod.RLE, chunkmod.DELTA_BINARY_PACKED,
                 chunkmod.RLE_DICTIONARY)
CODECS_FOR = {
    "int32": _FIXED_CODECS, "int64": _FIXED_CODECS,
    "uint32": _FIXED_CODECS, "uint64": _FIXED_CODECS,
    "float": (chunkmod.PLAIN, chunkmod.RLE_DICTIONARY),
    "double": (chunkmod.PLAIN, chunkmod.RLE_DICTIONARY),
    "flba:4": (chunkmod.PLAIN, chunkmod.RLE_DICTIONARY),
    "boolean": (chunkmod.PLAIN, chunkmod.RLE),
    "byte_array": (chunkmod.PLAIN, chunkmod.DELTA_LENGTH_BYTE_ARRAY,
                   chunkmod.DELTA_BYTE_ARRAY, chunkmod.FSST,
                   chunkmod.RLE_DICTIONARY),
}


def _typed_values(phys, n=2000):
    keys = np.arange(n) % 37
    if phys == "boolean":
        return keys % 2 == 1
    if phys == "byte_array":
        return [f"v{k}".encode() for k in keys]
    if phys.startswith("flba"):
        return [f"{k:04d}".encode() for k in keys]
    return keys.astype({"float": np.float32, "double": np.float64}
                       .get(phys, phys))


@pytest.mark.parametrize("phys", sorted(CODECS_FOR))
def test_codecs_outside_table_rejected(phys):
    """A codec a physical type cannot take is a ValueError on encode and on
    decode. Doubles under RLE used to encode to a blob that decoded to
    other values, and under DELTA_BINARY_PACKED raised numpy's
    UFuncTypeError."""
    vals = _typed_values(phys)
    outside = [c for c in chunkmod.CODEC_NAMES if c not in CODECS_FOR[phys]]
    plain_blob = bytearray(chunkmod.encode_chunk(vals, phys,
                                                 chunkmod.PLAIN).blob)
    for codec in outside:
        with pytest.raises(ValueError, match="unsupported|not supported"):
            chunkmod.encode_chunk(vals, phys, codec)
        with pytest.raises(ValueError, match="unsupported|not supported"):
            selector.encode_best(vals, phys, codec_override=codec)
        plain_blob[5] = codec      # the header's codec byte
        with pytest.raises(ValueError, match="unsupported|not supported"):
            chunkmod.decode_chunk(bytes(plain_blob))
    for codec in CODECS_FOR[phys]:
        enc = chunkmod.encode_chunk(vals, phys, codec)
        got = chunkmod.decode_chunk(enc.blob).values
        assert list(got) == list(vals), chunkmod.CODEC_NAMES[codec]


@pytest.mark.parametrize("phys,dtype", [("float", np.float32),
                                        ("double", np.float64)])
def test_float_roundtrip(phys, dtype):
    vals = RNG.normal(0, 100, 5000).astype(dtype)
    for codec in (chunkmod.PLAIN, chunkmod.RLE_DICTIONARY):
        enc = chunkmod.encode_chunk(vals, phys, codec)
        dec = chunkmod.decode_chunk(enc.blob)
        np.testing.assert_array_equal(np.asarray(dec.values), vals)
    # low-card floats -> dictionary via the selector
    lowcard = np.tile(np.array([1.5, 2.5, 3.5], dtype=dtype), 5000)
    enc = selector.encode_best(lowcard, phys)
    assert enc.codec == chunkmod.RLE_DICTIONARY
    np.testing.assert_array_equal(
        np.asarray(chunkmod.decode_chunk(enc.blob).values), lowcard)


def test_flba_roundtrip():
    vals = [bytes(RNG.integers(0, 256, 16).astype(np.uint8)) for _ in range(500)]
    for codec in (chunkmod.PLAIN, chunkmod.RLE_DICTIONARY):
        enc = chunkmod.encode_chunk(vals, "flba:16", codec)
        assert chunkmod.decode_chunk(enc.blob).values == vals


def test_int96_as_flba12():
    # INT96 timestamps are 12-byte FLBA values (types.h:178-179)
    vals = [RNG.integers(0, 256, 12).astype(np.uint8).tobytes()
            for _ in range(100)]
    enc = selector.encode_best(vals, "flba:12")
    assert chunkmod.decode_chunk(enc.blob).values == vals


@pytest.mark.parametrize("compression",
                         chunkmod.available_compressions())
def test_compression_roundtrip(compression):
    lengths = RNG.integers(0, 50, 200)
    vals = RNG.integers(0, 100, int(lengths.sum())).astype(np.int32)
    enc = chunkmod.encode_chunk(vals, "int32", chunkmod.RLE_DICTIONARY,
                                row_lengths=lengths, compression=compression)
    dec = chunkmod.decode_chunk(enc.blob)
    np.testing.assert_array_equal(np.asarray(dec.values, np.int32), vals)
    np.testing.assert_array_equal(dec.row_lengths, lengths)


def test_gzip_compresses_text_chunks():
    vals = [f"doc {i % 10} lorem ipsum dolor".encode() for i in range(5000)]
    plain = chunkmod.encode_chunk(vals, "byte_array", chunkmod.PLAIN)
    gz = chunkmod.encode_chunk(vals, "byte_array", chunkmod.PLAIN,
                               compression=chunkmod.GZIP)
    assert gz.enc_bytes < plain.enc_bytes
    assert chunkmod.decode_chunk(gz.blob).values == vals


def test_available_compressions_reports_stdlib():
    av = chunkmod.available_compressions()
    assert chunkmod.UNCOMPRESSED in av and chunkmod.GZIP in av


def test_nullable_spaced_roundtrip():
    """PutSpaced/DecodeSpaced parity (encoding.h:68-76, :110-131): spaced
    values + validity mask in, dense storage, mask round-trips, null_count
    in stats."""
    mask = RNG.random(1000) > 0.3
    vals = RNG.integers(0, 1000, 1000).astype(np.int32)
    enc = chunkmod.encode_chunk(vals, "int32", chunkmod.RLE_DICTIONARY,
                                valid_mask=mask)
    assert enc.stats.null_count == int((~mask).sum())
    assert enc.n_values == int(mask.sum()) and enc.n_rows == 1000
    dec = chunkmod.decode_chunk(enc.blob)
    np.testing.assert_array_equal(dec.valid_mask, mask)
    np.testing.assert_array_equal(np.asarray(dec.values, np.int32),
                                  vals[mask])


def test_nullable_strings_roundtrip():
    mask = np.array([True, False, True, True, False])
    vals = [b"a", b"SKIP", b"c", b"d", b"SKIP"]
    enc = chunkmod.encode_chunk(vals, "byte_array", chunkmod.PLAIN,
                                valid_mask=mask)
    dec = chunkmod.decode_chunk(enc.blob)
    assert dec.values == [b"a", b"c", b"d"]
    np.testing.assert_array_equal(dec.valid_mask, mask)


def test_all_null_chunk():
    # reference analog: all-null chunks (column_writer-test.cc:507-527)
    mask = np.zeros(100, dtype=bool)
    enc = chunkmod.encode_chunk(np.zeros(100, dtype=np.int32), "int32",
                                chunkmod.PLAIN, valid_mask=mask)
    assert enc.n_values == 0 and enc.stats.null_count == 100
    dec = chunkmod.decode_chunk(enc.blob)
    assert len(dec.values) == 0
    assert not dec.valid_mask.any()


def _token_table(doc_ids, tokens, n_tok, source):
    import pyarrow as pa
    return pa.table({
        "doc_id": pa.array(doc_ids, type=pa.string()),
        "tokens": pa.array(tokens, type=pa.list_(pa.int32())),
        "n_tok": pa.array(n_tok, type=pa.int32()),
        "source": pa.array(source, type=pa.string()),
    })


def test_writer_properties_drive_operators():
    """WriterProperties flows through the encode operator (config parity
    with the reference's WriterProperties::Builder)."""
    from parquet_cpp_spark.operators.encode_arrow import make_arrow_encode_fn
    from parquet_cpp_spark.properties import WriterProperties

    props = WriterProperties(codec_overrides={"tokens": "PLAIN"},
                             compression="GZIP", sort_key=None)
    fn = make_arrow_encode_fn(props=props)
    tbl = _token_table([f"d{i}" for i in range(50)],
                       [list(range(i % 7)) for i in range(50)],
                       [i % 7 for i in range(50)], ["web"] * 50)
    out = fn.encode_part(tbl, 0).to_pydict()
    assert dict(zip(out["col"], out["codec"]))["tokens"] == "PLAIN"
    blob = out["blob"][out["col"].index("tokens")]
    assert blob[7] == chunkmod.GZIP  # compression byte in the v2 header
    dec = chunkmod.decode_chunk(blob)
    assert dec.n_rows == 50

    with pytest.raises(ValueError):
        WriterProperties(codec_overrides={"x": "NOPE"})
    with pytest.raises(ValueError):
        WriterProperties(compression="XZ")
    for bad in (0, -1):
        with pytest.raises(ValueError,
                           match="data_pagesize must be positive"):
            WriterProperties(data_pagesize=bad)


def test_dictionary_disabled_property():
    """enable_dictionary(false) parity: the selector never proposes dict."""
    from parquet_cpp_spark.operators.encode_arrow import make_arrow_encode_fn
    from parquet_cpp_spark.properties import WriterProperties

    tbl = _token_table([f"d{i}" for i in range(2000)],
                       [[i % 5] * 20 for i in range(2000)],  # dict would win
                       [20] * 2000, ["web"] * 2000)
    fn = make_arrow_encode_fn(props=WriterProperties(dictionary_enabled=False,
                                                     sort_key=None))
    out = fn.encode_part(tbl, 0).to_pydict()
    assert "RLE_DICTIONARY" not in set(out["codec"])
    fn2 = make_arrow_encode_fn(props=WriterProperties(sort_key=None))
    out2 = fn2.encode_part(tbl, 0).to_pydict()
    assert "RLE_DICTIONARY" in set(out2["codec"])  # default allows it


# ---------------------------------------------------------------------------
# unsigned logical ints (reference UINT_32/UINT_64 annotations over
# int32/int64 physical storage, types.h:63-90; UNSIGNED sort order for
# stats, types.h:125-136)
# ---------------------------------------------------------------------------

def test_unsigned_roundtrip_all_codecs():
    import numpy as np
    rng = np.random.default_rng(3)
    u32 = rng.integers(0, 1 << 32, 20000, dtype=np.uint32)
    u64 = (rng.integers(0, 1 << 63, 20000, dtype=np.uint64) * 2
           + rng.integers(0, 2, 20000, dtype=np.uint64))
    ids = np.cumsum(rng.integers(1, 1000, 20000).astype(np.uint64)) \
        + np.uint64(1 << 63)
    for vals, phys in ((u32, "uint32"), (u64, "uint64"), (ids, "uint64")):
        for codec in (chunkmod.PLAIN, chunkmod.DELTA_BINARY_PACKED,
                      chunkmod.RLE_DICTIONARY):
            enc = chunkmod.encode_chunk(vals, phys, codec)
            got = np.asarray(chunkmod.decode_chunk(memoryview(enc.blob)).values)
            assert got.dtype == vals.dtype
            assert np.array_equal(got, vals)


def test_unsigned_stats_sort_order():
    """Stats must compare UNSIGNED: a value above 2^63 is the max, not a
    negative outlier (SortOrder::UNSIGNED, types.h:125-136)."""
    import numpy as np
    from parquet_cpp_spark import selector
    vals = np.array([5, 1, (1 << 64) - 1, 1 << 63], dtype=np.uint64)
    enc = selector.encode_best(vals, "uint64")
    assert int(enc.stats.min_val) == 1
    assert int(enc.stats.max_val) == (1 << 64) - 1


def test_unsigned_rle_guard():
    import numpy as np
    import pytest
    big = np.array([1 << 63], dtype=np.uint64)
    with pytest.raises(ValueError):
        chunkmod.encode_chunk(big, "uint64", chunkmod.RLE)
    small = np.arange(1000, dtype=np.uint32) % 7
    enc = chunkmod.encode_chunk(small, "uint32", chunkmod.RLE)
    assert np.array_equal(
        np.asarray(chunkmod.decode_chunk(memoryview(enc.blob)).values), small)


def test_unsigned_paged():
    import numpy as np
    from parquet_cpp_spark import selector
    rng = np.random.default_rng(9)
    big = np.cumsum(rng.integers(1, 50, 400000).astype(np.uint64)) \
        + np.uint64(1 << 63)
    enc = selector.encode_best(big, "uint64")
    dec = np.asarray(chunkmod.decode_chunk(memoryview(enc.blob)).values)
    assert dec.dtype == np.uint64 and np.array_equal(dec, big)


def test_annotation_specs_roundtrip():
    """UINT_8/UINT_16 (INT32 storage), ENUM/JSON (byte_array), BSON
    (binary), INTERVAL (12-byte FLBA) — the remaining converted-type
    annotations (reference types.h:63-90) through the Arrow operators'
    value extraction + chunk round-trip."""
    import numpy as np
    import pyarrow as pa

    from parquet_cpp_spark.kernels import ba
    from parquet_cpp_spark.operators.encode_arrow import (
        _arrow_column_values, kernel_phys)
    from parquet_cpp_spark import selector

    iv = [(m, d, ms) for m, d, ms in
          [(1, 2, 3), (0, 0, 0), (11, 27, 999)]]
    ivb = [m.to_bytes(4, "little") + d.to_bytes(4, "little")
           + ms.to_bytes(4, "little") for m, d, ms in iv]
    tbl = pa.table({
        "u8": pa.array([0, 199, 7], type=pa.int32()),
        "u16": pa.array([0, 59999, 300], type=pa.int32()),
        "enum_c": pa.array(["A", "B", "A"]),
        "json_c": pa.array(['{"a":1}', "{}", '{"b":[2,3]}']),
        "bson_c": pa.array([b"\x01\x02", b"", b"\xff"], type=pa.binary()),
        "interval_c": pa.array(ivb, type=pa.binary(12)),
    })
    specs = {"u8": "uint8", "u16": "uint16", "enum_c": "enum",
             "json_c": "json", "bson_c": "bson", "interval_c": "interval"}
    for col, spec in specs.items():
        vals, rl, ev, il, vm = _arrow_column_values(tbl, col, spec, ())
        enc = selector.encode_best(vals, kernel_phys(spec))
        dec = chunkmod.decode_chunk(memoryview(enc.blob))
        got = dec.values
        if isinstance(got, ba.ByteArrayView):
            got = ba.to_list(got)
        if isinstance(vals, ba.ByteArrayView):
            vals = ba.to_list(vals)
        if isinstance(vals, np.ndarray):
            assert np.array_equal(np.asarray(got, dtype=vals.dtype), vals), col
        else:
            assert list(got) == list(vals), col


def test_uint8_range_check():
    import pyarrow as pa
    import pytest

    from parquet_cpp_spark.operators.encode_arrow import _arrow_column_values
    tbl = pa.table({"u8": pa.array([0, 256], type=pa.int32())})
    with pytest.raises(Exception):
        _arrow_column_values(tbl, "u8", "uint8", ())
