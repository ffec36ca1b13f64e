"""Multi-page chunks (v3): flush policy, fallback page sequence, partial
reads — mirroring the reference's page tests
(/root/reference/src/parquet/column_writer-test.cc:462-506 large chunks +
dictionary fallback; column_reader.h:268-281 Skip)."""

import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from parquet_cpp_spark import chunk as chunkmod
from parquet_cpp_spark.kernels import ba

RNG = np.random.default_rng(7)


def test_tokens_paged_roundtrip_and_page_count():
    lengths = RNG.integers(0, 300, 5000).astype(np.int64)
    flat = RNG.integers(0, 32768, int(lengths.sum())).astype(np.int32)
    enc = chunkmod.encode_chunk(flat, "int32", chunkmod.DELTA_BINARY_PACKED,
                                row_lengths=lengths, page_size=64 << 10)
    assert enc.blob[4] == chunkmod.VERSION_PAGED
    pages = chunkmod.page_index(enc.blob)
    assert len(pages) > 1
    # flush policy targets ~64 KiB of *encoded* payload per page (the
    # reference's EstimatedDataEncodedSize rule), so the average encoded
    # page lands within 2x of the target
    assert enc.enc_bytes / len(pages) <= 2 * (64 << 10)
    dec = chunkmod.decode_chunk(enc.blob)
    np.testing.assert_array_equal(np.asarray(dec.values, np.int32), flat)
    np.testing.assert_array_equal(dec.row_lengths, lengths)


def test_single_page_below_threshold_stays_v2():
    vals = RNG.integers(0, 100, 1000).astype(np.int32)
    enc = chunkmod.encode_chunk(vals, "int32", chunkmod.PLAIN)
    assert enc.blob[4] == chunkmod.VERSION  # v2, no paging


@pytest.mark.parametrize("codec", [chunkmod.PLAIN, chunkmod.DELTA_BYTE_ARRAY,
                                   chunkmod.FSST,
                                   chunkmod.DELTA_LENGTH_BYTE_ARRAY])
def test_byte_array_paged_roundtrip(codec):
    vals = [f"corpus/shard{i % 97:03d}/doc-{i:09d}".encode()
            for i in range(40000)]
    enc = chunkmod.encode_chunk(vals, "byte_array", codec,
                                page_size=128 << 10)
    assert enc.blob[4] == chunkmod.VERSION_PAGED
    dec = chunkmod.decode_chunk(enc.blob)
    assert dec.values == vals
    pages = chunkmod.page_index(enc.blob)
    assert len(pages) > 1
    assert pages[0]["min"] is not None  # page stats present


def test_dict_fallback_page_sequence():
    """Fallen-back chunk: page codecs go [RLE_DICTIONARY..., PLAIN...] and
    the encodings list matches the reference's [PLAIN_DICTIONARY, PLAIN,
    RLE] (column_writer-test.cc:478-506)."""
    uniq = [f"u-{i:08d}-{'x' * 40}".encode() for i in range(20000)]
    enc = chunkmod.encode_chunk(uniq, "byte_array",
                                chunkmod.RLE_DICTIONARY,
                                page_size=64 << 10,
                                dict_size_limit=64 << 10)
    assert enc.encodings == ["PLAIN_DICTIONARY", "PLAIN", "RLE"]
    codecs = [p["codec"] for p in chunkmod.page_index(enc.blob)]
    assert chunkmod.RLE_DICTIONARY in codecs and chunkmod.PLAIN in codecs
    flip = codecs.index(chunkmod.PLAIN)
    assert all(c == chunkmod.RLE_DICTIONARY for c in codecs[:flip])
    assert all(c == chunkmod.PLAIN for c in codecs[flip:])
    assert chunkmod.decode_chunk(enc.blob).values == uniq


def test_partial_decode_rows_list_column():
    lengths = RNG.integers(0, 120, 8000).astype(np.int64)
    flat = RNG.integers(0, 1 << 14, int(lengths.sum())).astype(np.int32)
    enc = chunkmod.encode_chunk(flat, "int32", chunkmod.PLAIN,
                                row_lengths=lengths, page_size=32 << 10)
    cum = np.concatenate(([0], np.cumsum(lengths)))
    for lo, hi in [(0, 10), (1234, 1300), (7990, 8000), (4000, 4001)]:
        d = chunkmod.decode_chunk_rows(enc.blob, lo, hi)
        np.testing.assert_array_equal(np.asarray(d.values, np.int32),
                                      flat[cum[lo]: cum[hi]])
        np.testing.assert_array_equal(d.row_lengths, lengths[lo: hi])


def test_partial_decode_rows_byte_array_and_v2_fallback():
    vals = [f"doc-{i:07d}".encode() for i in range(30000)]
    enc3 = chunkmod.encode_chunk(vals, "byte_array", chunkmod.PLAIN,
                                 page_size=64 << 10)
    d = chunkmod.decode_chunk_rows(enc3.blob, 100, 140)
    assert d.values == vals[100:140]
    # v2 single-page blob falls back to decode + trim
    enc2 = chunkmod.encode_chunk(vals[:500], "byte_array", chunkmod.PLAIN)
    assert enc2.blob[4] == chunkmod.VERSION
    d2 = chunkmod.decode_chunk_rows(enc2.blob, 10, 20)
    assert d2.values == vals[10:20]


def test_paged_compression_per_page():
    big = RNG.integers(0, 1000, 1_500_000).astype(np.int64)
    enc = chunkmod.encode_chunk(big, "int64", chunkmod.RLE,
                                compression=chunkmod.GZIP)
    assert enc.blob[4] == chunkmod.VERSION_PAGED
    dec = chunkmod.decode_chunk(enc.blob)
    np.testing.assert_array_equal(np.asarray(dec.values), big)


def test_paged_deterministic():
    vals = [f"d{i:06d}".encode() for i in range(25000)]
    a = chunkmod.encode_chunk(vals, "byte_array", chunkmod.FSST,
                              page_size=32 << 10).blob
    b = chunkmod.encode_chunk(ba.from_list(vals), "byte_array",
                              chunkmod.FSST, page_size=32 << 10).blob
    assert a == b


def test_data_page_v2_levels_outside_compression():
    """DataPageV2: level sections stay readable without decompressing the
    value block (reference format-v2 page layout, properties.h:363-377)."""
    lengths = RNG.integers(0, 200, 6000).astype(np.int64)
    flat = RNG.integers(0, 1 << 14, int(lengths.sum())).astype(np.int32)
    v2 = chunkmod.encode_chunk(flat, "int32", chunkmod.DELTA_BINARY_PACKED,
                               row_lengths=lengths, page_size=64 << 10,
                               compression=chunkmod.GZIP,
                               data_page_version=2)
    v1 = chunkmod.encode_chunk(flat, "int32", chunkmod.DELTA_BINARY_PACKED,
                               row_lengths=lengths, page_size=64 << 10,
                               compression=chunkmod.GZIP,
                               data_page_version=1)
    assert v2.blob != v1.blob
    for enc in (v1, v2):
        dec = chunkmod.decode_chunk(enc.blob)
        np.testing.assert_array_equal(np.asarray(dec.values, np.int32), flat)
        np.testing.assert_array_equal(dec.row_lengths, lengths)
    # partial reads work on both layouts
    cum = np.concatenate(([0], np.cumsum(lengths)))
    d = chunkmod.decode_chunk_rows(v2.blob, 100, 200)
    np.testing.assert_array_equal(np.asarray(d.values, np.int32),
                                  flat[cum[100]: cum[200]])


def test_writer_properties_v2_roundtrip():
    from parquet_cpp_spark.properties import WriterProperties
    props = WriterProperties(format_version="V2", compression="GZIP")
    assert props.data_page_version == 2
    import pytest as _pytest
    with _pytest.raises(ValueError):
        WriterProperties(format_version="V9")


def test_point_lookup_page_pruning():
    """The Skip analog prunes to exactly the page whose [min,max] straddles
    the key (sorted doc_ids, one candidate page), and finds the right row."""
    from parquet_cpp_spark.plans.lookup import _find_rows
    vals = [f"doc-{i:07d}".encode() for i in range(50000)]
    enc = chunkmod.encode_chunk(vals, "byte_array",
                                chunkmod.DELTA_BYTE_ARRAY,
                                page_size=32 << 10)
    idx = chunkmod.page_index(enc.blob)
    assert len(idx) > 3
    key = b"doc-0031337"
    cands = [p for p in idx if p["min"] <= key <= p["max"]]
    assert len(cands) == 1  # stats prune to one page
    rows = _find_rows(enc.blob, key)
    assert rows == [31337]


@pytest.mark.parametrize("compression", ["UNCOMPRESSED", "GZIP", "ZSTD"])
def test_find_rows_fsst_code_match_differential(monkeypatch, compression):
    """A one-page FSST doc_id chunk is matched in its code domain, with
    no decode: for every stored key, prefixes of stored keys and absent
    keys, ``_find_rows`` returns the rows a full decode finds, over
    doc_ids with non-ASCII bytes, the escape byte 0xFF, duplicates and
    empty strings, uncompressed and block-compressed."""
    from parquet_cpp_spark.kernels import fsst
    from parquet_cpp_spark.plans.lookup import _find_rows

    vals = [f"corpus/shard{i % 7:03d}/doc-{i:09d}".encode()
            for i in range(600)]
    vals += [f"é/ü-文档-{i}".encode() for i in range(50)]
    vals += [bytes([255, 255, i]) + b"\xff" for i in range(40)]
    vals += [b""] * 5 + vals[:20]
    vals = [vals[i] for i in RNG.permutation(len(vals))]
    blob = chunkmod.encode_chunk(
        vals, "byte_array", chunkmod.FSST, page_size=None,
        compression=getattr(chunkmod, compression)).blob
    assert (blob[4], blob[5]) == (chunkmod.VERSION, chunkmod.FSST)
    decoded = ba.to_list(chunkmod.decode_chunk(blob).values)
    assert decoded == vals

    def no_decode(*_a, **_k):
        raise AssertionError("FSST decode in a code-domain match")
    monkeypatch.setattr(fsst, "decode_view", no_decode)
    keys = set(vals) | {v[:k] for v in vals[::25] for k in range(len(v))}
    keys |= {b"absent", b"\xff", "é".encode(), b"corpus/shard000/doc-"}
    for key in sorted(keys):
        want = [i for i, v in enumerate(decoded) if v == key]
        assert _find_rows(blob, key) == want, key


def test_paged_dict_fallback_on_list_column_with_partial_reads():
    """The hardest interaction: list column + chunk-global dictionary +
    mid-stream fallback + small pages + partial reads across the
    dict->plain flip, with and without per-page compression / V2 layout."""
    rng = np.random.default_rng(99)
    lengths = rng.integers(0, 50, 4000).astype(np.int64)
    n = int(lengths.sum())
    half = n // 2
    vals = np.concatenate(
        [rng.integers(0, 100, half),
         np.arange(1_000_000, 1_000_000 + (n - half))]).astype(np.int32)
    cum = np.concatenate(([0], np.cumsum(lengths)))
    for compression, dpv in [(chunkmod.UNCOMPRESSED, 1),
                             (chunkmod.GZIP, 1), (chunkmod.GZIP, 2)]:
        enc = chunkmod.encode_chunk(vals, "int32",
                                    chunkmod.RLE_DICTIONARY,
                                    row_lengths=lengths,
                                    page_size=16 << 10,
                                    dict_size_limit=4 << 10,
                                    compression=compression,
                                    data_page_version=dpv)
        assert enc.blob[4] == chunkmod.VERSION_PAGED
        codecs = {p["codec"] for p in chunkmod.page_index(enc.blob)}
        assert codecs == {chunkmod.RLE_DICTIONARY, chunkmod.PLAIN}
        dec = chunkmod.decode_chunk(enc.blob)
        np.testing.assert_array_equal(np.asarray(dec.values, np.int32),
                                      vals)
        np.testing.assert_array_equal(dec.row_lengths, lengths)
        for lo, hi in [(0, 5), (1990, 2010), (3995, 4000)]:
            d = chunkmod.decode_chunk_rows(enc.blob, lo, hi)
            np.testing.assert_array_equal(np.asarray(d.values, np.int32),
                                          vals[cum[lo]: cum[hi]])
