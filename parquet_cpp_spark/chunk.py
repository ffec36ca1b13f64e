"""Self-describing encoded column-chunk blobs + per-chunk statistics.

A chunk is our analog of the reference's column chunk within a row group
(``/root/reference/src/parquet/metadata.h:90-117``): all values of one column
for one Spark partition, encoded as one binary blob plus metadata columns.
The blob layout mirrors a V1 data page preceded by an optional dictionary
page (``/root/reference/src/parquet/column_writer.cc:354-431``):

    header   := magic "PQS1" | u8 version | u8 codec | u8 phys
                | u8 compression | u8 flags
                | u32 n_rows | u32 n_values | u32 null_count
    sections := [u32 n_slots][u32 len + rep-RLE][u32 len + def-RLE] (LEVELS)
                [u32 type_length]                             (if FLBA)
                [u32 len + dict page][u32 n_dict_values]      (if DICT)
                [u32 len + payload]
                [u32 n_plain_values][u32 len + plain payload] (if FALLBACK)
    sections are block-compressed as a unit when compression != 0, like the
    reference's assembled pages (column_writer.cc:196-212).

Statistics (min/max/null_count) follow ``EncodedStatistics``
(``/root/reference/src/parquet/statistics.h:34-82``), computed vectorized.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

from .kernels import (ba, bitpack, bytearray_codecs, delta, dictionary, fsst,
                      plain, rle)
from . import levels as levels_mod

MAGIC = b"PQS1"
# v2: u8 block-compression field in the header. NOTE on body layout within
# v2: since round 3 the SNAPPY/LZ4/ZSTD body is u32 raw-size + pyarrow codec
# frame (was: codec frame alone, via the python snappy/zstandard/lz4
# packages). Blobs written by the pre-round-3 bodies fail decode with a loud
# codec error, never silent corruption; no such blobs persist anywhere (all
# fixtures/goldens were regenerated), so the version byte was deliberately
# NOT bumped — bump it if the body layout of an existing compression id
# ever changes again after blobs have shipped.
VERSION = 2

# Codec ids reuse the parquet Encoding enum where one exists
# (/root/reference/src/parquet/types.h:97-109); FSST is ours.
PLAIN = 0
PLAIN_DICTIONARY = 2
RLE = 3
DELTA_BINARY_PACKED = 5
DELTA_LENGTH_BYTE_ARRAY = 6
DELTA_BYTE_ARRAY = 7
RLE_DICTIONARY = 8
FSST = 200

CODEC_NAMES = {
    PLAIN: "PLAIN",
    PLAIN_DICTIONARY: "PLAIN_DICTIONARY",
    RLE: "RLE",
    DELTA_BINARY_PACKED: "DELTA_BINARY_PACKED",
    DELTA_LENGTH_BYTE_ARRAY: "DELTA_LENGTH_BYTE_ARRAY",
    DELTA_BYTE_ARRAY: "DELTA_BYTE_ARRAY",
    RLE_DICTIONARY: "RLE_DICTIONARY",
    FSST: "FSST",
}
CODEC_IDS = {v: k for k, v in CODEC_NAMES.items()}

# Physical types (/root/reference/src/parquet/types.h:49-60). INT96 is
# carried as a 12-byte FLBA ("flba:12"), matching its storage layout.
# UINT32/UINT64 are the UINT_32/UINT_64 logical annotations over the
# int32/int64 physical layouts (types.h:63-90): same bytes on the wire,
# unsigned value space, and UNSIGNED sort order for stats
# (SortOrder, types.h:125-136).
BOOLEAN, INT32, INT64, INT96, FLOAT, DOUBLE, BYTE_ARRAY, FLBA = range(8)
UINT32, UINT64 = 8, 9
PHYS_NAMES = {INT32: "int32", INT64: "int64", FLOAT: "float",
              DOUBLE: "double", BYTE_ARRAY: "byte_array", BOOLEAN: "boolean",
              FLBA: "flba", UINT32: "uint32", UINT64: "uint64"}
PHYS_IDS = {v: k for k, v in PHYS_NAMES.items()}

# Block compression codecs, orthogonal to encodings
# (/root/reference/src/parquet/types.h:112-114; page compress
# column_writer.cc:196-212). GZIP here is a zlib container (RFC 1950
# header + deflate + Adler-32), not raw deflate and not a gzip member;
# SNAPPY / BROTLI / LZ4 / ZSTD are pyarrow's bundled C++ codecs.
UNCOMPRESSED, SNAPPY, GZIP, LZO, BROTLI, LZ4, ZSTD = range(7)
COMPRESSION_NAMES = {UNCOMPRESSED: "UNCOMPRESSED", SNAPPY: "SNAPPY",
                     GZIP: "GZIP", BROTLI: "BROTLI", LZ4: "LZ4",
                     ZSTD: "ZSTD"}
COMPRESSION_IDS = {v: k for k, v in COMPRESSION_NAMES.items()}

FLAG_HAS_LEVELS = 1
FLAG_FALLBACK = 2
FLAG_HAS_NULLS = 4  # flat OPTIONAL column: def-level section present
FLAG_PAGED = 8      # v3 multi-page chunk (page sequence after the header)
FLAG_LEVELS2 = 16   # general levels: [n_slots][max_rep][max_def][rep][def]
#                     (nullable list elements and list-of-list; levels.py)

_HEADER_LEN = 4 + 1 + 1 + 1 + 1 + 1 + 4 + 4 + 4

VERSION_PAGED = 3
# Reference page flush threshold: DEFAULT_PAGE_SIZE = 1 MiB
# (/root/reference/src/parquet/properties.h:81), checked per mini-batch
# (column_writer.cc:645-650). We split on the raw-size proxy of
# EstimatedDataEncodedSize.
DEFAULT_PAGE_SIZE = 1 << 20


def _compress(payload: bytes, compression: int) -> bytes:
    if compression == UNCOMPRESSED:
        return payload
    if compression == GZIP:
        import zlib
        return zlib.compress(payload, 6)
    if compression in _ARROW_CODECS:
        # pyarrow's bundled C++ codecs (the same libraries the reference
        # links, types.h:106-118); their decompressors need the raw size,
        # so the body is u32 uncompressed-length + compressed bytes — the
        # analog of the parquet page header's uncompressed_page_size
        import pyarrow as pa
        comp = pa.Codec(_ARROW_CODECS[compression]).compress(
            payload, asbytes=True)
        return len(payload).to_bytes(4, "little") + comp
    raise ValueError(f"unsupported compression {compression}")


_ARROW_CODECS = {SNAPPY: "snappy", BROTLI: "brotli", LZ4: "lz4",
                 ZSTD: "zstd"}
# LZO has no Arrow (or any Python) implementation — the one reference
# codec (types.h:112) not supported


def _decompress(payload: bytes, compression: int) -> bytes:
    if compression == UNCOMPRESSED:
        return payload
    if compression == GZIP:
        import zlib
        return zlib.decompress(payload)
    if compression in _ARROW_CODECS:
        import pyarrow as pa
        mv = memoryview(payload)
        raw_len = int.from_bytes(mv[:4], "little")
        out = pa.Codec(_ARROW_CODECS[compression]).decompress(
            mv[4:], decompressed_size=raw_len, asbytes=True)
        if len(out) != raw_len:
            raise ValueError("decompressed size mismatch")
        return out
    raise ValueError(f"unsupported compression {compression}")


def available_compressions() -> list[int]:
    """UNCOMPRESSED and GZIP always (zlib is stdlib); SNAPPY/BROTLI/LZ4/
    ZSTD via pyarrow's bundled codecs. Only LZO (types.h:112) is absent —
    no Arrow or Python implementation exists."""
    out = [UNCOMPRESSED, GZIP]
    try:
        import pyarrow as pa
        for cid, name in _ARROW_CODECS.items():
            if pa.Codec.is_available(name):
                out.append(cid)
    except Exception:
        pass
    return sorted(out)


@dataclass
class ChunkStats:
    min_val: str | None
    max_val: str | None
    null_count: int
    # Exact column-chunk cardinality, populated from the dictionary build
    # when dictionary encoding ran WITHOUT fallback (the dict then saw every
    # value). The reference defines this field but never populates it
    # (statistics.h:34-82, SURVEY 2.9); here it is free metadata from
    # pd.factorize/arrow dictionary_encode. None = unknown, never a guess.
    distinct_count: "int | None" = None


@dataclass
class EncodedChunk:
    codec: int
    phys: int
    n_rows: int
    n_values: int
    raw_bytes: int
    blob: bytes
    encodings: list[str] = field(default_factory=list)
    stats: ChunkStats | None = None

    @property
    def enc_bytes(self) -> int:
        return len(self.blob)

    @property
    def codec_name(self) -> str:
        return CODEC_NAMES[self.codec]


def _sec(payload: bytes) -> bytes:
    return len(payload).to_bytes(4, "little") + payload


def compute_stats(values, phys: str) -> ChunkStats:
    """min/max/null_count as canonical strings (the reference plain-encodes
    min/max; we store a string form for the manifest columns). Skips stats
    whose encoded form exceeds 4096 bytes, like the reference's
    max_statistics_size guard (``column_writer.cc:441-446``)."""
    if phys in ("byte_array", "flba"):
        if len(values) == 0:
            return ChunkStats(None, None, 0)
        if isinstance(values, ba.ByteArrayView):
            mn, mx = ba.minmax(values)
        else:
            mn = min(values)
            mx = max(values)
        if len(mn) > 4096 or len(mx) > 4096:
            return ChunkStats(None, None, 0)
        return ChunkStats(mn.decode("utf-8", "replace"),
                          mx.decode("utf-8", "replace"), 0)
    if phys == "boolean":
        arr = np.asarray(values, dtype=bool)
        if arr.size == 0:
            return ChunkStats(None, None, 0)
        return ChunkStats(str(bool(arr.min())), str(bool(arr.max())), 0)
    arr = np.asarray(values)
    if arr.size == 0:
        return ChunkStats(None, None, 0)
    if arr.dtype.kind == "f":
        # the reference's NaN rule (statistics-test.cc NaN cases): NaN is
        # not a value for ordering — min/max skip NaNs, and an all-NaN
        # chunk carries no min/max rather than a poisoned one
        if np.isnan(arr).all():
            return ChunkStats(None, None, 0)
        return ChunkStats(str(np.nanmin(arr)), str(np.nanmax(arr)), 0)
    return ChunkStats(str(arr.min()), str(arr.max()), 0)


# The codecs each physical type takes (the reference's per-type
# Encoder<DType>/Decoder<DType> instantiations, encoding.h:41-148). Both
# _encode_payload and _decode_payload check it first.
_FIXED_CODECS = (PLAIN, RLE, DELTA_BINARY_PACKED, RLE_DICTIONARY)
_CODECS_FOR = {
    "int32": _FIXED_CODECS, "int64": _FIXED_CODECS,
    "uint32": _FIXED_CODECS, "uint64": _FIXED_CODECS,
    "float": (PLAIN, RLE_DICTIONARY), "double": (PLAIN, RLE_DICTIONARY),
    "flba": (PLAIN, RLE_DICTIONARY),
    "boolean": (PLAIN, RLE),
    "byte_array": (PLAIN, DELTA_LENGTH_BYTE_ARRAY, DELTA_BYTE_ARRAY, FSST,
                   RLE_DICTIONARY),
}

# numpy dtype of each fixed-width physical type's decoded values
_NP_DTYPES = {"int32": np.dtype(np.int32), "int64": np.dtype(np.int64),
              "uint32": np.dtype(np.uint32), "uint64": np.dtype(np.uint64),
              "float": np.dtype(np.float32), "double": np.dtype(np.float64)}


def _check_codec(phys: str, codec: int) -> None:
    if codec in _CODECS_FOR.get(phys, ()):
        return
    if phys == "boolean" and codec in (RLE_DICTIONARY, PLAIN_DICTIONARY):
        # parity with the reference: dictionary-of-boolean is rejected
        # (encoding-test.cc:304-309; ColumnWriter::Make skips dict for
        # BOOLEAN, column_writer.cc:551-590)
        raise ValueError("dictionary encoding not supported for boolean")
    raise ValueError(f"codec {CODEC_NAMES.get(codec, codec)} unsupported "
                     f"for {phys}")


def _dict_encodings(fallback: bool) -> list[str]:
    return (["PLAIN_DICTIONARY", "PLAIN", "RLE"] if fallback
            else ["PLAIN_DICTIONARY", "RLE"])


def _encode_payload(values, phys: str, codec: int, dict_size_limit: int,
                    type_length: int = 0, delta_narrow: "bool | None" = None
                    ) -> tuple[bytes, list[str], bool, "int | None"]:
    """Value sections of one chunk or page -> (sections, encodings,
    fallback, dictionary entry count or None). ``values`` arrive
    normalized: a ByteArrayView for byte_array, a list of bytes (or an
    (n, type_length) uint8 matrix) for flba, an ndarray otherwise.
    ``delta_narrow``: chunk-global narrow-lane hint for DELTA (see
    delta.encode)."""
    _check_codec(phys, codec)
    head = b""
    if phys == "flba":
        if not type_length and values:
            type_length = len(values[0])
        head = type_length.to_bytes(4, "little")
    if codec == RLE_DICTIONARY:
        enc = dictionary.encode(values, "byte_array" if phys == "flba"
                                else phys, dict_size_limit)
        secs = (_sec(enc.dict_blob) + enc.n_dict_values.to_bytes(4, "little")
                + _sec(enc.indices_blob))
        if enc.fallback:
            secs += enc.n_plain_values.to_bytes(4, "little")
            secs += _sec(enc.plain_blob)
        return (head + secs, _dict_encodings(enc.fallback), enc.fallback,
                enc.num_entries)
    if codec == PLAIN:
        if phys == "byte_array":
            payload = plain.encode_byte_array(values)
        elif phys == "flba":
            payload = plain.encode_flba(values, type_length)
        elif phys == "boolean":
            payload = plain.encode_boolean(values)
        else:
            payload = plain.encode_fixed(values, phys)
    elif codec == RLE:
        if phys == "boolean":
            bw, values = 1, values.astype(np.uint8)
        else:
            mx = int(values.max()) if len(values) else 0
            mn = int(values.min()) if len(values) else 0
            if phys == "uint64" and mx >= 1 << 63:
                raise ValueError("RLE direct coding unsupported for uint64 "
                                 "values >= 2^63 (use DELTA/DICT/PLAIN)")
            if mn < 0:
                raise ValueError("RLE direct coding requires non-negative "
                                 "values")
            bw = max(1, bitpack.width_for_max(mx))
        payload = bytes([bw]) + rle.encode(values, bw)
    elif codec == DELTA_BINARY_PACKED:
        if phys == "uint64":
            # values >= 2^63 don't fit int64 delta arithmetic directly;
            # the int64 VIEW carries the same bit pattern and mod-2^64
            # delta/cumsum reconstructs it exactly (decode re-views)
            values = np.ascontiguousarray(values, dtype=np.uint64) \
                .view(np.int64)
        payload = delta.encode(values, narrow=delta_narrow)
    elif codec == DELTA_LENGTH_BYTE_ARRAY:
        payload = bytearray_codecs.encode_delta_length(values)
    elif codec == DELTA_BYTE_ARRAY:
        payload = bytearray_codecs.encode_delta_byte_array(values)
    else:
        payload = fsst.encode(values)
    return head + _sec(payload), [CODEC_NAMES[codec]], False, None


def build_levels_sections(row_lengths: np.ndarray) -> tuple[bytes, int]:
    """Level sections for a list column: (bytes, n_slots). Computed once per
    chunk and shared across codec-runoff candidates (levels don't depend on
    the value codec).

    Synthesized at RUN level: both streams are all-ones with zeros at known
    positions (rep: row starts; def: empty rows), so the RLE bytes come
    straight from those positions (`rle.encode_bit1_ones_with_zeros`) —
    the n-slot rep/def arrays of `levels_from_lengths` and their full-width
    RLE passes are never materialized. Byte-identical to the materialized
    path (shared emit; fuzzed in tests/test_levels_fast.py)."""
    lengths = np.ascontiguousarray(row_lengths, dtype=np.int64)
    slots = np.maximum(lengths, 1)
    starts = np.zeros(len(lengths), dtype=np.int64)
    if len(lengths):
        np.cumsum(slots[:-1], out=starts[1:])
        total = int(starts[-1] + slots[-1])
    else:
        total = 0
    rep_stream = rle.encode_bit1_ones_with_zeros(total, starts)
    def_stream = rle.encode_bit1_ones_with_zeros(total,
                                                 starts[lengths == 0])
    sections = total.to_bytes(4, "little")  # level slot count
    sections += len(rep_stream).to_bytes(4, "little") + rep_stream
    sections += len(def_stream).to_bytes(4, "little") + def_stream
    return sections, total


def _values_raw_bytes(values, phys: str) -> int:
    """Raw payload bytes of the VALUES only (the quantity the paged-path
    predicate in :func:`encode_chunk` compares against page_size)."""
    if phys == "byte_array":
        v = ba.as_view(values)
        return v.total_bytes + 4 * len(v)
    return _NP_DTYPES[phys].itemsize * len(values)


def _parse_phys(phys: str) -> tuple[str, int]:
    """'flba:12' -> ('flba', 12); others -> (phys, 0)."""
    if phys.startswith("flba"):
        _, _, ln = phys.partition(":")
        return "flba", int(ln or 0)
    return phys, 0


def encode_chunk(values, phys: str, codec: int, *,
                 row_lengths: np.ndarray | None = None,
                 dict_size_limit: int = dictionary.DEFAULT_DICT_SIZE_LIMIT,
                 with_stats: bool = True,
                 compression: int = UNCOMPRESSED,
                 valid_mask: np.ndarray | None = None,
                 levels_sections: tuple[bytes, int] | None = None,
                 page_size: int | None = DEFAULT_PAGE_SIZE,
                 elem_valid: np.ndarray | None = None,
                 inner_lengths: np.ndarray | None = None,
                 data_page_version: int = 1) -> EncodedChunk:
    """Encode one column chunk. ``row_lengths`` is set for the list column
    (tokens): values are the flattened elements and levels are emitted.
    ``compression`` applies a block codec over all sections (the reference
    compresses the assembled page the same way, column_writer.cc:196-212).
    ``phys`` accepts 'flba:N' for FIXED_LEN_BYTE_ARRAY (INT96 == 'flba:12').

    ``valid_mask`` makes a flat column OPTIONAL: values are passed *spaced*
    (one slot per row, nulls arbitrary) and stored dense after mask
    selection — the reference's ``PutSpaced`` contract
    (``encoding.h:68-76``); the mask becomes a def-level stream
    (``column_reader.cc:348-368``) and null_count lands in the stats.

    Deeper trees (reference ``schema.h:43-77`` 3-level lists;
    ``arrow-reader-writer-test.cc:1137-1928``):
    ``elem_valid`` (with ``row_lengths`` counting SLOTS per row) makes list
    *elements* nullable — values are the DENSE non-null elements, max_def=2.
    ``inner_lengths`` (with ``row_lengths`` = inner lists per row) encodes
    ``array<array<T>>`` — values are the fully flattened elements,
    max_rep=2."""
    deep = elem_valid is not None or inner_lengths is not None
    has_levels = row_lengths is not None and not deep
    phys, type_length = _parse_phys(phys)
    _check_codec(phys, codec)
    null_count = 0
    if phys == "byte_array":
        values = ba.as_view(values)
    if valid_mask is not None:
        if has_levels:
            raise ValueError("valid_mask applies to flat columns only")
        valid_mask = np.ascontiguousarray(valid_mask, dtype=bool)
        null_count = int((~valid_mask).sum())
        if phys == "byte_array":
            values = ba.take(values, np.flatnonzero(valid_mask))
        elif phys == "flba":
            values = [v for v, ok in zip(values, valid_mask) if ok]
        else:
            values = np.asarray(values)[valid_mask]
    if phys == "byte_array":
        n_values = len(values)
        raw = values.total_bytes + 4 * n_values
    elif phys == "flba":
        n_values = len(values)
        raw = sum(len(v) for v in values)
    elif phys == "boolean":
        values = np.ascontiguousarray(values, dtype=bool)
        n_values = len(values)
        raw = n_values  # reference raw form: 1 byte/bool
    else:
        values = np.ascontiguousarray(values)
        n_values = len(values)
        raw = values.dtype.itemsize * n_values
    n_rows = len(row_lengths) if row_lengths is not None else n_values

    if (page_size and valid_mask is None and not deep
            and phys in ("int32", "int64", "uint32", "uint64",
                         "byte_array")
            and raw > page_size):
        return _encode_chunk_paged(
            values, phys, codec, n_values, raw, row_lengths=row_lengths,
            dict_size_limit=dict_size_limit, with_stats=with_stats,
            compression=compression, page_size=page_size,
            data_page_version=data_page_version)

    sections = b""
    encodings: list[str] = []
    fallback = False
    if has_levels:
        if levels_sections is None:
            levels_sections = build_levels_sections(row_lengths)
        lv_bytes, n_slots = levels_sections
        sections += lv_bytes
        encodings.append("RLE")  # level encoding, as the reference records it
        raw += 2 * n_slots  # levels are int16 in the reference's raw form
    if valid_mask is not None:
        n_rows = len(valid_mask)
        deflev = valid_mask.astype(np.int8)
        sections += n_rows.to_bytes(4, "little")
        sections += rle.encode_length_prefixed(deflev, 1)
        encodings.append("RLE")
        raw += 2 * n_rows
    if deep:
        if row_lengths is None:
            raise ValueError("elem_valid/inner_lengths require row_lengths")
        if inner_lengths is not None:
            rep, deflev = levels_mod.levels_from_nested_lengths(
                row_lengths, inner_lengths)
            max_rep = 2
        else:
            ev = np.ascontiguousarray(elem_valid, dtype=bool)
            null_count = int((~ev).sum())
            rep, deflev = levels_mod.levels_from_lengths_nullable(
                row_lengths, ev)
            max_rep = 1
        sections += len(rep).to_bytes(4, "little") + bytes([max_rep, 2])
        sections += rle.encode_length_prefixed(rep, 2)
        sections += rle.encode_length_prefixed(deflev, 2)
        encodings.append("RLE")
        raw += 4 * len(rep)  # rep + def int16 pairs, reference raw form

    secs, encs, fallback, num_entries = _encode_payload(
        values, phys, codec, dict_size_limit, type_length)
    sections += secs
    encodings.extend(e for e in encs if e not in encodings)

    if compression != UNCOMPRESSED:
        sections = _compress(sections, compression)

    flags = (FLAG_HAS_LEVELS if has_levels else 0) | \
        (FLAG_FALLBACK if fallback else 0) | \
        (FLAG_HAS_NULLS if valid_mask is not None else 0) | \
        (FLAG_LEVELS2 if deep else 0)
    header = (MAGIC + bytes([VERSION, codec, PHYS_IDS[phys], compression,
                             flags])
              + n_rows.to_bytes(4, "little")
              + n_values.to_bytes(4, "little")
              + null_count.to_bytes(4, "little"))
    stats = compute_stats(values, phys) if with_stats else None
    if stats is not None:
        stats.null_count = null_count
        if not fallback and num_entries is not None:
            # dict build without fallback saw every value: exact cardinality
            stats.distinct_count = int(num_entries)
    return EncodedChunk(codec, PHYS_IDS[phys], n_rows, n_values, raw,
                        header + sections, encodings, stats)


@dataclass
class DecodedChunk:
    values: "np.ndarray | list[bytes]"
    row_lengths: np.ndarray | None
    codec: int
    phys: int
    n_rows: int
    n_values: int
    valid_mask: np.ndarray | None = None   # flat OPTIONAL rows, or per-slot
    #                                        element validity (FLAG_LEVELS2)
    inner_lengths: np.ndarray | None = None  # list-of-list: elements per
    #                                          inner list (row_lengths is
    #                                          then inner lists per row)


def decode_chunk(blob) -> DecodedChunk:
    mv = memoryview(blob)
    if mv.format != "B":
        mv = mv.cast("B")  # pyarrow Buffers expose signed 'b' views
    if bytes(mv[:4]) != MAGIC:
        raise ValueError("bad chunk magic")
    version, codec, phys_id = mv[4], mv[5], mv[6]
    if version == VERSION_PAGED:
        return _decode_pages(mv)
    if version == VERSION:
        compression, flags = mv[7], mv[8]
        n_rows = int.from_bytes(mv[9:13], "little")
        n_values = int.from_bytes(mv[13:17], "little")
        header_len = _HEADER_LEN
    elif version == 1:  # pre-compression header (forward compat for resume)
        compression, flags = UNCOMPRESSED, mv[7]
        n_rows = int.from_bytes(mv[8:12], "little")
        n_values = int.from_bytes(mv[12:16], "little")
        header_len = _HEADER_LEN - 1
    else:
        raise ValueError(f"unsupported chunk version {version}")
    phys = PHYS_NAMES[phys_id]

    if compression != UNCOMPRESSED:
        mv = memoryview(_decompress(bytes(mv[header_len:]), compression))
        pos = 0
    else:
        pos = header_len

    row_lengths = None
    if flags & FLAG_HAS_LEVELS:
        n_slots = int.from_bytes(mv[pos: pos + 4], "little")
        pos += 4
        row_lengths, pos = levels_mod.lengths_from_bit1_streams(mv, n_slots,
                                                                pos)
    valid_mask = None
    if flags & FLAG_HAS_NULLS:
        n_slots = int.from_bytes(mv[pos: pos + 4], "little")
        pos += 4
        dl, pos = rle.decode_length_prefixed(mv, n_slots, 1, pos,
                                             out_dtype=np.uint8)
        valid_mask = dl.astype(bool)
    inner_lengths = None
    if flags & FLAG_LEVELS2:
        n_slots = int.from_bytes(mv[pos: pos + 4], "little")
        pos += 4
        max_rep = mv[pos]
        pos += 2  # max_rep, max_def bytes
        rep, pos = rle.decode_length_prefixed(mv, n_slots, 2, pos)
        deflev, pos = rle.decode_length_prefixed(mv, n_slots, 2, pos)
        if max_rep == 2:
            row_lengths, inner_lengths = \
                levels_mod.nested_from_levels(rep, deflev)
        else:
            row_lengths, valid_mask = \
                levels_mod.nullable_from_levels(rep, deflev)

    values = _decode_payload(mv, pos, phys, codec, n_values,
                             bool(flags & FLAG_FALLBACK))
    return DecodedChunk(values, row_lengths, codec, phys_id, n_rows,
                        n_values, valid_mask, inner_lengths)


def _u32(mv, pos: int) -> int:
    return int.from_bytes(mv[pos: pos + 4], "little")


def _count_error(n_values: int, held: int) -> ValueError:
    return ValueError(f"corrupt chunk: header declares {n_values} values, "
                      f"payload holds {held}")


def _decode_payload(mv, pos: int, phys: str, codec: int, n_values: int,
                    fallback: bool = False):
    """Inverse of :func:`_encode_payload`: the value sections at ``pos`` ->
    a ByteArrayView for byte_array, a list of bytes for flba, an ndarray
    otherwise. Raises ValueError unless exactly ``n_values`` come out."""
    _check_codec(phys, codec)
    type_length = 0
    if phys == "flba":
        type_length = _u32(mv, pos)
        pos += 4
    sec_len = _u32(mv, pos)
    pos += 4
    if codec == RLE_DICTIONARY:
        values = _decode_dict_sections(mv, pos, sec_len, phys, fallback)
        if phys == "flba":
            values = ba.to_list(values)
    elif codec == PLAIN:
        # bound the count by the section before any per-value work
        bits = (1 if phys == "boolean" else 32 if phys == "byte_array"
                else 8 * type_length if phys == "flba"
                else 8 * _NP_DTYPES[phys].itemsize)
        room = 8 * min(sec_len, len(mv) - pos)
        if n_values * bits > room:
            raise _count_error(n_values, room // max(bits, 1))
        if phys == "byte_array":
            values, _ = plain.decode_byte_array_view(mv, n_values, pos)
        elif phys == "flba":
            values, _ = plain.decode_flba(mv, n_values, type_length, pos)
        elif phys == "boolean":
            values, _ = plain.decode_boolean(mv, n_values, pos)
        else:
            values, _ = plain.decode_fixed(mv, n_values, phys, pos)
    elif codec == RLE:
        dt = np.uint8 if phys == "boolean" else _NP_DTYPES[phys]
        values, _ = rle.decode(mv, n_values, mv[pos], pos + 1, out_dtype=dt)
        if phys == "boolean":
            values = values.astype(bool)
    elif codec == DELTA_BINARY_PACKED:
        # uint64 deltas ride the int64 bit pattern (mod-2^64 arithmetic);
        # astype int64 -> uint64 wraps back to the exact original values
        values, _ = delta.decode(mv[pos: pos + sec_len],
                                 out_dtype=_NP_DTYPES[phys])
    elif codec == DELTA_LENGTH_BYTE_ARRAY:
        values, _ = bytearray_codecs.decode_delta_length_view(mv, pos)
    elif codec == DELTA_BYTE_ARRAY:
        values, _ = bytearray_codecs.decode_delta_byte_array_view(mv, pos)
    else:
        values, _ = fsst.decode_view(mv, pos)
    if len(values) != n_values:
        raise _count_error(n_values, len(values))
    return values


def _decode_dict_sections(mv, pos: int, dict_len: int, phys: str,
                          fallback: bool):
    """[dict][u32 n_dict_values][u32 len + indices]
    ([u32 n_plain_values][u32 len + plain] if fallback) -> values, with
    ``pos`` just past the dict section's length; flba dictionaries are
    byte_array ones."""
    dict_phys = "byte_array" if phys == "flba" else phys
    dict_blob = mv[pos: pos + dict_len]
    pos += dict_len
    n_dict_values = _u32(mv, pos)
    idx_len = _u32(mv, pos + 4)
    indices_blob = mv[pos + 8: pos + 8 + idx_len]
    pos += 8 + idx_len
    n_plain = 0
    plain_blob = b""
    if fallback:
        n_plain = _u32(mv, pos)
        pl_len = _u32(mv, pos + 4)
        plain_blob = mv[pos + 8: pos + 8 + pl_len]
    # a byte_array dictionary's entry count is where its walk ends
    num_entries = None if dict_phys == "byte_array" else \
        len(dict_blob) // _NP_DTYPES[phys].itemsize
    return dictionary.decode(
        None, dict_phys, dict_blob=dict_blob, indices_blob=indices_blob,
        num_entries=num_entries, n_dict_values=n_dict_values,
        plain_blob=plain_blob, n_plain_values=n_plain)


# ---------------------------------------------------------------------------
# Multi-page chunks (v3) — reference page flush policy + Skip analog
# ---------------------------------------------------------------------------
# The reference flushes a data page whenever the encoder's estimated size
# reaches DEFAULT_PAGE_SIZE (1 MiB), checked every 1024-value mini-batch
# (/root/reference/src/parquet/column_writer.cc:645-650,716-721;
# properties.h:81,84), and writes the dictionary page once, before the
# buffered data pages (column_writer.cc:425-431). A fallen-back chunk's page
# sequence is [dict-indexed pages..., PLAIN pages...] with encodings
# [PLAIN_DICTIONARY, PLAIN, RLE] (column_writer-test.cc:478-506).
#
# v3 blob layout:
#   header   := magic | u8 3 | u8 codec | u8 phys | u8 compression | u8 flags
#               | u32 n_rows | u32 n_values | u32 null_count | u32 n_pages
#   dict     := [u32 len + dict PLAIN blob][u32 num_entries][u8 bit_width]
#               (only when codec is RLE_DICTIONARY)
#   page*    := u32 page_len | u32 n_rows | u32 n_values | u8 page_codec
#               | u8 has_stats | [stats] | u32 body_len | body
#   body     := [levels sections (if list)] [payload sections]  — block-
#               compressed as a unit when compression != 0, like the
#               reference's per-page compress (column_writer.cc:196-212)
#   stats    := fixed: i64 min | i64 max;  byte_array: u16+min | u16+max
#
# Per-page stats give the Skip/partial-read analog
# (column_reader.h:268-281): decode_chunk_rows / page_index decode only the
# pages a row range or point predicate needs.

_RATIO_SAMPLE_VALUES = 1 << 16


def _encoded_ratio(values, phys: str, codec: int,
                   dict_size_limit: int) -> float:
    """Sampled encoded-bytes/raw-bytes ratio for the page-flush policy: the
    reference flushes on EstimatedDataEncodedSize (encoded, not raw —
    column_writer.cc:645-650), so page boundaries are placed where the
    *estimated encoded* stream crosses page_size multiples. One contiguous
    mid-window encode (<=64k values) prices the codec."""
    n = len(values)
    if n <= _RATIO_SAMPLE_VALUES:
        return 1.0
    start = (n - _RATIO_SAMPLE_VALUES) // 2
    if phys == "byte_array":
        sample = ba.slice_rows(values, start, start + _RATIO_SAMPLE_VALUES)
        raw = sample.total_bytes + 4 * len(sample)
    else:
        sample = values[start: start + _RATIO_SAMPLE_VALUES]
        raw = sample.nbytes
    enc = encode_chunk(sample, phys, codec, with_stats=False,
                       dict_size_limit=dict_size_limit, page_size=None)
    return min(1.5, max(0.02, enc.enc_bytes / max(1, raw)))


def _page_value_bounds(values, phys: str, page_size: int,
                       ratio: float = 1.0) -> np.ndarray:
    """Value-index boundaries so each page's *estimated encoded* payload
    ~= page_size (raw cumulative bytes scaled by the sampled ratio)."""
    eff = max(1, int(page_size / ratio))
    n = len(values)
    if phys != "byte_array":
        # fixed-width: boundaries are closed-form — no O(n) cumulative
        # array (an n-sized arange is pure DRAM traffic for a result a
        # division already knows). bound_k = ceil(k*eff/item), identical
        # to the searchsorted over the old cumulative array.
        item = _NP_DTYPES[phys].itemsize
        total = n * item
        n_pages = max(1, (total + eff - 1) // eff)
        marks = np.arange(1, n_pages, dtype=np.int64) * eff
        bounds = (marks + item - 1) // item
        return np.unique(np.concatenate(([0], bounds, [n])))
    # byte_array: cumulative bytes after i values = offsets[i] + 4*i
    # (monotone); bisect each page mark instead of materializing the
    # n-sized cumulative array (page count is tiny). Each search starts one
    # value BEFORE the previous bound: a single jumbo value spanning
    # several page marks then re-finds the same bound, which np.unique
    # collapses — matching a full-range searchsorted+unique.
    offs = values.offsets
    total = int(offs[-1]) + 4 * n if n else 0
    n_pages = max(1, (total + eff - 1) // eff)
    bounds = [0]
    for p in range(1, n_pages):
        mark = p * eff
        lo, hi = max(0, bounds[-1] - 1), n
        while lo < hi:
            mid = (lo + hi) // 2
            if int(offs[mid + 1]) + 4 * (mid + 1) < mark:
                lo = mid + 1
            else:
                hi = mid
        bounds.append(lo + 1)
    bounds.append(n)
    return np.unique(np.array(bounds, dtype=np.int64))


def _rows_for_value_bounds(row_lengths: np.ndarray,
                           vbounds: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Align value boundaries to row boundaries (list column): returns
    (row_bounds, value_bounds) with pages closed on whole rows."""
    cum = np.zeros(len(row_lengths) + 1, dtype=np.int64)
    np.cumsum(row_lengths, out=cum[1:])
    row_bounds = np.searchsorted(cum, vbounds[1:-1], side="left")
    row_bounds = np.unique(np.concatenate(([0], row_bounds,
                                           [len(row_lengths)])))
    return row_bounds, cum[row_bounds]


def _page_stats_bytes(values, phys: str, lo: int, hi: int) -> bytes:
    """has_stats byte + packed min/max for one page (b'' stats if skipped)."""
    if hi <= lo:
        return bytes([0])
    if phys == "byte_array":
        mn, mx = ba.minmax(ba.slice_rows(values, lo, hi))
        if len(mn) > 64 or len(mx) > 64:
            return bytes([0])
        return (bytes([1]) + len(mn).to_bytes(2, "little") + mn
                + len(mx).to_bytes(2, "little") + mx)
    seg = values[lo: hi]
    mn, mx = int(seg.min()), int(seg.max())
    # unsigned phys: store the raw 8-byte pattern (values can exceed
    # int64); the page reader re-interprets per the header's phys id
    signed = phys not in ("uint32", "uint64")
    return (bytes([1]) + mn.to_bytes(8, "little", signed=signed)
            + mx.to_bytes(8, "little", signed=signed))


def _encode_chunk_paged(values, phys: str, codec: int, n_values: int,
                        raw: int, *, row_lengths=None, dict_size_limit: int,
                        with_stats: bool, compression: int,
                        page_size: int,
                        data_page_version: int = 1) -> EncodedChunk:
    """``values``, ``n_values`` and ``raw`` arrive as encode_chunk
    normalized them."""
    has_levels = row_lengths is not None
    n_rows = len(row_lengths) if has_levels else n_values

    # chunk-global dictionary (single dict page, like the reference)
    dict_section = b""
    dict_codes = None
    dict_bw = 0
    fallback = False
    split = n_values
    encodings: list[str] = []
    if codec == RLE_DICTIONARY:
        enc = dictionary.encode(values, phys, dict_size_limit)
        dict_codes = enc.codes
        split = enc.n_dict_values
        fallback = enc.fallback
        dict_bw = enc.indices_blob[0] if len(enc.indices_blob) else 0
        dict_section = (_sec(enc.dict_blob)
                        + enc.num_entries.to_bytes(4, "little")
                        + bytes([dict_bw]))
        encodings = _dict_encodings(fallback)

    ratio = _encoded_ratio(values, phys, codec, dict_size_limit)
    vbounds = _page_value_bounds(values, phys, page_size, ratio)
    if codec == RLE_DICTIONARY and 0 < split < n_values:
        # the dict->PLAIN fallback point closes a page, so the page sequence
        # is [indexed pages..., plain pages...] like the reference's; for
        # list columns the split must land on a row boundary BEFORE the
        # page bounds are row-aligned, else a page spans it and the
        # encodings metadata overstates dictionary coverage (values in the
        # rounded-down gap encode PLAIN, which is always valid)
        if has_levels:
            cum = np.zeros(len(row_lengths) + 1, dtype=np.int64)
            np.cumsum(row_lengths, out=cum[1:])
            split = int(cum[np.searchsorted(cum, split, side="right") - 1])
        if 0 < split < n_values:
            vbounds = np.unique(np.concatenate((vbounds, [split])))
    if has_levels:
        rbounds, vbounds = _rows_for_value_bounds(row_lengths, vbounds)
    else:
        rbounds = vbounds

    # chunk-global narrow-lane check for DELTA pages: every page's span is
    # within the chunk's, so one min/max pass here replaces one per page
    # (two extra full-column passes per chunk). Span >= 2^31 keeps None so
    # individual pages can still qualify. A one-page chunk skips it:
    # delta.encode makes the same check on that page. Bytes identical
    # either way.
    delta_narrow = None
    if codec == DELTA_BINARY_PACKED and len(vbounds) > 2 and values.dtype in (
            np.dtype(np.int32), np.dtype(np.uint32),
            np.dtype(np.int16), np.dtype(np.uint16)):
        if int(values.max()) - int(values.min()) < (1 << 31):
            delta_narrow = True

    levels_raw = 0
    pages: list[bytes] = []
    for lo, hi, rlo, rhi in zip(vbounds[:-1], vbounds[1:],
                                rbounds[:-1], rbounds[1:]):
        lo, hi, rlo, rhi = int(lo), int(hi), int(rlo), int(rhi)
        if codec == RLE_DICTIONARY:
            page_codec = RLE_DICTIONARY if hi <= split else PLAIN
        else:
            page_codec = codec
        levels_b = b""
        if has_levels:
            levels_b = build_levels_sections(row_lengths[rlo: rhi])[0]
            levels_raw += 2 * int(np.maximum(row_lengths[rlo: rhi],
                                             1).sum())
        if page_codec == RLE_DICTIONARY:
            payload_b = _sec(bytes([dict_bw])
                             + rle.encode(dict_codes[lo: hi], dict_bw))
        else:
            seg = ba.slice_rows(values, lo, hi) if phys == "byte_array" \
                else values[lo: hi]
            payload_b = _encode_payload(seg, phys, page_codec, 1 << 62,
                                        delta_narrow=delta_narrow)[0]
        v2 = data_page_version == 2
        if compression != UNCOMPRESSED:
            # DataPageV2 keeps levels readable outside the compressed
            # region (reference properties.h:363-377 / format v2 pages);
            # V1 compresses the assembled page wholesale
            body = (levels_b + _compress(payload_b, compression)) if v2 \
                else _compress(levels_b + payload_b, compression)
        else:
            body = levels_b + payload_b
        page_flags = 1 if v2 else 0
        stats_b = _page_stats_bytes(values, phys, lo, hi) if with_stats \
            else bytes([0])
        page = ((rhi - rlo).to_bytes(4, "little")
                + (hi - lo).to_bytes(4, "little")
                + bytes([page_codec, page_flags]) + stats_b
                + len(body).to_bytes(4, "little") + body)
        pages.append(len(page).to_bytes(4, "little") + page)

    if codec != RLE_DICTIONARY:
        encodings = [CODEC_NAMES[codec]]
    if has_levels:
        encodings = ["RLE"] + [e for e in encodings if e != "RLE"]
        raw += levels_raw

    flags = FLAG_PAGED | (FLAG_HAS_LEVELS if has_levels else 0) | \
        (FLAG_FALLBACK if fallback else 0)
    header = (MAGIC + bytes([VERSION_PAGED, codec, PHYS_IDS[phys],
                             compression, flags])
              + n_rows.to_bytes(4, "little")
              + n_values.to_bytes(4, "little")
              + (0).to_bytes(4, "little")
              + len(pages).to_bytes(4, "little"))
    blob = header + dict_section + b"".join(pages)
    stats = compute_stats(values, phys) if with_stats else None
    if stats is not None and codec == RLE_DICTIONARY and not fallback:
        stats.distinct_count = int(enc.num_entries)  # exact: dict saw all
    return EncodedChunk(codec, PHYS_IDS[phys], n_rows, n_values, raw,
                        blob, encodings, stats)


def _parse_paged_header(mv):
    codec, phys_id = mv[5], mv[6]
    compression, flags = mv[7], mv[8]
    n_rows = int.from_bytes(mv[9:13], "little")
    n_values = int.from_bytes(mv[13:17], "little")
    n_pages = int.from_bytes(mv[21:25], "little")
    pos = 25
    dict_view = None
    if codec == RLE_DICTIONARY:
        dlen = int.from_bytes(mv[pos: pos + 4], "little")
        pos += 4
        dict_blob = mv[pos: pos + dlen]
        pos += dlen
        num_entries = int.from_bytes(mv[pos: pos + 4], "little")
        pos += 5  # num_entries, bit width (each page carries its own)
        phys = PHYS_NAMES[phys_id]
        if phys == "byte_array":
            dict_view, _ = plain.decode_byte_array_view(dict_blob,
                                                        num_entries)
        else:
            dict_view, _ = plain.decode_fixed(dict_blob, num_entries, phys)
    return (codec, phys_id, compression, flags, n_rows, n_values, n_pages,
            pos, dict_view)


def _iter_pages(mv, n_pages: int, pos: int):
    """Yields (page_n_rows, page_n_values, page_codec, page_flags, stats,
    body_mv) — stats is None or (min, max) with native types."""
    for _ in range(n_pages):
        page_len = int.from_bytes(mv[pos: pos + 4], "little")
        pos += 4
        end = pos + page_len
        p_rows = int.from_bytes(mv[pos: pos + 4], "little")
        p_vals = int.from_bytes(mv[pos + 4: pos + 8], "little")
        p_codec = mv[pos + 8]
        p_flags = mv[pos + 9]
        has_stats = mv[pos + 10]
        p = pos + 11
        stats = None
        if has_stats:
            if PHYS_NAMES.get(mv[6]) == "byte_array":
                lmn = int.from_bytes(mv[p: p + 2], "little")
                mn = bytes(mv[p + 2: p + 2 + lmn])
                p += 2 + lmn
                lmx = int.from_bytes(mv[p: p + 2], "little")
                mx = bytes(mv[p + 2: p + 2 + lmx])
                p += 2 + lmx
                stats = (mn, mx)
            else:
                signed = PHYS_NAMES.get(mv[6]) not in ("uint32", "uint64")
                mn = int.from_bytes(mv[p: p + 8], "little", signed=signed)
                mx = int.from_bytes(mv[p + 8: p + 16], "little",
                                    signed=signed)
                p += 16
                stats = (mn, mx)
        body_len = int.from_bytes(mv[p: p + 4], "little")
        body = mv[p + 4: p + 4 + body_len]
        yield p_rows, p_vals, p_codec, p_flags, stats, body
        pos = end


def _parse_page_levels(body, pos: int):
    n_slots = int.from_bytes(body[pos: pos + 4], "little")
    pos += 4
    return levels_mod.lengths_from_bit1_streams(body, n_slots, pos)


def _decode_page_body(body, phys: str, page_codec: int, p_vals: int,
                      compression: int, has_levels: bool, dict_view,
                      page_flags: int = 0):
    row_lengths = None
    pos = 0
    if page_flags & 1:
        # DataPageV2: levels live uncompressed ahead of the compressed
        # value block (reference format-v2 page layout)
        if has_levels:
            row_lengths, pos = _parse_page_levels(body, 0)
        if compression != UNCOMPRESSED:
            body = memoryview(_decompress(bytes(body[pos:]), compression))
            pos = 0
    else:
        if compression != UNCOMPRESSED:
            body = memoryview(_decompress(bytes(body), compression))
        if has_levels:
            row_lengths, pos = _parse_page_levels(body, 0)
    if page_codec == RLE_DICTIONARY:
        # past the section length prefix: the page's bit width and codes
        vals = dictionary.gather(dict_view, body, p_vals, pos + 4)
    else:
        vals = _decode_payload(body, pos, phys, page_codec, p_vals)
    return vals, row_lengths


def _decode_pages(mv, row_start: int = 0,
                  row_stop: "int | None" = None) -> DecodedChunk:
    """The one page loop of a v3 chunk: decodes the pages that intersect
    [row_start, row_stop) (every page when ``row_stop`` is None) and trims
    them to that range. A range covering every page needs no trim."""
    (codec, phys_id, compression, flags, n_rows, n_values, n_pages, pos,
     dict_view) = _parse_paged_header(mv)
    phys = PHYS_NAMES[phys_id]
    has_levels = bool(flags & FLAG_HAS_LEVELS)
    vals_parts = []
    len_parts = []
    row = 0
    first_row = None
    for p_rows, p_vals, p_codec, p_flags, _stats, body in \
            _iter_pages(mv, n_pages, pos):
        lo, row = row, row + p_rows
        if row <= row_start or (row_stop is not None and lo >= row_stop):
            continue
        if first_row is None:
            first_row = lo
        vals, rl = _decode_page_body(body, phys, p_codec, p_vals,
                                     compression, has_levels, dict_view,
                                     p_flags)
        vals_parts.append(vals)
        if rl is not None:
            len_parts.append(rl)
    if not vals_parts:
        empty = ba.from_list([]) if phys == "byte_array" else \
            np.array([], dtype=np.int64)
        return DecodedChunk(empty, np.zeros(0, dtype=np.int64)
                            if has_levels else None,
                            codec, phys_id, 0, 0)
    out = ba.concat(*vals_parts) if phys == "byte_array" else \
        np.concatenate(vals_parts)
    row_lengths = np.concatenate(len_parts) if len_parts else None
    if first_row == 0 and row_start <= 0 and (row_stop is None
                                              or row_stop >= row):
        if len(out) != n_values or row != n_rows:
            raise ValueError(f"corrupt chunk: header declares {n_rows} rows"
                             f" / {n_values} values, pages hold {row} / "
                             f"{len(out)}")
        return DecodedChunk(out, row_lengths, codec, phys_id, n_rows,
                            n_values)
    dec = DecodedChunk(out, row_lengths, codec, phys_id,
                       int(row_lengths.shape[0]) if row_lengths is not None
                       else len(out),
                       len(out))
    return _trim_decoded(dec, row_start - first_row, row_stop - first_row)


def page_index(blob) -> list[dict]:
    """Per-page metadata without decoding: [{row_start, row_end, n_values,
    codec, min, max}] — the filter-support view a Skip/partial read uses."""
    mv = memoryview(blob)
    if mv.format != "B":
        mv = mv.cast("B")
    if bytes(mv[:4]) != MAGIC or mv[4] != VERSION_PAGED:
        raise ValueError("page_index requires a v3 paged chunk")
    (codec, phys_id, compression, flags, n_rows, n_values, n_pages, pos,
     _dv) = _parse_paged_header(mv)
    out = []
    row = 0
    for p_rows, p_vals, p_codec, _pf, stats, _body in _iter_pages(mv, n_pages,
                                                                  pos):
        out.append({"row_start": row, "row_end": row + p_rows,
                    "n_values": p_vals, "codec": p_codec,
                    "min": stats[0] if stats else None,
                    "max": stats[1] if stats else None})
        row += p_rows
    return out


def decode_chunk_rows(blob, row_start: int, row_stop: int) -> DecodedChunk:
    """Partial decode: only the pages intersecting [row_start, row_stop),
    trimmed to the exact row range — the analog of
    ``TypedColumnReader::Skip`` + ReadBatch
    (/root/reference/src/parquet/column_reader.h:268-281). Falls back to a
    full decode + trim for single-page (v1/v2) blobs."""
    mv = memoryview(blob)
    if mv.format != "B":
        mv = mv.cast("B")
    if mv[4] != VERSION_PAGED:
        dec = decode_chunk(mv)
        return _trim_decoded(dec, row_start, row_stop)
    return _decode_pages(mv, row_start, row_stop)


def _trim_decoded(dec: DecodedChunk, row_start: int,
                  row_stop: int) -> DecodedChunk:
    if dec.valid_mask is not None or dec.inner_lengths is not None:
        # the dense value slice below is indexed by logical row, which is
        # wrong once nulls (valid_mask) or deep levels (inner_lengths) space
        # the values out — refuse rather than silently mis-slice
        raise ValueError(
            "partial decode (decode_chunk_rows) does not support chunks "
            "with nulls or nested levels; decode the full chunk instead")
    row_start = max(0, row_start)
    if dec.row_lengths is not None:
        row_stop = min(row_stop, len(dec.row_lengths))
        cum = np.zeros(len(dec.row_lengths) + 1, dtype=np.int64)
        np.cumsum(dec.row_lengths, out=cum[1:])
        vlo, vhi = int(cum[row_start]), int(cum[row_stop])
        rl = dec.row_lengths[row_start: row_stop]
        vals = dec.values[vlo: vhi]
        return DecodedChunk(vals, rl, dec.codec, dec.phys,
                            row_stop - row_start, int(vhi - vlo))
    n = len(dec.values)
    row_stop = min(row_stop, n)
    if isinstance(dec.values, ba.ByteArrayView):
        vals = ba.slice_rows(dec.values, row_start, row_stop)
    else:
        vals = dec.values[row_start: row_stop]
    return DecodedChunk(vals, None, dec.codec, dec.phys,
                        row_stop - row_start, row_stop - row_start)
