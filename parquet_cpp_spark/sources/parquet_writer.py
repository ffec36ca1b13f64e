"""Minimal parquet FILE-format writer built on the engine's own kernels.

Write-side mirror of ``sources.parquet_format`` (the golden-file reader):
emits a PAR1 file — V1 data pages, thrift-compact footer — that pyarrow /
parquet-cpp read back. Layout follows the reference's file writer
(``/root/reference/src/parquet/file_writer.cc:270-280``: PAR1 magic, column
chunks, FileMetaData + u32 footer length + PAR1) and the public
parquet-format spec; the thrift compact protocol is implemented here from
that spec, symmetric with the reader in ``parquet_format._Compact``.

Scope (interop parity-plus — the production sink is the chunk/manifest
dataset, SURVEY §1.1): columns come in two spec kinds. A flat tuple is
one REQUIRED/OPTIONAL leaf (the only path for FLBA/INT96). Every nested
column — lists, structs and maps stacked to any depth, nulls at every
level — is an ``arrow_nested.ArrowColumn``, the one rep/def walker (the
reference's ``arrow/path_internal.cc`` walk, vectorized); the numpy spec
classes ``ListColumn``, ``NestedListColumn``, ``StructColumn``,
``MapColumn`` and ``ListStructColumn`` build an Arrow array and hand it
to it (rep levels delimit rows as in ``column_writer.cc:616-629`` — this
is how the engine emits its own headline ``tokens array<int32>`` column
as real parquet). Encodings: PLAIN or dictionary (PLAIN dict page +
PLAIN_DICTIONARY data pages, the format-1.0 pairing, with the PLAIN
fallback), DELTA_BINARY_PACKED and the byte-array deltas; multiple row
groups, multiple data pages per chunk, page compression, chunk-level
min/max/null_count statistics (``column_writer.cc`` EncodedStatistics
analog), PageIndex and footer blooms. Fails loudly on anything out of
scope. Page payloads come from the engine's own kernels (``plain``,
``rle``, ``dictionary``, ``delta``) — the same code path the chunk blobs
use, so a pyarrow read-back of this file cross-checks those kernels
against a second, independent implementation.
"""

from __future__ import annotations

import copy

import numpy as np

from ..kernels import ba, bytearray_codecs, delta, dictionary, plain, rle
from .arrow_nested import ArrowColumn, leaf_name
from .parquet_format import (_CODECS, _PAGE_DATA, _PAGE_DATA_V2, _PAGE_DICT,
                             ENC_DELTA_BA, ENC_DELTA_BP, ENC_DELTA_LBA,
                             ENC_PLAIN, ENC_PLAIN_DICT, ENC_RLE)

MAGIC = b"PAR1"
CREATED_BY = "parquet_cpp_spark"
BLOOM_FPP = 0.01   # footer bloom false-positive target

# thrift compact element type ids (same table as parquet_format's reader)
_TRUE, _FALSE, _BYTE, _I16, _I32, _I64, _DOUBLE, _BINARY, _LIST = range(1, 10)
_STRUCT = 12

# parquet-format enums
_TYPE_IDS = {"boolean": 0, "int32": 1, "int64": 2, "float": 4, "double": 5,
             "byte_array": 6}


def _phys_id(phys: str) -> "tuple[int, int]":
    """(parquet type id, type_length) for a phys string. FLBA is spelled
    ``flba:<N>`` (same grammar as the reader); INT96 is 12 fixed bytes."""
    if phys == "int96":
        return 3, 12
    if phys.startswith("flba:"):
        n = int(phys.split(":")[1])
        if n <= 0:
            raise ValueError(f"bad FLBA width in {phys!r}")
        return 7, n
    if phys in _TYPE_IDS:
        return _TYPE_IDS[phys], 0
    raise ValueError(f"writer supports {sorted(_TYPE_IDS) + ['int96', 'flba:<N>']}, "
                     f"not {phys!r}")


def _is_fixed_bytes(phys: str) -> bool:
    return phys == "int96" or phys.startswith("flba:")


# Temporal annotations over int32/int64 storage (types.h:63-90):
# name -> (converted-type id | None, required phys, isAdjustedToUTC | None).
# The *_ntz timestamps carry NO converted type (the legacy ids imply
# UTC-adjusted instants) — they are expressed purely through the modern
# LogicalType TIMESTAMP(isAdjustedToUTC=false), which Spark surfaces as
# TIMESTAMP_NTZ; the UTC variants write BOTH (legacy readers get the
# converted id, modern readers the logical struct).
_TIME_ANNOTATIONS = {
    "date": (6, "int32", None),
    "time_ms": (7, "int32", None),
    "time_us": (8, "int64", None),
    "timestamp_ms": (9, "int64", True),
    "timestamp_us": (10, "int64", True),
    "timestamp_ntz_ms": (None, "int64", False),
    "timestamp_ntz_us": (None, "int64", False),
}
# compression name -> parquet-format CompressionCodec id: the inverse of
# the reader's table
_CODEC_IDS = {name: cid for cid, name in _CODECS.items()}


def _uvarint(buf: bytearray, v: int) -> None:
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            buf.append(b | 0x80)
        else:
            buf.append(b)
            return


def _zigzag(buf: bytearray, v: int) -> None:
    _uvarint(buf, (v << 1) ^ (v >> 63))


def _value(buf: bytearray, ctype: int, val) -> None:
    if ctype in (_TRUE, _FALSE):
        return  # boolean value is carried by the type id itself
    if ctype in (_I16, _I32, _I64):
        _zigzag(buf, int(val))
    elif ctype == _BINARY:
        data = val if isinstance(val, (bytes, bytearray)) else val.encode()
        _uvarint(buf, len(data))
        buf += data
    elif ctype == _LIST:
        etype, items = val
        if len(items) < 15:
            buf.append((len(items) << 4) | etype)
        else:
            buf.append(0xF0 | etype)
            _uvarint(buf, len(items))
        if etype == _TRUE:
            # thrift compact bool LIST elements: one byte each,
            # 1 = true, 2 = false (CT_BOOLEAN_TRUE/FALSE)
            buf += bytes(1 if item else 2 for item in items)
            return
        for item in items:
            _value(buf, etype, item)
    elif ctype == _STRUCT:
        _struct(buf, val)
    else:
        raise ValueError(f"unsupported thrift compact type {ctype}")


def _struct(buf: bytearray, fields: list[tuple[int, int, object]]) -> None:
    """fields: (field_id, ctype, value) in ascending field-id order."""
    last = 0
    for fid, ctype, val in fields:
        delta = fid - last
        if 0 < delta <= 15:
            buf.append((delta << 4) | ctype)
        else:
            buf.append(ctype)
            _zigzag(buf, fid)
        _value(buf, ctype, val)
        last = fid
    buf.append(0)  # STOP


def _page_header(page_type: int, raw: int, comp: int,
                 inner_fid: int, inner: list) -> bytes:
    buf = bytearray()
    _struct(buf, [(1, _I32, page_type), (2, _I32, raw), (3, _I32, comp),
                  (inner_fid, _STRUCT, inner)])
    return bytes(buf)


def _compress(data: bytes, codec: "str | None") -> bytes:
    if codec is None:
        return data
    if codec == "gzip":
        import zlib
        co = zlib.compressobj(wbits=31)  # gzip container, parquet GZIP
        return co.compress(data) + co.flush()
    import pyarrow as pa
    if codec == "lz4":
        # Hadoop LZ4 framing (codec id 5): 4-byte BE decompressed length,
        # 4-byte BE compressed length, one raw LZ4 block — the layout the
        # reference's Lz4Codec and parquet-mr write/expect; Arrow C++
        # reads it via its Lz4HadoopCodec (raw-block fallback)
        block = pa.Codec("lz4_raw").compress(data, asbytes=True)
        return (len(data).to_bytes(4, "big")
                + len(block).to_bytes(4, "big") + block)
    return pa.Codec(codec).compress(data, asbytes=True)


def _plain_values(values, phys: str) -> bytes:
    if phys == "byte_array":
        return plain.encode_byte_array(values)
    if phys == "boolean":
        return plain.encode_boolean(np.asarray(values))
    if _is_fixed_bytes(phys):
        return plain.encode_flba(list(values), _phys_id(phys)[1])
    return plain.encode_fixed(np.asarray(values), phys)


def _stat_bytes(v, phys: str) -> bytes:
    """Single value -> its PLAIN byte form (Statistics min_value/max_value)."""
    if phys == "byte_array":
        return bytes(v)
    if phys == "boolean":
        return bytes([1 if v else 0])
    dt = {"int32": "<i4", "int64": "<i8",
          "float": "<f4", "double": "<f8"}[phys]
    return np.array([v]).astype(dt).tobytes()


def _chunk_stats(dense, phys: str, null_count: int) -> list:
    """Statistics struct fields: null_count, plus min_value/max_value
    unless they are undefined (empty chunk, NaN-poisoned floats — the
    reference's NaN rule: stats with NaN extremes are not written)."""
    fields = [(3, _I64, null_count)]
    n = len(dense)
    if n == 0 or _is_fixed_bytes(phys):
        # INT96 sort order is UNKNOWN and DECIMAL-FLBA ordering is signed
        # big-endian (not byte-lexicographic) — the reference refuses
        # untrustworthy stats; so do we: null_count only
        return fields
    if phys == "byte_array":
        mn, mx = ba.minmax(ba.as_view(dense))
    elif phys == "boolean":
        arr = np.asarray(dense, dtype=bool)
        mn, mx = bool(arr.min()), bool(arr.max())
    else:
        arr = np.asarray(dense)
        if phys in ("float", "double") and bool(np.isnan(arr).any()):
            return fields  # null_count only
        mn, mx = arr.min(), arr.max()
    fields += [(5, _BINARY, _stat_bytes(mx, phys)),
               (6, _BINARY, _stat_bytes(mn, phys))]
    return fields


NAN_POISONED = object()  # sentinel: page min/max undefined (NaN stats rule)


_INDEX_BOUND_CAP = 64  # byte_array PageIndex bound truncation cap


def _trunc_min(v: bytes) -> bytes:
    """Prefix-truncate a byte_array lower bound: v[:cap] <= v, and
    a <= b implies trunc(a) <= trunc(b) — pruning stays conservative."""
    return v if len(v) <= _INDEX_BOUND_CAP else v[:_INDEX_BOUND_CAP]


def _trunc_max(v: bytes) -> bytes:
    """Increment-truncate an upper bound (the reference truncates index
    bounds the same way): shortest prefix-with-last-byte-bumped that is
    >= v. An all-0xFF prefix cannot be bumped — keep the full value."""
    if len(v) <= _INDEX_BOUND_CAP:
        return v
    p = bytearray(v[:_INDEX_BOUND_CAP])
    for i in reversed(range(len(p))):
        if p[i] != 0xFF:
            p[i] += 1
            return bytes(p[:i + 1])
    return v


def _column_index_fields(pages, phys: str) -> "list | None":
    """ColumnIndex struct fields (parquet-format PageIndex), or None when
    any page's extremes are NaN-poisoned — the reference's NaN stats rule
    applied to the whole index (readers must not prune on NaN bounds).
    byte_array bounds longer than 64 bytes are truncated (min to a prefix,
    max increment-truncated) so long strings can't bloat the index; the
    boundary order is computed from the EMITTED bounds so readers'
    binary-searched pruning stays consistent with what they see."""
    if any(p["min"] is NAN_POISONED for p in pages):
        return None
    null_pages = [p["min"] is None for p in pages]
    if phys == "byte_array":
        mins = [b"" if p["min"] is None else _trunc_min(bytes(p["min"]))
                for p in pages]
        maxs = [b"" if p["max"] is None else _trunc_max(bytes(p["max"]))
                for p in pages]
        nn = [(mn, mx) for p, mn, mx in zip(pages, mins, maxs)
              if p["min"] is not None]
    else:
        mins = [b"" if p["min"] is None else _stat_bytes(p["min"], phys)
                for p in pages]
        maxs = [b"" if p["max"] is None else _stat_bytes(p["max"], phys)
                for p in pages]
        nn = [(p["min"], p["max"]) for p in pages if p["min"] is not None]

    def _mono(op):
        return all(op(nn[i][0], nn[i + 1][0]) and op(nn[i][1], nn[i + 1][1])
                   for i in range(len(nn) - 1))
    if len(nn) <= 1 or _mono(lambda a, b: a <= b):
        order = 1          # ASCENDING (enables binary-searched pruning)
    elif _mono(lambda a, b: a >= b):
        order = 2          # DESCENDING
    else:
        order = 0          # UNORDERED
    return [(1, _LIST, (_TRUE, null_pages)),
            (2, _LIST, (_BINARY, mins)),
            (3, _LIST, (_BINARY, maxs)),
            (4, _I32, order),
            (5, _LIST, (_I64, [p["null_count"] for p in pages]))]


def _offset_index_fields(pages) -> list:
    """OffsetIndex struct fields: one PageLocation (offset, size incl.
    header, first_row_index) per data page."""
    locs = [[(1, _I64, p["offset"]), (2, _I32, p["size"]),
             (3, _I64, p["first_row"])] for p in pages]
    return [(1, _LIST, (_STRUCT, locs))]


def _slice_dense(dense, phys: str, lo: int, hi: int):
    if phys == "byte_array":
        return ba.slice_rows(ba.as_view(dense), lo, hi)
    return dense[lo:hi]


_NP_DTYPES = {"int32": "<i4", "int64": "<i8",
              "float": "<f4", "double": "<f8"}


def _coerce_dense(dense, phys: str, name: str):
    """Coerce numeric dense values to the DECLARED physical dtype.

    The writer's fail-loudly contract: an int32 column fed int64 values
    (or a Python list) must either become real int32 or raise — silently
    keeping the wide dtype makes downstream kernels (delta wrap32, PLAIN
    width) emit pages other readers reject or misread."""
    if phys not in _NP_DTYPES:
        return dense
    arr = np.asarray(dense)
    dt = np.dtype(_NP_DTYPES[phys])
    if arr.dtype == dt:
        return arr
    out = arr.astype(dt)
    if phys in ("int32", "int64") and \
            not np.array_equal(out.astype(arr.dtype, copy=False), arr):
        raise ValueError(
            f"column {name!r}: values do not fit declared physical "
            f"type {phys} (max abs {np.abs(arr).max()})")
    return out


# leaf encodings, in the words of the footer's ``pcs.encodings`` tag
ENCODINGS = ("plain", "dict", "delta", "dlba", "dba")


def _delta_page(values, phys: str) -> bytes:
    # INT32 pages must keep miniblock widths <= 32 (parquet-format
    # convention: deltas wrap mod 2^32, readers accumulate wrapping)
    return delta.encode(np.asarray(values), wrap32=phys == "int32")


# non-dictionary tag -> (parquet Encoding id, the phys it applies to
# (None: all), page coder(dense values, phys) -> payload): the kernels'
# own streams in parquet-format framing, so other readers cross-check
# them; byte-array delta pages restart their prefix chain, so
# page-skipping readers can start at any page.
_PAGE_CODERS = {
    "plain": (ENC_PLAIN, None, _plain_values),
    "delta": (ENC_DELTA_BP, ("int32", "int64"), _delta_page),
    "dlba": (ENC_DELTA_LBA, ("byte_array",),
             lambda v, _p: bytearray_codecs.encode_delta_length_spec(v)),
    "dba": (ENC_DELTA_BA, ("byte_array",),
            lambda v, _p: bytearray_codecs.encode_delta_byte_array_spec(v)),
}


class _Leaf:
    """One schema LEAF in page-writable form: dense (non-null) values plus
    precomputed repetition/definition levels and the row->slot / row->dense
    offset maps, and its ``encoding`` (one of ``ENCODINGS``). Every
    supported shape — flat REQUIRED/OPTIONAL, lists (OPTIONAL slots /
    OPTIONAL elements), struct fields, map key/value — reduces to this
    model, which is exactly the reference TypedColumnWriter's view of a
    leaf (``column_writer.cc``: a leaf writer receives def/rep arrays plus
    the value stream, whatever the schema tree above looks like)."""

    def __init__(self, path: list, phys: str, dense, *, n_rows: int,
                 encoding: str = "plain", max_rep: int = 0,
                 max_def: int = 0, rep=None, deflv=None,
                 lvl_ofs=None, dense_ofs=None):
        self.path = list(path)
        self.name = leaf_name(self.path)
        self.phys = phys
        self.dense = dense
        self.n_rows = n_rows
        self.encoding = encoding
        self.max_rep = max_rep
        self.max_def = max_def
        self.rep = rep          # int8, one per level slot (None: max_rep=0)
        self.deflv = deflv      # int8, one per level slot (None: max_def=0)
        self.lvl_ofs = lvl_ofs      # row -> first level slot (None: 1/row)
        self.dense_ofs = dense_ofs  # row -> first dense value (None: =row)

    def _lvl_range(self, lo: int, hi: int) -> tuple[int, int]:
        if self.lvl_ofs is None:
            return lo, hi
        return int(self.lvl_ofs[lo]), int(self.lvl_ofs[hi])

    def dense_range(self, lo: int, hi: int) -> tuple[int, int]:
        if self.dense_ofs is None:
            return lo, hi
        return int(self.dense_ofs[lo]), int(self.dense_ofs[hi])

    def row_floor(self, lo: int, hi: int, dense_target: int) -> int:
        """Largest row r in [lo, hi] whose dense start offset <=
        ``dense_target`` — aligns the dict->PLAIN fallback point to a ROW
        boundary so pages stay homogeneous and records never straddle an
        encoding switch."""
        if self.dense_ofs is None:
            return min(hi, dense_target)   # flat REQUIRED: row == dense idx
        r = int(np.searchsorted(self.dense_ofs[lo:hi + 1], dense_target,
                                side="right")) - 1
        return lo + max(r, 0)

    def num_values(self, lo: int, hi: int) -> int:
        """ColumnMetaData.num_values / page-header num_values: LEVEL slots
        in the row range (= rows for flat and struct leaves, level
        positions for repeated leaves — empty/null rows still carry one
        marker slot)."""
        llo, lhi = self._lvl_range(lo, hi)
        return lhi - llo

    def page_levels(self, lo: int, hi: int):
        """(rep, def) int8 array slices for a page (None where absent)."""
        llo, lhi = self._lvl_range(lo, hi)
        r = None if self.rep is None else self.rep[llo:lhi]
        d = None if self.deflv is None else self.deflv[llo:lhi]
        return r, d


def _dense_scalar(values, idx, phys: str, name: str):
    """Extract dense values: ``values`` (slot-aligned when ``idx`` is
    given) -> the non-null value stream in page-payload form."""
    if phys == "byte_array":
        view = ba.as_view(values)
        return view if idx is None else ba.take(view, idx)
    if _is_fixed_bytes(phys):
        width = _phys_id(phys)[1]
        if isinstance(values, np.ndarray):
            # vectorized form: (n, width) uint8 matrix (the sink's
            # decimal path) — row-sliceable, no per-row Python
            if values.ndim != 2 or values.shape[1] != width \
                    or values.dtype != np.uint8:
                raise ValueError(f"column {name}: FLBA matrix must be "
                                 f"(n, {width}) uint8")
            return values if idx is None else \
                np.ascontiguousarray(values[idx])
        # keep a PYTHON list: np.asarray would coerce to '|S<N>' and
        # silently strip trailing NUL bytes on extraction
        vals = list(values) if idx is None else [values[i] for i in idx]
        for v in vals:
            if len(v) != width:
                raise ValueError(f"column {name}: FLBA/INT96 value of "
                                 f"{len(v)} bytes, expected {width}")
        return vals
    arr = np.asarray(values)
    return _coerce_dense(arr if idx is None else arr[idx], phys, name)


def _scalar_leaf(name: str, phys: str, values, valid,
                 encoding: str) -> _Leaf:
    """Flat REQUIRED/OPTIONAL leaf (one level slot per row); ``valid``:
    bool mask of rows carrying a value (None = REQUIRED)."""
    _phys_id(phys)  # validates
    if valid is None:
        return _Leaf([name], phys, _dense_scalar(values, None, phys, name),
                     n_rows=len(values), encoding=encoding)
    valid = np.asarray(valid, dtype=bool)
    n_rows = len(valid)
    if len(values) != n_rows:
        raise ValueError(f"column {name}: values must be slot-aligned "
                         "(one per row, nulls included) when a "
                         "validity mask is given")
    dense = _dense_scalar(values, np.flatnonzero(valid), phys, name)
    dense_ofs = np.zeros(n_rows + 1, dtype=np.int64)
    np.cumsum(valid, out=dense_ofs[1:])
    return _Leaf([name], phys, dense, n_rows=n_rows,
                 encoding=encoding, max_def=1,
                 deflv=valid.astype(np.int8), dense_ofs=dense_ofs)


def _leaves_of(spec) -> list:
    """Top-level column spec -> its leaf chunks in schema DFS order: a
    walker spec (``pcs_leaves``) owns its leaves; a flat tuple
    ``(name, phys, values[, valid[, use_dictionary]])`` is one leaf."""
    if hasattr(spec, "pcs_leaves"):
        return spec.pcs_leaves()
    name, phys, values = spec[0], spec[1], spec[2]
    valid = spec[3] if len(spec) > 3 else None
    enc = "dict" if len(spec) > 4 and spec[4] else "plain"
    return [_scalar_leaf(name, phys, values, valid, enc)]


# -- numpy column specs -----------------------------------------------------
# The five spec classes below take numpy lengths/masks/values, build the
# equivalent Arrow array and hand it to the one rep/def walker
# (``arrow_nested.ArrowColumn``): a field is nullable exactly where a mask
# is given, and a set dictionary flag encodes its leaf ``"dict"``.

_ARROW_NUMERIC = {"int32": "int32", "int64": "int64", "float": "float32",
                  "double": "float64"}


def _arrow(name: str, typ, n: int, valid, buffers: list, children=None):
    """Arrow array of ``typ`` over ``buffers`` (after the validity
    bitmap, built from the bool mask ``valid``; None = no nulls)."""
    import pyarrow as pa

    bits = None
    if valid is not None:
        valid = np.asarray(valid, dtype=bool)
        if len(valid) != n:
            raise ValueError(f"column {name}: validity mask has "
                             f"{len(valid)} entries, expected {n}")
        bits = pa.py_buffer(np.packbits(valid, bitorder="little"))
    arr = pa.Array.from_buffers(typ, n, [bits, *buffers], children=children)
    arr.validate()
    return arr


def _leaf_array(name: str, phys: str, values, valid):
    """Slot-aligned leaf values (entries at null slots ignored) -> Arrow."""
    import pyarrow as pa

    _phys_id(phys)
    if phys == "byte_array":
        base = ba.to_arrow(ba.as_view(values))
    elif phys == "boolean":
        base = pa.array(np.asarray(values, dtype=bool))
    elif phys in _ARROW_NUMERIC:
        base = pa.array(_coerce_dense(values, phys, name),
                        type=_ARROW_NUMERIC[phys])
    else:
        raise ValueError(f"column {name}: {phys} values are written as "
                         "flat columns only")
    return _arrow(name, base.type, len(base), valid, base.buffers()[1:])


def _offsets(name: str, lengths, valid, n_child: int) -> np.ndarray:
    """Checked int64 list offsets for per-row ``lengths`` over ``n_child``
    elements; null rows (``valid`` False) must carry length 0."""
    lengths = np.ascontiguousarray(lengths, dtype=np.int64)
    if (lengths < 0).any():
        raise ValueError(f"column {name}: negative list length")
    if valid is not None and lengths[~np.asarray(valid, dtype=bool)].any():
        raise ValueError(f"column {name}: null list slots must have "
                         "length 0")
    off = np.zeros(len(lengths) + 1, dtype=np.int64)
    np.cumsum(lengths, out=off[1:])
    if off[-1] != n_child:
        raise ValueError(f"column {name}: {n_child} elements but "
                         f"lengths sum to {int(off[-1])}")
    return off


def _list_array(name: str, lengths, valid, child, child_nullable: bool):
    """Arrow list array of per-row ``lengths`` over ``child``."""
    import pyarrow as pa

    off = _offsets(name, lengths, valid, len(child))
    typ = pa.large_list(pa.field("element", child.type,
                                 nullable=child_nullable))
    return _arrow(name, typ, len(off) - 1, valid, [pa.py_buffer(off)],
                  [child])


def _struct_array(name: str, fields: list, valid):
    """(Arrow struct array, per-leaf dictionary flags in DFS order) for
    ``fields``: ``(fname, phys, values[, fvalid[, use_dictionary]])``
    tuples or ``(fname, spec)`` pairs nesting another spec column."""
    import pyarrow as pa

    if not fields:
        raise ValueError(f"struct column {name}: no fields")
    children, arrow_fields, flags = [], [], []
    for f in fields:
        if len(f) == 2 and isinstance(f[1], ArrowColumn):
            child, nullable = f[1].array, f[1].nullable
            flags += [leaf.encoding == "dict" for leaf in f[1].pcs_leaves()]
        else:
            fvalid = f[3] if len(f) > 3 else None
            child = _leaf_array(f"{name}.{f[0]}", f[1], f[2], fvalid)
            nullable = fvalid is not None
            flags.append(bool(f[4]) if len(f) > 4 else False)
        children.append(child)
        arrow_fields.append(pa.field(f[0], child.type, nullable=nullable))
    return (_arrow(name, pa.struct(arrow_fields), len(children[0]), valid,
                   [], children), flags)


class _SpecColumn(ArrowColumn):
    """An ``ArrowColumn`` built from numpy parts, each leaf whose
    dictionary flag is set encoded ``"dict"``."""

    def __init__(self, name: str, array, nullable: bool, flags: list):
        super().__init__(name, array, nullable)
        for leaf, flag in zip(self._leaves, flags):
            leaf.encoding = "dict" if flag else "plain"


class ListColumn(_SpecColumn):
    """Spec for a ``list<element>`` column (3-level encoding,
    ``schema.h:43-77``): ``values`` are the flattened elements, ``lengths``
    the per-row element counts; rep 0 delimits a record like the
    reference's REPEATED leaves (``column_writer.cc:616-629``).

    ``valid`` (per-ROW mask) makes the list itself OPTIONAL: a null slot
    is one level position with def 0, an empty list def 1, elements def 2
    — the ``column_writer-test.cc:387-460`` OPTIONAL-REPEATED shape. Null
    rows must carry length 0. ``element_valid`` (one bool per SLOT) makes
    elements OPTIONAL; ``values`` are then SLOT-aligned (entries at null
    slots ignored) and each null element costs one more def level."""

    def __init__(self, name: str, phys: str, values, lengths,
                 use_dictionary: bool = False, valid=None,
                 element_valid=None):
        child = _leaf_array(name, phys, values, element_valid)
        super().__init__(name, _list_array(name, lengths, valid, child,
                                           element_valid is not None),
                         valid is not None, [use_dictionary])


class NestedListColumn(_SpecColumn):
    """Spec for a ``list<list<element>>`` column (max_rep = 2, two LIST
    annotations deep).

    ``outer_lengths[i]``: inner lists in row i; ``inner_lengths``: element
    counts per inner list (flattened, ``outer_lengths.sum()`` entries);
    ``values``: flattened element slots (``inner_lengths.sum()``).
    ``valid`` (per row) / ``inner_valid`` (per inner list) /
    ``element_valid`` (per element slot) make each layer OPTIONAL — every
    optional layer adds one def level (max_def up to 5). Null slots at
    any layer must carry zero extent."""

    def __init__(self, name: str, phys: str, values, outer_lengths,
                 inner_lengths, use_dictionary: bool = False, valid=None,
                 inner_valid=None, element_valid=None):
        child = _leaf_array(name, phys, values, element_valid)
        inner = _list_array(f"{name}.element", inner_lengths, inner_valid,
                            child, element_valid is not None)
        super().__init__(name, _list_array(name, outer_lengths, valid, inner,
                                           inner_valid is not None),
                         valid is not None, [use_dictionary])


class StructColumn(_SpecColumn):
    """Spec for a ``struct<...>`` column (``schema.h:106-303`` group
    nodes).

    ``fields``: flat leaf tuples ``(fname, phys, values[, fvalid[,
    use_dictionary]])`` — each becomes one leaf chunk with path
    ``name.fname`` — or ``(fname, spec)`` pairs nesting another spec
    column such as a ``StructColumn`` or ``ListColumn`` (the inner spec's
    ``name`` is ignored; its values/masks stay TOP-LEVEL-row aligned,
    entries under a null ancestor ignored). ``valid`` makes the struct
    OPTIONAL: a struct-null row contributes def 0 to every leaf below
    it; each optional ancestor adds one def level. Annotations (utf8/
    decimal/temporal) are keyed by the dotted path ``name.fname``. FLBA
    and INT96 fields are out of scope (flat columns only)."""

    def __init__(self, name: str, fields: list, valid=None):
        arr, flags = _struct_array(name, list(fields), valid)
        super().__init__(name, arr, valid is not None, flags)


class MapColumn(_SpecColumn):
    """Spec for a ``map<key, value>`` column (MAP converted type; 3-level
    ``key_value`` group, ``schema.h:43-77``). Two parallel REPEATED leaves
    share one ``lengths`` array: ``keys`` (REQUIRED — parquet map keys
    cannot be null) and ``values`` (OPTIONAL when ``value_valid`` is
    given, slot-aligned like ``ListColumn.element_valid``). ``valid``
    makes the map itself OPTIONAL (null map vs empty map, like
    ListColumn). Annotation keys: ``name.key`` / ``name.value``."""

    def __init__(self, name: str, key_phys: str, keys, value_phys: str,
                 values, lengths, valid=None, value_valid=None,
                 key_use_dictionary: bool = False,
                 value_use_dictionary: bool = False):
        import pyarrow as pa

        entries, _flags = _struct_array(
            name, [("key", key_phys, keys),
                   ("value", value_phys, values, value_valid)], None)
        off = _offsets(name, lengths, valid, len(entries))
        typ = pa.map_(entries.type.field(0), entries.type.field(1))
        arr = _arrow(name, typ, len(off) - 1, valid,
                     [pa.py_buffer(off.astype(np.int32))], [entries])
        super().__init__(name, arr, valid is not None,
                         [key_use_dictionary, value_use_dictionary])


class ListStructColumn(_SpecColumn):
    """Spec for a ``list<struct<...>>`` column: one REPEATED leaf per
    struct field, all sharing one ``lengths`` array.

    ``fields``: as ``StructColumn.fields``, with values/masks PER ELEMENT
    SLOT (``lengths.sum()`` entries). ``element_valid`` (per slot) makes
    the struct element OPTIONAL (a null struct inside the list — its
    field values at those slots are ignored); ``valid`` (per row) makes
    the list itself OPTIONAL. Annotation keys: ``name.fname``."""

    def __init__(self, name: str, fields: list, lengths, valid=None,
                 element_valid=None):
        elem, flags = _struct_array(name, list(fields), element_valid)
        super().__init__(name, _list_array(name, lengths, valid, elem,
                                           element_valid is not None),
                         valid is not None, flags)


def _bit_width(max_level: int) -> int:
    return max(1, int(max_level).bit_length())


def _check_encoding(c: _Leaf) -> None:
    """Raise unless ``c.encoding`` is a tag this leaf's phys can take."""
    if c.encoding not in ENCODINGS:
        raise ValueError(f"column {c.name}: unknown encoding "
                         f"{c.encoding!r} (one of {ENCODINGS})")
    if c.encoding == "dict" and _is_fixed_bytes(c.phys):
        raise ValueError(f"column {c.name}: dictionary encoding is out of "
                         "scope for FLBA/INT96 (PLAIN only, like the "
                         "reference's fixed-width pages)")
    phys = c.encoding != "dict" and _PAGE_CODERS[c.encoding][1]
    if phys and c.phys not in phys:
        raise ValueError(f"column {c.name}: encoding {c.encoding!r} "
                         f"applies to {'/'.join(phys)}, not {c.phys}")


def _write_chunk(buf: bytearray, c: _Leaf, lo: int, hi: int,
                 page_rows: "int | None", codec: "str | None",
                 data_page_version: int = 1,
                 dict_size_limit: int = dictionary.DEFAULT_DICT_SIZE_LIMIT
                 ) -> list:
    """One column chunk for slot range [lo, hi) -> ColumnMetaData fields."""
    dlo, dhi = c.dense_range(lo, hi)
    dense = _slice_dense(c.dense, c.phys, dlo, dhi)
    chunk_start = len(buf)
    # total_uncompressed_size = sum(header + raw page size) per page, the
    # reference's SerializedPageWriter accumulation
    raw_total = 0
    dict_page_offset = None
    enc = None
    split_row = hi
    # pages without dictionary codes go through the tag's page coder
    # (PLAIN for a dict chunk's fallback pages)
    page_enc, _phys, coder = _PAGE_CODERS[
        "plain" if c.encoding == "dict" else c.encoding]
    encodings = [page_enc, ENC_RLE]
    if c.encoding == "dict":
        enc = dictionary.encode(dense, c.phys,
                                dict_size_limit=dict_size_limit)
        if enc.fallback:
            # reference column_writer.cc:498-510: dict grows past the
            # limit -> pages already indexed stay dict-coded, later pages
            # are PLAIN, encodings list carries both. We align the switch
            # to a row boundary (records never straddle encodings).
            split_row = c.row_floor(lo, hi, dlo + enc.n_dict_values)
        if enc.fallback and split_row <= lo:
            # degenerate: the very first row overflows the dict — pure
            # PLAIN chunk, no dict page at all
            enc = None
        else:
            dict_page_offset = len(buf)
            body = _compress(enc.dict_blob, codec)
            hdr = _page_header(_PAGE_DICT, len(enc.dict_blob), len(body), 7,
                               [(1, _I32, enc.num_entries),
                                (2, _I32, ENC_PLAIN_DICT)])
            buf += hdr
            buf += body
            raw_total += len(hdr) + len(enc.dict_blob)
            encodings = [ENC_PLAIN_DICT, ENC_PLAIN, ENC_RLE] \
                if enc.fallback else [ENC_PLAIN_DICT, ENC_RLE]
            bw = enc.indices_blob[0]

    data_page_offset = len(buf)
    step = max(1, (hi - lo) if page_rows is None else page_rows)
    # a zero-row chunk still emits one empty data page so the footer's
    # data_page_offset points at a real page header; a fallback chunk
    # splits the straddling page at the encoding-switch row
    page_ranges = []
    for plo in range(lo, hi, step) or [lo]:
        phi = min(plo + step, hi)
        if enc is not None and plo < split_row < phi:
            page_ranges += [(plo, split_row), (split_row, phi)]
        else:
            page_ranges.append((plo, phi))
    if not page_ranges:
        page_ranges = [(lo, lo)]
    pages = []  # ColumnIndex/OffsetIndex records, one per DATA page
    for plo, phi in page_ranges:
        page_off = len(buf)
        pdlo, pdhi = c.dense_range(plo, phi)
        if enc is not None and phi <= split_row:
            # per-page indices: re-RLE this page's slice of the chunk's
            # dict codes at the chunk-wide bit width
            codes = enc.codes[pdlo - dlo: pdhi - dlo]
            values_b = bytes([bw]) + rle.encode(codes, bw)
            encoding = ENC_PLAIN_DICT
        else:
            values_b = coder(_slice_dense(c.dense, c.phys, pdlo, pdhi),
                             c.phys)
            encoding = page_enc
        rep_arr, def_arr = c.page_levels(plo, phi)
        n_slots_pg = c.num_values(plo, phi)
        if data_page_version == 2:
            # V2: rep+def levels UNPREFIXED and outside the compressed
            # region, rep first (reference properties.h:363-377 / format
            # v2 pages; level byte lengths in header fields 6/5)
            rep_b = b"" if rep_arr is None \
                else rle.encode(rep_arr, _bit_width(c.max_rep))
            def_b = b"" if def_arr is None \
                else rle.encode(def_arr, _bit_width(c.max_def))
            levels = rep_b + def_b
            vbody = _compress(values_b, codec)
            hdr = _page_header(
                _PAGE_DATA_V2, len(levels) + len(values_b),
                len(levels) + len(vbody), 8,
                [(1, _I32, n_slots_pg),
                 (2, _I32, n_slots_pg - (pdhi - pdlo)),
                 (3, _I32, phi - plo), (4, _I32, encoding),
                 (5, _I32, len(def_b)), (6, _I32, len(rep_b)),
                 (7, _TRUE if codec is not None else _FALSE, None)])
            buf += hdr
            buf += levels
            buf += vbody
            raw_total += len(hdr) + len(levels) + len(values_b)
        else:
            rep_b = b"" if rep_arr is None \
                else rle.encode_length_prefixed(rep_arr,
                                                _bit_width(c.max_rep))
            def_b = b"" if def_arr is None \
                else rle.encode_length_prefixed(def_arr,
                                                _bit_width(c.max_def))
            payload = rep_b + def_b + values_b
            body = _compress(payload, codec)
            hdr = _page_header(_PAGE_DATA, len(payload), len(body), 5,
                               [(1, _I32, n_slots_pg), (2, _I32, encoding),
                                (3, _I32, ENC_RLE), (4, _I32, ENC_RLE)])
            buf += hdr
            buf += body
            raw_total += len(hdr) + len(payload)
        # page-index record (parquet ColumnIndex/OffsetIndex analog of the
        # chunk format's per-page min/max, chunk.py page_index)
        pg_dense = _slice_dense(c.dense, c.phys, pdlo, pdhi)
        if pdhi == pdlo:
            pmin = pmax = None
        elif _is_fixed_bytes(c.phys):
            pmin = pmax = NAN_POISONED   # untrustworthy ordering: no index
        elif c.phys == "byte_array":
            pmin, pmax = ba.minmax(ba.as_view(pg_dense))
        else:
            arr = np.asarray(pg_dense)
            if c.phys in ("float", "double") and bool(np.isnan(arr).any()):
                pmin = pmax = NAN_POISONED
            else:
                pmin, pmax = arr.min(), arr.max()
        pages.append({
            "offset": page_off,
            "size": len(buf) - page_off,
            "first_row": plo - lo,
            "null_count": n_slots_pg - (pdhi - pdlo),
            "min": pmin, "max": pmax,
        })

    total_comp = len(buf) - chunk_start
    cmd = [(1, _I32, _phys_id(c.phys)[0]),
           (2, _LIST, (_I32, encodings)),
           (3, _LIST, (_BINARY, c.path)),
           (4, _I32, _CODEC_IDS[codec]),
           (5, _I64, c.num_values(lo, hi)),
           (6, _I64, raw_total), (7, _I64, total_comp),
           (9, _I64, data_page_offset)]
    if dict_page_offset is not None:
        cmd.append((11, _I64, dict_page_offset))
    # def < max_def slots: nulls at any nesting depth plus one marker
    # per empty/null list — level slots minus dense values
    null_count = c.num_values(lo, hi) - (dhi - dlo)
    cmd.append((12, _STRUCT, _chunk_stats(dense, c.phys, null_count)))
    return [chunk_start, total_comp, cmd, pages]


def write_file(path: str, columns: list, num_rows: int, *,
               row_group_rows: "int | None" = None,
               page_rows: "int | None" = None,
               compression: "str | None" = None,
               utf8_columns: "frozenset[str] | set[str]" = frozenset(),
               encodings: "dict[str, str] | None" = None,
               data_page_version: int = 1,
               dict_size_limit: int = dictionary.DEFAULT_DICT_SIZE_LIMIT,
               write_page_index: bool = True,
               decimal_columns: "dict[str, tuple[int, int]] | None" = None,
               annotations: "dict[str, str] | None" = None,
               key_value_metadata: "dict[str, str] | None" = None,
               bloom_filter_columns: "frozenset[str] | set[str]"
               = frozenset(),
               field_ids: "dict[str, int] | None" = None) -> None:
    """Write columns as a readable PAR1 file.

    ``columns``: flat ``(name, phys, values[, valid[, use_dictionary]])``
    tuples — ``values`` slot-aligned when ``valid`` is given (entries at
    null slots ignored), byte_array values as list[bytes] or a
    ``ba.ByteArrayView`` — and walker specs (``arrow_nested.ArrowColumn``
    and the numpy spec classes built on it), which bring their own
    leaves, schema subtree and annotation keys. ``row_group_rows``/
    ``page_rows`` split the file into multiple row groups / data pages;
    ``compression`` (page bodies) is None, snappy, gzip, brotli, zstd,
    lz4 (the legacy Hadoop-framed codec) or lz4_raw;
    ``data_page_version=2`` writes DataPageV2 (levels unprefixed and
    outside the compressed region).

    ``encodings`` maps a leaf name (dotted for nested leaves) to one of
    ``ENCODINGS``; other leaves keep their own (``"dict"`` where the spec
    sets its dictionary flag, else ``"plain"``). ``"delta"`` writes
    DELTA_BINARY_PACKED int32/int64 pages, ``"dlba"``/``"dba"``
    DELTA_LENGTH_BYTE_ARRAY / DELTA_BYTE_ARRAY byte_array pages (the
    reference's decoders are ``encoding-internal.h:883-975``). An unknown
    leaf or tag, a tag the leaf's phys cannot take, or a tag on a
    dictionary-flagged leaf raises ``ValueError``.

    Annotations: byte_array leaves in ``utf8_columns`` carry UTF8, so
    schema-strict readers (Spark's JVM reader) surface strings;
    ``decimal_columns`` maps an FLBA leaf to (precision, scale) for
    DECIMAL (two's-complement big-endian unscaled ints, the
    ``logical.decimal_to_flba`` layout); ``annotations`` maps an int leaf
    to a temporal type of ``_TIME_ANNOTATIONS``. FLBA columns are spelled
    ``phys='flba:<N>'`` and ``'int96'`` is the 12-byte deprecated
    timestamp; both write PLAIN pages and null_count-only stats (their
    ordering is type-defined, not byte-lexicographic).

    ``write_page_index`` emits the parquet PageIndex (per-page
    ColumnIndex and OffsetIndex after the data, linked from each
    ColumnChunk), so readers skip pages without touching page headers.
    ``bloom_filter_columns`` (leaf names) embeds a standard split-block
    XXH64 bloom per chunk, sized for ``BLOOM_FPP`` at the exact ndv, so a
    point lookup (``parquet_format.lookup_rows``) can skip a whole chunk.
    ``field_ids`` maps a TOP-LEVEL column name to its SchemaElement
    field_id (the id Iceberg-family table formats track columns by).
    """
    if data_page_version not in (1, 2):
        raise ValueError("data_page_version must be 1 or 2")
    if compression not in _CODEC_IDS:
        raise ValueError(f"unsupported compression {compression!r} "
                         f"(one of {sorted(k for k in _CODEC_IDS if k)})")
    decimal_columns = dict(decimal_columns or {})
    annotations = dict(annotations or {})
    utf8_columns = set(utf8_columns)
    spec_list = list(columns)
    cols: list[_Leaf] = []
    for s in spec_list:
        if hasattr(s, "pcs_annotations"):
            # walker specs harvest utf8/temporal/decimal keys at
            # construction; merge them so callers need not re-plumb them
            s_utf8, s_ann, s_dec = s.pcs_annotations()
            utf8_columns |= s_utf8
            annotations.update(s_ann)
            decimal_columns.update(s_dec)
        cols.extend(_leaves_of(s))
    encodings = dict(encodings or {})
    unknown = set(encodings) - {c.name for c in cols}
    if unknown:
        raise ValueError(f"encodings for columns not in schema: "
                         f"{sorted(unknown)}")
    for i, c in enumerate(cols):
        if c.n_rows != num_rows:
            raise ValueError(f"column {c.name}: {c.n_rows} slots, "
                             f"expected {num_rows}")
        tag = encodings.get(c.name, c.encoding)
        if tag != c.encoding:
            if c.encoding != "plain":
                raise ValueError(f"column {c.name}: encodings {tag!r} and "
                                 f"{c.encoding!r} are mutually exclusive")
            cols[i] = c = copy.copy(c)   # the caller's spec keeps its own
            c.encoding = tag
        _check_encoding(c)

    buf = bytearray(MAGIC)
    rg_step = max(1, num_rows if row_group_rows is None else row_group_rows)
    rg_infos = []                 # per rg: [(start, total, cmd, pages)]
    rg_bounds = []                # per rg: (lo, hi) row range
    for lo in range(0, max(num_rows, 1), rg_step):
        hi = min(lo + rg_step, num_rows)
        per_rg = []
        for c in cols:
            per_rg.append(_write_chunk(buf, c, lo, hi, page_rows,
                                       compression, data_page_version,
                                       dict_size_limit))
        rg_infos.append((per_rg, hi - lo))
        rg_bounds.append((lo, hi))

    # PageIndex region: all ColumnIndex structs, then all OffsetIndex
    # structs, between the last data page and the footer (parquet-mr
    # layout). ColumnChunk fields 4-7 link to them.
    ci_pos: dict = {}
    oi_pos: dict = {}
    if write_page_index:
        for ri, (per_rg, _n) in enumerate(rg_infos):
            for cj, (_s, _t, _cmd, pages) in enumerate(per_rg):
                fields = _column_index_fields(pages, cols[cj].phys)
                if fields is None:
                    continue
                b = bytearray()
                _struct(b, fields)
                ci_pos[(ri, cj)] = (len(buf), len(b))
                buf += b
        for ri, (per_rg, _n) in enumerate(rg_infos):
            for cj, (_s, _t, _cmd, pages) in enumerate(per_rg):
                b = bytearray()
                _struct(b, _offset_index_fields(pages))
                oi_pos[(ri, cj)] = (len(buf), len(b))
                buf += b

    # Bloom region: one BloomFilterHeader + split-block bitset per
    # (row group, bloom column) after the PageIndex, before the footer;
    # ColumnMetaData fields 14/15 link to it (parquet-format bloom spec)
    bf_pos: dict = {}
    if bloom_filter_columns:
        from ..kernels import bloom as bloom_mod
        for cj, c in enumerate(cols):
            if c.name not in bloom_filter_columns:
                continue
            if c.phys not in ("int32", "int64", "byte_array"):
                raise ValueError(f"bloom filter on {c.name!r}: phys "
                                 f"{c.phys} unsupported (int32/int64/"
                                 "byte_array)")
            for ri, (lo, hi) in enumerate(rg_bounds):
                dlo, dhi = c.dense_range(lo, hi)
                dense = _slice_dense(c.dense, c.phys, dlo, dhi)
                if c.phys == "byte_array":
                    vals = ba.to_list(dense) \
                        if isinstance(dense, ba.ByteArrayView) \
                        else [bytes(v) for v in dense]
                    ndv = len(set(vals))
                    bf = bloom_mod.StandardBloomFilter(
                        bloom_mod.optimal_num_bytes(max(ndv, 1), BLOOM_FPP))
                    bf.insert_bytes(vals)
                else:
                    arr = np.asarray(dense)
                    ndv = len(np.unique(arr))
                    bf = bloom_mod.StandardBloomFilter(
                        bloom_mod.optimal_num_bytes(max(ndv, 1), BLOOM_FPP))
                    if c.phys == "int32":
                        bf.insert_int32(arr)
                    else:
                        bf.insert_int64(arr)
                bitset = bf.words.tobytes()
                hdr = bytearray()
                # BloomFilterHeader: numBytes + three unions, each a
                # one-field struct holding an empty struct (BLOCK /
                # XXHASH / UNCOMPRESSED)
                _struct(hdr, [(1, _I32, len(bitset)),
                              (2, _STRUCT, [(1, _STRUCT, [])]),
                              (3, _STRUCT, [(1, _STRUCT, [])]),
                              (4, _STRUCT, [(1, _STRUCT, [])])])
                bf_pos[(ri, cj)] = (len(buf), len(hdr) + len(bitset))
                buf += hdr
                buf += bitset

    row_groups = []
    for ri, (per_rg, n_rows_rg) in enumerate(rg_infos):
        chunks = []
        total_bytes = 0
        for cj, (start, total, cmd, _pages) in enumerate(per_rg):
            if (ri, cj) in bf_pos:
                o, ln = bf_pos[(ri, cj)]
                cmd = cmd + [(14, _I64, o), (15, _I32, ln)]
            fields = [(2, _I64, start), (3, _STRUCT, cmd)]
            if (ri, cj) in oi_pos:
                o, ln = oi_pos[(ri, cj)]
                fields += [(4, _I64, o), (5, _I32, ln)]
            if (ri, cj) in ci_pos:
                o, ln = ci_pos[(ri, cj)]
                fields += [(6, _I64, o), (7, _I32, ln)]
            chunks.append(fields)
            total_bytes += total
        row_groups.append([(1, _LIST, (_STRUCT, chunks)),
                           (2, _I64, total_bytes),
                           (3, _I64, n_rows_rg)])

    def _leaf_el(phys: str, repetition: int, leaf_name: str,
                 ann_key: str) -> list:
        """SchemaElement for one leaf, with utf8/temporal/decimal
        annotations keyed by ``ann_key`` (the dotted path for nested
        leaves, the plain column name for flat/list columns)."""
        if ann_key in utf8_columns and phys != "byte_array":
            raise ValueError(f"utf8 annotation on non-byte_array "
                             f"column {ann_key!r}")
        tid, tlen = _phys_id(phys)
        tl_field = [(2, _I32, tlen)] if phys.startswith("flba:") else []
        el = [(1, _I32, tid), *tl_field, (3, _I32, repetition),
              (4, _BINARY, leaf_name)]
        if ann_key in utf8_columns:
            el.append((6, _I32, 0))  # ConvertedType UTF8
        if ann_key in annotations:
            ann = annotations[ann_key]
            if ann not in _TIME_ANNOTATIONS:
                raise ValueError(f"unknown annotation {ann!r} "
                                 f"(one of {sorted(_TIME_ANNOTATIONS)})")
            conv_id, want_phys, utc = _TIME_ANNOTATIONS[ann]
            if phys != want_phys:
                raise ValueError(f"annotation {ann!r} needs {want_phys} "
                                 f"storage, column {ann_key!r} is {phys}")
            if conv_id is not None:
                el.append((6, _I32, conv_id))
            if utc is not None:
                # SchemaElement.logicalType (field 10): union TIMESTAMP
                # (field 8) = {1: isAdjustedToUTC, 2: TimeUnit union
                # (1 MILLIS / 2 MICROS, empty structs)}
                unit_fid = 1 if ann.endswith("_ms") else 2
                ts = [(1, _TRUE if utc else _FALSE, None),
                      (2, _STRUCT, [(unit_fid, _STRUCT, [])])]
                el.append((10, _STRUCT, [(8, _STRUCT, ts)]))
        if ann_key in decimal_columns:
            if not phys.startswith("flba:"):
                raise ValueError(f"decimal annotation on non-FLBA "
                                 f"column {ann_key!r}")
            precision, scale = decimal_columns[ann_key]
            # two's-complement big-endian unscaled ints in fixed bytes —
            # the logical.py decimal->FLBA layout (arrow/writer.cc:572+)
            el += [(6, _I32, 5), (7, _I32, scale), (8, _I32, precision)]
        return el

    # root num_children counts TOP-LEVEL fields (group nodes count once;
    # their leaves hang beneath them), schema.h:106-303 tree shape
    schema = [[(3, _I32, 0), (4, _BINARY, "schema"),
               (5, _I32, len(spec_list))]]
    top_elements: list = []   # (top-level element index, column name)
    for s in spec_list:
        top_elements.append(
            (len(schema), s[0] if isinstance(s, tuple) else s.name))
        if hasattr(s, "pcs_schema"):
            # walker spec: it emits its own schema subtree (group
            # skeletons + leaves through _leaf_el for the annotations)
            schema.extend(s.pcs_schema(_leaf_el))
        else:
            rep = 1 if len(s) > 3 and s[3] is not None else 0
            schema.append(_leaf_el(s[1], rep, s[0], s[0]))
    if field_ids:
        unknown = set(field_ids) - {n for _i, n in top_elements}
        if unknown:
            raise ValueError(f"field_ids for absent columns: "
                             f"{sorted(unknown)}")
        for idx, name in top_elements:
            fid = field_ids.get(name)
            if fid is not None:
                # SchemaElement.field_id (field 9) on the TOP-LEVEL
                # element; compact protocol needs ascending field order
                schema[idx].append((9, _I32, int(fid)))
                schema[idx].sort(key=lambda t: t[0])
    fmd = bytearray()
    # column_orders: TYPE_DEFINED_ORDER per leaf — without it readers must
    # ignore min_value/max_value (parquet-format Statistics contract)
    column_orders = [[(1, _STRUCT, [])] for _ in cols]
    fmd_fields = [(1, _I32, 1),
                  (2, _LIST, (_STRUCT, schema)),
                  (3, _I64, num_rows),
                  (4, _LIST, (_STRUCT, row_groups))]
    if key_value_metadata:
        kvs = [[(1, _BINARY, k), (2, _BINARY, v)]
               for k, v in sorted(key_value_metadata.items())]
        fmd_fields.append((5, _LIST, (_STRUCT, kvs)))
    fmd_fields += [(6, _BINARY, CREATED_BY),
                   (7, _LIST, (_STRUCT, column_orders))]
    _struct(fmd, fmd_fields)
    buf += fmd
    buf += len(fmd).to_bytes(4, "little")
    buf += MAGIC
    with open(path, "wb") as f:
        f.write(bytes(buf))
