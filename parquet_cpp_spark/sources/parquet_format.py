"""Minimal parquet FILE-format reader built on the engine's own kernels.

Purpose: the reference's cross-implementation golden-file tests
(``/root/reference/src/parquet/reader-test.cc:41-69``) decode files written
by other parquet writers and compare values. This module is that test
strategy for THIS engine: it parses the parquet footer/page headers (thrift
compact protocol, implemented here from the public parquet-format spec) and
decodes the page payloads with the engine's OWN kernels — ``rle`` for
levels and dictionary indices, ``plain`` for values, ``ba`` views for
byte arrays — then the test suite compares against pyarrow's decode of the
same files (``/root/reference/data/alltypes_plain.parquet`` etc.).

This is deliberately NOT a general parquet reader (the engine's production
input path is pyarrow's C++ scanner; its storage format is the chunk blob).
Scope: format 1.0 V1 data pages (plus the engine writer's V2 pages),
flat and REPEATED leaves (rep levels are decoded and returned; row
re-assembly is the caller's job via ``levels.lengths_from_levels``),
PLAIN / PLAIN_DICTIONARY / RLE_DICTIONARY / DELTA_BINARY_PACKED
encodings, UNCOMPRESSED or any block codec pyarrow bundles. That covers
every golden file the reference ships plus everything the engine's own
writer emits, and fails loudly on anything else.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

from ..kernels import ba, plain, rle

MAGIC = b"PAR1"

# thrift compact protocol element types
_CT_STOP, _CT_TRUE, _CT_FALSE, _CT_BYTE, _CT_I16, _CT_I32, _CT_I64, \
    _CT_DOUBLE, _CT_BINARY, _CT_LIST, _CT_SET, _CT_MAP, _CT_STRUCT = range(13)

# parquet-format enums (parquet.thrift)
_PHYS = {0: "boolean", 1: "int32", 2: "int64", 3: "flba:12",  # INT96
         4: "float", 5: "double", 6: "byte_array", 7: "flba"}
_PAGE_DATA, _PAGE_INDEX, _PAGE_DICT, _PAGE_DATA_V2 = 0, 1, 2, 3
ENC_PLAIN, ENC_PLAIN_DICT, ENC_RLE, ENC_RLE_DICT = 0, 2, 3, 8
ENC_DELTA_BP = 5
ENC_DELTA_LBA, ENC_DELTA_BA = 6, 7
_CODECS = {0: None, 1: "snappy", 2: "gzip", 4: "brotli", 5: "lz4",
           6: "zstd", 7: "lz4_raw"}


class _Compact:
    """Thrift compact-protocol reader (just what parquet metadata needs)."""

    def __init__(self, mv: memoryview, pos: int = 0):
        self.mv = mv
        self.pos = pos

    def uvarint(self) -> int:
        out = sh = 0
        while True:
            b = self.mv[self.pos]
            self.pos += 1
            out |= (b & 0x7F) << sh
            if b < 0x80:
                return out
            sh += 7

    def zigzag(self) -> int:
        u = self.uvarint()
        return (u >> 1) ^ -(u & 1)

    def _value(self, ctype: int):
        if ctype == _CT_TRUE:
            return True
        if ctype == _CT_FALSE:
            return False
        if ctype == _CT_BYTE:
            v = self.mv[self.pos]
            self.pos += 1
            return v - 256 if v >= 128 else v
        if ctype in (_CT_I16, _CT_I32, _CT_I64):
            return self.zigzag()
        if ctype == _CT_DOUBLE:
            v = np.frombuffer(self.mv, "<f8", count=1, offset=self.pos)[0]
            self.pos += 8
            return float(v)
        if ctype == _CT_BINARY:
            n = self.uvarint()
            if self.pos + n > len(self.mv):
                raise IndexError   # a cut binary field
            v = bytes(self.mv[self.pos: self.pos + n])
            self.pos += n
            return v
        if ctype in (_CT_LIST, _CT_SET):
            head = self.mv[self.pos]
            self.pos += 1
            size = head >> 4
            etype = head & 0x0F
            if size == 15:
                size = self.uvarint()
            if etype in (_CT_TRUE, _CT_FALSE):
                out = [self.mv[self.pos + i] == 1 for i in range(size)]
                self.pos += size
                return out
            return [self._value(etype) for _ in range(size)]
        if ctype == _CT_STRUCT:
            return self._struct()
        raise ValueError(f"unsupported thrift compact type {ctype}")

    def struct(self) -> dict:
        """One struct -> {field_id: value}; nested structs are dicts. A
        read past the end of the buffer raises ValueError."""
        try:
            return self._struct()
        except IndexError:
            raise ValueError("corrupt thrift struct: read past the end of "
                             f"the {len(self.mv)}-byte buffer") from None

    def _struct(self) -> dict:
        out: dict = {}
        fid = 0
        while True:
            head = self.mv[self.pos]
            self.pos += 1
            if head == _CT_STOP:
                return out
            delta = head >> 4
            ctype = head & 0x0F
            fid = fid + delta if delta else self.zigzag()
            out[fid] = self._value(ctype)


@dataclass
class LeafColumn:
    name: str
    phys: str
    max_def: int
    max_rep: int
    converted_type: int | None = None
    type_length: int = 0


@dataclass
class ColumnChunkMeta:
    path: str
    phys: str
    codec: int
    num_values: int
    data_page_offset: int
    dictionary_page_offset: int | None
    total_compressed_size: int
    offset_index: "tuple[int, int] | None" = None   # (offset, length)
    column_index: "tuple[int, int] | None" = None
    bloom_filter: "tuple[int, int | None] | None" = None  # (offset, length)
    # chunk Statistics (min_bytes, max_bytes, null_count), any of which
    # may be None — plain-encoded bounds exactly as the writer emitted
    # them (format spec Statistics struct; EncodedStatistics in the
    # reference, metadata.cc ApplyStatistics)
    stats: "tuple | None" = None
    # ColumnMetaData.encodings (field 2) — the scan's dictionary
    # filtering requires proof that every data page is dict-encoded
    # (PLAIN present => fallback happened => membership is not decisive)
    encodings: tuple = ()


@dataclass
class FileMeta:
    num_rows: int
    leaves: list[LeafColumn]
    row_groups: list[list[ColumnChunkMeta]] = field(default_factory=list)
    rg_rows: list[int] = field(default_factory=list)   # rows per row group
    key_value_metadata: dict[str, str] = field(default_factory=dict)
    # raw SchemaElement thrift dicts (preorder, root included) — the
    # record assembler (sources/record_assembly.py) rebuilds the full
    # group tree from these; leaf-only consumers can ignore them
    schema_raw: list = field(default_factory=list)


def top_level_field_ids(meta: "FileMeta") -> dict:
    """TOP-LEVEL column name -> parquet field_id (SchemaElement field 9)
    for the file's direct root children; columns written without an id
    are absent. The id is what Iceberg-family table formats track
    columns by across renames."""
    out: dict = {}
    els = meta.schema_raw
    if not els:
        return out
    idx = 1                              # skip the root element

    def skip(i: int) -> int:
        n = els[i].get(5, 0)
        i += 1
        for _ in range(n):
            i = skip(i)
        return i

    for _ in range(els[0].get(5, 0)):
        el = els[idx]
        fid = el.get(9)
        if fid is not None:
            out[el.get(4, b"").decode()] = fid
        idx = skip(idx)
    return out


def _parse_schema(elements: list[dict]) -> list[LeafColumn]:
    """SchemaElement list (preorder) -> leaves with max_def/max_rep.
    Repetition: 0 REQUIRED, 1 OPTIONAL, 2 REPEATED."""
    leaves: list[LeafColumn] = []
    idx = 0

    def walk(max_def: int, max_rep: int, prefix: str):
        nonlocal idx
        el = elements[idx]
        idx += 1
        rep = el.get(3, 0)
        if rep == 1:
            max_def += 1
        elif rep == 2:
            max_def += 1
            max_rep += 1
        name = el.get(4, b"").decode()
        path = f"{prefix}.{name}" if prefix else name
        n_children = el.get(5, 0)
        if n_children:
            for _ in range(n_children):
                walk(max_def, max_rep, path)
        else:
            phys = _PHYS[el[1]]
            if phys == "flba":
                phys = f"flba:{el.get(2, 0)}"  # FIXED_LEN_BYTE_ARRAY width
            leaves.append(LeafColumn(path, phys, max_def, max_rep,
                                     el.get(6), el.get(2, 0)))

    root = elements[idx]
    idx += 1
    for _ in range(root.get(5, 0)):
        walk(0, 0, "")
    return leaves


def read_footer(mv: memoryview) -> FileMeta:
    if bytes(mv[:4]) != MAGIC or bytes(mv[-4:]) != MAGIC:
        raise ValueError("not a parquet file (missing PAR1 magic)")
    meta_len = int.from_bytes(mv[-8:-4], "little")
    fmd = _Compact(mv, len(mv) - 8 - meta_len).struct()
    leaves = _parse_schema(fmd[2])
    out = FileMeta(num_rows=fmd[3], leaves=leaves, schema_raw=fmd[2])
    for kv in fmd.get(5, []):
        # errors='replace': pyarrow permits arbitrary BYTES keys/values
        # (e.g. raw ARROW:schema payloads); a non-UTF-8 entry must not
        # make the whole file unreadable
        out.key_value_metadata[kv[1].decode(errors="replace")] = \
            kv.get(2, b"").decode(errors="replace")
    for rg in fmd[4]:
        chunks = []
        for cc in rg[1]:
            cm = cc[3]   # ColumnMetaData
            phys = _PHYS[cm[1]]
            st = cm.get(12)
            stats = None
            if st is not None:
                mn, mx = st.get(6), st.get(5)   # min_value / max_value
                if mn is None and mx is None and phys in (
                        "boolean", "int32", "int64", "float", "double"):
                    # legacy min/max (fields 2/1): trustworthy only for
                    # signed-comparable fixed types (old byte_array
                    # writers used signed byte order — never prune on it)
                    mn, mx = st.get(2), st.get(1)
                stats = (mn, mx, st.get(3))
            chunks.append(ColumnChunkMeta(
                path=".".join(p.decode() for p in cm[3]),
                phys=phys,
                codec=cm[4],
                num_values=cm[5],
                data_page_offset=cm[9],
                dictionary_page_offset=cm.get(11),
                total_compressed_size=cm[7],
                offset_index=(cc[4], cc[5]) if 4 in cc else None,
                column_index=(cc[6], cc[7]) if 6 in cc else None,
                bloom_filter=(cm[14], cm.get(15)) if 14 in cm else None,
                stats=stats, encodings=tuple(cm.get(2, ()))))
        out.row_groups.append(chunks)
        out.rg_rows.append(rg.get(3, 0))
    return out


def _decompress_page(body: memoryview, codec: int, raw_size: int) -> memoryview:
    name = _CODECS.get(codec, f"#{codec}")
    if name is None:
        return body
    import pyarrow as pa
    if name == "gzip":
        import zlib
        return memoryview(zlib.decompress(body, wbits=31))
    if name == "lz4":
        # legacy codec id 5: Hadoop framing (4-byte BE raw length + 4-byte
        # BE compressed length + raw LZ4 blocks), with the reference's
        # raw-block fallback when the prefix doesn't parse as a frame
        # (Lz4HadoopCodec behavior)
        out = bytearray()
        pos, n = 0, len(body)
        ok = n >= 8
        while ok and pos + 8 <= n:
            rlen = int.from_bytes(body[pos:pos + 4], "big")
            clen = int.from_bytes(body[pos + 4:pos + 8], "big")
            if pos + 8 + clen > n or len(out) + rlen > raw_size:
                ok = False
                break
            try:
                out += pa.Codec("lz4_raw").decompress(
                    body[pos + 8:pos + 8 + clen], decompressed_size=rlen,
                    asbytes=True)
            except Exception:
                # prefix bytes parsed as a plausible frame but the block
                # isn't LZ4 — the reference's Lz4HadoopCodec retries the
                # WHOLE body as one raw block on any frame failure
                ok = False
                break
            pos += 8 + clen
        if ok and pos == n and len(out) == raw_size:
            return memoryview(bytes(out))
        name = "lz4_raw"  # fall back: whole body is one raw block
    return memoryview(pa.Codec(name).decompress(
        body, decompressed_size=raw_size, asbytes=True))


def _decode_plain(mv, n: int, phys: str, pos: int = 0):
    if phys == "byte_array":
        vals, _ = plain.decode_byte_array_view(mv, n, pos)
        return vals
    if phys == "boolean":
        vals, _ = plain.decode_boolean(mv, n, pos)
        return vals
    if phys.startswith("flba"):
        width = int(phys.split(":")[1])
        vals, _ = plain.decode_flba(mv, n, width, pos)
        return vals
    vals, _ = plain.decode_fixed(mv, n, phys, pos)
    return vals


def _take(dictionary, codes: np.ndarray):
    if isinstance(dictionary, ba.ByteArrayView):
        return ba.take(dictionary, codes)
    if isinstance(dictionary, list):                 # flba
        return [dictionary[c] for c in codes.tolist()]
    return np.asarray(dictionary)[codes]


def _concat(parts: list):
    if len(parts) == 1:
        return parts[0]
    if isinstance(parts[0], ba.ByteArrayView):
        return ba.concat(*parts)
    if isinstance(parts[0], list):
        return [v for p in parts for v in p]
    return np.concatenate(parts)


def _page_header(mv: memoryview, pos: int, leaf: LeafColumn) -> tuple:
    """The page header at byte ``pos`` -> (header struct, compressed body,
    byte offset after the body). A header that does not parse, lacks its
    type or sizes (fields 1-3) or declares a body past the buffer raises
    ValueError naming the column and the page's byte offset; read its
    other required fields through ``_field``."""
    rd = _Compact(mv, pos)
    try:
        ph = rd.struct()
    except ValueError as exc:
        raise ValueError(f"column {leaf.name!r}, page at byte {pos}: "
                         f"{exc}") from None
    _field(ph, 1, leaf, pos)
    _field(ph, 2, leaf, pos)
    size = _field(ph, 3, leaf, pos)
    if not 0 <= size <= len(mv) - rd.pos:
        raise ValueError(f"column {leaf.name!r}, page at byte {pos}: "
                         f"{size}-byte body, {len(mv) - rd.pos} bytes left")
    return ph, mv[rd.pos: rd.pos + size], rd.pos + size


def _field(st, fid: int, leaf: LeafColumn, pos: int):
    """Required field ``fid`` of a page-header struct, or a ValueError
    naming the column and the page's byte offset."""
    if not isinstance(st, dict) or fid not in st:
        raise ValueError(f"column {leaf.name!r}, page at byte {pos}: "
                         f"page header lacks required field {fid}")
    return st[fid]


def _decode_data_page_at(mv: memoryview, pos: int, leaf: LeafColumn,
                         chunk: ColumnChunkMeta, dictionary) -> tuple:
    """Decode ONE data page whose header starts at ``pos`` ->
    (dense values, def levels | None, rep levels | None, n_slots,
    next_pos). The unit the OffsetIndex points at — page-skipping readers
    call this per surviving PageLocation."""
    ph, body, next_pos = _page_header(mv, pos, leaf)
    # a kernel's error names the column and page like the checks here
    where = f"column {leaf.name!r}, page at byte {pos}: "
    try:
        page_type, raw_size = ph[1], ph[2]
        deflev = replev = None
        if page_type == _PAGE_DATA_V2:
            # V2: levels sit UNPREFIXED (rep first, then def) before the
            # (separately) compressed value region — mirror of
            # parquet_writer's V2 emission
            dp = _field(ph, 8, leaf, pos)
            n_slots = _field(dp, 1, leaf, pos)
            encoding = _field(dp, 4, leaf, pos)
            def_len = dp.get(5, 0)
            rep_len = dp.get(6, 0)
            if leaf.max_rep:
                bwr = max(1, int(leaf.max_rep).bit_length())
                if bwr == 1:
                    replev = rle.decode_bit1(body, n_slots, 0, rep_len,
                                             out_dtype=np.int8)
                else:
                    replev, _ = rle.decode(body, n_slots, bwr, 0,
                                           out_dtype=np.int8)
            if leaf.max_def:
                bw = max(1, int(leaf.max_def).bit_length())
                if bw == 1:
                    deflev = rle.decode_bit1(body, n_slots, rep_len,
                                             rep_len + def_len,
                                             out_dtype=np.int8)
                else:
                    deflev, _ = rle.decode(body, n_slots, bw, rep_len,
                                           out_dtype=np.int8)
            vcodec = chunk.codec if dp.get(7, True) else 0
            lvl_len = rep_len + def_len
            body = _decompress_page(body[lvl_len:], vcodec,
                                    raw_size - lvl_len)
            p = 0
        elif page_type != _PAGE_DATA:
            raise ValueError(f"unsupported page type {page_type}")
        else:
            dp = _field(ph, 5, leaf, pos)
            n_slots = _field(dp, 1, leaf, pos)
            encoding = _field(dp, 2, leaf, pos)
            body = _decompress_page(body, chunk.codec, raw_size)
            p = 0
            if leaf.max_rep:
                bwr = max(1, int(leaf.max_rep).bit_length())
                replev, p = rle.decode_length_prefixed(
                    body, n_slots, bwr, p, out_dtype=np.int8)
            if leaf.max_def:
                bw = max(1, int(leaf.max_def).bit_length())
                deflev, p = rle.decode_length_prefixed(
                    body, n_slots, bw, p, out_dtype=np.int8)
        for what, lev, top in (("repetition", replev, leaf.max_rep),
                               ("definition", deflev, leaf.max_def)):
            # a width that can express nothing above max_level bounds the
            # levels itself; otherwise one max pass per page, before a
            # level past the max can shrink the value count
            if lev is not None and top < (1 << int(top).bit_length()) - 1 \
                    and len(lev) and int(lev.max()) > top:
                raise ValueError(f"{where}{what} level {int(lev.max())} "
                                 f"above the maximum {top}")
        n_present = n_slots if deflev is None \
            else int((deflev == leaf.max_def).sum())
        if encoding == ENC_PLAIN:
            vals = _decode_plain(body, n_present, leaf.phys, p)
        elif encoding == ENC_DELTA_BP:
            if leaf.phys not in ("int32", "int64"):
                raise ValueError("DELTA_BINARY_PACKED on non-int column")
            from ..kernels import delta as delta_k
            dt = np.int32 if leaf.phys == "int32" else np.int64
            vals, _pos = delta_k.decode(body, p, out_dtype=dt)
            if len(vals) != n_present:
                raise ValueError("delta page value count mismatch")
        elif encoding in (ENC_DELTA_LBA, ENC_DELTA_BA):
            if leaf.phys != "byte_array":
                raise ValueError("DELTA_(LENGTH_)BYTE_ARRAY on "
                                 "non-byte_array column")
            from ..kernels import bytearray_codecs as bac
            dec = bac.decode_delta_length_spec \
                if encoding == ENC_DELTA_LBA \
                else bac.decode_delta_byte_array_spec
            vals, _pos = dec(body, p)
            if len(vals) != n_present:
                raise ValueError("delta byte-array page value count "
                                 "mismatch")
        elif encoding in (ENC_PLAIN_DICT, ENC_RLE_DICT):
            if dictionary is None:
                raise ValueError("dictionary-encoded page with no dict page")
            idx_bw = body[p]
            codes, _ = rle.decode(body, n_present, idx_bw, p + 1)
            codes = np.asarray(codes, dtype=np.int64)
            if len(dictionary) \
                    and int(codes.max(initial=0)) >= len(dictionary):
                raise ValueError("dictionary index out of range "
                                 "(corrupt dictionary page?)")
            vals = _take(dictionary, codes)
        else:
            raise ValueError(f"unsupported data encoding {encoding}")
    except ValueError as exc:
        if str(exc).startswith(where):
            raise
        raise ValueError(f"{where}{exc}") from exc
    return vals, deflev, replev, n_slots, next_pos


def _read_dictionary_page(mv: memoryview, leaf: LeafColumn,
                          chunk: ColumnChunkMeta):
    """Decode the chunk's dictionary page, or None if it has none."""
    pos = chunk.dictionary_page_offset
    if pos is None or pos <= 0 or pos > chunk.data_page_offset:
        return None
    ph, body, _end = _page_header(mv, pos, leaf)
    if ph[1] != _PAGE_DICT:
        return None
    return _decode_plain(_decompress_page(body, chunk.codec, ph[2]),
                         _field(_field(ph, 7, leaf, pos), 1, leaf, pos),
                         leaf.phys)


def read_column(mv: memoryview, leaf: LeafColumn,
                chunk: ColumnChunkMeta) -> tuple:
    """One column chunk -> (values, def_levels | None, rep_levels | None).
    Values are dense (nulls removed); the caller re-spaces through the def
    levels (the reference's DecodeSpaced contract) and re-assembles rows
    through the rep levels (``levels.lengths_from_levels`` — rep 0 starts
    a record, the reference's RecordReader delimiting)."""
    pos = chunk.dictionary_page_offset
    if pos is None or pos <= 0 or pos > chunk.data_page_offset:
        pos = chunk.data_page_offset
    end = pos + chunk.total_compressed_size
    dictionary = None
    parts: list = []
    def_parts: list[np.ndarray] = []
    rep_parts: list[np.ndarray] = []
    values_seen = 0
    while pos < end and values_seen < chunk.num_values:
        ph, body, end_of_page = _page_header(mv, pos, leaf)
        if ph[1] == _PAGE_DICT:
            # dict pages can sit at data_page_offset in some writers'
            # files — skip/ingest them wherever they appear
            dictionary = _decode_plain(
                _decompress_page(body, chunk.codec, ph[2]),
                _field(_field(ph, 7, leaf, pos), 1, leaf, pos), leaf.phys)
            pos = end_of_page
            continue
        vals, deflev, replev, n_slots, pos = _decode_data_page_at(
            mv, pos, leaf, chunk, dictionary)
        parts.append(vals)
        if deflev is not None:
            def_parts.append(deflev)
        if replev is not None:
            rep_parts.append(replev)
        values_seen += n_slots
    values = _concat(parts) if parts else np.zeros(0)
    deflev = np.concatenate(def_parts) if def_parts else None
    replev = np.concatenate(rep_parts) if rep_parts else None
    return values, deflev, replev


def read_file(path: str) -> dict[str, tuple]:
    """Whole parquet file ->
    {leaf path: (dense values, def levels, rep levels)}."""
    with open(path, "rb") as f:
        mv = memoryview(f.read())
    meta = read_footer(mv)
    by_path = {lf.name: lf for lf in meta.leaves}
    out: dict[str, list] = {}
    for rg in meta.row_groups:
        for chunk in rg:
            leaf = by_path[chunk.path]
            out.setdefault(chunk.path, []).append(
                read_column(mv, leaf, chunk))
    merged = {}
    for path_, pieces in out.items():
        vals = _concat([v for v, _, _ in pieces])
        defs = ([d for _, d, _ in pieces if d is not None] or None)
        reps = ([r for _, _, r in pieces if r is not None] or None)
        merged[path_] = (vals,
                         np.concatenate(defs) if defs else None,
                         np.concatenate(reps) if reps else None)
    return merged


# ---------------------------------------------------------------------------
# PageIndex (ColumnIndex + OffsetIndex) — page-skipping reads
# ---------------------------------------------------------------------------

@dataclass
class PageIndex:
    """Parsed parquet PageIndex for one column chunk: per-page locations
    always (OffsetIndex), per-page stats when the writer emitted a
    ColumnIndex (absent e.g. for NaN-poisoned float chunks)."""
    locations: list          # (offset, compressed_size, first_row_index)
    null_pages: "list[bool] | None"
    mins: "list[bytes] | None"
    maxs: "list[bytes] | None"
    boundary_order: int = 0
    null_counts: "list[int] | None" = None


def read_page_index(mv: memoryview,
                    chunk: ColumnChunkMeta) -> "PageIndex | None":
    """Parse the chunk's OffsetIndex (+ ColumnIndex when present), or None
    when the file carries no page index for this chunk."""
    if chunk.offset_index is None:
        return None
    oi = _Compact(mv, chunk.offset_index[0]).struct()
    locations = [(pl[1], pl[2], pl[3]) for pl in oi[1]]
    if chunk.column_index is None:
        return PageIndex(locations, None, None, None)
    ci = _Compact(mv, chunk.column_index[0]).struct()
    return PageIndex(locations, ci[1], ci[2], ci[3], ci.get(4, 0),
                     ci.get(5))


def read_bloom(mv: memoryview, chunk: ColumnChunkMeta):
    """Parse a chunk's footer-linked STANDARD bloom filter
    (BloomFilterHeader thrift + split-block bitset), or None when absent
    or not the BLOCK/XXHASH/UNCOMPRESSED combination this engine writes.
    Returns a ``kernels.bloom.StandardBloomFilter`` ready to check."""
    if chunk.bloom_filter is None:
        return None
    import numpy as np

    from ..kernels import bloom as bloom_mod
    off = chunk.bloom_filter[0]
    try:
        rd = _Compact(mv, off)
        hdr = rd.struct()
    except Exception:
        # unparseable header (foreign layout, corrupt region): treat as
        # "cannot consult" — the lookup falls back to the PageIndex, it
        # must never crash on a bloom it didn't write
        return None
    num_bytes = hdr.get(1, 0)
    # unions: {1: BLOCK} / {1: XXHASH} / {1: UNCOMPRESSED} — anything
    # else is a foreign writer's variant we must not consult
    if (1 not in hdr.get(2, {}) or 1 not in hdr.get(3, {})
            or 1 not in hdr.get(4, {}) or num_bytes < 32
            or num_bytes % 32):
        return None
    bitset = mv[rd.pos: rd.pos + num_bytes]
    if len(bitset) < num_bytes:
        return None
    bf = bloom_mod.StandardBloomFilter(num_bytes)
    bf.words = np.frombuffer(bitset, dtype=np.uint32).copy()
    return bf


def _bloom_may_contain(bf, phys: str, key) -> bool:
    import numpy as np
    if bf is None:
        return True
    if phys == "byte_array":
        return bool(bf.check_bytes([key])[0])
    # hash the key's physical bit pattern: a UINT32/UINT64 key past the
    # signed range wraps the way its stored int32/int64 does
    if phys == "int32":
        return bool(bf.check_int32(np.array([key], np.int64)
                                   .astype(np.int32))[0])
    k = np.array([key], np.uint64).view(np.int64) if key >= 1 << 63 \
        else np.array([key], np.int64)
    return bool(bf.check_int64(k)[0])


def _candidate_pages(idx: PageIndex, leaf: LeafColumn, key) -> list[int]:
    """Page indices whose [min, max] may contain ``key``, the bounds read
    in the leaf's sort order by ``stat_typed`` (UINT annotations compare
    unsigned).

    boundary_order == ASCENDING (the writer detects and records it on
    sorted columns) turns the scan into a BINARY SEARCH over the page
    bounds — the parquet-format PageIndex's intended use: at 100 TB a
    sorted id column has thousands of pages per chunk, and O(log p) beats
    O(p) before a single page header is touched. DESCENDING mirrors;
    UNORDERED (or no ColumnIndex) falls back to the linear range scan.
    FLBA/INT96 bounds have type-defined (not byte-lexicographic) order,
    so they never prune — every non-null page stays a candidate."""
    n = len(idx.locations)
    if idx.mins is None:
        return list(range(n))
    real = [i for i in range(n) if not idx.null_pages[i]]
    if leaf.phys == "int96" or leaf.phys.startswith("flba"):
        # e.g. a pyarrow-written decimal column index: byte-comparing its
        # bounds against the key would prune WRONGLY; decode all pages
        return real
    import bisect

    mins = [stat_typed(idx.mins[i], leaf) for i in real]
    maxs = [stat_typed(idx.maxs[i], leaf) for i in real]
    if idx.boundary_order in (1, 2) and len(real) > 4:
        if idx.boundary_order == 2:      # DESCENDING: flip to ascending
            real, mins, maxs = real[::-1], mins[::-1], maxs[::-1]
        # pages with max < key end before lo; pages with min > key start
        # at hi — candidates are the (usually 0- or 1-wide) slice between
        lo = bisect.bisect_left(maxs, key)
        hi = bisect.bisect_right(mins, key)
        return real[lo:hi]
    return [i for i, mn, mx in zip(real, mins, maxs) if mn <= key <= mx]


# ConvertedType ids whose int32/int64 storage compares UNSIGNED
# (UINT_8/16/32/64; types.h:70-77 + the UNSIGNED sort-order rule)
_UNSIGNED_CONV = frozenset((11, 12, 13, 14))


def stat_typed(b, leaf: LeafColumn):
    """Decode a chunk-Statistics / PageIndex bound into a value comparable
    with Python/numpy operators, honoring the leaf's sort order: UINT
    annotations reinterpret the stored int bytes as unsigned, byte_array
    stays raw bytes (lexicographic). FLBA/INT96 bounds are not emitted by
    the writer (untrustworthy order) — returns None so callers keep the
    chunk."""
    if b is None:
        return None
    phys = leaf.phys
    if phys == "int96" or phys.startswith("flba"):
        return None
    if phys == "byte_array":
        return bytes(b)
    if phys == "boolean":
        return bool(b[0])
    dt = {"int32": "<i4", "int64": "<i8",
          "float": "<f4", "double": "<f8"}[phys]
    if leaf.converted_type in _UNSIGNED_CONV:
        dt = dt.replace("i", "u")
    return np.frombuffer(b, dt, count=1)[0]


def lookup_rows(path: str, column: str, key) -> tuple:
    """Point lookup over an engine-written (or any PageIndex-carrying)
    parquet file: file-global row indices where ``column == key``,
    decoding ONLY pages whose ColumnIndex [min, max] may contain the key.

    Returns (row_indices, pages_decoded, pages_total) — the page-skip
    counters are the test surface: a lookup that decodes every page is a
    scan, not a lookup. Flat columns AND single-level REPEATED leaves
    (e.g. ``tokens.list.element``: "which rows contain token X", rep
    levels re-delimit records inside each surviving page); this is the
    parquet analog of plans.lookup's chunk-format per-page pruning
    (TypedColumnReader::Skip, reference column_reader.h:268-281).

    The file is mmap'd, not read: skipped pages cost no I/O either —
    only the footer, the index region, and surviving pages fault in.
    (On remote object stores the analog is ranged GETs.)"""
    import mmap

    with open(path, "rb") as f:
        m = mmap.mmap(f.fileno(), 0, access=mmap.ACCESS_READ)
    mv = memoryview(m)
    try:
        return _lookup_rows(mv, column, key)
    finally:
        # release the view and close the mapping explicitly: a long-lived
        # executor calls this once per file, and un-GC'd mappings pile up
        # (and, on some platforms, block file deletion)
        mv.release()
        m.close()


def _lookup_rows(mv: memoryview, column: str, key) -> tuple:
    meta = read_footer(mv)
    leaf = next((lf for lf in meta.leaves if lf.name == column), None)
    if leaf is None:
        raise ValueError(
            f"no leaf column {column!r}; available leaf paths: "
            f"{[lf.name for lf in meta.leaves]}")
    if leaf.max_rep > 1:
        raise ValueError("lookup_rows supports max_rep <= 1")
    if leaf.phys == "byte_array" and isinstance(key, str):
        key = key.encode()
    key_b = key if isinstance(key, bytes) else None
    hits: list[int] = []
    pages_decoded = pages_total = 0
    row_base = 0
    for gi, rg in enumerate(meta.row_groups):
        chunk = next((c for c in rg if c.path == column), None)
        if chunk is None:
            raise ValueError(
                f"row group {gi} has no chunk for {column!r}; paths: "
                f"{[c.path for c in rg]}")
        idx = read_page_index(mv, chunk)
        if idx is None:
            raise ValueError("file carries no PageIndex for this column")
        pages_total += len(idx.locations)
        if chunk.bloom_filter is not None \
                and leaf.phys in ("byte_array", "int32", "int64") \
                and not _bloom_may_contain(
                    read_bloom(mv, chunk), leaf.phys,
                    key_b if key_b is not None else key):
            # chunk-level bloom says ABSENT: skip the whole chunk before
            # touching its dictionary or page bounds (the footer-bloom
            # fast path; FPP-bounded, no false negatives)
            row_base += meta.rg_rows[gi] if leaf.max_rep \
                else chunk.num_values
            continue
        dictionary = _read_dictionary_page(mv, leaf, chunk)
        candidates = _candidate_pages(idx, leaf,
                                      key_b if key_b is not None else key)
        for pi in candidates:
            off, _sz, first_row = idx.locations[pi]
            vals, deflev, replev, n_slots, _next = _decode_data_page_at(
                mv, off, leaf, chunk, dictionary)
            pages_decoded += 1
            if leaf.phys == "byte_array":
                matches = [i for i, v in enumerate(ba.to_list(vals)
                           if isinstance(vals, ba.ByteArrayView) else vals)
                           if v == key]
            else:
                arr = np.asarray(vals)
                if leaf.converted_type in _UNSIGNED_CONV:
                    arr = arr.view(arr.dtype.str.replace("i", "u"))
                matches = np.flatnonzero(arr == key).tolist()
            if deflev is not None and matches:
                # dense index -> slot index (nulls/markers occupy slots)
                slot_of = np.flatnonzero(np.asarray(deflev) == leaf.max_def)
                matches = [int(slot_of[m]) for m in matches]
            if leaf.max_rep and matches:
                # slot -> row within the page: rep == 0 starts a record
                # (pages are record-aligned, so the page's first slot has
                # rep 0 and first_row is its row index)
                rec_of = np.cumsum(np.asarray(replev) == 0) - 1
                matches = sorted({int(rec_of[m]) for m in matches})
            hits.extend(row_base + first_row + int(m) for m in matches)
        row_base += meta.rg_rows[gi] if leaf.max_rep else chunk.num_values
    return sorted(set(hits)), pages_decoded, pages_total
