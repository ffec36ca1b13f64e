"""Dremel record assembly: the engine's own PAR1 reader rebuilds full
nested Arrow tables from per-leaf (dense values, def levels, rep levels)
streams — the read-side inverse of ``sources/arrow_nested.ArrowColumn``.

This is the reference's Arrow read path re-expressed in numpy: parquet-cpp
re-assembles records by replaying rep/def level state machines per value
(``/root/reference/src/parquet/arrow/reader.cc`` column readers over
``column_reader.cc`` RecordReader delimiting, list/struct reconstruction
in ``arrow/reader_internal.cc``). Here the same level semantics run as
whole-column array passes: a node's slots are the leaf-stream positions
with ``rep <= R(node)``, element counts per list slot come from one
``searchsorted`` over the child context's positions, and presence at each
node is a single vectorized ``def >= threshold`` comparison — no per-row
Python anywhere.

Level accounting (mirror of the write-side walker): every OPTIONAL node
on a path adds one def level, every REPEATED node adds one def and one
rep level. At a context with ancestor-def ``D``: a slot cut strictly
above reads ``def < D``; a null optional node here reads ``def == D``
(lists) / ``def < D + 1`` (leaves/structs); an empty list reads
``def == D + opt``; live children carry ``def >= D + opt + 1``. Marker
slots occupy exactly one leaf-stream entry, so list expansion drops them
with one boolean repeat.

Arrow arrays are built via ``pa.Array.from_buffers`` (validity bitmaps
from ``np.packbits``), so assembly is allocation + memcpy, and works for
files written by this engine's writer (any nesting its rep/def walker
emits) AND by foreign writers
(pyarrow) as long as they use the standard 3-level list / MAP shapes and
the leaf types below.
"""

from __future__ import annotations

import numpy as np

from . import parquet_format as fmt
from ..kernels import ba

# parquet ConvertedType ids consumed here (format spec; types.h:63-90)
_CONV_UTF8, _CONV_MAP, _CONV_MKV, _CONV_LIST, _CONV_DECIMAL = 0, 1, 2, 3, 5
_CONV_DATE, _CONV_TIME_MS, _CONV_TIME_US = 6, 7, 8
_CONV_TS_MS, _CONV_TS_US = 9, 10


class _Node:
    __slots__ = ("name", "rep", "conv", "children", "el", "leaf")

    def __init__(self, name, rep, conv, children, el, leaf=None):
        self.name = name
        self.rep = rep              # 0 REQUIRED / 1 OPTIONAL / 2 REPEATED
        self.conv = conv
        self.children = children
        self.el = el                # raw SchemaElement dict
        self.leaf = leaf            # dotted path for leaf nodes


def _schema_tree(elements: list) -> list:
    """Raw SchemaElement preorder list -> top-level _Node list."""
    idx = 1  # elements[0] is the root

    def walk(prefix: str) -> _Node:
        nonlocal idx
        el = elements[idx]
        idx += 1
        name = el.get(4, b"").decode()
        path = f"{prefix}.{name}" if prefix else name
        n_children = el.get(5, 0)
        if n_children:
            kids = [walk(path) for _ in range(n_children)]
            return _Node(name, el.get(3, 0), el.get(6), kids, el)
        return _Node(name, el.get(3, 0), el.get(6), [], el, leaf=path)

    root_children = elements[0].get(5, 0)
    return [walk("") for _ in range(root_children)]


class _LeafData:
    """One leaf's decoded streams plus derived lookup arrays."""

    __slots__ = ("values", "deflv", "rep", "n_slots", "_dense_idx",
                 "max_def", "max_rep", "meta")

    def __init__(self, values, deflv, rep, leaf_meta):
        self.values = values
        self.meta = leaf_meta
        self.max_def = leaf_meta.max_def
        self.max_rep = leaf_meta.max_rep
        if deflv is not None:
            n = len(deflv)
        elif rep is not None:
            n = len(rep)
        elif isinstance(values, (ba.ByteArrayView, list)):
            n = len(values)
        else:
            n = len(np.atleast_1d(values))
        self.n_slots = n
        self.deflv = deflv if deflv is not None else \
            np.zeros(n, dtype=np.int8)
        self.rep = rep if rep is not None else np.zeros(n, dtype=np.int8)
        self._dense_idx = None

    @property
    def dense_idx(self):
        """slot -> dense-values index (lazy: the whole-table dense fast
        path in _leaf_array never needs it, and on this DRAM-throttled
        host a 10^7-element index build is a real cost)."""
        if self._dense_idx is None:
            dt = np.int32 if self.n_slots < 2 ** 31 else np.int64
            if self.max_def:
                present = (self.deflv == self.max_def)
                self._dense_idx = np.cumsum(present, dtype=dt) - 1
            else:
                self._dense_idx = np.arange(self.n_slots, dtype=dt)
        return self._dense_idx


def _bitmap(present: np.ndarray):
    import pyarrow as pa
    if present.all():
        return None, 0
    return (pa.py_buffer(np.packbits(present, bitorder="little").tobytes()),
            int((~present).sum()))


def _leaf_arrow_type(node: _Node):
    """Leaf SchemaElement -> target Arrow type (storage-compatible with
    from_buffers on the raw decoded values)."""
    import pyarrow as pa
    el = node.el
    phys = fmt._PHYS[el[1]]
    conv = node.conv
    if phys == "int32":
        if conv == _CONV_DATE:
            return pa.date32()
        if conv == _CONV_TIME_MS:
            return pa.time32("ms")
        if conv == _CONV_DECIMAL:   # spec-legal int32-backed decimal
            return pa.decimal128(el.get(8, 9), el.get(7, 0))
        return pa.int32()
    if phys == "int64":
        if conv == _CONV_TIME_US:
            return pa.time64("us")
        if conv == _CONV_DECIMAL:   # spec-legal int64-backed decimal
            return pa.decimal128(el.get(8, 18), el.get(7, 0))
        # modern LogicalType TIMESTAMP (field 10 union field 8):
        # {1: isAdjustedToUTC, 2: unit union (1 MILLIS / 2 MICROS)} —
        # takes priority over the legacy converted ids (which imply UTC):
        # writers like DuckDB emit BOTH, with the logical struct
        # carrying the real isAdjustedToUTC
        lt = el.get(10)
        if isinstance(lt, dict) and isinstance(lt.get(8), dict):
            ts = lt[8]
            unit_u = ts.get(2, {})
            unit = "ms" if 1 in unit_u else ("ns" if 3 in unit_u else "us")
            return pa.timestamp(unit, tz="UTC" if ts.get(1) else None)
        if conv == _CONV_TS_MS:
            return pa.timestamp("ms", tz="UTC")
        if conv == _CONV_TS_US:
            return pa.timestamp("us", tz="UTC")
        return pa.int64()
    if phys == "float":
        return pa.float32()
    if phys == "double":
        return pa.float64()
    if phys == "boolean":
        return pa.bool_()
    if phys == "byte_array":
        return pa.string() if conv == _CONV_UTF8 else pa.binary()
    if el[1] == 3:   # INT96 (decoded as 12-byte FLBA by read_column)
        # legacy impala timestamps: nanos-of-day + julian day; surfaced
        # as timestamp[ns], matching pyarrow's read of the same files
        return pa.timestamp("ns")
    if phys.startswith("flba"):
        width = el.get(2, 0)
        if conv == _CONV_DECIMAL:
            return pa.decimal128(el.get(8, 38), el.get(7, 0))
        return pa.fixed_size_binary(width)
    raise ValueError(f"record assembly: unsupported physical type "
                     f"{phys!r} at {node.leaf!r}")


def _leaf_array(node: _Node, ld: _LeafData, starts: np.ndarray,
                d_base: int):
    """Leaf node -> typed Arrow array over the context slots."""
    import pyarrow as pa
    typ = _leaf_arrow_type(node)
    n = len(starts)
    # contiguous-slot fast path: starts strictly increase, so a length
    # match means they tile one run — slice instead of 10^7-element
    # int64 gathers (the whole-table read shape; this host's allocator
    # makes big fancy-index temporaries the dominant assembly cost)
    dense0 = None          # dense-slice start when NO gather is needed
    gather = None
    if isinstance(starts, _MaskedStarts):
        if n and ld.max_def and bool(np.array_equal(
                starts.mask, ld.deflv == ld.max_def)):
            # mask form of the identity fast path: covered slots are
            # exactly the present slots of the whole stream — one
            # elementwise compare, no position array on either side
            present = np.ones(n, dtype=bool)
            validity, null_count = None, 0
            dense0 = 0
        else:
            starts = starts.positions
    if dense0 is not None:
        contig = True          # unused past this point; keep names bound
        s0 = 0
    else:
        contig = bool(n) and int(starts[-1]) - int(starts[0]) + 1 == n
        s0 = int(starts[0]) if n else 0
    if dense0 is None and not contig and n and ld.max_def:
        # Gap-tolerant identity: when `starts` selects EXACTLY the
        # present slots of its covered range (the gaps are marker slots —
        # e.g. a handful of empty lists in an otherwise dense stream),
        # the dense gather is an identity. A single empty row used to
        # break raw contiguity and force the full dense_idx build plus
        # 10^7-element fancy gathers; the check here is one contiguous
        # pass over the range + one n-sized compare.
        last = int(starts[-1])
        pres_pos = np.flatnonzero(ld.deflv[s0:last + 1] == ld.max_def)
        if len(pres_pos) == n and bool(np.array_equal(
                pres_pos + np.int64(s0), starts)):
            dense0 = int(np.count_nonzero(ld.deflv[:s0] == ld.max_def))
            present = np.ones(n, dtype=bool)
            validity, null_count = None, 0
    if dense0 is None:
        d0 = ld.deflv[s0:s0 + n] if contig else (
            ld.deflv[starts] if n else np.zeros(0, dtype=np.int8))
        present = d0 == ld.max_def
        validity, null_count = _bitmap(present)
        if contig and null_count == 0:
            dense0 = int(np.count_nonzero(ld.deflv[:s0] == ld.max_def)) \
                if ld.max_def else s0
            gather = None
        else:
            gather = ld.dense_idx[starts] if n else \
                np.zeros(0, dtype=np.int64)
    phys = fmt._PHYS[node.el[1]]
    if dense0 is not None and phys in ("int32", "int64", "float",
                                       "double") and node.el[1] != 3 \
            and not pa.types.is_decimal(typ):
        vals = np.asarray(ld.values)
        out = np.ascontiguousarray(vals[dense0:dense0 + n])
        if len(out) != n:
            raise ValueError(
                f"dense stream short for {node.name!r}: need {n} values "
                f"from {dense0}, have {len(vals)}")
        return pa.Array.from_buffers(
            typ, n, [validity, pa.py_buffer(out)], null_count=0)
    if gather is None:
        # identity case: the dense indices are consecutive from dense0
        gather = (np.arange(dense0, dense0 + n, dtype=np.int64)
                  if dense0 is not None else
                  (ld.dense_idx[starts] if n
                   else np.zeros(0, dtype=np.int64)))
    if phys == "byte_array":
        idx = np.where(present, gather, 0)
        vals = ld.values if isinstance(ld.values, ba.ByteArrayView) \
            else ba.from_list(list(ld.values))
        if len(vals) == 0:
            # all-null chunk: n null slots need n+1 offsets, not a
            # zero-length offsets buffer
            present = np.zeros(n, dtype=bool)
            validity, null_count = _bitmap(present)
            offsets = np.zeros(n + 1, dtype=np.int64)
            data = np.zeros(0, dtype=np.uint8)
        else:
            taken = ba.take(vals, idx.astype(np.int64)) if n else \
                ba.from_list([])
            offsets, data = taken.offsets, taken.data
        raw = pa.LargeBinaryArray.from_buffers(
            pa.large_binary(), n,
            [validity, pa.py_buffer(np.ascontiguousarray(offsets)),
             pa.py_buffer(np.ascontiguousarray(data))],
            null_count=null_count)
        return raw.cast(pa.large_string()).cast(typ) \
            if typ == pa.string() else raw.cast(typ)
    if phys.startswith("flba") and node.el[1] != 3:
        width = node.el.get(2, 0)
        vals = list(ld.values)
        if pa.types.is_decimal(typ):
            from .. import logical
            view = ba.from_list(vals) if vals else ba.from_list([])
            unscaled = logical.flba_to_decimal(view, width) if vals \
                else np.zeros(0, dtype=np.int64)
            out = np.zeros((n, 2), dtype=np.int64)
            if n and unscaled.size:   # all-null chunk: zeros + validity
                got = unscaled[np.where(present, gather, 0)]
                out[:, 0] = np.where(present, got, 0)
                out[:, 1] = -(out[:, 0] < 0).astype(np.int64)
            return pa.Array.from_buffers(
                typ, n, [validity, pa.py_buffer(out.tobytes())],
                null_count=null_count)
        buf = np.zeros(n * width, dtype=np.uint8)
        for i in np.flatnonzero(present):
            buf[i * width:(i + 1) * width] = bytearray(vals[gather[i]])
        return pa.Array.from_buffers(
            typ, n, [validity, pa.py_buffer(buf.tobytes())],
            null_count=null_count)
    if phys == "boolean":
        vals = np.asarray(ld.values, dtype=bool)
        out = np.zeros(n, dtype=bool)
        if n:
            out[present] = vals[gather[present]]
        return pa.Array.from_buffers(
            typ, n,
            [validity,
             pa.py_buffer(np.packbits(out, bitorder="little").tobytes())],
            null_count=null_count)
    if node.el[1] == 3:  # INT96
        raw = list(ld.values)
        m = len(raw)
        if m:
            mat = np.frombuffer(b"".join(raw), dtype=np.uint8) \
                .reshape(m, 12)
            nanos = mat[:, :8].copy().view(np.int64).ravel()
            julian = mat[:, 8:12].copy().view(np.int32).ravel() \
                .astype(np.int64)
            ns = (julian - 2440588) * 86_400_000_000_000 + nanos
        else:
            ns = np.zeros(0, dtype=np.int64)
        out = np.zeros(n, dtype=np.int64)
        if n and m:
            out[present] = ns[gather[present]]
        return pa.Array.from_buffers(
            typ, n, [validity, pa.py_buffer(out.tobytes())],
            null_count=null_count)
    import pyarrow as _pa
    if _pa.types.is_decimal(typ):     # int32/int64-backed DECIMAL
        unscaled = np.asarray(ld.values, dtype=np.int64)
        out = np.zeros((n, 2), dtype=np.int64)
        if n and unscaled.size:
            got = unscaled[np.where(present, gather, 0)]
            out[:, 0] = np.where(present, got, 0)
            out[:, 1] = -(out[:, 0] < 0).astype(np.int64)
        return pa.Array.from_buffers(
            typ, n, [validity, pa.py_buffer(out.tobytes())],
            null_count=null_count)
    vals = np.asarray(ld.values)
    out = np.zeros(n, dtype=vals.dtype if vals.size else
                   {"int32": np.int32, "int64": np.int64,
                    "float": np.float32,
                    "double": np.float64}[phys])
    if n and vals.size:
        out[present] = vals[gather[present]]
    return pa.Array.from_buffers(
        typ, n, [validity, pa.py_buffer(np.ascontiguousarray(out).tobytes())],
        null_count=null_count)


class _MaskedStarts:
    """Covered slot positions represented as a full-stream boolean mask,
    materialized to an index array only on demand.

    Produced by :func:`_covered_positions` for the near-tiling case (a
    whole-table list read with some empty rows): the mask lets
    ``_leaf_array`` prove its identity fast path with one elementwise
    compare against ``deflv == max_def`` — neither side ever builds the
    10^7-element int64 position array unless a consumer truly needs it."""

    __slots__ = ("mask", "total", "_pos")

    def __init__(self, mask: np.ndarray, total: int):
        self.mask = mask
        self.total = total
        self._pos = None

    def __len__(self) -> int:
        return self.total

    @property
    def positions(self) -> np.ndarray:
        if self._pos is None:
            self._pos = np.flatnonzero(self.mask)
        return self._pos


def _positions(starts):
    """Materialize a starts operand (ndarray | _MaskedStarts) to indices."""
    return starts.positions if isinstance(starts, _MaskedStarts) else starts


def _covered_positions(n_slots: int, lo: np.ndarray,
                       lengths: np.ndarray):
    """Slots in the union of the disjoint ascending ranges
    ``[lo[i], lo[i]+lengths[i])`` — equal to
    ``_ranges(np.arange(n_slots), lo, lengths)`` but via a painted
    coverage mask (+1 at starts, -1 past ends, prefix-sum): no identity
    arange, no per-range int64 index temporaries. Returns a lazy
    :class:`_MaskedStarts`."""
    total = int(lengths.sum())
    if total == 0:
        return np.empty(0, dtype=np.int64)
    lo64 = lo.astype(np.int64, copy=False)
    paint = np.zeros(n_slots + 1, dtype=np.int8)
    np.add.at(paint, lo64, 1)
    np.subtract.at(paint, lo64 + lengths, 1)
    mask = np.cumsum(paint[:n_slots], dtype=np.int8).view(bool)
    return _MaskedStarts(mask, total)


def _ranges(arr: np.ndarray, lo: np.ndarray, lengths: np.ndarray):
    """Gather ``arr[lo[i]:lo[i]+lengths[i]]`` concatenated, loop-free.

    Two scale guards for this host's DRAM-throttled allocator (big int64
    fancy-index temporaries are the documented pathology): when every
    range starts where the previous one ends — the COMMON case for a
    whole-table read, where slot extents tile the leaf stream — the
    result is one contiguous slice (zero temporaries, O(n_slots) check);
    otherwise the index temporaries are built in int32 whenever the
    stream fits."""
    total = int(lengths.sum())
    if total == 0:
        return np.empty(0, dtype=arr.dtype)
    if len(lo) and bool((lo[1:] == lo[:-1] + lengths[:-1]).all()):
        start = int(lo[0])
        return arr[start:start + total]
    dt = np.int32 if len(arr) < 2 ** 31 and total < 2 ** 31 else np.int64
    rep_lo = np.repeat(lo.astype(dt, copy=False), lengths)
    cum = np.zeros(len(lengths), dtype=dt)
    np.cumsum(lengths[:-1], out=cum[1:])
    ramp = np.arange(total, dtype=dt) - np.repeat(cum, lengths)
    return arr[rep_lo + ramp]


def _expand(node_children_leaves: list, leaf_data: dict,
            starts: dict, repr_leaf: str, d_list: int,
            r_ctx: int, r_child: int):
    """List/map slot expansion: per-slot element counts + per-leaf child
    context starts, with marker slots (null / empty / cut-above) dropped.

    A group's extent runs from its start to the NEXT raw context
    boundary (``rep <= r_ctx``) in the full stream — not to the next
    surviving start, which would swallow dropped sibling markers."""
    ld = leaf_data[repr_leaf]
    s = starts[repr_leaf]
    n = len(s)
    if isinstance(s, _MaskedStarts):
        d0 = ld.deflv[s.mask]       # boolean gather, slot order preserved
    else:
        d0 = ld.deflv[s] if n else np.zeros(0, dtype=np.int8)
    nonempty = d0 >= d_list + 1
    n_elem = None
    child_starts = {}
    for lp in node_children_leaves:
        l2 = leaf_data[lp]
        s2 = _positions(starts[lp])
        ctx = np.flatnonzero(l2.rep <= r_ctx).astype(np.int64)
        j = np.searchsorted(ctx, s2)             # s2[i] == ctx[j[i]]
        ends = np.where(j + 1 < len(ctx),
                        ctx[np.minimum(j + 1, len(ctx) - 1)],
                        l2.n_slots)
        ne = np.flatnonzero(nonempty)
        if r_child >= l2.max_rep:
            # every slot is a child boundary: positions are the identity,
            # so skip the 10^7-element flatnonzero/searchsorted entirely
            # (the deepest-level call for every list column; on this
            # DRAM-throttled host that temp was a dominant cost)
            lo, c = s2, ends - s2
            lo_ne, c_ne = lo[ne], c[ne]
            total = int(c_ne.sum())
            if len(lo_ne) == 0:
                child_starts[lp] = np.empty(0, dtype=np.int64)
            elif bool((lo_ne[1:] == lo_ne[:-1] + c_ne[:-1]).all()):
                start = int(lo_ne[0])
                dt = np.int32 if l2.n_slots < 2 ** 31 else np.int64
                child_starts[lp] = np.arange(start, start + total,
                                             dtype=dt)
            else:
                child_starts[lp] = _covered_positions(l2.n_slots, lo_ne,
                                                      c_ne)
        else:
            pos = np.flatnonzero(l2.rep <= r_child).astype(np.int64)
            lo = np.searchsorted(pos, s2)
            c = np.searchsorted(pos, ends) - lo
            child_starts[lp] = _ranges(pos, lo[ne], c[ne])
        if n_elem is None:
            n_elem = np.where(nonempty, c, 0)
    if n_elem is None:
        n_elem = np.zeros(n, dtype=np.int64)
    return d0, nonempty, n_elem, child_starts


def _leaves_under(node: _Node) -> list:
    if node.leaf is not None:
        return [node.leaf]
    out = []
    for c in node.children:
        out.extend(_leaves_under(c))
    return out


def _build(node: _Node, leaf_data: dict, starts: dict, d_base: int,
           r_ctx: int):
    """Node subtree -> Arrow array with one slot per context start."""
    import pyarrow as pa

    if node.leaf is not None:
        return _leaf_array(node, leaf_data[node.leaf],
                           starts[node.leaf], d_base)
    opt = 1 if node.rep == 1 else 0
    one_rep_child = (len(node.children) == 1 and node.children[0].rep == 2)
    is_map = node.conv == _CONV_MAP or (
        one_rep_child and (node.children[0].conv == _CONV_MKV
                           or (node.conv is None
                               and len(node.children[0].children) == 2)))
    is_list = not is_map and (node.conv == _CONV_LIST or (
        node.conv is None and one_rep_child))
    if is_list:
        mid = node.children[0]
        if mid.rep != 2 or len(mid.children) != 1:
            raise ValueError(f"record assembly: non-3-level list shape "
                             f"at {node.name!r}")
        elem = mid.children[0]
        leaves = _leaves_under(elem)
        repr_leaf = leaves[0]
        d_list = d_base + opt
        d0, _ne, n_elem, child_starts = _expand(
            leaves, leaf_data, starts, repr_leaf, d_list, r_ctx,
            r_ctx + 1)
        present = d0 >= d_list if opt else d0 >= d_base
        child = _build(elem, leaf_data, child_starts, d_list + 1,
                       r_ctx + 1)
        offsets = np.zeros(len(n_elem) + 1, dtype=np.int32)
        np.cumsum(n_elem, out=offsets[1:])
        validity, null_count = _bitmap(present)
        return pa.Array.from_buffers(
            pa.list_(child.type), len(n_elem),
            [validity, pa.py_buffer(offsets.tobytes())],
            null_count=null_count, children=[child])
    if is_map:
        kv = node.children[0]
        if kv.rep != 2 or len(kv.children) != 2:
            raise ValueError(f"record assembly: non-3-level map shape "
                             f"at {node.name!r}")
        knode, vnode = kv.children
        leaves = _leaves_under(kv)
        repr_leaf = leaves[0]
        d_list = d_base + opt
        d0, _ne, n_elem, child_starts = _expand(
            leaves, leaf_data, starts, repr_leaf, d_list, r_ctx,
            r_ctx + 1)
        present = d0 >= d_list if opt else d0 >= d_base
        karr = _build(knode, leaf_data, child_starts, d_list + 1,
                      r_ctx + 1)
        varr = _build(vnode, leaf_data, child_starts, d_list + 1,
                      r_ctx + 1)
        n_entries = len(karr)
        mtype = pa.map_(karr.type, varr.type)
        entries = pa.Array.from_buffers(
            pa.struct([pa.field("key", karr.type, nullable=False),
                       pa.field("value", varr.type)]),
            n_entries, [None], children=[karr, varr])
        offsets = np.zeros(len(n_elem) + 1, dtype=np.int32)
        np.cumsum(n_elem, out=offsets[1:])
        validity, null_count = _bitmap(present)
        return pa.Array.from_buffers(
            mtype, len(n_elem),
            [validity, pa.py_buffer(offsets.tobytes())],
            null_count=null_count, children=[entries])
    # plain struct group
    leaves = _leaves_under(node)
    ld = leaf_data[leaves[0]]
    s = starts[leaves[0]]
    if isinstance(s, _MaskedStarts):
        d0 = ld.deflv[s.mask]
    else:
        d0 = ld.deflv[s] if len(s) else np.zeros(0, dtype=np.int8)
    d_n = d_base + opt
    present = d0 >= d_n if opt else d0 >= d_base
    children, fields = [], []
    for c in node.children:
        sub = {lp: starts[lp] for lp in _leaves_under(c)}
        arr = _build(c, leaf_data, sub, d_n, r_ctx)
        children.append(arr)
        fields.append(pa.field(c.name, arr.type))
    validity, null_count = _bitmap(present)
    return pa.Array.from_buffers(
        pa.struct(fields), len(s), [validity],
        null_count=null_count, children=children)


def assemble_file(path: str, columns=None, row_groups=None):
    """Engine-read parquet file -> fully re-assembled ``pyarrow.Table``
    (nested lists/structs/maps reconstructed from rep/def levels; no
    pyarrow.parquet involved anywhere). ``columns`` prunes to the named
    top-level columns — chunks of pruned columns are never read or
    decompressed. ``row_groups`` restricts to the given row-group
    indices (the distributed scan's split unit — mirrors the JVM
    reader's row-group splits).

    I/O strategy: full reads (no column or row-group restriction) use
    one buffered ``read()`` — a single syscall beats per-page mmap
    faults on bandwidth-bound hosts when every byte is needed anyway;
    restricted reads mmap instead, so a task only faults in the footer
    plus its own chunks' byte ranges (every decoded buffer is copied
    out before the mapping is released)."""
    if row_groups is None and columns is None:
        with open(path, "rb") as f:
            return _assemble_mv(memoryview(f.read()), None, None)
    import mmap

    with open(path, "rb") as f:
        m = mmap.mmap(f.fileno(), 0, access=mmap.ACCESS_READ)
    mv = memoryview(m)
    try:
        return _assemble_mv(mv, columns, row_groups)
    finally:
        mv.release()
        m.close()


def _assemble_mv(mv: memoryview, columns, row_groups):
    import pyarrow as pa

    meta = fmt.read_footer(mv)
    tree = _schema_tree(meta.schema_raw)
    if columns is not None:
        missing = set(columns) - {t.name for t in tree}
        if missing:
            raise ValueError(f"columns not in file: {sorted(missing)} "
                             f"(have {[t.name for t in tree]})")
        tree = [t for t in tree if t.name in set(columns)]
    needed = {lp for t in tree for lp in _leaves_under(t)}
    by_path = {lf.name: lf for lf in meta.leaves}
    rg_list = meta.row_groups if row_groups is None else \
        [meta.row_groups[i] for i in row_groups]
    streams: dict[str, list] = {}
    for rg in rg_list:
        for chunk in rg:
            if chunk.path not in needed:   # column pruning: untouched
                continue                   # chunks are never decoded
            streams.setdefault(chunk.path, []).append(
                fmt.read_column(mv, by_path[chunk.path], chunk))
    leaf_data = {}
    for lp in needed:        # zero-row-group selections -> empty leaves
        if lp not in streams:
            leaf_data[lp] = _LeafData(np.zeros(0), None, None,
                                      by_path[lp])
    for lp, pieces in streams.items():
        vals = fmt._concat([v for v, _, _ in pieces])
        defs = [d for _, d, _ in pieces if d is not None]
        reps = [r for _, _, r in pieces if r is not None]
        leaf_data[lp] = _LeafData(
            vals,
            np.concatenate(defs) if defs else None,
            np.concatenate(reps) if reps else None,
            by_path[lp])
    names, arrays = [], []
    for top in tree:
        leaves = _leaves_under(top)
        starts = {}
        for lp in leaves:
            ld = leaf_data[lp]
            starts[lp] = (np.flatnonzero(ld.rep == 0).astype(np.int64)
                          if ld.max_rep else
                          np.arange(ld.n_slots, dtype=np.int64))
        names.append(top.name)
        arrays.append(_build(top, leaf_data, starts, 0, 0))
    return pa.table(dict(zip(names, arrays)))


def _node_arrow_field(node: _Node):
    """Schema-only mirror of _build's type construction (same defaults,
    so declared and assembled types match exactly)."""
    import pyarrow as pa
    if node.leaf is not None:
        return pa.field(node.name, _leaf_arrow_type(node))
    one_rep_child = (len(node.children) == 1 and node.children[0].rep == 2)
    is_map = node.conv == _CONV_MAP or (
        one_rep_child and (node.children[0].conv == _CONV_MKV
                           or (node.conv is None
                               and len(node.children[0].children) == 2)))
    if is_map:
        kv = node.children[0]
        return pa.field(node.name, pa.map_(
            _node_arrow_field(kv.children[0]).type,
            _node_arrow_field(kv.children[1]).type))
    if node.conv == _CONV_LIST or (node.conv is None and one_rep_child):
        elem = node.children[0].children[0]
        return pa.field(node.name, pa.list_(_node_arrow_field(elem).type))
    return pa.field(node.name, pa.struct(
        [_node_arrow_field(c) for c in node.children]))


def footer_meta(path: str):
    """FileMeta from the footer bytes ONLY (no data-page I/O): reads the
    trailing ``meta_len + 8`` bytes and re-frames them behind a PAR1
    prefix so ``read_footer``'s offsets line up. Chunk byte offsets in
    the result are absolute file offsets and must not be dereferenced
    against this buffer — schema / row counts / per-rg chunk lists are
    what this is for (the driver's split planning)."""
    import os as _os

    size = _os.path.getsize(path)
    with open(path, "rb") as f:
        f.seek(size - 8)
        meta_len = int.from_bytes(f.read(4), "little")
        f.seek(size - 8 - meta_len)
        tail = f.read(meta_len + 8)
    return fmt.read_footer(memoryview(b"PAR1" + tail))


def file_schema(path: str, columns=None):
    """Footer-only Arrow schema of an engine-readable parquet file
    (exactly the types ``assemble_file`` produces)."""
    import pyarrow as pa

    tree = _schema_tree(footer_meta(path).schema_raw)
    if columns is not None:
        missing = set(columns) - {t.name for t in tree}
        if missing:
            raise ValueError(f"columns not in file: {sorted(missing)} "
                             f"(have {[t.name for t in tree]})")
        # CALLER order, not file order: this schema binds positionally
        # against task batches that select() in caller order
        by_name = {t.name: t for t in tree}
        tree = [by_name[c] for c in columns]
    return pa.schema([_node_arrow_field(t) for t in tree])


_PRED_OPS = ("==", "!=", "<", "<=", ">", ">=", "in",
             "is_null", "not_null")


def _check_value(col, leaf, v):
    """One predicate value -> its comparable form (str -> utf-8 bytes on
    byte_array leaves), or a loud ValueError on a type mismatch."""
    if leaf.phys == "byte_array":
        if isinstance(v, str):
            v = v.encode()
        if not isinstance(v, bytes):
            raise ValueError(f"predicate on string column {col!r} "
                             f"needs str/bytes, got {type(v).__name__}")
    elif leaf.phys == "boolean":
        if not isinstance(v, bool):
            raise ValueError(f"predicate on boolean column {col!r} "
                             f"needs bool, got {type(v).__name__}")
    elif not isinstance(v, (int, float)) or isinstance(v, bool):
        raise ValueError(f"predicate on numeric column {col!r} "
                         f"needs int/float, got {type(v).__name__}")
    return v


def _normalize_predicate(predicate, leaves_by_name):
    """Validate conjuncts against the file schema and pre-convert each
    value to its comparable form (str -> utf-8 bytes for byte_array).
    Predicate columns must be NON-REPEATED scalar leaves — flat columns
    or dotted struct-field paths (``meta.n_chars``); repeated paths fail
    loudly here, at plan time. The ``in`` op takes a non-empty
    list/tuple/set of values."""
    conjuncts = []
    for term in predicate:
        try:
            col, op, v = term
        except (TypeError, ValueError):
            raise ValueError(f"predicate term {term!r} is not "
                             "(column, op, value)")
        if op == "=":
            op = "=="
        if op not in _PRED_OPS:
            raise ValueError(f"unsupported predicate op {op!r} "
                             f"(one of {_PRED_OPS})")
        leaf = leaves_by_name.get(col)
        if leaf is None or leaf.max_rep > 0:
            flat = sorted(n for n, lf in leaves_by_name.items()
                          if lf.max_rep == 0)
            raise ValueError(
                f"predicate column {col!r} is not a non-repeated "
                f"scalar leaf (have {flat})")
        if op in ("is_null", "not_null"):
            if v is not None:
                raise ValueError(f"{op!r} predicate on {col!r} takes "
                                 f"value None, got {v!r}")
        elif op == "in":
            if not isinstance(v, (list, tuple, set, frozenset)) or not v:
                raise ValueError(f"'in' predicate on {col!r} needs a "
                                 "non-empty list/tuple/set of values")
            v = tuple(_check_value(col, leaf, x) for x in v)
        else:
            v = _check_value(col, leaf, v)
        conjuncts.append((col, op, v))
    return conjuncts


def predicate_column(predicate):
    """The Catalyst form of a conjunction of ``(column, op, value)``
    terms (ops ``_PRED_OPS``, ``=`` meaning ``==``): one ``Column`` for
    ``DataFrame.filter``; dotted columns are struct-field access, as in
    the engine scan."""
    from pyspark.sql import functions as F

    cond = None
    for col, op, v in predicate:
        c = F.col(col)
        if op == "is_null":
            term = c.isNull()
        elif op == "not_null":
            term = c.isNotNull()
        elif op == "in":
            term = c.isin(*list(v))
        else:
            term = {"==": c.__eq__, "=": c.__eq__, "!=": c.__ne__,
                    "<": c.__lt__, "<=": c.__le__,
                    ">": c.__gt__, ">=": c.__ge__}[op](v)
        cond = term if cond is None else cond & term
    return cond


def _may_match(op, v, nulls, count, lo, hi) -> bool:
    """False only when one column's summary PROVES no row can satisfy
    ``col op v`` — the one plan-time pruning rule behind the partition,
    snapshot-entry and footer-chunk layers (the reference's
    statistics.cc comparators). ``nulls``/``count`` are the null and
    value counts, ``[lo, hi]`` the value bounds; unknown parts are None.
    ``is_null`` prunes only on ``nulls == 0`` and ``not_null`` only on
    ``nulls == count``. Comparisons are null-rejecting (SQL/Arrow
    semantics), so an all-null column disproves every one of them;
    absent, NaN-poisoned or type-incomparable bounds keep the rows."""
    if op == "is_null":
        return nulls != 0
    if op == "not_null":
        return nulls is None or nulls != count
    if nulls is not None and nulls == count:
        return False
    if lo is None or hi is None or lo != lo or hi != hi:
        return True
    try:
        return not ((op == "==" and (v < lo or v > hi))
                    or (op == "in" and all(x < lo or x > hi for x in v))
                    or (op == "!=" and lo == hi == v)
                    or (op == "<" and not lo < v)
                    or (op == "<=" and not lo <= v)
                    or (op == ">" and not hi > v)
                    or (op == ">=" and not hi >= v))
    except TypeError:
        return True


def _snapshot_stats_may_match(st: "dict | None", conjuncts) -> bool:
    """False only when a snapshot entry's column bounds
    (``parquet_sink.file_stats_json``) PROVE no row of the file can
    satisfy the conjunction — Iceberg-manifest-style pruning from the
    committed listing alone, zero file I/O. byte_array bounds live as
    utf-8 text in the snapshot and are encoded back to bytes, the form
    predicate values were normalized to (UTF-8 byte order equals
    code-point order)."""
    if not st:
        return True
    for col, op, v in conjuncts:
        ent = st.get(col)
        if not isinstance(ent, dict):
            continue
        lo, hi = (b.encode() if isinstance(b, str) else b
                  for b in (ent.get("min"), ent.get("max")))
        if not _may_match(op, v, ent.get("nulls"), ent.get("n"), lo, hi):
            return False
    return True


# encodings that prove every data page decodes through the dictionary:
# PLAIN_DICTIONARY(2) / RLE_DICTIONARY(8) data pages + RLE(3) levels.
# Anything else in the list (PLAIN 0 = dict fallback, DELTA_* ...) means
# some values bypass the dictionary and membership is not decisive.
_DICT_ONLY = frozenset((2, 3, 8))


def _dict_member(dictionary, phys: str, keys) -> bool:
    """Any candidate key present in the decoded dictionary page?"""
    import numpy as np

    from ..kernels import ba
    if phys == "byte_array":
        entries = set(ba.to_list(dictionary)
                      if isinstance(dictionary, ba.ByteArrayView)
                      else [bytes(x) for x in dictionary])
        return any(k in entries for k in keys)
    arr = np.asarray(dictionary)
    return bool(np.isin(np.array(list(keys)), arr).any())


def _rg_prunes(path: str, rg: int, eq_terms,
               meta_cache: "dict | None" = None) -> bool:
    """True when this row group provably contains NONE of an ``==`` /
    ``in`` conjunct's candidate keys — the task-side fast path that
    skips the split before any data page is read. Two proofs, cheapest
    first: a footer-linked bloom filter says every candidate absent
    (bloom_filter.cc BlockSplitBloomFilter, like plans/lookup.py's
    point lookups), or the chunk's dictionary page — decoded alone,
    data pages untouched — lacks every candidate while the encodings
    list proves all values went through the dictionary (parquet-mr's
    dictionary-filtering rule: any PLAIN in the list disables it).
    ``eq_terms`` is [(col, (key, ...)), ...]. ``meta_cache`` (a dict the
    caller owns, path -> FileMeta) amortizes the footer thrift parse
    across a multi-row-group file's splits in one task."""
    import mmap

    with open(path, "rb") as f:
        m = mmap.mmap(f.fileno(), 0, access=mmap.ACCESS_READ)
    mv = memoryview(m)
    try:
        meta = None if meta_cache is None else meta_cache.get(path)
        if meta is None:
            meta = fmt.read_footer(mv)
            if meta_cache is not None:
                meta_cache[path] = meta
        leaves = {lf.name: lf for lf in meta.leaves}
        chunks = {c.path: c for c in meta.row_groups[rg]}
        for col, keys in eq_terms:
            # renamed/evolved files store the column under another name
            # (or not at all): not decisive here — plan-time layers and
            # the residual filter own those cases
            chunk = chunks.get(col)
            leaf = leaves.get(col)
            if chunk is None or leaf is None or \
                    leaf.phys not in ("byte_array", "int32", "int64"):
                continue
            phys = leaf.phys
            if chunk.bloom_filter is not None:
                bf = fmt.read_bloom(mv, chunk)
                if bf is not None and not any(
                        fmt._bloom_may_contain(bf, phys, k)
                        for k in keys):
                    return True
            if chunk.dictionary_page_offset and chunk.encodings \
                    and set(chunk.encodings) <= _DICT_ONLY:
                dictionary = fmt._read_dictionary_page(
                    mv, leaves[col], chunk)
                if dictionary is not None and len(dictionary) \
                        and not _dict_member(dictionary, phys, keys):
                    return True
        return False
    finally:
        mv.release()
        m.close()


def _segment_value(pv: str, v):
    """A ``col=value`` path segment in the domain of predicate value
    ``v``: UTF-8 bytes against bytes/str, else the number it parses as
    (``int``, then ``float``); None when it parses as neither."""
    if isinstance(v, (bytes, str)):
        return pv.encode() if isinstance(v, bytes) else pv
    for parse in (int, float):
        try:
            return parse(pv)
        except ValueError:
            pass
    return None


def _partition_may_match(vals: dict, conjuncts) -> bool:
    """False only when a file's ``col=value`` path segments PROVE no row
    can satisfy the conjunction — the plan-time partition pruning layer
    that drops whole files before any footer I/O. The layout contract
    (``parquet_sink.hive_segment``) is that a segment states its column's
    value for EVERY row of the file, so it is both bounds of that
    column; an unparsable numeric segment keeps the file. The null count
    is unknown, so null tests never prune here (a foreign directory
    could break the no-null-partition-values convention; the stats
    layer below proves those instead)."""
    for col, op, v in conjuncts:
        pv = vals.get(col)
        if pv is None:
            continue
        seg = _segment_value(pv, v[0] if op == "in" else v)
        if not _may_match(op, v, None, None, seg, seg):
            return False
    return True


def _ren_leaf(name: str, renames: "dict | None") -> str:
    """Rewrite a dotted leaf path's TOP-LEVEL root through the
    snapshot's stored-name -> current-name rename map."""
    if not renames:
        return name
    root, sep, rest = name.partition(".")
    cur = renames.get(root, root)
    return cur + sep + rest


def _chunk_may_match(chunk, leaf, op, v) -> bool:
    """One conjunct against one column chunk's footer Statistics
    (UNSIGNED-aware through ``stat_typed``); a column the row group
    lacks, or a chunk without Statistics, keeps the group."""
    if chunk is None or chunk.stats is None:
        return True
    lo, hi, nulls = chunk.stats
    return _may_match(op, v, nulls, chunk.num_values,
                      fmt.stat_typed(lo, leaf), fmt.stat_typed(hi, leaf))


def _plan_file(f: str, conjuncts, renames: "dict | None" = None,
               fm=None):
    """Footer-only plan for ONE file: (path, n_rg, kept rg indices,
    schema signature, stored->current rename pairs this file needs,
    raw schema elements). ``fm`` is the file's footer
    when the caller already parsed it. ``renames`` is the snapshot's
    rename map: leaf names and chunk paths are presented under their
    CURRENT names so all downstream planning (union, evolution, stats
    pruning) is rename-blind; a file carrying BOTH a stored name and
    its current name is ambiguous and fails loudly."""
    if fm is None:
        fm = footer_meta(f)
    roots = {lf.name.partition(".")[0] for lf in fm.leaves}
    ren_pairs = tuple(sorted(
        (k, v) for k, v in (renames or {}).items() if k in roots))
    for k, v in ren_pairs:
        if v in roots:
            raise ValueError(
                f"{f!r} carries both stored column {k!r} and its "
                f"current name {v!r} — by-name rename is ambiguous here")
    leaves = tuple((_ren_leaf(lf.name, renames), lf.phys, lf.max_def,
                    lf.max_rep) for lf in fm.leaves)
    leaves_by_name = {_ren_leaf(lf.name, renames): lf
                      for lf in fm.leaves}
    kept = []
    for rg, chunks in enumerate(fm.row_groups):
        by_name = {_ren_leaf(c.path, renames): c for c in chunks}
        if conjuncts is None or all(
                _chunk_may_match(by_name.get(col), leaves_by_name.get(col),
                                 op, v) for col, op, v in conjuncts):
            kept.append(rg)
    return f, len(fm.row_groups), kept, leaves, ren_pairs, fm.schema_raw


def _list_dataset(src: str, snapshot_version: "int | None" = None):
    """A dataset directory's data files and the snapshot they come from:
    ``(sorted paths, snapshot doc or None)``. With a ``_snapshots/`` log
    (``sources/snapshots.py``) the committed listing IS the file set —
    read isolation from in-flight writers, time travel, no directory
    glob over 10^6 files: ``None`` reads the CURRENT version (the
    directory may legitimately hold uncommitted or pre-compaction
    files), ``N`` time-travels to version N, ``0`` ignores the log.
    Without a log, a recursive ``**/*.parquet`` glob (partitioned
    ``col=value/`` layouts list their leaf files) that skips every
    ``_``/``.``-prefixed segment: metadata directories (``_snapshots/``,
    ``_deletes/``, ``_manifest/``) and in-flight temps are not data."""
    import glob
    import os

    if snapshot_version not in (None, 0) or (
            snapshot_version is None
            and os.path.isdir(os.path.join(src, "_snapshots"))):
        from .snapshots import load_snapshot
        snap = load_snapshot(src, snapshot_version)
        return sorted(os.path.join(src, e["path"])
                      for e in snap["files"]), snap
    return sorted(
        f for f in glob.glob(os.path.join(src, "**", "*.parquet"),
                             recursive=True)
        if not any(seg.startswith((".", "_")) for seg in
                   os.path.relpath(f, src).split(os.sep))), None


def read_parquet_dataset(spark, src: str, columns=None, predicate=None,
                         plan_out: "dict | None" = None,
                         snapshot_version: "int | None" = None,
                         apply_deletes: bool = True):
    """Distributed ENGINE-NATIVE scan of a parquet dataset directory:
    executors assemble whole nested Arrow batches from rep/def levels
    (``assemble_file``) — no Spark JVM parquet reader, no
    pyarrow.parquet, anywhere in the decode. The symmetric pair of
    ``parquet_sink.write_parquet_dataset`` (executors write engine
    parquet, executors read it back).

    Scale shape: the split unit is the ROW GROUP, like the JVM reader.
    The driver plans every scan the same way, with no Spark job: list
    the files (``_list_dataset``), prune them, read each surviving
    footer once (``footer_meta``, no data I/O), build one schema, then
    hand (path, rg) splits to ``task_source`` with an explicit slice
    count (JVM-only, no shuffle stage); each task mmaps its file and
    faults in only its own chunks' byte ranges. Only split tuples cross
    the JVM going out; Arrow record batches come back through the
    mapInArrow channel. ``columns`` prunes untouched column chunks at
    the byte level (never decompressed). Mirrors the reference's
    multi-threaded column-parallel reads (``file_reader.cc:63-135``,
    ``arrow/reader.cc`` FileReader) with Spark tasks as the thread pool.

    ``predicate`` pushes a conjunction of ``(column, op, value)`` terms
    (ops ``== != < <= > >= in is_null not_null``; columns are flat or
    dotted struct-field paths; ``in`` takes a non-empty collection, the
    null tests take value None) INTO the scan, five layers deep:
    (0) plan-time PARTITION pruning — ``col=value`` path segments
    (``parquet_sink.emit_parquet_dataset(partition_by=...)`` layouts)
    drop whole files before any footer I/O, driver-side string work
    only; (0b) plan-time SNAPSHOT-STATS pruning — when planning from a
    ``_snapshots/`` log, the column bounds committed with each entry
    (``parquet_sink.file_stats_json``, Iceberg-manifest-style) drop
    files from the listing alone; (1) plan-time row-group pruning on
    footer chunk Statistics — pruned groups never become tasks. The
    three plan-time layers share one rule (``_may_match``). (2)
    task-time bloom-filter skip for ``==``/``in`` terms on
    bloom-carrying chunks — the split is dropped before any data page
    I/O; (3) an exact vectorized residual filter on the assembled Arrow
    batches (null-rejecting, SQL semantics), so the result is precise
    regardless of how coarse the stats are. ``plan_out`` (a dict,
    optional) receives the audit counters ``rg_total``/``rg_kept``/
    ``files_total``/``files_kept``/``files_partition_pruned``/
    ``files_snapshot_pruned``/``plan_mode`` (``"driver"``, or
    ``"plan_pruned"`` when layers (0)/(0b) left no file) — the test
    surface proving pruning actually pruned.

    ADD-COLUMN SCHEMA EVOLUTION (Iceberg add-column semantics by
    column name): files written before a column existed read back with
    nulls there — the plan unions top-level columns across files
    (first-appearance order), marks evolved columns nullable, and each
    task null-fills what its file predates. A null-rejecting predicate
    on a column a file lacks proves that file empty at plan time (it
    never becomes a task); ``is_null`` matches all its rows. Same-named
    columns whose leaf shapes differ (type evolution) still fail loudly
    at plan time, naming both files.

    ``snapshot_version``: when the dataset carries a ``_snapshots/``
    log (``sources/snapshots.py``), the scan plans from the committed
    listing instead of a directory glob — ``None`` reads the CURRENT
    version (automatic once a log exists), ``N`` time-travels to
    version N, ``0`` forces the raw directory glob (log ignored).

    EQUALITY DELETES (Iceberg v2 merge-on-read as a kill list): when
    the planned snapshot carries delete entries
    (``snapshots.commit_equality_deletes`` — the shape a dedup pass
    emits), kill-listed keys are excluded via a left-anti join per
    delete column; the key column rides the task output even when the
    projection excludes it and is dropped after the join.
    ``apply_deletes=False`` scans the raw data files."""
    import json
    import os as _os

    import pyarrow as pa
    from pyspark.sql.pandas.types import from_arrow_schema

    from ..shipping import ensure_shipped
    from .parquet_direct import task_source
    ensure_shipped(spark)

    files, snap = _list_dataset(src, snapshot_version)
    if not files:
        raise ValueError(f"no parquet files under {src!r}")
    stats_by_path: dict = {}
    delete_groups: dict = {}   # delete column -> its key-file paths
    rename_map: dict = {}      # stored column name -> current name
    if snap is not None:
        # Iceberg-manifest-style bounds: committed with each entry by
        # the sink, they let predicates drop files from the LISTING
        # alone — before partition parsing, before any footer I/O
        stats_by_path = {_os.path.join(src, e["path"]): e["stats"]
                         for e in snap["files"] if e.get("stats")}
        # snapshot-declared renames (stored name -> current name): all
        # planning below runs on CURRENT names; tasks remap per file
        rename_map = dict(snap.get("renames", {}))
        if apply_deletes:
            from .snapshots import _delete_groups
            delete_groups = _delete_groups(src, snap)

    conjuncts = None
    read_cols = list(columns) if columns is not None else None
    files_listed = len(files)
    all_files = files          # pre-pruning listing (rebound, not mutated)
    metas: dict = {}           # footers already parsed, by path
    if predicate:
        # schema evolution means files[0] may predate a predicate column:
        # probe footers (bounded) until every referenced column resolves
        leaves_by_name = {}
        want = {t[0] for t in predicate if isinstance(t, (tuple, list))
                and len(t) == 3}
        for f in files[:64]:
            metas[f] = footer_meta(f)
            for lf in metas[f].leaves:
                leaves_by_name.setdefault(_ren_leaf(lf.name, rename_map),
                                          lf)
            if want <= set(leaves_by_name):
                break
        conjuncts = _normalize_predicate(predicate, leaves_by_name)
        if read_cols is not None:
            # a dotted predicate path needs its TOP-LEVEL column read
            read_cols += [root for root in
                          (c.split(".", 1)[0] for c, _o, _v in conjuncts)
                          if root not in read_cols]
        # partition pruning: col=value path segments decide whole files
        # BEFORE any footer is parsed — the cheapest layer, O(files)
        # string work on the driver, no I/O at all
        from .parquet_sink import partition_values

        def _cur_keys(d):
            """Remap a stored-name-keyed dict to current names."""
            if not d or not rename_map:
                return d
            return {rename_map.get(k, k): v for k, v in d.items()}
        files = [f for f in files
                 if _partition_may_match(
                     _cur_keys(partition_values(src, f)), conjuncts)]
        # snapshot-stats pruning: committed column bounds decide files
        # from the listing alone (Iceberg manifest pruning) — still no
        # footer I/O for the dropped files
        pre_stats = len(files)
        if stats_by_path:
            files = [f for f in files if _snapshot_stats_may_match(
                _cur_keys(stats_by_path.get(f)), conjuncts)]
        files_snapshot_pruned = pre_stats - len(files)
    else:
        files_snapshot_pruned = 0
    if delete_groups and read_cols is not None:
        # equality-delete key columns ride the task output even when the
        # projection excludes them; dropped again after the anti-join
        read_cols += [c for c in sorted(delete_groups)
                      if c not in read_cols]

    # footer planning, on the driver: one footer parse per surviving
    # file, folded into the union as it is read. When the layers above
    # left no file, a prefix of the listing is planned with every row
    # group dropped, only so the one union below gives the empty frame
    # the dataset's schema
    if files:
        plans = (_plan_file(f, conjuncts, rename_map, metas.get(f))
                 for f in files)
    else:
        plans = ((f, 0, [], *rest) for f, _n, _k, *rest in (
            _plan_file(f, None, rename_map, metas.get(f))
            for f in all_files[:64]))

    # per-COLUMN schema union (add-column evolution): a column's leaf
    # signature must be identical across every file that HAS it (type
    # evolution is out of scope and fails loudly, at plan time), but a
    # file may simply LACK columns that later files added — its rows
    # read back with nulls there, Iceberg add-column semantics
    rg_total = 0
    col_sigs: dict = {}      # top-level column -> leaf signature tuple
    col_order: list = []     # first-appearance order across sorted files
    col_rep: dict = {}       # column -> (file, stored name, raw schema)
    file_cols: dict = {}     # file -> frozenset of its top-level columns
    file_kept: dict = {}
    file_ren: dict = {}      # file -> its (stored, current) rename pairs
    for f, n_rg, kept, leaves, ren_pairs, schema_raw in plans:
        rev = {v: k for k, v in ren_pairs}
        by_root: dict = {}
        for lf in leaves:
            by_root.setdefault(lf[0].split(".")[0], []).append(lf)
        for c, sig in by_root.items():
            sig = tuple(sig)
            if c not in col_sigs:
                col_sigs[c] = sig
                col_order.append(c)
                col_rep[c] = (f, rev.get(c, c), schema_raw)
            elif col_sigs[c] != sig:  # incompatible same-name column:
                raise ValueError(      # fail at plan, not in an executor
                    f"schema mismatch in {src!r}: column {c!r} is "
                    f"{col_sigs[c]} in {col_rep[c][0]!r} but {sig} "
                    f"in {f!r}")
        file_cols[f] = frozenset(by_root)
        file_ren[f] = ren_pairs
        if conjuncts is not None and any(
                c.split(".")[0] not in by_root and o != "is_null"
                for c, o, _v in conjuncts):
            # a null-rejecting predicate on a column this file predates:
            # every row there is null — the whole file is provably empty
            kept = []
        rg_total += n_rg
        file_kept[f] = (n_rg, kept)

    def _union_field(c):
        """Arrow field for one union column, from the footer of the
        first file carrying it, under its CURRENT name (the file may
        store a pre-rename name); nullable when some file predates it."""
        _f, stored, schema_raw = col_rep[c]
        node = next(t for t in _schema_tree(schema_raw) if t.name == stored)
        fld = _node_arrow_field(node).with_name(c)
        if any(c not in fc for fc in file_cols.values()):
            fld = fld.with_nullable(True)
        return fld

    if columns is not None:
        absent = [c for c in columns if c not in col_sigs]
        if absent:
            raise ValueError(f"columns not in file: {absent} "
                             f"(no file of {src!r} has them; "
                             f"have {col_order})")
    union_cols = list(columns) if columns is not None else col_order
    # equality deletes join on their key column: it must exist in the
    # data (our sink keeps delete keys as real data columns), be read by
    # every task, and ride the task output even when the caller's
    # projection excludes it (dropped again after the anti-join)
    for c in delete_groups:
        if c not in col_sigs:
            raise ValueError(f"snapshot delete column {c!r} is not a "
                             f"column of any data file in {src!r}")
    del_extra = [c for c in sorted(delete_groups) if c not in union_cols]
    aschema = pa.schema([_union_field(c) for c in union_cols + del_extra])
    sschema = from_arrow_schema(aschema)
    union_types = {fld.name: fld.type for fld in aschema}
    need = (read_cols if read_cols is not None else list(union_cols)) \
        + del_extra
    for c in need:
        # predicate roots outside the projection still need a union type
        # for the evolution null-fill in the task
        if c not in union_types and c in col_rep:
            union_types[c] = _union_field(c).type

    splits = []
    kept_files: set = set()
    for f, (n_rg, kept) in file_kept.items():
        # JSON, so column names may hold any character
        miss = json.dumps([c for c in need if c not in file_cols[f]])
        ren = json.dumps(dict(file_ren[f]))
        for rg in kept:
            splits.append((f, rg, n_rg, miss, ren))
            kept_files.add(f)
    rg_kept = len(splits)
    if plan_out is not None:
        plan_out.update(rg_total=rg_total, rg_kept=rg_kept,
                        files_total=files_listed,
                        files_kept=len(kept_files),
                        files_partition_pruned=(files_listed - len(files)
                                                - files_snapshot_pruned),
                        files_snapshot_pruned=files_snapshot_pruned,
                        plan_mode="driver" if files else "plan_pruned")
    cols = list(columns) if columns is not None else None
    # the TASK emits every aschema field (incl. delete-key extras); the
    # caller's projection is re-applied after the anti-join
    final_cols = [f.name for f in aschema]
    user_cols = cols if cols is not None \
        else [c for c in final_cols if c not in set(del_extra)]
    eq_terms = [(c, (v,) if o == "==" else v)
                for c, o, v in (conjuncts or []) if o in ("==", "in")]

    def _post(df):
        """Equality deletes (``snapshots._apply_deletes``), then restore
        the caller's projection."""
        from .snapshots import _apply_deletes
        df = _apply_deletes(spark, delete_groups, df)
        if list(df.columns) != user_cols:
            df = df.select(user_cols)
        return df

    if not splits:        # everything pruned: empty df, correct schema
        return _post(spark.createDataFrame([], sschema))
    cores = spark.sparkContext.defaultParallelism
    n_parts = min(len(splits), max(1, cores * 2))
    splits_df = task_source(spark, splits, n_parts, "path string, rg int, "
                            "n_rg int, miss string, ren string")

    def task(batches):
        import json

        import pyarrow as pa
        import pyarrow.compute as pc
        meta_cache: dict = {}   # one footer parse per file per task
        for batch in batches:
            paths = batch.column("path").to_pylist()
            rgs = batch.column("rg").to_pylist()
            n_rgs = batch.column("n_rg").to_pylist()
            misses = batch.column("miss").to_pylist()
            rens = batch.column("ren").to_pylist()
            for p, rg, n_rg, miss, ren in zip(paths, rgs, n_rgs, misses,
                                              rens):
                if eq_terms and _rg_prunes(p, rg, eq_terms, meta_cache):
                    continue
                missing = json.loads(miss)
                fwd = json.loads(ren)          # stored -> current
                rev = {v: k for k, v in fwd.items()}
                cols_here = read_cols if not missing else (
                    None if read_cols is None
                    else [c for c in read_cols if c not in missing])
                if cols_here is not None and rev:
                    # the file stores pre-rename names: assemble those
                    cols_here = [rev.get(c, c) for c in cols_here]
                # single-rg file: whole-file buffered read (one syscall,
                # no per-page mmap faults); multi-rg: mmap + rg ranges
                tbl = assemble_file(
                    p, columns=cols_here,
                    row_groups=[rg] if n_rg > 1 else None)
                if fwd:
                    # snapshot-declared renames: present current names
                    tbl = tbl.rename_columns(
                        [fwd.get(n, n) for n in tbl.column_names])
                # add-column evolution: columns this file predates read
                # back as nulls of the union type
                for c in missing:
                    tbl = tbl.append_column(
                        pa.field(c, union_types[c], nullable=True),
                        pa.nulls(tbl.num_rows, union_types[c]))
                if conjuncts is not None:
                    mask = None
                    for c, o, v in conjuncts:
                        parts = c.split(".")
                        arr = tbl.column(parts[0])
                        for fname in parts[1:]:
                            # SQL semantics for free: a null ancestor
                            # struct yields a null child, which the
                            # null-rejecting comparisons then drop
                            arr = pc.struct_field(arr, fname)
                        if pa.types.is_string(arr.type):
                            # compare in the bytes domain the predicate
                            # was normalized to (any key, UTF-8 or not)
                            arr = arr.cast(pa.binary())
                        if o == "is_null":
                            m = pc.is_null(arr)
                        elif o == "not_null":
                            m = pc.is_valid(arr)
                        elif o == "in":
                            m = pc.is_in(arr, value_set=pa.array(
                                list(v), type=arr.type))
                        else:
                            m = {"==": pc.equal, "!=": pc.not_equal,
                                 "<": pc.less, "<=": pc.less_equal,
                                 ">": pc.greater,
                                 ">=": pc.greater_equal}[o](arr, v)
                        mask = m if mask is None else pc.and_(mask, m)
                    tbl = tbl.filter(mask)
                tbl = tbl.select(final_cols)   # caller's column order
                yield from tbl.to_batches()

    return _post(splits_df.mapInArrow(task, schema=sschema))
