"""Arrow columns for the PAR1 writer: the one rep/def level builder.

Every column the writer takes from Arrow goes through ``ArrowColumn``:
one recursive, fully vectorized walker that turns a pyarrow array of any
supported nesting (lists / structs / maps stacked to any depth, nulls at
every level, flat columns as the depth-0 case) into the writer's
``_Leaf`` model (dense values + precomputed rep/def level streams + row
offset maps) plus the matching thrift schema-tree elements. The sink
hands it each Arrow column (``parquet_sink.specs_from_arrow``), and the
writer's numpy spec classes (``parquet_writer.ListColumn`` and friends)
build an Arrow array and hand that to it.

This is the reference's recursive Arrow path builder re-expressed in
numpy: ``arrow/path_internal.cc`` walks each column's type tree
maintaining per-node repetition/definition context and emits one leaf
stream per primitive node; ``arrow/schema.cc`` mirrors the same walk for
the SchemaElement tree. Identical level semantics, different execution
strategy — instead of per-value state machines we carry whole-column
slot arrays (``slot_idx`` / ``rep_first`` / ``defl``) down the recursion
and expand them with ``np.repeat``/cumsum at each repeated node, so the
cost per level is O(slots) vectorized work with no per-row Python.

Level scheme (parquet-format logical rules): every OPTIONAL node on a
path adds one def level, every REPEATED node adds one def level and one
rep level; a slot that terminates at a node (null value, null/empty
list, null struct ancestor) emits one marker slot at every leaf below it
carrying the def level accumulated to the cut point. A node is emitted
OPTIONAL iff the Arrow FIELD is nullable OR the batch contains nulls at
it — schema-driven, so sibling partitions of one dataset (with and
without observed nulls) write the SAME parquet schema; an all-present
OPTIONAL node costs one RLE run of def levels, not a schema divergence.

``ArrowColumn`` plugs into ``write_file`` through three duck-typed hooks
(``pcs_leaves`` / ``pcs_schema`` / ``pcs_annotations``). Leaves start
PLAIN; the caller (a spec's ``use_dictionary`` flags, or the sink's
codec selector) sets each leaf's ``encoding``.
"""

from __future__ import annotations

import numpy as np

from ..kernels import ba


class _Synth(str):
    """A path part the walker adds itself (LIST ``list``/``element``, MAP
    ``key_value``): leaf names skip it, not a user field spelled alike."""


_LIST, _ELEMENT, _KEY_VALUE = map(_Synth, ("list", "element", "key_value"))


def leaf_name(path) -> str:
    """Dotted leaf name / annotation key: the path without the walker's
    own parts (``tokens.list.element`` -> ``tokens``)."""
    return ".".join(p for p in path if not isinstance(p, _Synth))


_FLAT_PHYS = {"int32": "int32", "int64": "int64", "float": "float",
              "double": "double", "bool": "boolean"}


def _idx_dtype(bound: int):
    """Narrowest index dtype holding values up to ``bound``: int32 halves
    the slot arrays of a 6.4M-element list column."""
    return np.int32 if bound < 2**31 - 1 else np.int64


def _valid_mask(col, nullable: bool):
    """Validity mask for one node: observed nulls, else an ALL-TRUE mask
    when the Arrow FIELD says nullable. Parquet repetition must follow
    the SCHEMA, not the data — otherwise two partitions of one dataset
    write different file schemas (REQUIRED in the null-free partition,
    OPTIONAL in the rest) and every schema-checked reader of the
    directory fails. Matches Spark's own parquet writer (nullable Spark
    field -> OPTIONAL always)."""
    if col.null_count:
        return ~np.asarray(col.is_null())
    return np.ones(len(col), dtype=bool) if nullable else None


def _scalar_parts(col, name: str, nullable: bool = False):
    """Arrow scalar array -> (phys, slot-aligned values, valid, is_utf8).

    Strings/binary become a ``ba.ByteArrayView`` straight from the Arrow
    offsets/values buffers (``ba.from_arrow`` — no per-row Python, the
    ``encode_arrow`` hot-path shape), numerics a numpy view; nulls are
    masked via ``valid`` with slots filled by a typed zero (the writer
    drops them by mask). ``nullable`` (the Arrow FIELD's flag) forces an
    OPTIONAL mask even when this batch happens to contain no nulls."""
    import pyarrow as pa

    typ = col.type
    if pa.types.is_string(typ) or pa.types.is_large_string(typ) \
            or pa.types.is_binary(typ) or pa.types.is_large_binary(typ):
        utf8 = not (pa.types.is_binary(typ) or pa.types.is_large_binary(typ))
        valid = _valid_mask(col, nullable)
        if col.null_count:
            col = col.fill_null("" if utf8 else b"")
        return "byte_array", ba.from_arrow(col), valid, utf8
    if str(typ) in _FLAT_PHYS:
        valid = _valid_mask(col, nullable)
        if col.null_count:
            col = col.fill_null(False if str(typ) == "bool" else 0)
        return (_FLAT_PHYS[str(typ)], col.to_numpy(zero_copy_only=False),
                valid, False)
    raise ValueError(f"column {name}: arrow type {typ} out of "
                     "parquet_sink scope")


def _leaf_parts(col, name: str, annotations: dict, decimals: dict,
                nullable: bool = False):
    """``_scalar_parts`` plus temporal/decimal handling at any leaf
    position: date32/timestamp store as annotated ints keyed by the
    dotted leaf name ``name`` (tz-aware timestamps are UTC instants,
    tz-naive ones stay NTZ); decimal128 becomes minimal-width big-endian
    FLBA (the reference's DecimalSize coercion,
    ``arrow/writer.cc:572-604``) with ``decimals[name] = (p, s)``."""
    import pyarrow as pa

    typ = col.type
    if pa.types.is_decimal128(typ):
        from ..logical import decimal_flba_from_arrow
        valid = _valid_mask(col, nullable)
        mat, precision, scale = decimal_flba_from_arrow(col)
        decimals[name] = (precision, scale)
        return f"flba:{mat.shape[1]}", mat, valid, False
    if pa.types.is_date32(typ) or pa.types.is_timestamp(typ):
        if pa.types.is_date32(typ):
            phys, ann = "int32", "date"
            col = col.cast(pa.int32())
        else:
            unit = typ.unit
            if unit not in ("ms", "us"):
                raise ValueError(f"column {name}: timestamp[{unit}] "
                                 "out of scope (ms/us only)")
            phys = "int64"
            ann = f"timestamp_{unit}" if typ.tz is not None \
                else f"timestamp_ntz_{unit}"
            col = col.cast(pa.timestamp(unit)).cast(pa.int64())
        annotations[name] = ann
        valid = _valid_mask(col, nullable)
        if col.null_count:
            col = col.fill_null(0)
        return phys, col.to_numpy(zero_copy_only=False), valid, False
    return _scalar_parts(col, name, nullable=nullable)


class ArrowColumn:
    """One top-level column backed by a pyarrow array of any supported
    nesting. Walks the type tree once at construction, producing the
    writer leaves (in schema DFS order), the schema-element skeletons,
    and the harvested utf8/temporal/decimal annotation keys."""

    def __init__(self, name: str, array, nullable: bool = False):
        array = ba.one_chunk(array)
        self.name = name
        self.array = array
        self.nullable = nullable
        self._leaves: list = []
        self._schema: list = []     # ("group", rep, name, nchildren, conv)
        #                           | ("leaf", leaf_obj, rep, name, ann_key)
        self._utf8: set = set()
        self._annotations: dict = {}
        self._decimals: dict = {}
        self._n_values = 0   # value slots across leaves (manifest metric)
        n = len(array)
        slot_idx = np.arange(n, dtype=_idx_dtype(n))
        rep_first = np.zeros(n, dtype=np.int8)
        defl = np.zeros(n, dtype=np.int8)
        self._walk(array, [name], slot_idx, rep_first, defl, 0, 0,
                   nullable)

    # -- write_file hooks ------------------------------------------------
    def pcs_leaves(self) -> list:
        return list(self._leaves)

    def pcs_annotations(self) -> tuple:
        return set(self._utf8), dict(self._annotations), dict(self._decimals)

    def pcs_n_values(self) -> int:
        """Manifest n_values contribution: slots that reach each leaf's
        value node, summed over leaves — present or null values, without
        the markers of null or empty lists and of null ancestors. A field
        under a struct's null rows therefore counts only the live rows,
        and a list<struct> field only the non-null struct elements."""
        return self._n_values

    def pcs_schema(self, leaf_el) -> list:
        """Schema elements for this column's subtree; ``leaf_el`` is the
        writer's SchemaElement builder (phys, repetition, name, ann_key)."""
        out = []
        for rec in self._schema:
            if rec[0] == "group":
                _tag, rep, gname, nchildren, conv = rec
                out.append(self._group_el(rep, gname, nchildren, conv))
            else:
                _tag, leaf, rep, lname, ann_key = rec
                out.append(leaf_el(leaf.phys, rep, lname, ann_key))
        return out

    @staticmethod
    def _group_el(rep: int, gname: str, nchildren: int, conv):
        from .parquet_writer import _BINARY, _I32
        el = [(3, _I32, rep), (4, _BINARY, gname), (5, _I32, nchildren)]
        if conv is not None:
            el.append((6, _I32, conv))
        return el

    # -- the walker ------------------------------------------------------
    def _walk(self, arr, path, slot_idx, rep_first, defl,
              rep_level, def_level, nullable=False):
        import pyarrow as pa

        typ = arr.type
        if pa.types.is_fixed_size_list(typ):
            arr = arr.cast(pa.list_(typ.value_type))
            typ = arr.type
        if pa.types.is_struct(typ):
            self._walk_struct(arr, path, slot_idx, rep_first, defl,
                              rep_level, def_level, nullable)
        elif pa.types.is_list(typ) or pa.types.is_large_list(typ):
            self._walk_list(arr, path, slot_idx, rep_first, defl,
                            rep_level, def_level, nullable)
        elif pa.types.is_map(typ):
            self._walk_map(arr, path, slot_idx, rep_first, defl,
                           rep_level, def_level, nullable)
        else:
            self._walk_leaf(arr, path, slot_idx, rep_first, defl,
                            rep_level, def_level, nullable)

    def _node_validity(self, arr, slot_idx, nullable=False):
        """(real_mask, real_idx, valid_over_real | None, optional): which
        slots are live at this node, which of those hold a non-null
        value, and whether the node is OPTIONAL. Optionality follows the
        Arrow FIELD (``nullable``) — a batch without observed nulls must
        still emit OPTIONAL when the schema says nullable, or sibling
        partitions write heterogeneous parquet schemas."""
        real_mask = slot_idx >= 0
        real_idx = slot_idx[real_mask]
        if arr.null_count:
            av = ~np.asarray(arr.is_null())
            v = av[real_idx]
            if v.all():
                v = None
        else:
            v = None
        optional = nullable or v is not None
        if optional and v is None:
            v = np.ones(len(real_idx), dtype=bool)
        return real_mask, real_idx, v, optional

    def _walk_struct(self, arr, path, slot_idx, rep_first, defl,
                     rep_level, def_level, nullable=False):
        real_mask, real_idx, v, optional = self._node_validity(
            arr, slot_idx, nullable)
        new_slot, new_defl = slot_idx, defl
        if optional:
            new_slot = slot_idx.copy()
            new_defl = defl.copy()
            rm = np.flatnonzero(real_mask)
            new_slot[rm[~v]] = -1      # null struct: ancestor cut, def stays
            new_defl[rm[v]] += 1
        typ = arr.type
        self._schema.append(("group", 1 if optional else 0, path[-1],
                             typ.num_fields, None))
        for i in range(typ.num_fields):
            self._walk(arr.field(i), path + [typ.field(i).name],
                       new_slot, rep_first, new_defl,
                       rep_level, def_level + (1 if optional else 0),
                       typ.field(i).nullable)

    def _expand_repeated(self, off, real_mask, real_idx, v, optional,
                         slot_idx, rep_first, defl, rep_level):
        """Shared list/map slot expansion. Returns (child slot_idx,
        child rep_first, child defl) — one child slot per element of
        live non-empty slots, one marker slot (index -1) for everything
        else (old markers, null lists, empty lists)."""
        n_slots = len(slot_idx)
        lengths = np.zeros(n_slots, dtype=np.int64)
        if len(real_idx):
            lr = off[real_idx + 1] - off[real_idx]
            if optional:
                lr[~v] = 0     # a null slot's extent is skipped, not written
            lengths[real_mask] = lr
        nonempty = lengths > 0
        counts = np.maximum(lengths, 1)
        starts = np.zeros(n_slots, dtype=np.int64)
        np.cumsum(counts[:-1], out=starts[1:])
        total = int(counts.sum())
        c_rep = np.full(total, rep_level + 1, dtype=np.int8)
        c_rep[starts] = rep_first
        # per-slot def for expansion: old marker -> unchanged final def;
        # null list -> defl; empty list -> defl+opt; non-empty children
        # inherit defl+opt+1 as their ancestor def
        slot_def = defl + nonempty
        if optional:
            slot_def[real_mask] += v
        c_defl = np.repeat(slot_def, counts)
        # child slot k of slot s is element off[slot_idx[s]] + k: a ramp
        # of ones restarted at each slot's first position, summed in place
        first = np.zeros(n_slots, dtype=np.int64)
        first[nonempty] = off[slot_idx[nonempty]]
        c_slot = np.ones(total, dtype=_idx_dtype(max(total, int(off[-1]))))
        if n_slots:
            jump = first.copy()
            jump[1:] -= first[:-1] + counts[:-1] - 1
            c_slot[starts] = jump
            np.add.accumulate(c_slot, out=c_slot)
            c_slot[starts[~nonempty]] = -1
        return c_slot, c_rep, c_defl

    def _walk_list(self, arr, path, slot_idx, rep_first, defl,
                   rep_level, def_level, nullable=False):
        real_mask, real_idx, v, optional = self._node_validity(
            arr, slot_idx, nullable)
        off = np.asarray(arr.offsets).astype(np.int64)
        c_slot, c_rep, c_defl = self._expand_repeated(
            off, real_mask, real_idx, v, optional, slot_idx, rep_first,
            defl, rep_level)
        opt = 1 if optional else 0
        self._schema.append(("group", opt, path[-1], 1, 3))  # LIST
        self._schema.append(("group", 2, "list", 1, None))   # repeated
        self._walk(arr.values, path + [_LIST, _ELEMENT],
                   c_slot, c_rep, c_defl, rep_level + 1,
                   def_level + opt + 1, arr.type.value_field.nullable)

    def _walk_map(self, arr, path, slot_idx, rep_first, defl,
                  rep_level, def_level, nullable=False):
        real_mask, real_idx, v, optional = self._node_validity(
            arr, slot_idx, nullable)
        off = np.asarray(arr.offsets).astype(np.int64)
        c_slot, c_rep, c_defl = self._expand_repeated(
            off, real_mask, real_idx, v, optional, slot_idx, rep_first,
            defl, rep_level)
        opt = 1 if optional else 0
        if arr.keys.null_count:
            raise ValueError(f"column {'.'.join(path)}: parquet map keys "
                             "cannot be null")
        self._schema.append(("group", opt, path[-1], 1, 1))       # MAP
        self._schema.append(("group", 2, "key_value", 2, 2))  # MAP_KEY_VALUE
        self._walk(arr.keys, path + [_KEY_VALUE, "key"],
                   c_slot, c_rep, c_defl, rep_level + 1,
                   def_level + opt + 1, False)
        self._walk(arr.items, path + [_KEY_VALUE, "value"],
                   c_slot, c_rep, c_defl, rep_level + 1,
                   def_level + opt + 1, arr.type.item_field.nullable)

    def _walk_leaf(self, arr, path, slot_idx, rep_first, defl,
                   rep_level, def_level, nullable=False):
        import pyarrow as pa

        from . import parquet_writer as pw

        ann_key = leaf_name(path)
        real_mask = slot_idx >= 0
        n_slots = len(slot_idx)
        n_real = int(np.count_nonzero(real_mask))
        self._n_values += n_real
        real_idx = slot_idx if n_real == n_slots else slot_idx[real_mask]
        contiguous = n_real == len(arr) and \
            (n_real == 0 or
             (real_idx[0] == 0 and real_idx[-1] == n_real - 1 and
              bool((np.diff(real_idx) == 1).all())))
        real_arr = arr if contiguous else arr.take(pa.array(real_idx))
        phys, vals, valid, is_utf8 = _leaf_parts(
            real_arr, ann_key, self._annotations, self._decimals,
            nullable=nullable)
        if is_utf8:
            self._utf8.add(ann_key)
        optional = valid is not None
        max_def = def_level + (1 if optional else 0)
        max_rep = rep_level
        # has: the slots that carry a dense value
        if optional and not valid.all():
            if n_real == n_slots:
                has = valid
            else:
                has = real_mask.copy()
                has[real_mask] = valid
            dense = pw._dense_scalar(vals, np.flatnonzero(valid), phys,
                                     ann_key)
        else:
            has = real_mask
            dense = pw._dense_scalar(vals, None, phys, ann_key)
        # def levels: markers keep their cut def; live slots add 1 iff
        # the leaf is optional and the value is present
        d = None
        if max_def:
            d = defl + has if optional else defl
        if max_rep:
            row_starts = np.flatnonzero(rep_first == 0)
            n_rows = len(row_starts)
            lvl_ofs = np.empty(n_rows + 1, dtype=np.int64)
            lvl_ofs[:n_rows] = row_starts
            lvl_ofs[n_rows] = n_slots
            # dense values before a row = its level slots minus the
            # valueless slots (markers, nulls) before it
            gaps = np.flatnonzero(~has)
            dense_ofs = lvl_ofs - np.searchsorted(gaps, lvl_ofs)
            rep = rep_first
        else:
            n_rows = n_slots
            lvl_ofs = rep = None
            dense_ofs = None
            if n_real != n_slots or has is not real_mask:
                dense_ofs = np.zeros(n_slots + 1, dtype=np.int64)
                np.cumsum(has, out=dense_ofs[1:])
        leaf = pw._Leaf(path, phys, dense, n_rows=n_rows,
                        max_rep=max_rep, max_def=max_def, rep=rep, deflv=d,
                        lvl_ofs=lvl_ofs, dense_ofs=dense_ofs)
        self._leaves.append(leaf)
        self._schema.append(("leaf", leaf, 1 if optional else 0,
                             path[-1], ann_key))
