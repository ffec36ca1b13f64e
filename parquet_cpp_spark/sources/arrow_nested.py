"""Arbitrary-depth Arrow columns for the PAR1 writer: the general
rep/def level builder.

The specialized spec classes in ``parquet_writer`` (ListColumn,
StructColumn, MapColumn, NestedListColumn, ListStructColumn) cover the
common shapes with hand-derived level schemes; this module is the
GENERAL path — one recursive, fully vectorized walker that turns a
pyarrow array of ANY supported nesting (lists / structs / maps stacked
to any depth, nulls at every level) into the writer's ``_Leaf`` model
(dense values + precomputed rep/def level streams + row offset maps)
plus the matching thrift schema-tree elements.

This is the reference's recursive Arrow path builder re-expressed in
numpy: ``/root/reference/src/parquet/arrow/path_internal.cc`` walks
each column's type tree maintaining per-node repetition/definition
context and emits one leaf stream per primitive node;
``arrow/schema.cc`` mirrors the same walk for the SchemaElement tree.
Identical level semantics, different execution strategy — instead of
per-value state machines we carry whole-column slot arrays
(``slot_idx`` / ``rep_first`` / ``defl``) down the recursion and expand
them with ``np.repeat``/cumsum at each repeated node, so the cost per
level is O(slots) vectorized work with no per-row Python.

Level scheme (parquet-format logical rules, the same accounting the
specialized classes use): every OPTIONAL node on a path adds one def
level, every REPEATED node adds one def level and one rep level; a
slot that terminates at a node (null value, null/empty list, null
struct ancestor) emits one marker slot at every leaf below it carrying
the def level accumulated to the cut point. A node is emitted OPTIONAL
iff the Arrow FIELD is nullable OR the batch contains nulls at it —
schema-driven, so sibling partitions of one dataset (with and without
observed nulls) write the SAME parquet schema; an all-present OPTIONAL
node costs one RLE run of def levels, not a schema divergence.

``ArrowColumn`` plugs into ``write_file`` through three duck-typed
hooks (``pcs_leaves`` / ``pcs_schema`` / ``pcs_annotations``) so the
writer keeps zero imports of this module; ``parquet_sink`` falls back
to it for any column shape its specialized fast paths don't express
(3-deep lists, nesting inside list<struct> elements, map values that
are themselves lists/structs/maps, list<decimal>, ...).
"""

from __future__ import annotations

import numpy as np

from ..kernels import ba

_SYNTH = ("list", "element", "key_value")


def _elem_indices(starts: np.ndarray, lengths: np.ndarray) -> np.ndarray:
    """Concatenated ``arange(starts[i], starts[i]+lengths[i])`` without a
    Python loop: repeat each start, add a per-group ramp."""
    total = int(lengths.sum())
    if total == 0:
        return np.empty(0, dtype=np.int64)
    rep_starts = np.repeat(starts, lengths)
    cum = np.zeros(len(lengths), dtype=np.int64)
    np.cumsum(lengths[:-1], out=cum[1:])
    ramp = np.arange(total, dtype=np.int64) - np.repeat(cum, lengths)
    return rep_starts + ramp


class ArrowColumn:
    """One top-level column backed by a pyarrow array of any supported
    nesting. Walks the type tree once at construction, producing the
    writer leaves (in schema DFS order), the schema-element skeletons,
    and the harvested utf8/temporal/decimal annotation keys."""

    def __init__(self, name: str, array, nullable: bool = False):
        array = ba.one_chunk(array)
        self.name = name
        self._leaves: list = []
        self._schema: list = []     # ("group", rep, name, nchildren, conv)
        #                           | ("leaf", leaf_obj, rep, name, ann_key)
        self._utf8: set = set()
        self._annotations: dict = {}
        self._decimals: dict = {}
        self._n_values = 0   # value slots across leaves (manifest metric)
        n = len(array)
        slot_idx = np.arange(n, dtype=np.int64)
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
        value node (present-or-null values; ancestor-cut markers excluded)
        — the same accounting the specialized sink specs report (rows for
        flat/struct leaves, element counts under repeated nodes)."""
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
        live non-empty slots, one marker slot for everything else (old
        markers, null lists, empty lists)."""
        n_slots = len(slot_idx)
        lengths = np.zeros(n_slots, dtype=np.int64)
        lr = (off[real_idx + 1] - off[real_idx]) if len(real_idx) else \
            np.empty(0, dtype=np.int64)
        if optional:
            # a null slot's extent (normally 0) is skipped, not written
            lr = np.where(v, lr, 0)
        lengths[real_mask] = lr
        live = np.zeros(n_slots, dtype=bool)
        live[real_mask] = v if optional else True
        nonempty = live & (lengths > 0)
        counts = np.where(nonempty, lengths, 1)
        starts = np.zeros(n_slots, dtype=np.int64)
        np.cumsum(counts[:-1], out=starts[1:])
        total = int(counts.sum())
        c_rep = np.full(total, rep_level + 1, dtype=np.int8)
        c_rep[starts] = rep_first
        # per-slot def for expansion: old marker -> unchanged final def;
        # null list -> defl; empty list -> defl+opt; non-empty children
        # inherit defl+opt+1 as their ancestor def
        slot_def = defl.copy()
        if optional:
            add = np.zeros(n_slots, dtype=np.int8)
            add[real_mask] = v.astype(np.int8)
            slot_def = slot_def + add
        slot_def = slot_def + nonempty.astype(np.int8)
        c_defl = np.repeat(slot_def, counts)
        c_slot = np.full(total, -1, dtype=np.int64)
        ne = np.flatnonzero(nonempty)
        if len(ne):
            ne_len = lengths[ne]
            elem_idx = _elem_indices(off[slot_idx[ne]], ne_len)
            pos = _elem_indices(starts[ne], ne_len)
            c_slot[pos] = elem_idx
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
        self._walk(arr.values, path + ["list", "element"],
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
        self._walk(arr.keys, path + ["key_value", "key"],
                   c_slot, c_rep, c_defl, rep_level + 1,
                   def_level + opt + 1, False)
        self._walk(arr.items, path + ["key_value", "value"],
                   c_slot, c_rep.copy(), c_defl, rep_level + 1,
                   def_level + opt + 1, arr.type.item_field.nullable)

    def _walk_leaf(self, arr, path, slot_idx, rep_first, defl,
                   rep_level, def_level, nullable=False):
        import pyarrow as pa

        from . import parquet_sink as sink
        from . import parquet_writer as pw

        ann_key = ".".join(p for p in path if p not in _SYNTH)
        real_mask = slot_idx >= 0
        real_idx = slot_idx[real_mask]
        self._n_values += int(real_mask.sum())
        n_slots = len(slot_idx)
        contiguous = len(real_idx) == len(arr) and \
            (len(real_idx) == 0 or
             (real_idx[0] == 0 and real_idx[-1] == len(arr) - 1 and
              bool((np.diff(real_idx) == 1).all())))
        real_arr = arr if contiguous else \
            arr.take(pa.array(real_idx, pa.int64()))
        phys, vals, valid_mask, is_utf8 = sink._leaf_parts(
            real_arr, ann_key, self._annotations, self._decimals,
            nullable=nullable)
        if is_utf8:
            self._utf8.add(ann_key)
        optional = valid_mask is not None
        max_def = def_level + (1 if optional else 0)
        max_rep = rep_level
        dense = pw._dense_scalar(
            vals, np.flatnonzero(valid_mask) if optional else None,
            phys, ann_key)
        # def levels: markers keep their cut def; live slots add 1 iff
        # the leaf is optional and the value is present
        if max_def:
            d = defl.copy()
            if optional:
                add = np.zeros(n_slots, dtype=np.int8)
                add[real_mask] = valid_mask.astype(np.int8)
                d = d + add
        else:
            d = None
        if max_rep:
            row_starts = np.flatnonzero(rep_first == 0).astype(np.int64)
            n_rows = len(row_starts)
            lvl_ofs = np.empty(n_rows + 1, dtype=np.int64)
            lvl_ofs[:n_rows] = row_starts
            lvl_ofs[n_rows] = n_slots
            has = np.zeros(n_slots, dtype=np.int64)
            has[real_mask] = valid_mask if optional else 1
            cum = np.zeros(n_slots + 1, dtype=np.int64)
            np.cumsum(has, out=cum[1:])
            dense_ofs = cum[lvl_ofs]
            rep = rep_first
        else:
            n_rows = n_slots
            lvl_ofs = None
            rep = None
            if optional or not real_mask.all():
                has = np.zeros(n_slots, dtype=np.int64)
                has[real_mask] = valid_mask if optional else 1
                dense_ofs = np.zeros(n_slots + 1, dtype=np.int64)
                np.cumsum(has, out=dense_ofs[1:])
            else:
                dense_ofs = None
        leaf = pw._Leaf(path, phys, dense, n_rows=n_rows,
                        use_dictionary=phys == "byte_array",
                        max_rep=max_rep, max_def=max_def,
                        rep=rep if max_rep else None, deflv=d,
                        lvl_ofs=lvl_ofs, dense_ofs=dense_ofs)
        self._leaves.append(leaf)
        self._schema.append(("leaf", leaf, 1 if optional else 0,
                             path[-1], ann_key))
