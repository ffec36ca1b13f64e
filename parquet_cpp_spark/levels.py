"""Dremel definition/repetition levels for list-shaped columns.

The input-hint schema has one REPEATED INT32 leaf (``tokens.element``) with
max_repetition_level = 1 and max_definition_level = 1 (the list itself is
REQUIRED, its elements are REQUIRED; an empty list is encoded as a single
position with def = 0). This mirrors how the reference writes REPEATED
columns (``/root/reference/src/parquet/column_writer.cc:616-629``: rep 0
delimits a record) and how the Arrow layer derives levels from offsets
(``/root/reference/src/parquet/arrow/writer.cc:71-262``).

Beyond the flat case, two deeper tree shapes are supported, mirroring the
reference's general schema tree (``schema.h:106-303``; 3-level list
encoding ``schema.h:43-77``; nested-list round-trips
``arrow/arrow-reader-writer-test.cc:1137-1928``):

- list with NULLABLE elements (``array<int32?>``): max_def = 2
  (def 0 = empty list, 1 = null element slot, 2 = present value);
- list-of-list (``array<array<int32>>``): max_rep = 2, max_def = 2
  (rep 0 = new row, 1 = new inner list, 2 = continuation;
  def 0 = empty outer, 1 = empty inner, 2 = value).

Levels are derived fully vectorized (no per-row Python) and coded with the
RLE hybrid behind a u32 length prefix, like V1 data pages
(``column_writer.cc:331-352``).
"""

from __future__ import annotations

import numpy as np


def levels_from_lengths(lengths: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(rep_levels, def_levels) from per-row token counts.

    Each row emits max(len, 1) level positions: rep = 0 at the row start,
    1 for continuations; def = 1 for real values, 0 for the empty-list marker.
    """
    lengths = np.ascontiguousarray(lengths, dtype=np.int64)
    slots = np.maximum(lengths, 1)
    total = int(slots.sum())
    # int8: levels are tiny ints; narrow dtype keeps the RLE pass cheap on
    # memory bandwidth (one level slot per token)
    rep = np.ones(total, dtype=np.int8)
    starts = np.zeros(len(lengths), dtype=np.int64)
    np.cumsum(slots[:-1], out=starts[1:])
    rep[starts] = 0
    d = np.ones(total, dtype=np.int8)
    empty_rows = starts[lengths == 0]
    d[empty_rows] = 0
    return rep, d


def lengths_from_bit1_streams(buf, n_slots: int, pos: int) -> \
        tuple[np.ndarray, int]:
    """Per-row token counts straight from the two length-prefixed bit-width-1
    level streams (the max_rep=1/max_def=1 V1 page shape), without
    materializing the n_slots-sized rep/def arrays.

    Equivalent to ``rle.decode`` x2 + :func:`lengths_from_levels` — the
    levels are 0/1 by construction (bit width 1), records start where
    rep==0, and def==0 positions contribute no value — but runs at the RUN
    level: ~8 bytes of work per row instead of two 8-byte-per-slot arrays
    plus an n_slots cumsum (the decode path's largest memory traffic)."""
    from .kernels import rle

    rep_len = int.from_bytes(buf[pos: pos + 4], "little")
    rep_zero = rle.bit1_zero_positions(buf, n_slots, pos + 4,
                                       pos + 4 + rep_len)
    pos = pos + 4 + rep_len
    def_len = int.from_bytes(buf[pos: pos + 4], "little")
    def_zero = rle.bit1_zero_positions(buf, n_slots, pos + 4,
                                       pos + 4 + def_len)
    pos = pos + 4 + def_len
    bounds = np.concatenate((rep_zero, [n_slots]))
    slots = np.diff(bounds)
    if len(def_zero):
        zc = np.searchsorted(def_zero, bounds, side="left")
        slots = slots - np.diff(zc)
    return slots, pos


def lengths_from_levels(rep: np.ndarray, deflev: np.ndarray) -> np.ndarray:
    """Reconstruct per-row token counts: rep==0 starts a record
    (``RecordReader::DelimitRecords``,
    ``/root/reference/src/parquet/arrow/record_reader.cc:144``); positions
    with def==0 contribute no value."""
    starts = np.flatnonzero(rep == 0)
    n_rows = len(starts)
    bounds = np.concatenate((starts, [len(rep)]))
    # values per record = count of def==1 positions in the record
    cum_def = np.concatenate(([0], np.cumsum(deflev == 1)))
    return (cum_def[bounds[1:]] - cum_def[bounds[:-1]]).astype(np.int64)


# ---------------------------------------------------------------------------
# Nullable list elements: array<int32?>, max_def = 2
# ---------------------------------------------------------------------------

def levels_from_lengths_nullable(lengths: np.ndarray,
                                 elem_valid: np.ndarray
                                 ) -> tuple[np.ndarray, np.ndarray]:
    """(rep, def) for a list column whose *elements* may be NULL.

    ``lengths`` counts SLOTS per row (nulls included); ``elem_valid`` is one
    bool per slot. def: 0 = empty-list marker, 1 = null slot, 2 = value.
    """
    lengths = np.ascontiguousarray(lengths, dtype=np.int64)
    elem_valid = np.ascontiguousarray(elem_valid, dtype=bool)
    slots = np.maximum(lengths, 1)
    total = int(slots.sum())
    rep = np.ones(total, dtype=np.int8)
    starts = np.zeros(len(lengths), dtype=np.int64)
    np.cumsum(slots[:-1], out=starts[1:])
    rep[starts] = 0
    # positions of real slots (rows with length 0 own one marker position)
    d = np.empty(total, dtype=np.int8)
    real_pos = _real_slot_positions(lengths, slots, starts)
    d[:] = 0
    d[real_pos] = np.where(elem_valid, 2, 1).astype(np.int8)
    return rep, d


def _real_slot_positions(lengths, slots, starts) -> np.ndarray:
    """Level positions carrying real element slots (skipping empty-list
    markers), vectorized."""
    n_slots = int(lengths.sum())
    if n_slots == 0:
        return np.zeros(0, dtype=np.int64)
    row_of = np.repeat(np.arange(len(lengths), dtype=np.int64), lengths)
    cum = np.zeros(len(lengths) + 1, dtype=np.int64)
    np.cumsum(lengths, out=cum[1:])
    intra = np.arange(n_slots, dtype=np.int64) - cum[row_of]
    return starts[row_of] + intra


def nullable_from_levels(rep: np.ndarray, deflev: np.ndarray
                         ) -> tuple[np.ndarray, np.ndarray]:
    """Inverse: (slot lengths per row, per-slot validity mask)."""
    row_starts = np.flatnonzero(rep == 0)
    bounds = np.concatenate((row_starts, [len(rep)]))
    is_slot = deflev >= 1
    cum_slot = np.concatenate(([0], np.cumsum(is_slot)))
    lengths = (cum_slot[bounds[1:]] - cum_slot[bounds[:-1]]).astype(np.int64)
    elem_valid = (deflev[is_slot] == 2)
    return lengths, elem_valid


# ---------------------------------------------------------------------------
# List-of-list: array<array<int32>>, max_rep = 2, max_def = 2
# ---------------------------------------------------------------------------

def levels_from_nested_lengths(outer_lengths: np.ndarray,
                               inner_lengths: np.ndarray
                               ) -> tuple[np.ndarray, np.ndarray]:
    """(rep, def) for list-of-list. ``outer_lengths[i]`` = inner lists in
    row i; ``inner_lengths`` = flattened element counts per inner list.

    rep: 0 starts a row, 1 starts an inner list, 2 continues one.
    def: 0 = empty outer list, 1 = empty inner list, 2 = value present.
    """
    outer = np.ascontiguousarray(outer_lengths, dtype=np.int64)
    inner = np.ascontiguousarray(inner_lengths, dtype=np.int64)
    if int(outer.sum()) != len(inner):
        raise ValueError("outer_lengths must sum to len(inner_lengths)")
    inner_slots = np.maximum(inner, 1)        # one marker per empty inner
    # slots per row: sum of its inner slots, or 1 marker if row empty
    row_of_inner = np.repeat(np.arange(len(outer), dtype=np.int64), outer)
    row_slots = np.zeros(len(outer), dtype=np.int64)
    np.add.at(row_slots, row_of_inner, inner_slots)
    row_slots[outer == 0] = 1
    total = int(row_slots.sum())

    rep = np.full(total, 2, dtype=np.int8)
    d = np.full(total, 2, dtype=np.int8)
    row_starts = np.zeros(len(outer), dtype=np.int64)
    np.cumsum(row_slots[:-1], out=row_starts[1:])
    inner_positions = _inner_start_positions(outer, inner_slots, row_starts)
    rep[inner_positions] = 1
    # empty inner lists: their single marker slot has def = 1
    empty_inner = inner == 0
    if empty_inner.any():
        d[inner_positions[empty_inner]] = 1
    # row starts override rep to 0; empty rows carry def 0
    rep[row_starts] = 0
    d[row_starts[outer == 0]] = 0
    return rep, d


def _inner_start_positions(outer, inner_slots, row_starts) -> np.ndarray:
    """Global level position of each inner list's first slot."""
    n_inner = len(inner_slots)
    if n_inner == 0:
        return np.zeros(0, dtype=np.int64)
    row_of_inner = np.repeat(np.arange(len(outer), dtype=np.int64), outer)
    # within-row running offset of each inner list
    cum_all = np.zeros(n_inner + 1, dtype=np.int64)
    np.cumsum(inner_slots, out=cum_all[1:])
    first_inner_idx = np.zeros(len(outer), dtype=np.int64)
    np.cumsum(outer[:-1], out=first_inner_idx[1:])
    within = cum_all[:-1] - cum_all[first_inner_idx[row_of_inner]]
    return row_starts[row_of_inner] + within


def nested_from_levels(rep: np.ndarray, deflev: np.ndarray
                       ) -> tuple[np.ndarray, np.ndarray]:
    """Inverse: (outer_lengths, inner_lengths)."""
    row_starts = np.flatnonzero(rep == 0)
    inner_starts = np.flatnonzero((rep <= 1) & (deflev >= 1))
    row_bounds = np.concatenate((row_starts, [len(rep)]))
    # inner lists per row = inner starts within the row span
    outer = (np.searchsorted(inner_starts, row_bounds[1:])
             - np.searchsorted(inner_starts, row_bounds[:-1])).astype(np.int64)
    # values per inner list = def==2 positions within the inner span
    inner_bounds = np.concatenate((inner_starts, [len(rep)]))
    cum_val = np.concatenate(([0], np.cumsum(deflev == 2)))
    inner = (cum_val[inner_bounds[1:]]
             - cum_val[inner_bounds[:-1]]).astype(np.int64)
    return outer, inner
