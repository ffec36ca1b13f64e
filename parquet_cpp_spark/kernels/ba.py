"""Columnar byte-array view: (uint8 data, int64 offsets) — the engine's
zero-object representation for BYTE_ARRAY columns.

The reference passes byte arrays as ``ByteArray {len, ptr}`` structs pointing
into the page buffer (``/root/reference/src/parquet/types.h:155-160``;
zero-copy decode ``encoding-internal.h:94-109``). The Python analog of that
zero-copy discipline is a pair of numpy arrays (Arrow's own binary layout):
``data`` holds the concatenated payload and ``offsets[i]:offsets[i+1]``
delimits value i. Every string kernel operates on views — no per-row Python
objects anywhere in the encode/decode hot path; lists of ``bytes`` are
accepted/produced only at the API boundary for compatibility and tests.

Views are always *dense*: ``offsets[0] == 0`` and
``len(data) == offsets[-1]``.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

_EMPTY_U8 = np.array([], dtype=np.uint8)


@dataclass(frozen=True, eq=False)
class ByteArrayView:
    data: np.ndarray      # uint8, contiguous concatenated payload
    offsets: np.ndarray   # int64, length n+1, offsets[0] == 0

    def __len__(self) -> int:
        return len(self.offsets) - 1

    def __getitem__(self, i) -> bytes:
        if isinstance(i, slice):
            start, stop, step = i.indices(len(self))
            if step != 1:
                raise ValueError("ByteArrayView slicing requires step 1")
            return slice_rows(self, start, stop)
        return self.data[self.offsets[i]: self.offsets[i + 1]].tobytes()

    def __iter__(self):
        for i in range(len(self)):
            yield self[i]

    def __eq__(self, other):
        if isinstance(other, ByteArrayView):
            return (np.array_equal(self.offsets, other.offsets)
                    and np.array_equal(self.data, other.data))
        if isinstance(other, (list, tuple)):
            return len(self) == len(other) and to_list(self) == list(other)
        return NotImplemented

    @property
    def lengths(self) -> np.ndarray:
        return np.diff(self.offsets)

    @property
    def total_bytes(self) -> int:
        return int(self.offsets[-1])


def from_list(values) -> ByteArrayView:
    """list[bytes] -> view. ``b"".join`` and the length scan are the only
    per-item costs (both C loops)."""
    n = len(values)
    if n == 0:
        return ByteArrayView(_EMPTY_U8, np.zeros(1, dtype=np.int64))
    data = np.frombuffer(b"".join(values), dtype=np.uint8)
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(np.fromiter(map(len, values), dtype=np.int64, count=n),
              out=offsets[1:])
    return ByteArrayView(data, offsets)


def as_view(values) -> ByteArrayView:
    return values if isinstance(values, ByteArrayView) else from_list(values)


def one_chunk(col):
    """Arrow Array or ChunkedArray -> Array, without the copy
    ``combine_chunks`` pays even for a single chunk (measured 11 ms per
    6.4M-value list column). The shortcut only fires for an unsliced single
    chunk, so the result is indistinguishable from ``combine_chunks`` for
    every downstream consumer."""
    import pyarrow as pa

    if not isinstance(col, pa.ChunkedArray):
        return col
    if col.num_chunks == 1 and col.chunk(0).offset == 0:
        return col.chunk(0)
    return col.combine_chunks()


def from_arrow(arr) -> ByteArrayView:
    """Arrow binary/string array -> dense view (zero-copy when the array is
    unsliced binary; otherwise one C-level normalization copy)."""
    import pyarrow as pa

    arr = one_chunk(arr)
    if arr.null_count:
        raise ValueError("from_arrow: nulls must be handled by the caller")
    if not pa.types.is_large_binary(arr.type):
        arr = arr.cast(pa.large_binary())
    buffers = arr.buffers()
    offsets = np.frombuffer(buffers[1], dtype=np.int64,
                            count=len(arr) + 1, offset=arr.offset * 8)
    data = np.frombuffer(buffers[2], dtype=np.uint8) if buffers[2] is not None \
        else _EMPTY_U8
    if offsets[0] != 0:  # sliced array: normalize to dense
        data = data[offsets[0]: offsets[-1]]
        offsets = offsets - offsets[0]
    else:
        data = data[: offsets[-1]]
    return ByteArrayView(np.ascontiguousarray(data), offsets)


def to_arrow(view: ByteArrayView):
    """View -> Arrow large_binary array, zero-copy."""
    import pyarrow as pa

    n = len(view)
    return pa.LargeBinaryArray.from_buffers(
        pa.large_binary(), n,
        [None, pa.py_buffer(np.ascontiguousarray(view.offsets)),
         pa.py_buffer(np.ascontiguousarray(view.data))])


def to_list(view: ByteArrayView) -> list[bytes]:
    """View -> list[bytes] via Arrow's C materializer (≈10x a Python loop)."""
    if len(view) == 0:
        return []
    return to_arrow(view).to_pylist()


def take(view: ByteArrayView, indices: np.ndarray) -> ByteArrayView:
    """Vectorized gather: view[indices] — the dictionary decode fused gather
    (reference ``GetBatchWithDict``, encoding-internal.h:351). Runs in
    Arrow's C take kernel (byte-index temporaries would swamp this
    DRAM-bound host)."""
    import pyarrow as pa

    indices = np.asarray(indices, dtype=np.int64)
    return from_arrow(to_arrow(view).take(pa.array(indices,
                                                   type=pa.int64())))


def concat(*views: ByteArrayView) -> ByteArrayView:
    """The views' values in order: one data concatenate plus one pass
    writing each view's offsets shifted by the bytes before it."""
    views = [v for v in views if len(v)]
    if len(views) <= 1:
        return views[0] if views else from_list([])
    offsets = np.empty(sum(len(v) for v in views) + 1, dtype=np.int64)
    offsets[0] = 0
    row = base = 0
    for v in views:
        np.add(v.offsets[1:], base, out=offsets[row + 1: row + 1 + len(v)])
        row += len(v)
        base += v.total_bytes
    return ByteArrayView(np.concatenate([v.data for v in views]), offsets)


def slice_rows(view: ByteArrayView, start: int, stop: int) -> ByteArrayView:
    """Dense row-range slice."""
    offs = view.offsets[start: stop + 1]
    return ByteArrayView(np.ascontiguousarray(view.data[offs[0]: offs[-1]]),
                         offs - offs[0])


def minmax(view: ByteArrayView) -> tuple[bytes, bytes]:
    """Vectorized min/max over the values (for chunk statistics)."""
    import pyarrow.compute as pc

    mm = pc.min_max(to_arrow(view))
    return mm["min"].as_py(), mm["max"].as_py()
