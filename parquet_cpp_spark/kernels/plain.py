"""PLAIN encoding — little-endian memcpy of values.

Mirrors ``/root/reference/src/parquet/encoding-internal.h:186-317`` (encode)
and ``:51-137`` (decode): fixed-width types are raw LE arrays, BOOLEAN is
1-bit-packed, BYTE_ARRAY is u32-LE length + bytes per value
(``parquet.thrift:406``), FIXED_LEN_BYTE_ARRAY is the raw bytes.
"""

from __future__ import annotations

import numpy as np

_DTYPES = {
    "int32": np.dtype("<i4"),
    "int64": np.dtype("<i8"),
    # unsigned logical ints (reference UINT_32/UINT_64, types.h:63-90):
    # same 4/8-byte LE storage as their signed physical types, unsigned
    # numpy dtype so stats/compares follow SortOrder::UNSIGNED
    "uint32": np.dtype("<u4"),
    "uint64": np.dtype("<u8"),
    "float": np.dtype("<f4"),
    "double": np.dtype("<f8"),
}


def encode_fixed(values: np.ndarray, phys: str) -> bytes:
    dt = _DTYPES[phys]
    return np.ascontiguousarray(values, dtype=dt).tobytes()


def decode_fixed(buf, n_values: int, phys: str, pos: int = 0) -> tuple[np.ndarray, int]:
    dt = _DTYPES[phys]
    arr = np.frombuffer(buf, dtype=dt, count=n_values, offset=pos)
    return arr, pos + n_values * dt.itemsize


def encode_boolean(values: np.ndarray) -> bytes:
    """1 bit per value, LSB-first (reference's BitWriter,
    ``encoding-internal.h:206-281``)."""
    v = np.ascontiguousarray(values, dtype=np.uint8)
    return np.packbits(v, bitorder="little").tobytes()


def decode_boolean(buf, n_values: int, pos: int = 0) -> tuple[np.ndarray, int]:
    nbytes = (n_values + 7) // 8
    raw = np.frombuffer(buf, dtype=np.uint8, count=nbytes, offset=pos)
    bits = np.unpackbits(raw, bitorder="little", count=n_values)
    return bits.astype(bool), pos + nbytes


def encode_byte_array(values) -> bytes:
    """u32-LE length + payload per value. The interleave runs in Arrow's C
    element-wise join (one output pass): the length words become a
    fixed_size_binary(4) array over the raw u32 buffer, joined with the
    payload values. No per-value Python, and no large index temporaries —
    this host is DRAM-bandwidth-bound, so an 8-byte-per-element fancy-index
    scatter would cost more than the payload itself. Accepts list[bytes] or
    a ``ba.ByteArrayView``."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from . import ba

    view = ba.as_view(values)
    n = len(view)
    if n == 0:
        return b""
    lens_le = view.lengths.astype("<u4").tobytes()
    len_arr = pa.FixedSizeBinaryArray.from_buffers(
        pa.binary(4), n, [None, pa.py_buffer(lens_le)]).cast(pa.large_binary())
    joined = pc.binary_join_element_wise(
        len_arr, ba.to_arrow(view), pa.scalar(b"", type=pa.large_binary()))
    return joined.buffers()[2].to_pybytes()[: view.total_bytes + 4 * n]


def decode_byte_array_view(buf, n_values: "int | None", pos: int = 0):
    """-> (ba.ByteArrayView, end_pos). ``n_values=None`` decodes every
    value up to the end of ``buf`` (a dictionary section stores no entry
    count), so the count comes from this one walk. The length-prefix
    walk is an inherently sequential scan (p += 4 + len(p)) kept as a
    minimal int.from_bytes loop; stripping the 4-byte prefixes is one
    Arrow C pass (binary_slice over record spans [start_i, start_{i+1})."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from . import ba

    a = np.frombuffer(buf, dtype=np.uint8)
    end = len(a)
    if n_values is not None and 4 * n_values > end - pos:
        # before the n-sized allocation
        raise ValueError(f"corrupt PLAIN byte_array: {n_values} values "
                         f"need more than the {end - pos} bytes left")
    mv = buf if isinstance(buf, (bytes, memoryview)) else memoryview(buf)
    p = pos
    fb = int.from_bytes
    if n_values is None:
        # every value takes at least its 4-byte prefix
        starts = np.empty((end - pos) // 4 + 2, dtype=np.int64)
        n_values = 0
        while p < end:
            starts[n_values] = p
            p += 4 + fb(mv[p: p + 4], "little")
            n_values += 1
    else:
        starts = np.empty(n_values + 1, dtype=np.int64)
        for i in range(n_values):
            starts[i] = p
            p += 4 + fb(mv[p: p + 4], "little")
    if p > end:
        raise ValueError(f"corrupt PLAIN byte_array: {n_values} values run "
                         f"past the {end}-byte buffer")
    if n_values == 0:
        return ba.ByteArrayView(np.array([], dtype=np.uint8),
                                np.zeros(1, dtype=np.int64)), pos
    starts[n_values] = p
    records = pa.LargeBinaryArray.from_buffers(
        pa.large_binary(), n_values,
        [None, pa.py_buffer(starts[:n_values + 1]), pa.py_buffer(a)])
    payload = pc.binary_slice(records, 4, 1 << 40)
    return ba.from_arrow(payload), p


def decode_byte_array(buf, n_values: int, pos: int = 0) -> tuple[list[bytes], int]:
    from . import ba

    view, pos = decode_byte_array_view(buf, n_values, pos)
    return ba.to_list(view), pos


def encode_flba(values, type_length: int) -> bytes:
    """PLAIN FLBA: concatenated fixed-width values. ``values`` is either
    a list of ``type_length``-byte strings or an (n, type_length) uint8
    matrix (the vectorized decimal path — one .tobytes(), no per-row
    Python)."""
    if isinstance(values, np.ndarray):
        if values.ndim != 2 or values.shape[1] != type_length \
                or values.dtype != np.uint8:
            raise ValueError("FLBA matrix must be (n, type_length) uint8")
        return np.ascontiguousarray(values).tobytes()
    for v in values:
        if len(v) != type_length:
            raise ValueError("FLBA value length mismatch")
    return b"".join(values)


def decode_flba(buf, n_values: int, type_length: int, pos: int = 0) -> tuple[list[bytes], int]:
    mv = memoryview(buf)
    out = [bytes(mv[pos + i * type_length: pos + (i + 1) * type_length])
           for i in range(n_values)]
    return out, pos + n_values * type_length
