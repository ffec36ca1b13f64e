"""LSB-first bit-packing, as used by the parquet RLE/bit-packing hybrid.

Semantics follow the parquet-format spec (bit-packed run of the RLE hybrid):
value ``i``'s bit ``j`` lands at bitstream position ``i * bit_width + j``, and
the bitstream is laid out little-endian within bytes. This is the same layout
parquet-cpp gets from Arrow's ``BitWriter`` (see use in
``/root/reference/src/parquet/encoding-internal.h:766-780`` for dictionary
indices and ``/root/reference/src/parquet/column_writer.cc:39-110`` for
levels).

Vectorized via numpy (no per-value Python).
"""

from __future__ import annotations

import numpy as np


def bytes_for(n_values: int, bit_width: int) -> int:
    """Bytes needed to pack ``n_values`` at ``bit_width`` bits each."""
    return (n_values * bit_width + 7) // 8


def _lane_dtype(bit_width: int):
    if bit_width <= 8:
        return np.dtype("<u1")
    if bit_width <= 16:
        return np.dtype("<u2")
    if bit_width <= 32:
        return np.dtype("<u4")
    return np.dtype("<u8")


def bits_of(values: np.ndarray, bit_width: int) -> np.ndarray:
    """(n, bit_width) uint8 bit matrix, LSB-first — via the C-fast
    little-endian byte view + unpackbits, no Python-level shifting."""
    dt = _lane_dtype(bit_width)
    v = np.ascontiguousarray(values, dtype=dt)
    by = v.view(np.uint8).reshape(len(v), dt.itemsize)
    return np.unpackbits(by, axis=1, bitorder="little")[:, :bit_width]


def values_from_bits(bits: np.ndarray, bit_width: int,
                     out_dtype=np.int64) -> np.ndarray:
    """Inverse of :func:`bits_of`: (n, bit_width) uint8 -> values."""
    dt = _lane_dtype(bit_width)
    n = len(bits)
    padded = np.zeros((n, dt.itemsize * 8), dtype=np.uint8)
    padded[:, :bit_width] = bits
    by = np.packbits(padded, axis=1, bitorder="little")
    return by.view(dt).ravel().astype(out_dtype, copy=False)


def pack_rows(vals: np.ndarray, bit_width: int) -> np.ndarray:
    """(k, m) uint64 values (< 2**bit_width, m*bit_width byte-aligned) ->
    (k, m*bit_width/8) uint8 LSB-first bitstream per row. Vectorized u64
    accumulation: m shift/or passes over all rows at once — ~1 byte of
    traffic per packed bit instead of the 8x of a per-bit matrix."""
    k, m = vals.shape
    w = bit_width
    nwords = (m * w + 63) // 64
    acc = np.zeros((k, nwords), dtype=np.uint64)
    # Cache-blocked like pack_rows32 (see there): acc crosses DRAM once,
    # not m times. 8k rows x <=8 words x 8 B = <=512 KiB acc per block.
    B = 8192
    for s in range(0, k, B):
        e = min(s + B, k)
        ab = acc[s:e]
        vb = vals[s:e]
        for i in range(m):
            bit = i * w
            wl, sh = bit >> 6, bit & 63
            ab[:, wl] |= vb[:, i] << np.uint64(sh)
            if sh + w > 64:
                ab[:, wl + 1] |= vb[:, i] >> np.uint64(64 - sh)
    if acc.dtype.byteorder == ">":
        acc = acc.byteswap()
    return acc.view(np.uint8).reshape(k, nwords * 8)[:, : m * w // 8]


def pack_rows32(vals: np.ndarray, bit_width: int) -> np.ndarray:
    """u32-lane variant of :func:`pack_rows` for ``bit_width <= 25``
    (uint32 rows in, same LSB-first bitstream out — little-endian u32
    words concatenate to the identical byte sequence as u64 words). Half
    the accumulator/temp traffic of the u64 lane; on this DRAM-throttled
    host that is the difference that keeps the pack phase core-bound."""
    k, m = vals.shape
    w = bit_width
    nwords = (m * w + 31) // 32
    acc = np.zeros((k, nwords), dtype=np.uint32)
    # Cache-blocked accumulation: the m shift/or passes re-touch every acc
    # word, so running them over the whole (k, nwords) array makes the
    # accumulator traffic m x its size in DRAM. Blocking rows keeps each
    # block's acc (and its vals rows) L2-resident across all m passes —
    # acc crosses DRAM once instead of m times. 16k rows x <=7 words x 4 B
    # = <=448 KiB acc + 512 KiB vals per block. Measured 27-43% faster on
    # the bench width profile single-core; the traffic cut is the point at
    # 32 cores (DRAM-throttled host). Bitstream identical: same ors, same
    # destinations, just a different iteration order over rows.
    B = 16384
    for s in range(0, k, B):
        e = min(s + B, k)
        ab = acc[s:e]
        vb = vals[s:e]
        for i in range(m):
            bit = i * w
            wl, sh = bit >> 5, bit & 31
            ab[:, wl] |= vb[:, i] << np.uint32(sh)
            if sh + w > 32:
                ab[:, wl + 1] |= vb[:, i] >> np.uint32(32 - sh)
    if acc.dtype.byteorder == ">":
        acc = acc.byteswap()
    return acc.view(np.uint8).reshape(k, nwords * 4)[:, : m * w // 8]


def _rows_u32(values: np.ndarray) -> np.ndarray:
    """uint32 view/cast for the narrow pack lane (zero-copy for int32)."""
    v = np.ascontiguousarray(values)
    if v.dtype == np.int32:
        return v.view(np.uint32)
    if v.dtype == np.uint32:
        return v
    return v.astype(np.uint32)


def pack(values: np.ndarray, bit_width: int) -> bytes:
    """Pack non-negative integers into an LSB-first bitstream.

    Values must fit in ``bit_width`` bits (callers guarantee this; the
    reference computes the width from the max value the same way,
    ``encoding-internal.h:499-503``).
    """
    n = len(values)
    if bit_width == 0 or n == 0:
        return b""
    if bit_width > 64:
        raise ValueError(f"bit_width {bit_width} > 64")
    if bit_width == 1:  # levels' common case: one C packbits pass
        return np.packbits(np.ascontiguousarray(values, dtype=np.uint8),
                           bitorder="little").tobytes()
    if bit_width == 8:
        return np.ascontiguousarray(values, dtype=np.uint8).tobytes()
    if bit_width == 16:
        return np.ascontiguousarray(values).astype("<u2").tobytes()
    narrow = bit_width <= 25
    v = _rows_u32(values) if narrow \
        else np.ascontiguousarray(values).astype(np.uint64, copy=False)
    rows = pack_rows32 if narrow else pack_rows
    n8 = (n // 8) * 8
    head = rows(v[:n8].reshape(-1, 8), bit_width).tobytes() if n8 \
        else b""
    if n == n8:
        return head
    tailv = np.zeros(8, dtype=v.dtype)
    tailv[: n - n8] = v[n8:]
    tail_bits = (n - n8) * bit_width
    tail = rows(tailv.reshape(1, 8), bit_width).tobytes()
    return head + tail[: (tail_bits + 7) // 8]


def unpack_padded(padded: np.ndarray, n_values: int, bit_width: int,
                  out_dtype=np.int64, bit0: int = 0) -> np.ndarray:
    """Unpack an LSB-first bitstream given a uint8 array with >=8 bytes of
    slack past the last value. Byte-window gather: value i's bits live in
    the 4-byte (w<=25) or 8-byte (w<=57) little-endian window at byte
    (bit0+i*w)//8 — ~4-8 bytes of memory traffic per value instead of the
    8-64x blowup of a per-bit matrix (this host is DRAM-bandwidth-bound)."""
    w = bit_width
    bitpos = np.arange(n_values, dtype=np.int64) * w + bit0
    bytepos = bitpos >> 3
    if w <= 25:
        shift = (bitpos & 7).astype(np.uint32)
        win = padded[bytepos].astype(np.uint32)
        # window bytes needed: ceil((7 + w) / 8) covers any shift in 0..7
        for k in range(1, (w + 14) // 8):
            win |= padded[bytepos + k].astype(np.uint32) << np.uint32(8 * k)
        vals = (win >> shift) & np.uint32((1 << w) - 1)
        return vals.astype(out_dtype, copy=False)
    if w <= 57:
        shift = (bitpos & 7).astype(np.uint64)
        win = padded[bytepos].astype(np.uint64)
        for k in range(1, 8):
            win |= padded[bytepos + k].astype(np.uint64) << np.uint64(8 * k)
        vals = (win >> shift) & np.uint64((1 << w) - 1)
        return vals.astype(out_dtype, copy=False)
    # 58..64 bits: rare; per-bit fallback
    total_bits = bit0 + n_values * w
    bits = np.unpackbits(padded[: (total_bits + 7) // 8],
                         bitorder="little", count=total_bits)[bit0:]
    return values_from_bits(bits.reshape(n_values, w), w, out_dtype)


def unpack(buf: bytes | memoryview, n_values: int, bit_width: int,
           out_dtype=np.int64) -> np.ndarray:
    """Inverse of :func:`pack`. Reads exactly ``bytes_for(n, w)`` bytes."""
    if bit_width == 0 or n_values == 0:
        return np.zeros(n_values, dtype=out_dtype)
    nbytes = bytes_for(n_values, bit_width)
    raw = np.frombuffer(buf, dtype=np.uint8, count=nbytes)
    padded = np.concatenate([raw, np.zeros(8, dtype=np.uint8)])
    return unpack_padded(padded, n_values, bit_width, out_dtype)


def width_for_max(max_value: int) -> int:
    """bit_width = number of bits to represent max_value (0 for 0)."""
    if max_value < 0:
        raise ValueError("bit-packing requires non-negative values")
    return int(max_value).bit_length()
