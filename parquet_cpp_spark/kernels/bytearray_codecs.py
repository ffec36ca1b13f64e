"""String/byte-array codecs: DELTA_LENGTH_BYTE_ARRAY and DELTA_BYTE_ARRAY.

DELTA_LENGTH_BYTE_ARRAY (reference decoder
``/root/reference/src/parquet/encoding-internal.h:883-920``, encoder semantics
``/root/reference/benchmarks/decode_benchmark.cc:116-152``):
    [i32 LE total-lengths-blob-len][DELTA_BINARY_PACKED(lengths)][payload]

DELTA_BYTE_ARRAY — incremental (shared-prefix) string coding (reference
decoder ``encoding-internal.h:925-975``, encoder
``decode_benchmark.cc:154-197``): prefix lengths (vs the previous value) are
DELTA_BINARY_PACKED; suffixes are a DELTA_LENGTH_BYTE_ARRAY stream;
``value[i] = value[i-1][:prefix_len[i]] + suffix[i]``.

All kernels run on ``ba.ByteArrayView`` (uint8 data + int64 offsets) with no
per-row Python: prefix lengths come from one vectorized adjacent-byte
compare over all value pairs at once, and prefix reconstruction on decode
resolves the chain ``value[i][j] = value[k][j]`` (k = last value at or
before i whose prefix ends by j) one byte-column at a time.
"""

from __future__ import annotations

import numpy as np

from . import ba, delta


def encode_delta_length(values) -> bytes:
    view = ba.as_view(values)
    lens_blob = delta.encode(view.lengths)
    return (len(lens_blob).to_bytes(4, "little") + lens_blob
            + view.data.tobytes())


def decode_delta_length_view(buf, pos: int = 0) -> tuple[ba.ByteArrayView, int]:
    mv = memoryview(buf) if not isinstance(buf, memoryview) else buf
    lens_blob_len = int.from_bytes(mv[pos: pos + 4], "little")
    pos += 4
    lens, _ = delta.decode(mv[pos: pos + lens_blob_len])
    pos += lens_blob_len
    n = len(lens)
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])
    total = int(offsets[-1])
    data = np.frombuffer(mv, dtype=np.uint8, count=total, offset=pos)
    return ba.ByteArrayView(data, offsets), pos + total


def decode_delta_length(buf, pos: int = 0) -> tuple[list[bytes], int]:
    view, pos = decode_delta_length_view(buf, pos)
    return ba.to_list(view), pos


def _prefix_lengths(view: ba.ByteArrayView) -> np.ndarray:
    """Common-prefix length of each value vs its predecessor (value 0 -> 0),
    for all pairs at once: compare data[prev] with data[cur] over the
    min-length span of every adjacent pair, then take the first mismatch
    position per pair."""
    n = len(view)
    prefix = np.zeros(n, dtype=np.int64)
    if n < 2:
        return prefix
    lens = view.lengths
    m = np.minimum(lens[:-1], lens[1:])          # comparable span per pair
    seg = np.zeros(n, dtype=np.int64)            # pair-segment bounds
    np.cumsum(m, out=seg[1:])
    total = int(seg[-1])
    if total == 0:
        return prefix
    intra = np.arange(total, dtype=np.int64) - np.repeat(seg[:-1], m)
    prev_idx = np.repeat(view.offsets[:-2], m) + intra
    cur_idx = np.repeat(view.offsets[1:-1], m) + intra
    neq = view.data[prev_idx] != view.data[cur_idx]
    first = m.copy()                             # default: full span matches
    nz = np.flatnonzero(neq)
    if len(nz):
        seg_id = np.searchsorted(seg, nz, side="right") - 1
        uniq, first_at = np.unique(seg_id, return_index=True)
        first[uniq] = intra[nz[first_at]]
    prefix[1:] = first
    return prefix


def _suffix_stream(view: ba.ByteArrayView) -> tuple:
    """(prefix_lens, suffixes) for incremental coding: each value's
    common-prefix length vs its predecessor plus the view of tails past
    those prefixes (one vectorized gather, no per-row Python)."""
    n = len(view)
    prefix_lens = _prefix_lengths(view)
    suf_lens = view.lengths - prefix_lens
    suf_offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(suf_lens, out=suf_offsets[1:])
    total = int(suf_offsets[-1])
    if total:
        intra = np.arange(total, dtype=np.int64) - \
            np.repeat(suf_offsets[:-1], suf_lens)
        src = np.repeat(view.offsets[:-1] + prefix_lens, suf_lens) + intra
        suf_data = view.data[src]
    else:
        suf_data = np.array([], dtype=np.uint8)
    return prefix_lens, ba.ByteArrayView(suf_data, suf_offsets)


def encode_delta_byte_array(values) -> bytes:
    view = ba.as_view(values)
    prefix_lens, suffixes = _suffix_stream(view)
    prefix_blob = delta.encode(prefix_lens)
    suffix_blob = encode_delta_length(suffixes)
    return len(prefix_blob).to_bytes(4, "little") + prefix_blob + suffix_blob


# beyond this prefix depth the byte-column reconstruction loop stops paying
# off; fall back to the sequential walk (pathological shared-prefix data)
_MAX_VECTOR_PREFIX = 4096


def decode_delta_byte_array_view(buf, pos: int = 0) -> tuple[ba.ByteArrayView, int]:
    mv = memoryview(buf) if not isinstance(buf, memoryview) else buf
    prefix_blob_len = int.from_bytes(mv[pos: pos + 4], "little")
    pos += 4
    prefix_lens, _ = delta.decode(mv[pos: pos + prefix_blob_len])
    prefix_lens = prefix_lens.astype(np.int64, copy=False)
    pos += prefix_blob_len
    suffixes, pos = decode_delta_length_view(mv, pos)
    return _reconstruct_prefix_chain(prefix_lens, suffixes), pos


def _reconstruct_prefix_chain(prefix_lens: np.ndarray,
                              suffixes: ba.ByteArrayView) -> ba.ByteArrayView:
    """value[i] = value[i-1][:prefix_lens[i]] + suffixes[i], resolved
    without materializing the chain sequentially (see module docstring)."""
    if len(prefix_lens) != len(suffixes):
        raise ValueError("DELTA_BYTE_ARRAY: prefix/suffix count mismatch "
                         f"({len(prefix_lens)} vs {len(suffixes)})")
    n = len(prefix_lens)
    suf_lens = suffixes.lengths
    out_lens = prefix_lens + suf_lens
    # a prefix can only share bytes the previous value has (none for the
    # first); checked before the output is allocated from the lengths
    if n and (prefix_lens[0] != 0
              or bool((prefix_lens[1:] > out_lens[:-1]).any())):
        raise ValueError("DELTA_BYTE_ARRAY: prefix length too large for "
                         "the previous value (corrupt page)")
    out_offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(out_lens, out=out_offsets[1:])
    out = np.empty(int(out_offsets[-1]), dtype=np.uint8)

    # 1) suffix bytes land directly after each value's prefix slot
    total_suf = suffixes.total_bytes
    if total_suf:
        intra = np.arange(total_suf, dtype=np.int64) - \
            np.repeat(suffixes.offsets[:-1], suf_lens)
        dst = np.repeat(out_offsets[:-1] + prefix_lens, suf_lens) + intra
        out[dst] = suffixes.data

    # 2) prefix bytes: value i's byte j (< prefix_lens[i]) equals byte j of
    #    the last value k <= i with prefix_lens[k] <= j — which stored that
    #    byte in its own suffix at position j - prefix_lens[k]. One
    #    running-max pass per byte column resolves every chain at once.
    maxp = int(prefix_lens.max()) if n else 0
    if maxp and maxp <= _MAX_VECTOR_PREFIX:
        idx = np.arange(n, dtype=np.int64)
        for j in range(maxp):
            need = np.flatnonzero(prefix_lens > j)
            if not len(need):
                continue
            k = np.maximum.accumulate(
                np.where(prefix_lens <= j, idx, -1))[need]
            out[out_offsets[need] + j] = \
                suffixes.data[suffixes.offsets[k] + (j - prefix_lens[k])]
    elif maxp:
        prev = b""
        vals = []
        soffs = suffixes.offsets
        for i in range(n):
            p = int(prefix_lens[i])
            v = prev[:p] + suffixes.data[soffs[i]: soffs[i + 1]].tobytes()
            vals.append(v)
            prev = v
        return ba.from_list(vals)
    return ba.ByteArrayView(out, out_offsets)


def decode_delta_byte_array(buf, pos: int = 0) -> tuple[list[bytes], int]:
    view, pos = decode_delta_byte_array_view(buf, pos)
    return ba.to_list(view), pos


# ---------------------------------------------------------------------------
# PARQUET data-page framing (parquet-format Encodings.md). The chunk-format
# functions above carry explicit 4-byte sub-stream length prefixes (cheap
# random access within a chunk blob); real parquet pages carry NONE — the
# DELTA_BINARY_PACKED sub-streams are self-delimiting (their headers hold
# total_value_count, so a reader knows exactly where each stream ends), and
# that is the layout pyarrow / DuckDB / parquet-mr expect
# (reference decoders: encoding-internal.h:883-920 DELTA_LENGTH, :925-975
# DELTA_BYTE_ARRAY).

def encode_delta_length_spec(values) -> bytes:
    """DELTA_LENGTH_BYTE_ARRAY page payload: delta(lengths) ++ bytes."""
    view = ba.as_view(values)
    return delta.encode(view.lengths) + \
        view.data[: int(view.offsets[-1])].tobytes()


def decode_delta_length_spec(buf, pos: int = 0) -> tuple[ba.ByteArrayView, int]:
    mv = memoryview(buf) if not isinstance(buf, memoryview) else buf
    lens, pos = delta.decode(mv, pos)
    lens = lens.astype(np.int64, copy=False)
    if lens.size and int(lens.min()) < 0:
        raise ValueError("DELTA_LENGTH_BYTE_ARRAY: negative length "
                         "(corrupt page)")
    n = len(lens)
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])
    total = int(offsets[-1])
    if pos + total > len(mv):
        raise ValueError("DELTA_LENGTH_BYTE_ARRAY: payload truncated")
    data = np.frombuffer(mv, dtype=np.uint8, count=total, offset=pos)
    return ba.ByteArrayView(data, offsets), pos + total


def encode_delta_byte_array_spec(values) -> bytes:
    """DELTA_BYTE_ARRAY page payload: delta(prefix_lens) ++
    DELTA_LENGTH_BYTE_ARRAY(suffixes). Pages are independent — the first
    value's prefix length is always 0, so a reader can start at any page."""
    view = ba.as_view(values)
    prefix_lens, suffixes = _suffix_stream(view)
    return delta.encode(prefix_lens) + encode_delta_length_spec(suffixes)


def decode_delta_byte_array_spec(buf, pos: int = 0) -> tuple[ba.ByteArrayView, int]:
    mv = memoryview(buf) if not isinstance(buf, memoryview) else buf
    prefix_lens, pos = delta.decode(mv, pos)
    prefix_lens = prefix_lens.astype(np.int64, copy=False)
    if prefix_lens.size and int(prefix_lens.min()) < 0:
        raise ValueError("DELTA_BYTE_ARRAY: negative prefix length "
                         "(corrupt page)")
    suffixes, pos = decode_delta_length_spec(mv, pos)
    return _reconstruct_prefix_chain(prefix_lens, suffixes), pos
