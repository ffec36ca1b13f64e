"""RLE/bit-packed hybrid codec (parquet-format "RLE/Bit-Packing Hybrid").

This is the core kernel the reference gets from Arrow's vendored
``RleEncoder``/``RleDecoder`` (use sites:
``/root/reference/src/parquet/column_writer.cc:48`` for def/rep levels and
``/root/reference/src/parquet/encoding-internal.h:772`` for dictionary
indices). Stream grammar (parquet-format Encodings.md):

    rle-bit-packed-hybrid := run*
    run := bit-packed-run | rle-run
    bit-packed-run := varint header (LSB==1, header>>1 == number of 8-value
                      groups) + LSB-first bit-packed values (groups*8 values)
    rle-run := varint header (LSB==0, header>>1 == repeat count) +
               repeated value stored in ceil(bit_width/8) little-endian bytes

Encoding policy (deterministic, spec-compliant; byte layout need not match
Arrow's encoder choices — the correctness bar is decoded-value equality):
values are scanned in groups of 8; maximal stretches of uniform groups with a
single value become one RLE run (count = 8*k, extended by an equal tail),
everything else becomes bit-packed literal runs. A trailing partial group is
zero-padded (the decoder stops after ``n`` values). Run detection and packing
are fully vectorized; the per-stretch emission loop is O(#stretches).
"""

from __future__ import annotations

import numpy as np

from . import bitpack
from .varint import decode_uvarint, encode_uvarint


def _value_bytes(bit_width: int) -> int:
    return (bit_width + 7) // 8


def encode(values: np.ndarray, bit_width: int) -> bytes:
    """Encode non-negative ints (< 2**bit_width) to an RLE-hybrid stream."""
    n = len(values)
    if n == 0:
        return b""
    # keep the native dtype end-to-end: a full-width copy here would double
    # RAM traffic on the hot path (levels are int8, tokens int32)
    a = np.ascontiguousarray(values)
    vbytes = _value_bytes(bit_width)
    out = bytearray()

    n_groups = n // 8
    tail = n - n_groups * 8

    if n_groups == 0:
        # Single partial group: emit one zero-padded literal group.
        padded = np.zeros(8, dtype=a.dtype)
        padded[:n] = a
        out += encode_uvarint((1 << 1) | 1)
        out += bitpack.pack(padded, bit_width)
        return bytes(out)

    g = a[: n_groups * 8].reshape(n_groups, 8)
    if (bit_width == 1 and a.dtype.itemsize == 1 and n_groups
            and a.ctypes.data % 8 == 0):  # u64 view needs 8-byte alignment
        # levels fast path: one group of 8 one-byte 0/1 values IS one u64
        # word — uniform iff the word is all-zeros or all-ones, group value
        # is the low byte. One pass over n bytes instead of an (n/8, 8)
        # bool temp + axis-reduce.
        w64 = np.ascontiguousarray(g).view(np.uint64).ravel()
        uniform = (w64 == 0) | (w64 == np.uint64(0x0101010101010101))
        gval = g[:, 0]
    else:
        uniform = (g == g[:, :1]).all(axis=1)
        gval = g[:, 0]

    # Pack ALL literal-group values with ONE packbits call (uniform width ->
    # every group is exactly `bit_width` bytes); stretches slice into the
    # shared buffer. A group belongs to a literal stretch iff it is itself
    # non-uniform (stretch boundaries split exactly on uniformity flips), so
    # the literal-group mask IS ~uniform — no stretch bookkeeping needed to
    # pack. (#groups per stretch always < 2^31, so one header per literal
    # stretch.)
    packed = np.zeros(0, dtype=np.uint8)
    if not uniform.all():
        packed = np.frombuffer(bitpack.pack(g[~uniform].ravel(),
                                            bit_width), dtype=np.uint8)
    return _emit_stretches(out, n_groups, tail, a[n_groups * 8:], uniform,
                           gval, packed, bit_width, vbytes, a.dtype)


def _emit_stretches(out: bytearray, n_groups: int, tail: int,
                    tail_vals: np.ndarray, uniform: np.ndarray,
                    gval: np.ndarray, packed: np.ndarray, bit_width: int,
                    vbytes: int, pad_dtype) -> bytes:
    """Shared emit half of the hybrid encoder: per-group uniformity/value +
    pre-packed literal-group bytes -> the RLE/literal stretch stream.
    Factored out so :func:`encode_bit1_ones_with_zeros` can synthesize the
    group quantities from run structure and emit BYTE-IDENTICAL output
    through this exact code path."""
    # Stretch boundaries: a new stretch starts when uniformity flips, or when
    # two adjacent uniform groups carry different values.
    if n_groups == 1:
        starts = np.array([0], dtype=np.int64)
    else:
        change = uniform[1:] != uniform[:-1]
        change |= uniform[1:] & uniform[:-1] & (gval[1:] != gval[:-1])
        starts = np.concatenate(([0], np.flatnonzero(change) + 1))
    ends = np.concatenate((starts[1:], [n_groups]))

    tail_done = False
    is_uni = uniform[starts]
    n_stretch = len(starts)
    lit_mask = ~is_uni

    # header values + per-stretch payload byte counts, then ONE vectorized
    # interleave (varints via encode_uvarint_array; scatter like
    # delta._emit_blocks) — no per-stretch Python
    counts = (ends - starts) * 8
    if tail and is_uni[-1] and bool((tail_vals == gval[starts[-1]]).all()):
        counts = counts.copy()
        counts[-1] += tail
        tail_done = True
    headers = np.where(is_uni, counts << 1,
                       (((ends - starts) << 1) | 1).astype(np.int64))
    from .varint import encode_uvarint_array
    hbytes, hvalid, hlens = encode_uvarint_array(headers)
    pay_len = np.where(is_uni, vbytes, (ends - starts) * bit_width)
    piece_len = hlens + pay_len
    dest0 = np.zeros(n_stretch, dtype=np.int64)
    np.cumsum(piece_len[:-1], out=dest0[1:])
    buf = np.empty(int(piece_len.sum()), dtype=np.uint8)
    # headers
    hdst = dest0[:, None] + np.arange(hbytes.shape[1], dtype=np.int64)
    buf[hdst[hvalid]] = hbytes[hvalid]
    # rle values (little-endian, vbytes each)
    uni_idx = np.flatnonzero(is_uni)
    if len(uni_idx):
        vstart = dest0[uni_idx] + hlens[uni_idx]
        uvals = gval[starts[uni_idx]].astype(np.int64)
        for k in range(vbytes):
            buf[vstart + k] = ((uvals >> (8 * k)) & 0xFF).astype(np.uint8)
    # literal payloads: `packed` is already in stretch order
    lit_idx = np.flatnonzero(lit_mask)
    if len(lit_idx) == 1:
        # single literal stretch (typical for dict indices of shuffled
        # data): one contiguous slice assignment, no index array
        d0 = int(dest0[lit_idx[0]] + hlens[lit_idx[0]])
        buf[d0: d0 + len(packed)] = packed
    elif len(lit_idx):
        lit_nb = pay_len[lit_idx]
        shift = np.repeat(dest0[lit_idx] + hlens[lit_idx], lit_nb)
        shift -= np.repeat(np.concatenate(([0], np.cumsum(lit_nb)[:-1])),
                           lit_nb)
        buf[np.arange(len(packed), dtype=np.int64) + shift] = packed
    out += buf.tobytes()

    if tail and not tail_done:
        padded = np.zeros(8, dtype=pad_dtype)
        padded[:tail] = tail_vals
        out += encode_uvarint((1 << 1) | 1)
        out += bitpack.pack(padded, bit_width)

    return bytes(out)


def encode_bit1_ones_with_zeros(n: int, zeros: np.ndarray) -> bytes:
    """``encode(v, 1)`` for ``v = ones(n, int8); v[zeros] = 0`` — without
    materializing ``v``.

    The level streams of a list column are exactly this shape (rep: zeros
    at row starts; def: zeros at empty rows), and the encoder only needs
    per-GROUP facts: uniformity (zero count 0 or 8), the first value
    (whether a zero sits on the group boundary), and the literal bytes
    (0xFF with the zero bits cleared — zero positions are distinct, so a
    summed scatter is the bitwise OR). All are O(#zeros + n/8); the n-slot
    level array and its full-width RLE pass never exist. The emit runs
    through :func:`_emit_stretches`, the same code path ``encode`` uses, so
    the stream is byte-identical (fuzzed in tests/test_levels_fast.py).

    ``zeros`` must be sorted, unique, in ``[0, n)``."""
    if n == 0:
        return b""
    zeros = np.ascontiguousarray(zeros, dtype=np.int64)
    n_groups = n >> 3
    body_end = n_groups << 3
    tail = n - body_end
    split = int(np.searchsorted(zeros, body_end))
    tail_vals = np.ones(tail, dtype=np.int8)
    if split < len(zeros):
        tail_vals[zeros[split:] - body_end] = 0
    out = bytearray()
    if n_groups == 0:
        # Single partial group: emit one zero-padded literal group.
        padded = np.zeros(8, dtype=np.int8)
        padded[:n] = tail_vals
        out += encode_uvarint((1 << 1) | 1)
        out += bitpack.pack(padded, 1)
        return bytes(out)
    bz = zeros[:split]
    packed = np.zeros(0, dtype=np.uint8)
    if len(bz) == 0:
        # all-ones body (the def stream of any page without empty rows):
        # one uniform stretch, no group scans needed
        uniform = np.ones(n_groups, dtype=bool)
        gval = np.ones(n_groups, dtype=np.int8)
    else:
        zg = bz >> 3
        czero = np.bincount(zg, minlength=n_groups)
        uniform = (czero == 0) | (czero == 8)
        gval = np.ones(n_groups, dtype=np.int8)
        gval[zg[(bz & 7) == 0]] = 0
        if not uniform.all():
            bits = np.zeros(n_groups, dtype=np.int16)
            np.add.at(bits, zg, (np.int64(1) << (bz & 7)).astype(np.int16))
            packed = (255 - bits[~uniform]).astype(np.uint8)
    return _emit_stretches(out, n_groups, tail, tail_vals, uniform, gval,
                           packed, 1, _value_bytes(1), np.dtype(np.int8))


def decode(buf, n_values: int, bit_width: int, pos: int = 0,
           out_dtype=np.int64) -> tuple[np.ndarray, int]:
    """Decode ``n_values`` from the stream; returns (values, new_pos).

    Two-phase: a light header-parse loop collects run descriptors, then all
    RLE runs fill via one ``np.repeat`` and all literal groups unpack via one
    batched ``unpack`` (every literal group is byte-aligned), so the numpy
    per-call overhead is paid O(1) times instead of O(#runs)."""
    vbytes = _value_bytes(bit_width)
    mv = memoryview(buf) if not isinstance(buf, memoryview) else buf
    from_bytes = int.from_bytes

    seg_kind: list[int] = []      # 0 = rle, 1 = literal
    seg_take: list[int] = []
    rle_vals: list[int] = []
    rle_takes: list[int] = []
    lit_slices: list = []
    lit_counts: list[int] = []
    idx = 0
    single_byte_val = vbytes == 1
    try:
        while idx < n_values:
            # inlined ULEB128 (a function call per run adds up on run-dense
            # level streams)
            header = mv[pos]
            pos += 1
            if header >= 0x80:
                header &= 0x7F
                sh = 7
                while True:
                    b = mv[pos]
                    pos += 1
                    header |= (b & 0x7F) << sh
                    if b < 0x80:
                        break
                    sh += 7
            if header & 1:
                cnt = (header >> 1) * 8
                nb = (cnt * bit_width + 7) // 8
                take = cnt if cnt <= n_values - idx else n_values - idx
                seg_kind.append(1)
                seg_take.append(take)
                lit_slices.append(mv[pos: pos + nb])
                lit_counts.append(cnt)
                pos += nb
            else:
                cnt = header >> 1
                if cnt == 0:
                    raise ValueError("corrupt RLE stream: zero-length run")
                if single_byte_val:
                    val = mv[pos]
                    pos += 1
                else:
                    if pos + vbytes > len(mv):
                        raise IndexError   # a cut run value
                    val = from_bytes(mv[pos: pos + vbytes], "little")
                    pos += vbytes
                if val >> bit_width:
                    raise ValueError(f"corrupt RLE stream: run value {val} "
                                     f"wider than bit width {bit_width}")
                take = cnt if cnt <= n_values - idx else n_values - idx
                seg_kind.append(0)
                seg_take.append(take)
                rle_vals.append(val)
                rle_takes.append(take)
            idx += take
    except IndexError:
        raise ValueError(f"corrupt RLE stream: ends after {idx} of "
                         f"{n_values} values") from None

    # fast paths: pure-RLE and pure-literal streams skip the interleave
    if not lit_slices:
        return np.repeat(np.asarray(rle_vals, dtype=out_dtype),
                         np.asarray(rle_takes, dtype=np.int64)), pos
    if not rle_vals and len(lit_slices) == 1:
        return bitpack.unpack(lit_slices[0], n_values, bit_width,
                              out_dtype), pos

    out = np.empty(n_values, dtype=out_dtype)
    rle_fill = np.repeat(
        np.asarray(rle_vals, dtype=out_dtype),
        np.asarray(rle_takes, dtype=np.int64)) if rle_vals else None
    if lit_slices:
        lit_all = bitpack.unpack(b"".join(lit_slices), sum(lit_counts),
                                 bit_width, out_dtype)
    # interleave by segment order (contiguous slice copies)
    dst = 0
    r_off = 0
    l_off = 0
    li = 0
    for kind, take in zip(seg_kind, seg_take):
        if kind == 0:
            out[dst: dst + take] = rle_fill[r_off: r_off + take]
            r_off += take
        else:
            out[dst: dst + take] = lit_all[l_off: l_off + take]
            l_off += lit_counts[li]  # full group count skips any pad values
            li += 1
        dst += take
    return out, pos


def encode_length_prefixed(values: np.ndarray, bit_width: int) -> bytes:
    """RLE payload with the u32 little-endian length prefix used for V1 data
    page levels (``/root/reference/src/parquet/column_writer.cc:331-352``)."""
    payload = encode(values, bit_width)
    return len(payload).to_bytes(4, "little") + payload


def decode_length_prefixed(buf, n_values: int, bit_width: int, pos: int = 0,
                           out_dtype=np.int64) -> tuple[np.ndarray, int]:
    """Inverse of :func:`encode_length_prefixed`; skips by the prefix, as the
    reference's ``LevelDecoder::SetData`` does
    (``/root/reference/src/parquet/column_reader.cc:51-59``)."""
    ln = int.from_bytes(buf[pos: pos + 4], "little")
    payload_start = pos + 4
    if bit_width == 1:
        # the length prefix bounds the stream, so the run-level zero-
        # position parse applies: one ones-fill + a sparse scatter instead
        # of the per-run descriptor loop (rep streams of list columns are
        # run-dense — ~2 runs per row)
        vals = decode_bit1(buf, n_values, payload_start,
                           payload_start + ln, out_dtype)
        return vals, payload_start + ln
    vals, _ = decode(buf, n_values, bit_width, payload_start, out_dtype)
    return vals, payload_start + ln


def decode_bit1(buf, n_values: int, pos: int, end: int,
                out_dtype=np.int64) -> np.ndarray:
    """Values of a bit-width-1 hybrid stream occupying ``buf[pos:end]``,
    via :func:`bit1_zero_positions` (vectorized run parse) — equivalent to
    :func:`decode` but with no per-run Python."""
    zeros = bit1_zero_positions(buf, n_values, pos, end)
    out = np.ones(n_values, dtype=out_dtype)
    out[zeros] = 0
    return out


def bit1_zero_positions(buf, n_values: int, pos: int, end: int) -> np.ndarray:
    """Positions (ascending int64) of 0-values in a bit-width-1 hybrid
    stream occupying ``buf[pos:end]`` — without materializing the values.

    This is the level-stream consumer's actual question (rep==0 delimits
    records, def==0 marks empty lists); answering it from the run structure
    skips the n-sized value array (8x the payload in int64 form) entirely.

    Run boundaries are found VECTORIZED by pointer doubling: ``next[p]``
    (the start of the run after one starting at ``p``) is computed for every
    byte offset at once from 4-byte LEB128 windows, then the chain from
    ``pos`` is expanded frontier-by-frontier (log2(#runs) gather rounds) —
    no per-run Python. Falls back to the scalar loop via :func:`decode` for
    headers wider than 4 bytes (runs >= 2^27 values; never produced for
    in-memory chunks)."""
    mv = memoryview(buf) if not isinstance(buf, memoryview) else buf
    if n_values == 0:
        return np.zeros(0, dtype=np.int64)
    if end > len(mv):
        raise ValueError(f"corrupt RLE stream: {end - pos} bytes declared, "
                         f"{len(mv) - pos} left")
    b = np.frombuffer(mv, dtype=np.uint8, count=end)
    span = end - pos
    if span <= 0:
        raise ValueError(f"corrupt RLE stream: empty for {n_values} values")
    # 4-byte LEB128 windows at every offset of the stream region
    pad = np.zeros(4, dtype=np.uint8)
    r = np.concatenate([b[pos:end], pad])
    b0, b1, b2, b3 = (r[k: k + span].astype(np.int64) for k in range(4))
    c0, c1, c2 = b0 >= 128, b1 >= 128, b2 >= 128
    over = c0 & c1 & c2 & (b3 >= 128)
    hdr = (b0 & 127)
    hdr |= np.where(c0, (b1 & 127) << 7, 0)
    hdr |= np.where(c0 & c1, (b2 & 127) << 14, 0)
    hdr |= np.where(c0 & c1 & c2, (b3 & 127) << 21, 0)
    hdrlen = 1 + c0 + (c0 & c1) + (c0 & c1 & c2)
    is_lit = (hdr & 1).astype(bool)
    cnt = hdr >> 1
    # bit_width 1: a literal run is `cnt` groups of 8 values = cnt bytes;
    # an RLE run carries one value byte
    nxt = np.arange(pos, end, dtype=np.int64) + hdrlen + \
        np.where(is_lit, cnt, 1)
    np.clip(nxt, None, end, out=nxt)

    # chain expansion: frontier doubling over the jump table
    jump = nxt.copy()
    frontier = np.array([pos], dtype=np.int64)
    while True:
        nxt_front = jump[frontier[frontier < end] - pos]
        grown = np.unique(np.concatenate([frontier, nxt_front]))
        if len(grown) == len(frontier):
            break
        frontier = grown
        jump = np.where(jump < end, jump[np.minimum(jump, end - 1) - pos],
                        end)
    starts = frontier[frontier < end]
    if over[starts - pos].any():
        # >4-byte header: punt to the scalar parser (rare by construction)
        vals, _ = decode(mv, n_values, 1, pos, out_dtype=np.int8)
        return np.flatnonzero(vals == 0).astype(np.int64)
    s_lit = is_lit[starts - pos]
    s_cnt = cnt[starts - pos]
    s_hdrlen = hdrlen[starts - pos]
    if ((~s_lit) & (s_cnt == 0)).any():
        raise ValueError("corrupt RLE stream: zero-length run")
    s_vals = np.where(s_lit, s_cnt * 8, s_cnt)       # values per run
    cum = np.zeros(len(starts) + 1, dtype=np.int64)
    np.cumsum(s_vals, out=cum[1:])
    if cum[-1] < n_values:
        raise ValueError(f"corrupt RLE stream: ends after {cum[-1]} of "
                         f"{n_values} values")
    # runs past n_values would mean the byte length prefix and the value
    # count disagree; keep only runs that begin before n_values
    live = cum[:-1] < n_values
    starts, s_lit, s_cnt, s_hdrlen = (starts[live], s_lit[live],
                                      s_cnt[live], s_hdrlen[live])
    # every kept run's header and payload (one value byte, or cnt literal
    # bytes) must lie inside [pos, end): the jump table clips at end
    if (starts[-1] + s_hdrlen[-1] + (s_cnt[-1] if s_lit[-1] else 1)) > end:
        raise ValueError(f"corrupt RLE stream: a run overruns the "
                         f"{span}-byte stream")
    dst0 = cum[:-1][live]
    take = np.minimum(np.where(s_lit, s_cnt * 8, s_cnt), n_values - dst0)

    parts: list[np.ndarray] = []
    run_val = b[starts + s_hdrlen]
    wide = (~s_lit) & (run_val > 1)
    if wide.any():
        raise ValueError(f"corrupt RLE stream: run value "
                         f"{run_val[wide][0]} wider than bit width 1")
    rle_zero = (~s_lit) & (run_val == 0)
    if rle_zero.any():
        z_dst = dst0[rle_zero]
        z_take = take[rle_zero]
        tot = int(z_take.sum())
        shift = np.repeat(
            z_dst - np.concatenate(([0], np.cumsum(z_take)[:-1])), z_take)
        parts.append(np.arange(tot, dtype=np.int64) + shift)
    if s_lit.any():
        l_start = starts[s_lit] + s_hdrlen[s_lit]
        l_nb = s_cnt[s_lit]                           # payload bytes
        l_dst = dst0[s_lit]
        l_take = take[s_lit]
        tot_b = int(l_nb.sum())
        src_off = np.concatenate(([0], np.cumsum(l_nb)[:-1]))
        gather = np.arange(tot_b, dtype=np.int64) + \
            np.repeat(l_start - src_off, l_nb)
        bits = np.unpackbits(b[gather], bitorder="little")
        l_cnt8 = l_nb * 8
        src0 = src_off * 8
        local = np.arange(tot_b * 8, dtype=np.int64) - np.repeat(src0, l_cnt8)
        ok = (bits == 0) & (local < np.repeat(l_take, l_cnt8))
        zp = np.flatnonzero(ok)
        parts.append(zp + np.repeat(l_dst - src0, l_cnt8)[zp])
    if not parts:
        return np.zeros(0, dtype=np.int64)
    if len(parts) == 1:
        return parts[0]
    return np.sort(np.concatenate(parts), kind="stable")
