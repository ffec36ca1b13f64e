"""DELTA_BINARY_PACKED — frame-of-reference delta coding for integers.

Format per parquet-format spec, matching the reference's decoder
(``/root/reference/src/parquet/encoding-internal.h:785-878``) and the encoder
semantics in ``/root/reference/benchmarks/decode_benchmark.cc:35-114``:

    header   := varint(block_size) varint(miniblocks_per_block)
                varint(total_value_count) zigzag-varint(first_value)
    block    := zigzag-varint(min_delta)
                bit_width per miniblock (1 byte each, all miniblocks)
                miniblock* (32 deltas each, LSB-first bit-packed at its width)

We use block_size=128 with 4 miniblocks of 32 (the spec default; the
reference harness uses miniblock sizes 8/16/32). Deltas are
``value[i] - value[i-1]``; packed values are ``delta - min_delta`` (always
>= 0). The trailing miniblock is zero-padded; miniblocks wholly past the end
get a width byte of 0 and no data. Encode/decode are vectorized with numpy
(cumsum for reconstruction); the only Python loop is per-miniblock.
"""

from __future__ import annotations

import numpy as np

from . import bitpack
from .varint import (decode_uvarint, decode_zigzag_varint, encode_uvarint,
                     encode_zigzag_varint)

# parquet-mr's default geometry. Wider miniblocks (e.g. 2048/8) would cut
# per-block Python header iterations 16x but cost +58% size on run-structured
# token data (a single jump delta poisons the whole miniblock's width) —
# measured, reverted. Keep 128/4: compression is the north-rule bar.
BLOCK_SIZE = 128
MINIBLOCKS = 4
MINI_SIZE = BLOCK_SIZE // MINIBLOCKS  # 32


# deltas per fused super-block. Must be a BLOCK_SIZE multiple. 2^19 deltas
# x 4 B (narrow lane) = 2 MiB per temp — spills L2 but stays L3-resident,
# and the larger per-width pack batches cut numpy call overhead: re-measured
# after the fused emit at 2^17/18/19/20/21 = 113/101/98/94/104 ms on the
# 6.4M-value bench column and 139/132/133 ms (2^18/19/20) through the real
# paged chunk path — 2^19 takes the win at half the temp footprint of 2^20
# (32 cores share the DRAM throttle; see BASELINE.md). Output is
# byte-identical for any multiple of BLOCK_SIZE (the format chunks per
# 128-value block regardless; asserted in the A/B).
_SUPER = 1 << 19
# exact integer bit widths via searchsorted on powers of two (no float log2)
_POW2 = np.uint64(1) << np.arange(64, dtype=np.uint64)


def encode(values: np.ndarray, wrap32: bool = False,
           narrow: "bool | None" = None) -> bytes:
    """``wrap32``: force mod-2^32 delta arithmetic for 4-byte inputs even
    when the value span exceeds 2^31 — the parquet-format convention for
    INT32 columns (miniblock widths must stay <= 32; readers reconstruct
    with wrapping accumulation). Off by default: the engine's own chunk
    blobs use the full int64 delta space for wide spans (golden-pinned),
    and the two byte streams differ only in that case.

    ``narrow=True``: caller asserts the value span fits 31 bits (e.g. a
    chunk-global min/max over a superset of these values), skipping the
    per-call min/max scan — the paged chunk path otherwise re-scans
    every page, two extra full passes per chunk. Purely a lane hint:
    output bytes are identical either way."""
    v = np.ascontiguousarray(values)
    n = len(v)
    out = bytearray()
    out += encode_uvarint(BLOCK_SIZE)
    out += encode_uvarint(MINIBLOCKS)
    out += encode_uvarint(n)
    out += encode_zigzag_varint(int(v[0]) if n else 0)
    if n <= 1:
        return bytes(out)
    nd = n - 1

    # Fused cache-blocked pipeline: diff -> per-block min -> per-miniblock
    # width -> ragged bit-pack, all on _SUPER-sized slices so RAM traffic is
    # ~input + output (the host is memory-bandwidth-bound; full-size
    # intermediates would cap multi-core scaling; batching the pack across
    # supers was measured 40% SLOWER — the concat + large gathers cost more
    # than the per-call overhead they save on this DRAM-throttled host).
    # Each miniblock's payload is exactly 4*w bytes (32*w bits,
    # byte-aligned), so concatenating ragged (miniblock, value, bit)-ordered
    # bit matrices in C-order IS the spec stream.
    # Narrow-temp fast path: when the global value span fits 31 bits, every
    # delta and every (delta - min_delta) fits int32 — the whole
    # diff/min/adjust/width pipeline runs on 4-byte temps instead of 8
    # (half the memory traffic of the hot phase on a DRAM-bound host).
    # Output bytes are IDENTICAL: the same integers flow into the same
    # pack/emit, just from a narrower lane (goldens pin this). The span
    # check is one vectorized min/max pass over the input.
    if v.dtype in (np.dtype(np.int32), np.dtype(np.uint32),
                   np.dtype(np.int16), np.dtype(np.uint16)):
        if narrow is None:
            narrow = wrap32 or int(v.max()) - int(v.min()) < (1 << 31)
        elif wrap32:
            narrow = True
    else:
        narrow = False
    ddt = np.int32 if narrow else np.int64

    for s in range(0, nd, _SUPER):
        e = min(s + _SUPER, nd)
        # subtract with an explicit out-dtype instead of widening the
        # segment first (diff can overflow the input dtype; ddt is chosen
        # so it can't overflow the DELTA dtype)
        deltas = np.subtract(v[s + 1: e + 1], v[s: e], dtype=ddt)
        ns = e - s
        n_blocks = (ns + BLOCK_SIZE - 1) // BLOCK_SIZE
        if ns % BLOCK_SIZE:
            padded = np.zeros(n_blocks * BLOCK_SIZE, dtype=ddt)
            padded[:ns] = deltas
        else:
            padded = deltas
        blocks = padded.reshape(n_blocks, BLOCK_SIZE)
        mins = np.empty(n_blocks, dtype=ddt)
        if ns % BLOCK_SIZE == 0:
            mins[:] = blocks.min(axis=1)
        else:
            if n_blocks > 1:
                mins[:-1] = blocks[:-1].min(axis=1)
            mins[-1] = deltas[(n_blocks - 1) * BLOCK_SIZE:].min()
        # adj = delta - min_delta >= 0; fits the unsigned view of ddt.
        # In-place into the delta buffer (deltas/padded are not read again):
        # one less full-size temp on the hot path
        np.subtract(blocks, mins[:, None], out=blocks)
        adj = blocks.view(np.uint32 if narrow else np.uint64)
        if ns % BLOCK_SIZE:
            adj.reshape(-1)[ns:] = 0  # pad never raises a width

        minis = adj.reshape(n_blocks * MINIBLOCKS, MINI_SIZE)
        mini_max = minis.max(axis=1)
        widths = np.searchsorted(_POW2, mini_max.astype(np.uint64),
                                 side="right").astype(np.uint8)
        n_mini_used = (ns + MINI_SIZE - 1) // MINI_SIZE
        widths[n_mini_used:] = 0

        out += _emit_super(mins.astype(np.int64, copy=False), widths, minis,
                           n_blocks)
    return bytes(out)


def _pack_group(rvals, w: int) -> np.ndarray:
    """Pack (k, 8) rows at width ``w``: 8w bits stay byte-aligned, so the
    bitstream is identical to value-at-a-time packing. Widths <= 25 ride
    the u32 packer lane (half the temp traffic; in narrow mode the values
    stay uint32 end-to-end, no widening copy at all)."""
    if w <= 25:
        return bitpack.pack_rows32(rvals.astype(np.uint32, copy=False), w)
    return bitpack.pack_rows(rvals.astype(np.uint64, copy=False), w)


def _emit_super(mins: np.ndarray, widths: np.ndarray, minis: np.ndarray,
                n_blocks: int) -> bytes:
    """One super-block's [zigzag-varint min_delta][width bytes][payload]
    stream, fused: packed miniblock rows are written DIRECTLY into their
    final interleaved positions (single scatter per width group) instead of
    packing to a contiguous stream and re-scattering it behind the headers —
    the old two-phase emit moved every payload byte twice and built a
    full-size int64 index (8x the payload in pure index traffic) for the
    second move. Byte output identical (golden-pinned).

    Varints are emitted as fixed 5/10-slot rows with a validity mask
    (LEB128 continuation bits computed vectorized); headers are scattered
    per block (tiny), payloads per width group."""
    # zigzag, vectorized (values fit int64; arithmetic shift keeps sign)
    zz = ((mins << 1) ^ (mins >> 63)).astype(np.uint64)
    # varint bytes: up to 10 groups of 7 bits for uint64, but min_delta of
    # int32 data fits 5 groups; compute needed length per value
    n_groups = 5
    if len(zz) and int(zz.max()) >> 35:
        n_groups = 10
    shifts = (np.arange(n_groups, dtype=np.uint64) * np.uint64(7))
    groups = (zz[:, None] >> shifts[None, :]) & np.uint64(0x7F)
    nonzero = groups != 0
    nonzero[:, 0] = True  # at least one byte
    vlen = n_groups - np.argmax(nonzero[:, ::-1], axis=1)
    valid = np.arange(n_groups)[None, :] < vlen[:, None]
    cont = valid.copy()
    cont[np.arange(len(zz)), vlen - 1] = False  # last byte: no continuation
    vbytes = (groups | (cont.astype(np.uint64) << np.uint64(7))) \
        .astype(np.uint8)

    mb = len(widths) // n_blocks  # miniblocks per block
    wid64 = widths.astype(np.int64)
    pay2d = wid64.reshape(n_blocks, mb) * (MINI_SIZE // 8)
    pay_per_block = pay2d.sum(axis=1)
    distinct = np.unique(widths)
    distinct = distinct[distinct != 0]

    # Uniform-layout fast path: one width everywhere and a uniform varint
    # length (steady delta streams — the common case inside one data
    # profile): the output is a dense (n_blocks, row_len) matrix — three
    # strided column writes, no gather, no scatter at all.
    if (n_blocks > 1 and len(distinct) == 1 and len(widths) == n_blocks * mb
            and int(widths.min()) != 0
            and int(vlen.min()) == int(vlen.max())):
        w = int(distinct[0])
        vl = int(vlen[0])
        rows = _pack_group(minis.reshape(-1, 8), w) \
            .reshape(n_blocks, mb * 4 * w)
        outm = np.empty((n_blocks, vl + mb + mb * 4 * w), dtype=np.uint8)
        outm[:, :vl] = vbytes[:, :vl]
        outm[:, vl: vl + mb] = widths.reshape(n_blocks, mb)
        outm[:, vl + mb:] = rows
        return outm.tobytes()

    block_len = vlen + mb + pay_per_block
    dest0 = np.zeros(n_blocks, dtype=np.int64)
    np.cumsum(block_len[:-1], out=dest0[1:])
    total = int(block_len.sum())
    outb = np.empty(total, dtype=np.uint8)

    # varint bytes: dest = block start + group index (masked)
    vdest = dest0[:, None] + np.arange(n_groups)[None, :]
    outb[vdest[valid]] = vbytes[valid]
    # width bytes: dest = block start + vlen + [0..mb)
    wdest = (dest0 + vlen)[:, None] + np.arange(mb)[None, :]
    outb[wdest.ravel()] = widths
    if len(distinct):
        # final byte position of each miniblock's payload: its block's
        # payload start + the cumulative widths of earlier minis in-block
        within = np.zeros((n_blocks, mb), dtype=np.int64)
        np.cumsum(pay2d[:, :-1], axis=1, out=within[:, 1:])
        mini_dst0 = ((dest0 + vlen + mb)[:, None] + within).ravel()
        # Word-granular scatter: every miniblock payload is 4*w bytes, so
        # the packed rows store as w little-endian u32 WORDS through an
        # overlapping (stride-1) u32 view of the output — 8 bytes of int64
        # index per 4 payload bytes instead of per byte (4x less index
        # traffic on the emit wall). Stores are unaligned but disjoint
        # (miniblock regions don't overlap); byte order is identical
        # (LE u32 == the same 4 bytes in sequence).
        out32 = np.ndarray(shape=(max(total - 3, 0),), dtype="<u4",
                           buffer=outb, strides=(1,)) if total >= 4 else None
        out64 = np.ndarray(shape=(max(total - 7, 0),), dtype="<u8",
                           buffer=outb, strides=(1,)) if total >= 8 else None
        for w in distinct.tolist():
            ids = np.flatnonzero(widths == w)
            # all-one-width: skip the (full-copy) gather, pack in place
            rvals = minis.reshape(-1, 8) if len(ids) == len(widths) \
                else minis[ids].reshape(-1, 8)
            rows = _pack_group(rvals, w).reshape(len(ids), 4 * w)
            # intp indices: numpy upcasts narrower index arrays before
            # the scatter (an int32 "saving" costs an extra pass)
            if out64 is not None and w % 2 == 0:
                # even width: 4w bytes is a whole number of u64 words —
                # 8-byte stores through the overlapping stride-1 u64 view
                # halve the scatter's index traffic again vs u32 words
                dst = mini_dst0[ids][:, None] + \
                    np.arange(0, 4 * w, 8, dtype=np.int64)
                out64[dst.reshape(-1)] = \
                    np.ascontiguousarray(rows).view("<u8").reshape(-1)
            elif out32 is not None:
                dst = mini_dst0[ids][:, None] + \
                    np.arange(0, 4 * w, 4, dtype=np.int64)
                out32[dst.reshape(-1)] = \
                    np.ascontiguousarray(rows).view("<u4").reshape(-1)
            else:
                dst = mini_dst0[ids][:, None] + \
                    np.arange(4 * w, dtype=np.int64)
                outb[dst.reshape(-1)] = rows.reshape(-1)
    return outb.tobytes()


# Largest block a stream may declare: 256x the 128-value blocks parquet-mr,
# Arrow and this module write, and a bound on how many values a few bytes
# of all-zero-width blocks can claim.
MAX_BLOCK_SIZE = 1 << 15


def _check_header(block_size: int, miniblocks: int, n: int,
                  remaining: int) -> None:
    """O(1) header bound, before anything is allocated: the geometry the
    spec allows (a block is a multiple of 128 values, a miniblock a multiple
    of 32), and enough bytes left for every block's min-delta varint and
    width bytes (``1 + miniblocks`` bytes at least per block)."""
    if not 0 < block_size <= MAX_BLOCK_SIZE or block_size % 128:
        raise ValueError(f"corrupt delta header: block_size {block_size} "
                         f"is not a multiple of 128 in [128, "
                         f"{MAX_BLOCK_SIZE}]")
    if miniblocks == 0 or block_size % miniblocks \
            or (block_size // miniblocks) % 32:
        raise ValueError(f"corrupt delta header: {miniblocks} miniblocks "
                         f"per {block_size}-value block")
    n_blocks = -(-(n - 1) // block_size) if n > 1 else 0
    need = n_blocks * (1 + miniblocks)
    if need > remaining:
        raise ValueError(f"corrupt delta header: {n} values need at least "
                         f"{need} bytes of blocks, {remaining} remain")


def decode(buf, pos: int = 0, out_dtype=np.int64) -> tuple[np.ndarray, int]:
    mv = memoryview(buf) if not isinstance(buf, memoryview) else buf
    try:
        block_size, pos = decode_uvarint(mv, pos)
        miniblocks, pos = decode_uvarint(mv, pos)
        n, pos = decode_uvarint(mv, pos)
        first, pos = decode_zigzag_varint(mv, pos)
    except IndexError:
        raise ValueError(f"corrupt delta header: truncated at byte {pos} "
                         f"of {len(mv)}") from None
    _check_header(block_size, miniblocks, n, len(mv) - pos)
    mini_size = block_size // miniblocks
    # Narrow-lane reconstruction: for 4-byte outputs every step (unpacked
    # adj + min_delta, prefix sum, + first) is exact MOD 2^32, and the true
    # values fit 32 bits — so int32 temps (half the memory traffic of the
    # value matrix + cumsum) produce bit-identical results even when
    # intermediate sums wrap.
    idt = np.int32 if np.dtype(out_dtype).itemsize == 4 else np.int64
    out = np.empty(n, dtype=idt)
    if n == 0:
        return out.astype(out_dtype, copy=False), pos
    out[0] = np.int64(first).astype(idt) if idt == np.int32 else first
    nd = n - 1
    if nd == 0:
        return out.astype(out_dtype, copy=False), pos

    # Pass 1: find block-header positions with a MINIMAL Python loop (the
    # stream is sequentially framed: each block's extent depends on its
    # widths, so position-finding can't be a closed-form scan), then parse
    # mins/widths VECTORIZED from gathered windows — the old loop decoded
    # the zigzag varint, sliced+summed the width bytes, and collected
    # payload segments per block in Python, ~6x the work per iteration.
    n_blocks = (nd + block_size - 1) // block_size
    mini_bytes = mini_size // 8
    mb = miniblocks
    fast4 = mb == 4 and mini_bytes == 4
    # bytes indexing beats memoryview indexing in the tight loop; the copy
    # is one pass over the stream, the loop does n/128 iterations over it
    bs = buf if isinstance(buf, bytes) else bytes(mv)
    hdr_l: list[int] = []
    hap = hdr_l.append
    # the loop records ONLY the block-header start; the varint length (and
    # so the width-byte position) is recovered vectorized afterwards from
    # the continuation bits — one list append + int box per block instead
    # of two
    try:
        if fast4:
            for _ in range(n_blocks - 1):
                hap(pos)
                while bs[pos] >= 0x80:
                    pos += 1
                pos += 5 + ((bs[pos + 1] + bs[pos + 2] + bs[pos + 3]
                             + bs[pos + 4]) << 2)
        else:
            for _ in range(n_blocks - 1):
                hap(pos)
                while bs[pos] >= 0x80:
                    pos += 1
                pos += 1
                pos += mb + sum(bs[pos: pos + mb]) * mini_bytes
        # final block: unused trailing widths read as zero (they may hold
        # anything in a foreign stream; ours writes 0)
        hap(pos)
        while bs[pos] >= 0x80:
            pos += 1
        pos += 1
        rem = nd - (n_blocks - 1) * block_size
        n_used = min(mb, (rem + mini_size - 1) // mini_size)
        pos += mb + sum(bs[pos: pos + n_used]) * mini_bytes
    except IndexError:
        pos = len(bs) + 1
    if pos > len(bs):
        raise ValueError(f"corrupt delta stream: {n} values run past "
                         f"the {len(bs)}-byte buffer")
    hdr_pos = np.array(hdr_l, dtype=np.int64)

    buf_u8 = np.frombuffer(mv, dtype=np.uint8, count=min(len(mv), pos + 16))
    # varint lengths from the continuation bits of a 4-byte window gather
    # (the final byte of a <=4-byte varint has bit 7 clear); rows whose
    # varint is longer than 4 bytes (|min_delta| >= 2^21... rare) re-gather
    # a full 10-byte window
    g4 = np.minimum(hdr_pos[:, None] + np.arange(4, dtype=np.int64),
                    len(buf_u8) - 1)
    gb4 = buf_u8[g4]
    cont4 = gb4 >= 128
    vlen = np.argmin(cont4, axis=1) + 1
    long_rows = cont4.all(axis=1)
    if long_rows.any():
        li = np.flatnonzero(long_rows)
        gl = np.minimum(hdr_pos[li][:, None]
                        + np.arange(10, dtype=np.int64), len(buf_u8) - 1)
        vlen[li] = np.argmin(buf_u8[gl] >= 128, axis=1) + 1
    wid_pos = hdr_pos + vlen

    # mins: vectorized LEB128+zigzag from (n_blocks, <=10)-byte windows
    n_groups = int(vlen.max())
    if n_groups <= 4:
        gb = gb4[:, :n_groups].astype(np.uint64)
    else:
        gidx = np.minimum(hdr_pos[:, None]
                          + np.arange(n_groups, dtype=np.int64),
                          len(buf_u8) - 1)
        gb = buf_u8[gidx].astype(np.uint64)
    used = np.arange(n_groups)[None, :] < vlen[:, None]
    acc = np.zeros(n_blocks, dtype=np.uint64)
    for k in range(n_groups):
        acc |= np.where(used[:, k], (gb[:, k] & np.uint64(0x7F))
                        << np.uint64(7 * k), np.uint64(0))
    mins = ((acc >> np.uint64(1))
            ^ (np.uint64(0xFFFFFFFFFFFFFFFF) * (acc & np.uint64(1)))) \
        .view(np.int64)
    # widths: one (n_blocks, mb) gather; zero the final block's unused tail
    widths = buf_u8[np.minimum(wid_pos[:, None]
                               + np.arange(mb, dtype=np.int64),
                               len(buf_u8) - 1)].astype(np.int64)
    if n_used < mb:
        widths[-1, n_used:] = 0
    widths = widths.ravel()

    # Pass 2: group miniblocks by width — every miniblock of width w is
    # exactly w*mini_size/8 bytes and byte-aligned, so all miniblocks of one
    # width decode with one byte-window gather (value i of mini m sits in
    # the 4-byte LE window at payload[B_m + (i*w)//8] >> (i*w)%8). ~4 bytes
    # of traffic per value — no per-bit matrices (DRAM-bound host).
    # The per-block min_delta is added HERE, fused into the unpack while the
    # values are register/cache-hot — the old separate
    # ``deltas += mins[:, None]`` pass re-read and re-wrote the whole value
    # matrix from DRAM. Wrap-exact: idt addition wraps mod 2^32/2^64
    # exactly like the old in-place block add did.
    nmini = n_blocks * miniblocks
    vals = np.empty((nmini, mini_size), dtype=idt)
    mins_mini = np.repeat(mins.astype(idt), miniblocks)
    w_max = int(widths.max()) if nmini else 0
    zero_ids = np.flatnonzero(widths == 0)
    if len(zero_ids):
        # width-0 minis decode to all-min_delta (payload-less)
        vals[zero_ids] = mins_mini[zero_ids][:, None]
    if w_max:
        # absolute in-buffer payload offsets (no segment join/copy): each
        # block's payload starts right after its width bytes
        if len(buf_u8) < pos + 16:
            padded = np.concatenate([buf_u8, np.zeros(16, dtype=np.uint8)])
        else:
            padded = buf_u8
        payload = padded
        w2d = widths.reshape(n_blocks, mb) * mini_bytes
        within = np.zeros((n_blocks, mb), dtype=np.int64)
        np.cumsum(w2d[:, :-1], axis=1, out=within[:, 1:])
        byte_offsets = ((wid_pos + mb)[:, None] + within).ravel()
        u64 = np.ndarray(shape=(max(len(padded) - 7, 0),), dtype="<u8",
                         buffer=padded, strides=(1,))
        for w in np.unique(widths):
            if w == 0:
                continue
            w = int(w)
            ids = np.flatnonzero(widths == w)
            adds = mins_mini[ids]
            if w <= 25:
                # one unaligned u64 window load per Q consecutive values
                # (overlapping stride-1 view): the in-window shift is at
                # most 7 + (Q-1)*w, so Q*w + 7 <= 64 bits always cover all
                # Q — a quarter (w <= 14) or half (w <= 25) of the index
                # traffic of one gather per value
                q_vals = 4 if w <= 14 else 2
                rel_bit = np.arange(0, mini_size, q_vals,
                                    dtype=np.int64) * w
                bytepos = byte_offsets[ids][:, None] + \
                    (rel_bit >> 3)[None, :]
                shift = (rel_bit & 7).astype(np.uint64)
                win = u64[bytepos]
                mask = np.uint64((1 << w) - 1)
                # unpack into a contiguous (len, windows, Q) temp — value
                # index inside a mini is window*Q + q, so the C-order
                # reshape IS mini order; one row-gather write into vals
                # replaces Q strided fancy writes
                nwin = mini_size // q_vals
                tmp = np.empty((len(ids), nwin, q_vals), dtype=idt)
                for q in range(q_vals):
                    sh = (shift + np.uint64(q * w))[None, :]
                    uq = ((win >> sh) & mask)
                    if idt == np.int32:
                        tmp[:, :, q] = uq.astype(np.uint32) \
                            + adds.view(np.uint32)[:, None]
                    else:
                        tmp[:, :, q] = (uq + adds.view(np.uint64)[:, None]) \
                            .view(np.int64)
                vals[ids] = tmp.reshape(len(ids), mini_size)
            else:
                nb = w * (mini_size // 8)
                rows = payload[byte_offsets[ids][:, None]
                               + np.arange(nb)[None, :]]
                bits = np.unpackbits(rows, axis=1, bitorder="little") \
                    .reshape(len(ids) * mini_size, w)
                vals[ids] = bitpack.values_from_bits(bits, w, np.int64) \
                    .reshape(len(ids), mini_size).astype(idt) \
                    + adds[:, None]

    deltas = vals.reshape(-1)[:nd]
    # seed the running sum with the first value, then cumsum STRAIGHT into
    # the output slice — the old flow added mins blockwise (now fused into
    # pass 2), cumsummed in place, and copied into out: two fewer
    # full-size passes
    with np.errstate(over="ignore"):  # seed wraps mod 2^32 by design
        deltas[0] += out[0]
    np.cumsum(deltas, out=out[1:])
    return out.astype(out_dtype, copy=False), pos
