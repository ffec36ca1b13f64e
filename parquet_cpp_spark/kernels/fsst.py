"""FSST — Fast Static Symbol Table string compression.

Not present in the reference (parquet-cpp slots DELTA_BYTE_ARRAY in this
niche); required by the north star. Implemented from the public spec:
P. Boncz, T. Neumann, V. Leis, "FSST: Fast Random Access String Compression",
PVLDB 13(11), 2020 — a static table of up to 255 symbols of 1..8 bytes, one
escape code (255) followed by a raw byte, greedy longest-match encoding, and
a table trained by iterative gain counting over a sample.

Determinism: training samples the first ``SAMPLE_BYTES`` of the concatenated
input (no RNG), candidate selection tie-breaks on (gain desc, symbol bytes
asc), so the same chunk always produces the same table on every executor —
required for reproducible encode across retries (SURVEY §7 hard part (c)).

Vectorization: the greedy scan is sequential *within* a string but
independent *across* strings, so encode/decode run in rounds over a frontier
of per-string cursors — each round matches every active string's next token
at once (8-byte little-endian windows against per-length sorted symbol-key
tables via searchsorted; the paper's SIMD batching transposed into numpy).
Token streams are reassembled with one lexsort + scatter. Per-string loops
appear nowhere; output bytes are identical to the scalar greedy reference
implementation (the golden blob test pins this).

Blob layout (self-contained, unchanged since v1):
    [u8 n_symbols][n_symbols x (u8 len + bytes)]
    [u32 n_strings]
    [u32 lens_blob_len][DELTA_BINARY_PACKED(encoded byte length per string)]
    [encoded payload]
"""

from __future__ import annotations

import numpy as np

from . import ba, delta

ESCAPE = 255
MAX_SYMBOLS = 255
MAX_SYMBOL_LEN = 8
SAMPLE_BYTES = 1 << 14  # 16 KiB training sample
TRAIN_ITERATIONS = 5


def _u64_windows(dpad: np.ndarray) -> np.ndarray:
    """Overlapping little-endian u64 view over a zero-padded byte buffer:
    ``out[i]`` is the 8 bytes starting at ``i``. One unaligned 8-byte load
    per gathered element, replacing the (n, 8) 2-D fancy-index + copy the
    frontier rounds used to pay per round (64 bytes of int64 index traffic
    per 8 gathered bytes)."""
    return np.ndarray(shape=(len(dpad) - 7,), dtype="<u8",
                      buffer=dpad, strides=(1,))


def _token_keys(view: ba.ByteArrayView) -> tuple[np.ndarray, np.ndarray]:
    """(u64 LE key, length) per token (all tokens are <= 8 bytes)."""
    lens = view.lengths.astype(np.int64)
    dpad = np.concatenate([view.data, np.zeros(8, dtype=np.uint8)])
    w = _u64_windows(dpad)[view.offsets[:-1]]
    with np.errstate(over="ignore"):
        mask = np.where(lens >= 8, np.uint64(0xFFFFFFFFFFFFFFFF),
                        (np.uint64(1) << (np.uint64(8) * lens.astype(np.uint64)))
                        - np.uint64(1))
    return w & mask, lens


def _unique_gains(keys: np.ndarray, lens: np.ndarray) -> tuple:
    """(unique key, unique len, count*len) over (key, len) pairs."""
    order = np.lexsort((keys, lens))
    k, ln = keys[order], lens[order]
    new = np.ones(len(k), dtype=bool)
    new[1:] = (k[1:] != k[:-1]) | (ln[1:] != ln[:-1])
    starts = np.flatnonzero(new)
    counts = np.diff(np.concatenate((starts, [len(k)])))
    return k[starts], ln[starts], counts * ln[starts]


def train(values) -> list[bytes]:
    """Build a deterministic symbol table from a sample of the input.

    Each iteration greedily tokenizes the sample with the current table
    (vectorized frontier rounds, same matcher as encode) and counts token
    and adjacent-pair occurrences; gains = count * len, ranked
    (gain desc, bytes asc). Counting/ranking is pure numpy over u64 token
    keys (tokens and pairs are <= 8 bytes, so a pair key is
    ``left | right << 8*len(left)`` — no byte materialization); the ranked
    table is byte-identical to the original dict/sorted implementation
    (bytes-asc order == big-endian zero-padded key, then length)."""
    sample: list[bytes] = []
    budget = SAMPLE_BYTES
    for v in values:
        if budget <= 0:
            break
        sample.append(v[: min(len(v), budget)])
        budget -= len(v)
    view = ba.from_list(sample)
    lookup: list = []
    sym_keys = np.zeros(0, dtype=np.uint64)
    sym_lens = np.zeros(0, dtype=np.int64)
    for _ in range(TRAIN_ITERATIONS):
        tokens, sids = _tokenize(view, lookup)
        tkeys, tlens = _token_keys(tokens)
        # adjacent same-string pairs, length-capped — arithmetic only
        ok = (sids[1:] == sids[:-1]) & (tlens[:-1] + tlens[1:]
                                        <= MAX_SYMBOL_LEN)
        with np.errstate(over="ignore"):
            pkeys = tkeys[:-1][ok] | (
                tkeys[1:][ok] << (np.uint64(8)
                                  * tlens[:-1][ok].astype(np.uint64)))
        plens = (tlens[:-1] + tlens[1:])[ok]
        uk1, ul1, g1 = _unique_gains(tkeys, tlens)
        uk2, ul2, g2 = _unique_gains(pkeys, plens) if len(pkeys) else \
            (np.zeros(0, np.uint64), np.zeros(0, np.int64),
             np.zeros(0, np.int64))
        # max-merge the two gain sets on (key, len)
        ak = np.concatenate((uk1, uk2))
        al = np.concatenate((ul1, ul2))
        ag = np.concatenate((g1, g2))
        order = np.lexsort((ak, al))
        ak, al, ag = ak[order], al[order], ag[order]
        new = np.ones(len(ak), dtype=bool)
        new[1:] = (ak[1:] != ak[:-1]) | (al[1:] != al[:-1])
        gid = np.cumsum(new) - 1
        gmax = np.zeros(int(gid[-1]) + 1 if len(gid) else 0, dtype=np.int64)
        np.maximum.at(gmax, gid, ag)
        ak, al = ak[new], al[new]
        # rank by (gain desc, bytes asc): bytes-asc == big-endian
        # zero-padded key asc, then length asc ("a" < "a\\x00")
        be = ak.byteswap() if ak.dtype.byteorder != ">" else ak
        top = np.lexsort((al, be, -gmax))[:MAX_SYMBOLS]
        # keep the table as (key, len) arrays between iterations — the
        # per-iteration bytes-list materialization and _lookup_arrays
        # re-parse were pure overhead; bytes are built once on return
        sym_keys, sym_lens = ak[top], al[top]
        lookup = _lookup_from_arrays(sym_keys, sym_lens)
    return [int(k).to_bytes(8, "little")[: int(ln)]
            for k, ln in zip(sym_keys.tolist(), sym_lens.tolist())]


def _tokenize(view: ba.ByteArrayView, lookup):
    """Greedy tokenization of every string (frontier rounds): returns
    (tokens as a view in (string, position) order, string id per token).
    Escapes yield their single raw byte as the token, exactly like the
    scalar trainer's ``s[i:i+1]``."""
    data, offs, lens = view.data, view.offsets, view.lengths
    n = len(view)
    if not lookup:
        # no symbols yet (training iteration 1): every byte is its own
        # escape token, in exactly concatenated-data order — skip the
        # frontier loop (max-string-length rounds of tiny ops)
        total = int(offs[-1])
        return (ba.ByteArrayView(data,
                                 np.arange(total + 1, dtype=np.int64)),
                np.repeat(np.arange(n, dtype=np.int64),
                          lens.astype(np.int64)))
    dpad = np.concatenate([data, np.zeros(MAX_SYMBOL_LEN, dtype=np.uint8)])
    wall = _u64_windows(dpad)
    masks = {L: np.uint64((1 << (8 * L)) - 1) if L < 8
             else np.uint64(0xFFFFFFFFFFFFFFFF) for L, _, _ in lookup}
    pos = offs[:-1].copy()
    active = np.flatnonzero(lens > 0)
    tok_sid, tok_pos, tok_len, tok_round = [], [], [], []
    r = 0
    while len(active):
        p = pos[active]
        rem = offs[active + 1] - p
        w = wall[p]
        step = np.ones(len(active), dtype=np.int64)
        unmatched = np.ones(len(active), dtype=bool)
        for L, keys, _codes in lookup:
            cand = np.flatnonzero(unmatched & (rem >= L))
            if not len(cand):
                continue
            k = w[cand] & masks[L]
            idx = np.searchsorted(keys, k)
            hit = np.flatnonzero(
                (idx < len(keys)) & (keys[np.minimum(idx, len(keys) - 1)]
                                     == k))
            if not len(hit):
                continue
            rows = cand[hit]
            step[rows] = L
            unmatched[rows] = False
        tok_sid.append(active.copy())
        tok_pos.append(p)
        tok_len.append(step.copy())
        tok_round.append(np.full(len(active), r, dtype=np.int64))
        pos[active] = p + step
        active = active[pos[active] < offs[active + 1]]
        r += 1
    if not tok_sid:
        return ba.from_list([]), np.zeros(0, dtype=np.int64)
    sid = np.concatenate(tok_sid)
    tpos = np.concatenate(tok_pos)
    tlen = np.concatenate(tok_len)
    rnd = np.concatenate(tok_round)
    ntok = np.bincount(sid, minlength=n)
    base = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(ntok, out=base[1:])
    slot = base[sid] + rnd
    pos_o = np.empty_like(tpos)
    len_o = np.empty_like(tlen)
    sid_o = np.empty_like(sid)
    pos_o[slot] = tpos
    len_o[slot] = tlen
    sid_o[slot] = sid
    # gather token bytes into a view
    offsets = np.zeros(len(len_o) + 1, dtype=np.int64)
    np.cumsum(len_o, out=offsets[1:])
    total = int(offsets[-1])
    intra = np.arange(total, dtype=np.int64) - np.repeat(offsets[:-1], len_o)
    tok_data = data[np.repeat(pos_o, len_o) + intra]
    return ba.ByteArrayView(tok_data, offsets), sid_o


def _lookup_arrays(symbols: list[bytes]):
    """Per symbol length (desc): (L, sorted u64 keys, codes) for vectorized
    longest-match via searchsorted."""
    by_len: dict[int, list[tuple[int, int]]] = {}
    for code, sym in enumerate(symbols):
        by_len.setdefault(len(sym), []).append(
            (int.from_bytes(sym, "little"), code))
    out = []
    for L in sorted(by_len, reverse=True):
        pairs = sorted(by_len[L])
        keys = np.array([k for k, _ in pairs], dtype=np.uint64)
        codes = np.array([c for _, c in pairs], dtype=np.int64)
        out.append((L, keys, codes))
    return out


def _lookup_from_arrays(keys: np.ndarray, lens: np.ndarray):
    """:func:`_lookup_arrays` built straight from (u64 key, len) arrays
    (codes = position in the array, the symbol's code by construction)."""
    out = []
    for L in sorted(set(lens.tolist()), reverse=True):
        m = lens == L
        codes = np.flatnonzero(m).astype(np.int64)
        k = keys[m]
        order = np.argsort(k, kind="stable")
        out.append((int(L), k[order], codes[order]))
    return out


def _train_sample(view: ba.ByteArrayView) -> list[bytes]:
    """First rows covering SAMPLE_BYTES, as bytes (what train() consumes)."""
    k = int(np.searchsorted(view.offsets, SAMPLE_BYTES, side="left"))
    k = min(len(view), max(1, k + 1))
    return ba.to_list(ba.slice_rows(view, 0, k))


def encode(values) -> bytes:
    view = ba.as_view(values)
    symbols = train(_train_sample(view)) if len(view) else []
    enc_lens, payload = encode_with_table(view, symbols)
    table = bytearray([len(symbols)])
    for sym in symbols:
        table.append(len(sym))
        table += sym
    lens_blob = delta.encode(enc_lens)
    return (bytes(table) + len(view).to_bytes(4, "little")
            + len(lens_blob).to_bytes(4, "little") + lens_blob
            + payload)


def encode_with_table(values, symbols: list[bytes]) -> tuple:
    """(encoded byte length per string, concatenated codes) of ``values``
    under a given table: the greedy longest-match coding ``encode``
    stores, which depends only on each string's bytes and the table."""
    view = ba.as_view(values)
    n = len(view)
    lookup = _lookup_arrays(symbols)

    data, offs, lens = view.data, view.offsets, view.lengths
    dpad = np.concatenate([data, np.zeros(MAX_SYMBOL_LEN, dtype=np.uint8)])
    wall = _u64_windows(dpad)
    masks = {L: np.uint64((1 << (8 * L)) - 1) if L < 8
             else np.uint64(0xFFFFFFFFFFFFFFFF) for L, _, _ in lookup}

    pos = offs[:-1].copy()
    active = np.flatnonzero(lens > 0)
    tok_sid: list[np.ndarray] = []
    tok_b0: list[np.ndarray] = []
    tok_b1: list[np.ndarray] = []
    tok_two: list[np.ndarray] = []
    tok_round: list[np.ndarray] = []
    r = 0
    while len(active):
        p = pos[active]
        rem = offs[active + 1] - p
        w = wall[p]
        code = np.full(len(active), ESCAPE, dtype=np.int64)
        step = np.ones(len(active), dtype=np.int64)
        unmatched = np.ones(len(active), dtype=bool)
        for L, keys, codes in lookup:   # longest first == greedy
            cand = np.flatnonzero(unmatched & (rem >= L))
            if not len(cand):
                continue
            k = w[cand] & masks[L]
            idx = np.searchsorted(keys, k)
            hit = np.flatnonzero(
                (idx < len(keys)) & (keys[np.minimum(idx, len(keys) - 1)] == k))
            if not len(hit):
                continue
            rows = cand[hit]
            code[rows] = codes[idx[hit]]
            step[rows] = L
            unmatched[rows] = False
        tok_sid.append(active.copy())
        tok_b0.append(code)
        tok_b1.append(dpad[p])          # literal byte (escape tokens only)
        tok_two.append(unmatched)       # escape -> 2 output bytes
        tok_round.append(np.full(len(active), r, dtype=np.int64))
        pos[active] = p + step
        active = active[pos[active] < offs[active + 1]]
        r += 1

    if tok_sid:
        sid = np.concatenate(tok_sid)
        b0 = np.concatenate(tok_b0)
        b1 = np.concatenate(tok_b1)
        two = np.concatenate(tok_two)
        rnd = np.concatenate(tok_round)
        # a string is active in consecutive rounds from 0, so its r-th token
        # is exactly its round-r token: per-string order needs no sort, just
        # slot = tokens-before-this-string + round
        ntok = np.bincount(sid, minlength=n)
        base = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(ntok, out=base[1:])
        slot = base[sid] + rnd
        b0o = np.empty_like(b0)
        b1o = np.empty_like(b1)
        twoo = np.empty_like(two)
        b0o[slot] = b0
        b1o[slot] = b1
        twoo[slot] = two
        tlen = 1 + twoo.astype(np.int64)
        tpos = np.zeros(len(tlen), dtype=np.int64)
        np.cumsum(tlen[:-1], out=tpos[1:])
        out = np.empty(int(tlen.sum()), dtype=np.uint8)
        out[tpos] = b0o
        esc = np.flatnonzero(twoo)
        out[tpos[esc] + 1] = b1o[esc]
        # encoded bytes per string = its token count + one extra byte per
        # escape token
        enc_lens = ntok.astype(np.int64)
        if two.any():
            enc_lens = enc_lens + np.bincount(sid[two], minlength=n)
        payload = out.tobytes()
    else:
        enc_lens = np.zeros(n, dtype=np.int64)
        payload = b""
    return enc_lens, payload


def _corrupt(what: str) -> ValueError:
    return ValueError(f"corrupt FSST stream: {what}")


def code_view(buf, pos: int = 0) -> tuple:
    """(symbol table, each string's stored codes as a view, position past
    the stream) of the FSST stream at ``pos``, with nothing decoded."""
    # every count the header declares is checked against the bytes that
    # remain before anything is allocated from it
    mv = memoryview(buf) if not isinstance(buf, memoryview) else buf
    end = len(mv)
    if pos >= end:
        raise _corrupt("no symbol table")
    n_symbols = mv[pos]
    pos += 1
    symbols: list[bytes] = []
    for _ in range(n_symbols):
        sl = mv[pos] if pos < end else 0
        if not 1 <= sl <= MAX_SYMBOL_LEN or pos + 1 + sl > end:
            raise _corrupt("symbol table overruns the buffer")
        pos += 1
        symbols.append(bytes(mv[pos: pos + sl]))
        pos += sl
    if pos + 8 > end:
        raise _corrupt("header overruns the buffer")
    n_strings = int.from_bytes(mv[pos: pos + 4], "little")
    pos += 4
    lens_blob_len = int.from_bytes(mv[pos: pos + 4], "little")
    pos += 4
    if lens_blob_len > end - pos:
        raise _corrupt(f"length block of {lens_blob_len} bytes, "
                       f"{end - pos} left")
    enc_lens, _ = delta.decode(mv[pos: pos + lens_blob_len])
    enc_lens = enc_lens.astype(np.int64, copy=False)
    pos += lens_blob_len
    if len(enc_lens) != n_strings:
        raise _corrupt(f"{n_strings} strings declared, "
                       f"{len(enc_lens)} lengths stored")

    if n_strings and enc_lens.min() < 0:
        raise _corrupt("negative encoded length")
    total_enc = int(enc_lens.sum())
    if total_enc > end - pos:
        raise _corrupt(f"{total_enc} encoded bytes declared, "
                       f"{end - pos} left")
    enc = np.frombuffer(mv, dtype=np.uint8, count=total_enc, offset=pos)
    eoffs = np.zeros(n_strings + 1, dtype=np.int64)
    np.cumsum(enc_lens, out=eoffs[1:])
    return symbols, ba.ByteArrayView(enc, eoffs), pos + total_enc


def decode_view(buf, pos: int = 0) -> tuple[ba.ByteArrayView, int]:
    symbols, codes, end_pos = code_view(buf, pos)
    enc, eoffs, enc_lens = codes.data, codes.offsets, codes.lengths
    n_symbols, n_strings, total_enc = len(symbols), len(codes), len(enc)

    # symbol store: concatenated bytes + per-code (offset, length)
    s_len = np.zeros(256, dtype=np.int64)
    s_off = np.zeros(256, dtype=np.int64)
    parts = []
    acc = 0
    for c, sym in enumerate(symbols):
        s_len[c] = len(sym)
        s_off[c] = acc
        acc += len(sym)
        parts.append(np.frombuffer(sym, dtype=np.uint8))
    sym_data = np.concatenate(parts) if parts else np.array([], dtype=np.uint8)

    cur = eoffs[:-1].copy()
    active = np.flatnonzero(enc_lens > 0)
    tok_sid, tok_code, tok_esc, tok_lit, tok_round = [], [], [], [], []
    r = 0
    while len(active):
        p = cur[active]
        c = enc[p].astype(np.int64)
        esc = c == ESCAPE
        if np.any(esc & (p + 1 >= eoffs[active + 1])):
            # an ESCAPE token must be followed by its literal byte inside
            # the same string; a trailing ESCAPE is a corrupt stream (the
            # clamped read below would fabricate a literal)
            raise ValueError("corrupt FSST stream: escape at end of string")
        lit = enc[np.minimum(p + 1, max(total_enc - 1, 0))]
        tok_sid.append(active.copy())
        tok_code.append(c)
        tok_esc.append(esc)
        tok_lit.append(lit)
        tok_round.append(np.full(len(active), r, dtype=np.int64))
        cur[active] = p + 1 + esc
        active = active[cur[active] < eoffs[active + 1]]
        r += 1

    if tok_sid:
        sid = np.concatenate(tok_sid)
        code = np.concatenate(tok_code)
        esc = np.concatenate(tok_esc)
        lit = np.concatenate(tok_lit)
        rnd = np.concatenate(tok_round)
        if np.any(~esc & (code >= n_symbols)):
            # a code past the table would read a zero-length symbol
            raise _corrupt(f"symbol code past the {n_symbols}-symbol table")
        # per-string token order without sorting (see encode): a string is
        # active in consecutive rounds from 0
        ntok = np.bincount(sid, minlength=n_strings)
        base = np.zeros(n_strings + 1, dtype=np.int64)
        np.cumsum(ntok, out=base[1:])
        slot = base[sid] + rnd
        code_o = np.empty_like(code)
        esc_o = np.empty_like(esc)
        lit_o = np.empty_like(lit)
        sid_o = np.empty_like(sid)
        code_o[slot] = code
        esc_o[slot] = esc
        lit_o[slot] = lit
        sid_o[slot] = sid
        olen = np.where(esc_o, 1, s_len[code_o])
        tdst = np.zeros(len(olen), dtype=np.int64)
        np.cumsum(olen[:-1], out=tdst[1:])
        total_out = int(olen.sum())
        out = np.empty(total_out, dtype=np.uint8)
        # symbol tokens: fixed fan-out per symbol length (max 8 scatter
        # passes per length — no byte-granular index temporaries)
        symtok = np.flatnonzero(~esc_o & (olen > 0))
        if len(symtok):
            sl = olen[symtok]
            for L in range(1, MAX_SYMBOL_LEN + 1):
                rows = symtok[sl == L]
                if not len(rows):
                    continue
                d = tdst[rows]
                s = s_off[code_o[rows]]
                for k in range(L):
                    out[d + k] = sym_data[s + k]
        # escape tokens: single literal byte
        esct = np.flatnonzero(esc_o)
        if len(esct):
            out[tdst[esct]] = lit_o[esct]
        out_lens = np.bincount(sid_o, weights=olen, minlength=n_strings) \
            .astype(np.int64)
    else:
        out = np.array([], dtype=np.uint8)
        out_lens = np.zeros(n_strings, dtype=np.int64)

    offsets = np.zeros(n_strings + 1, dtype=np.int64)
    np.cumsum(out_lens, out=offsets[1:])
    return ba.ByteArrayView(out, offsets), end_pos


def decode(buf, pos: int = 0) -> tuple[list[bytes], int]:
    view, pos = decode_view(buf, pos)
    return ba.to_list(view), pos
