"""Codec auto-selector: sampled cardinality / run-rate / span cost model.

Generalizes the reference's static-config-plus-one-fallback-rule codec choice
(``/root/reference/src/parquet/properties.h:141-347`` per-column encoding
config; runtime dict->PLAIN fallback ``column_writer.cc:498-510``) into a
per-chunk decision: sample <= SAMPLE_VALUES values, compute closed-form size
estimates per candidate codec (the reference's analog is
``EstimatedDataEncodedSize`` / RLE ``MaxBufferSize``,
``encoding-internal.h:487-503``), pick the smallest, tie-breaking toward the
cheapest decode (PLAIN < RLE < DICT < DELTA < string codecs).

Guarantee used by tests: the selected encoding's *actual* size is compared to
PLAIN after encoding, and PLAIN wins if the estimate was wrong — so selected
size <= PLAIN size always holds.
"""

from __future__ import annotations

import numpy as np

from . import chunk as chunkmod
from .kernels import ba, bitpack, dictionary

SAMPLE_VALUES = 65536

# Decode-cost tie-break order (cheapest first).
_COST_ORDER = {
    chunkmod.PLAIN: 0,
    chunkmod.RLE: 1,
    chunkmod.RLE_DICTIONARY: 2,
    chunkmod.DELTA_BINARY_PACKED: 3,
    chunkmod.DELTA_LENGTH_BYTE_ARRAY: 4,
    chunkmod.DELTA_BYTE_ARRAY: 5,
    chunkmod.FSST: 6,
}


def _sample(values, n: int):
    if len(values) <= n:
        return values
    # Deterministic stride sample (no RNG -> reproducible across executors).
    step = len(values) // n
    if isinstance(values, ba.ByteArrayView):
        import numpy as np
        return ba.take(values, np.arange(0, len(values), step)[:n])
    return values[::step][:n]


def _window(values, n: int):
    """Contiguous middle window — preserves local structure (deltas, runs)."""
    if len(values) <= n:
        return values
    start = (len(values) - n) // 2
    if isinstance(values, ba.ByteArrayView):
        return ba.slice_rows(values, start, start + n)
    return values[start: start + n]


def _estimate_cardinality(sample_card: int, singletons: int, sn: int,
                          n: int) -> float:
    """Good-Turing-style unseen-species correction: when most sampled values
    are singletons the full column is likely all-distinct. est = card /
    (1 - f1/sn), capped to n (Chao-style; deterministic, no RNG)."""
    if sn >= n:
        return float(sample_card)
    frac_single = singletons / max(1, sn)
    if frac_single >= 0.999:
        return float(n)
    return min(float(n), sample_card / (1.0 - frac_single))


def estimate_int_sizes(values: np.ndarray, phys: str = "int32",
                       known_ndv: "int | None" = None) -> dict[int, float]:
    """Estimated encoded bytes per codec for an integer column chunk.

    ``known_ndv``: exact per-chunk cardinality when the caller already has
    it (a re-encode of a column whose manifest recorded
    ``distinct_counts`` — plans.encode_job). Skips the sampled
    unique/singleton pass (the expensive part of the estimate) and replaces
    the Good-Turing guess with the exact value; codec choice is identical
    whenever the estimate was right, and strictly better informed when it
    was not."""
    n = len(values)
    itemsize = 4 if phys in ("int32", "uint32", "float") else 8
    if n == 0:
        return {chunkmod.PLAIN: 0.0}
    s = _sample(values, SAMPLE_VALUES)
    sn = len(s)
    # contiguous window for locality-sensitive estimates (deltas, runs)
    w_vals = _window(values, SAMPLE_VALUES)
    wn = len(w_vals)

    if known_ndv is None:
        uniques, counts = np.unique(s, return_counts=True)
        card = len(uniques)
        singletons = int((counts == 1).sum())
        est_card = _estimate_cardinality(card, singletons, sn, n)
    else:
        est_card = float(known_ndv)
    mn = int(s.min())
    mx = int(s.max())
    runs = int((np.diff(w_vals) != 0).sum()) + 1
    run_rate = runs / wn  # runs per value in the true local order

    est: dict[int, float] = {}
    est[chunkmod.PLAIN] = float(n * itemsize)

    # Dictionary: dict page + bit-packed/RLE indices.
    bw = max(1, bitpack.width_for_max(int(est_card)))
    idx_bytes = min(n * bw / 8.0 * 1.02,                    # bit-packed groups
                    run_rate * n * (2 + (bw + 7) // 8))     # or mostly RLE runs
    est[chunkmod.RLE_DICTIONARY] = est_card * itemsize + idx_bytes + 1

    # Direct RLE (non-negative ints only; uint64 values past 2^63 exceed
    # the RLE value-byte path -- DELTA/DICT/PLAIN cover that range).
    if mn >= 0 and not (phys == "uint64" and mx >= 1 << 63):
        vbw = max(1, bitpack.width_for_max(mx))
        rle_bytes = min(n * vbw / 8.0 * 1.02,
                        run_rate * n * (2 + (vbw + 7) // 8))
        est[chunkmod.RLE] = rle_bytes + 2

    # DELTA_BINARY_PACKED: per-miniblock width from true adjacent deltas in
    # the contiguous window (stride-sampled deltas misestimate badly for
    # unsorted data).
    if wn > 1:
        d = np.diff(np.asarray(w_vals, dtype=np.int64))
        # spans viewed unsigned: int64 wrap-around on uint64-range data
        # would otherwise yield negative spans (the delta kernel itself
        # works mod 2^64, so an unsigned span is the honest width proxy)
        if len(d) < 32:
            span0 = int(np.uint64(int(d.max()) - int(d.min()) & ((1 << 64) - 1)))
            mean_w = float(bitpack.width_for_max(span0))
        else:
            nmini = len(d) // 32
            trimmed = d[: nmini * 32].reshape(nmini, 32)
            mins = trimmed.min(axis=1)
            spans = (trimmed.max(axis=1) - mins).view(np.uint64)
            widths = np.fromiter(
                (bitpack.width_for_max(int(x)) for x in spans),
                dtype=np.int64, count=nmini)
            mean_w = float(widths.mean())
        est[chunkmod.DELTA_BINARY_PACKED] = n * mean_w / 8.0 + (n / 128.0) * 6 + 10
    return est


def estimate_bytes_sizes(values: list[bytes],
                         known_ndv: "int | None" = None) -> dict[int, float]:
    """Estimated encoded bytes per codec for a byte-array column chunk.
    ``known_ndv`` as in :func:`estimate_int_sizes` (skips the Counter
    pass; the dict-page payload is then scaled by exact cardinality)."""
    n = len(values)
    if n == 0:
        return {chunkmod.PLAIN: 0.0}
    s = _sample(values, 4096)
    if isinstance(s, ba.ByteArrayView):
        lens = s.lengths
        s = ba.to_list(s)
    else:
        lens = np.fromiter((len(v) for v in s), dtype=np.int64, count=len(s))
    sn = len(s)
    scale = n / sn
    total_payload = float(lens.sum()) * scale

    est: dict[int, float] = {}
    est[chunkmod.PLAIN] = total_payload + 4.0 * n

    avg_item = float(lens.mean()) + 4.0
    if known_ndv is None:
        from collections import Counter
        cnt = Counter(s)
        card = len(cnt)
        singletons = sum(1 for c in cnt.values() if c == 1)
        est_card = _estimate_cardinality(card, singletons, sn, n)
        uniq_payload = float(sum(len(v) + 4 for v in cnt)) * \
            (est_card / max(1, card))
    else:
        est_card = float(known_ndv)
        uniq_payload = est_card * avg_item
    bw = max(1, bitpack.width_for_max(int(est_card)))
    est[chunkmod.RLE_DICTIONARY] = uniq_payload + n * bw / 8.0 * 1.02 + 1

    est[chunkmod.DELTA_LENGTH_BYTE_ARRAY] = total_payload + 1.1 * n

    # DELTA_BYTE_ARRAY pays only suffixes; sample adjacent common prefixes
    # (vectorized pair compare, capped at 16 bytes like the old estimate).
    if sn > 1:
        from .kernels.bytearray_codecs import _prefix_lengths
        plens = np.minimum(_prefix_lengths(ba.from_list(s)), 16)
        avg_pref = float(plens[1:].mean())
        est[chunkmod.DELTA_BYTE_ARRAY] = max(
            0.0, total_payload - avg_pref * n) + 2.2 * n

    # FSST: assume ~2x on natural text when strings are long enough; the
    # deterministic trainer cost makes it worthwhile only for fat chunks.
    avg_len = float(lens.mean())
    if avg_len >= 8:
        est[chunkmod.FSST] = total_payload * 0.55 + 2.0 * n + 800
    return est


# Estimates within this factor of the best trigger an actual-size runoff.
# Int estimates are tight (exact widths from a contiguous window) -> narrow
# runoff; byte-array estimates (FSST especially) are rough -> wide runoff.
# Every extra candidate is a full memory pass, which is what limits
# multi-core scaling on bandwidth-constrained hosts.
RUNOFF_FACTOR_INT = 1.15
RUNOFF_MAX_INT = 2
RUNOFF_FACTOR_BYTES = 2.2
RUNOFF_MAX_BYTES = 3


def _ranked(est: dict[int, float]) -> list[int]:
    return [k for k, _ in sorted(est.items(),
                                 key=lambda kv: (kv[1], _COST_ORDER[kv[0]]))]


def select_int_codec(values: np.ndarray, phys: str = "int32") -> int:
    return _ranked(estimate_int_sizes(values, phys))[0]


def select_bytes_codec(values: list[bytes],
                       parquet_expressible: bool = False) -> int:
    """Best estimated codec for a byte-array chunk.

    ``parquet_expressible=True`` ranks only codecs that exist in the
    parquet-format encoding enum (the PAR1 sink's surface): FSST is the
    one chunk-format codec with no parquet id, so when it wins the
    estimate the sink should take the runner-up (usually
    DELTA_BYTE_ARRAY on prefix-heavy text) rather than fall all the way
    back to PLAIN."""
    est = estimate_bytes_sizes(values)
    if parquet_expressible:
        est.pop(chunkmod.FSST, None)
    return _ranked(est)[0]


def candidates(values, phys: str,
               allow_dictionary: bool = True,
               known_ndv: "int | None" = None) -> list[int]:
    """Codecs worth actually encoding: the estimate winner plus any within
    the runoff factor (closed-form estimates are approximate; the runoff
    on real bytes is the authoritative pick — analog of the reference
    verifying dict size at runtime rather than trusting the estimate,
    ``column_writer.cc:498-510``). ``allow_dictionary=False`` mirrors the
    reference's enable_dictionary(false) writer property."""
    if phys == "boolean":
        return [chunkmod.RLE, chunkmod.PLAIN]  # runoff decides; dict invalid
    if phys in ("float", "double") or phys.startswith("flba"):
        # reference behavior: dictionary unless disabled; PLAIN fallback
        return [chunkmod.RLE_DICTIONARY, chunkmod.PLAIN] if allow_dictionary \
            else [chunkmod.PLAIN]
    if phys == "byte_array":
        est = estimate_bytes_sizes(values, known_ndv=known_ndv)
        factor, cap = RUNOFF_FACTOR_BYTES, RUNOFF_MAX_BYTES
    else:
        est = estimate_int_sizes(values, phys, known_ndv=known_ndv)
        factor, cap = RUNOFF_FACTOR_INT, RUNOFF_MAX_INT
    if not allow_dictionary:
        est.pop(chunkmod.RLE_DICTIONARY, None)
    order = _ranked(est)
    best = est[order[0]]
    out = [c for c in order if est[c] <= best * factor]
    return out[:cap]


def _plain_payload_bytes(values, phys: str) -> int:
    if phys == "byte_array":
        if isinstance(values, ba.ByteArrayView):
            return values.total_bytes + 4 * len(values)
        return sum(len(v) for v in values) + 4 * len(values)
    if phys.startswith("flba"):
        return sum(len(v) for v in values)
    if phys == "boolean":
        return (len(values) + 7) // 8
    itemsize = 4 if phys in ("int32", "uint32", "float") else 8
    return itemsize * len(values)


def encode_best(values, phys: str, *, row_lengths=None,
                codec_override: int | None = None,
                dict_size_limit: int = dictionary.DEFAULT_DICT_SIZE_LIMIT,
                compression: int = 0,
                allow_dictionary: bool = True,
                guard_with_plain: bool = True,
                page_size: int | None = chunkmod.DEFAULT_PAGE_SIZE,
                elem_valid=None,
                inner_lengths=None,
                valid_mask=None,
                data_page_version: int = 1,
                known_ndv: "int | None" = None) -> "chunkmod.EncodedChunk":
    """Encode with the selected (or forced) codec. When estimates are close,
    encode the top candidates and keep the actual-smallest; always fall back
    to PLAIN if the pick loses to PLAIN on actual bytes (preserves the
    'selected <= PLAIN' property the reference's fallback rule guarantees)."""
    has_levels = (row_lengths is not None and elem_valid is None
                  and inner_lengths is None)
    # Chunks that will take the paged path rebuild levels per page slice and
    # never read a whole-chunk levels stream — building one here (an RLE
    # pass over every row) would be pure waste. The paged predicate mirrors
    # chunk.encode_chunk's exactly; every codec an integer type takes
    # pages, so the pick can't change which branch runs.
    will_page = (has_levels and page_size and valid_mask is None
                 and phys in ("int32", "int64", "uint32", "uint64")
                 and chunkmod._values_raw_bytes(values, phys) > page_size)
    levels_sections = (chunkmod.build_levels_sections(row_lengths)
                      if has_levels and not will_page else None)
    if valid_mask is not None and bool(valid_mask.all()):
        valid_mask = None  # all-present: encode REQUIRED (dense == spaced)
    if codec_override is not None:
        return chunkmod.encode_chunk(values, phys, codec_override,
                                     row_lengths=row_lengths,
                                     dict_size_limit=dict_size_limit,
                                     compression=compression,
                                     levels_sections=levels_sections,
                                     page_size=page_size,
                                     elem_valid=elem_valid,
                                     inner_lengths=inner_lengths,
                                     valid_mask=valid_mask,
                                     data_page_version=data_page_version)

    cands = candidates(values, phys, allow_dictionary, known_ndv=known_ndv)

    # Byte-array runoff on a contiguous sample: string codecs (FSST
    # training + greedy match) are the expensive ones, so pick the winner on
    # ~4K strings and pay the full encode only once. Dictionary is excluded
    # from sampled scoring (its cost amortizes with column size), so when
    # dict is a candidate fall back to the full runoff.
    if (phys == "byte_array" and codec_override is None and len(cands) > 1
            and len(values) > 8192
            and chunkmod.RLE_DICTIONARY not in cands):
        sample = _window(values, 4096)
        best_c = min(cands, key=lambda c: chunkmod.encode_chunk(
            sample, phys, c, with_stats=False).enc_bytes)
        cands = [best_c]

    best: chunkmod.EncodedChunk | None = None
    for codec in cands:
        enc = chunkmod.encode_chunk(values, phys, codec,
                                    row_lengths=row_lengths,
                                    dict_size_limit=dict_size_limit,
                                    compression=compression,
                                    levels_sections=levels_sections,
                                    page_size=page_size,
                                    elem_valid=elem_valid,
                                    inner_lengths=inner_lengths,
                                    valid_mask=valid_mask,
                                    data_page_version=data_page_version)
        if best is None or enc.enc_bytes < best.enc_bytes:
            best = enc
    if guard_with_plain and best is not None and best.codec != chunkmod.PLAIN:
        # PLAIN's size is closed-form — only pay the encode pass if it wins.
        # plain chunk = 21-byte header (4 magic + 5 fields + 3x u32,
        # chunk._HEADER_LEN) [+ levels sections] + 4-byte section length
        # prefix + raw payload
        plain_total = chunkmod._HEADER_LEN + 4 + \
            _plain_payload_bytes(values, phys)
        if levels_sections is None and will_page and \
                plain_total < best.enc_bytes:
            # levels build was skipped for the paged path; the gate must
            # still include their bytes (identical decision to the eager
            # build) — pay the build only when the values-only gate opens
            levels_sections = chunkmod.build_levels_sections(row_lengths)
        if levels_sections is not None:
            plain_total += len(levels_sections[0])
        if plain_total < best.enc_bytes:
            plain_enc = chunkmod.encode_chunk(
                values, phys, chunkmod.PLAIN, row_lengths=row_lengths,
                compression=compression,
                levels_sections=levels_sections, page_size=page_size,
                elem_valid=elem_valid, inner_lengths=inner_lengths,
                valid_mask=valid_mask,
                data_page_version=data_page_version)
            if plain_enc.enc_bytes < best.enc_bytes:
                return plain_enc
    return best
