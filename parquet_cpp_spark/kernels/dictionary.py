"""Dictionary encoding with first-appearance ordering and PLAIN fallback.

Mirrors parquet-cpp's ``DictEncoder``
(``/root/reference/src/parquet/encoding-internal.h:443-723``): uniques are
emitted in first-appearance order (the open-addressing hash table only affects
probe order, not emitted order — ``encoding-internal.h:644-656``), which is
exactly ``pandas.factorize`` semantics. The dictionary page is the uniques
PLAIN-encoded (``WriteDict``, ``encoding-internal.h:726-763``); the indices
page is one ``bit_width`` byte followed by RLE/bit-packed-hybrid codes
(``WriteIndices``, ``encoding-internal.h:766-780``).

Fallback: when the PLAIN-encoded dictionary reaches
``dict_size_limit`` (default 1 MiB, ``properties.h:83``) the reference stops
dictionary-encoding and writes the remainder PLAIN, recording encodings
[PLAIN_DICTIONARY, PLAIN, RLE] (``column_writer.cc:498-510``;
``column_writer-test.cc:478-506``). We reproduce that as a split point ``k``:
values[:k] dictionary-encoded, values[k:] PLAIN.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

from . import ba, plain, rle

DEFAULT_DICT_SIZE_LIMIT = 1 << 20  # properties.h:83 DEFAULT_DICTIONARY_PAGE_SIZE_LIMIT


def _bit_width(num_entries: int) -> int:
    # Reference: bit_width() in encoding-internal.h:499-503 — 0 entries -> 0,
    # 1 entry -> 1, else ceil(log2(entries)).
    if num_entries == 0:
        return 0
    if num_entries == 1:
        return 1
    return int(num_entries - 1).bit_length()


@dataclass
class DictEncoded:
    dict_blob: bytes          # PLAIN-encoded uniques (first-appearance order)
    indices_blob: bytes       # [bit_width u8][RLE-hybrid codes]
    num_entries: int
    n_dict_values: int        # values covered by the dictionary part
    plain_blob: bytes         # PLAIN remainder after fallback (b"" if none)
    n_plain_values: int
    fallback: bool
    codes: "np.ndarray | None" = None  # raw dict codes (paged writers re-RLE
    #                                    them per page; not serialized)


def _plain_sizes(uniques, phys: str) -> np.ndarray:
    if phys in ("int32", "uint32", "float"):
        return np.full(len(uniques), 4, dtype=np.int64)
    if phys in ("int64", "uint64", "double"):
        return np.full(len(uniques), 8, dtype=np.int64)
    if phys == "byte_array":
        return ba.as_view(uniques).lengths + 4
    raise ValueError(f"dictionary unsupported for {phys}")


def _plain_encode(values, phys: str) -> bytes:
    if phys == "byte_array":
        return plain.encode_byte_array(values)
    return plain.encode_fixed(np.asarray(values), phys)


def _factorize_bytes(view: "ba.ByteArrayView"):
    """Arrow hash-table dictionary build: first-appearance unique order, the
    same emitted order as the reference's open-addressing DictEncoder
    (encoding-internal.h:644-656) and as pandas.factorize — but C end to
    end, no object arrays."""
    import pyarrow.compute as pc

    d = pc.dictionary_encode(ba.to_arrow(view))
    codes = d.indices.to_numpy(zero_copy_only=False).astype(np.int64)
    return codes, ba.from_arrow(d.dictionary)


def encode(values, phys: str,
           dict_size_limit: int = DEFAULT_DICT_SIZE_LIMIT) -> DictEncoded:
    """values: np.ndarray for fixed types, or list[bytes] / ba.ByteArrayView
    for byte_array."""
    if phys == "byte_array":
        values = ba.as_view(values)
        codes, uniques = _factorize_bytes(values)
    else:
        codes, uniques = pd.factorize(np.asarray(values), use_na_sentinel=False)
        uniques = np.asarray(uniques)
    n = len(codes)
    codes = codes.astype(np.int64, copy=False)

    sizes = _plain_sizes(uniques, phys)
    cum_dict = np.cumsum(sizes)  # dict bytes after admitting unique j

    split = n
    num_entries = len(uniques)
    fallback = False
    if num_entries and cum_dict[-1] >= dict_size_limit:
        # Running unique count at position i is max(codes[:i+1]) + 1 (codes
        # are assigned in first-appearance order). Find the first position
        # whose admitted dictionary would hit the limit.
        running_max = np.maximum.accumulate(codes)
        dict_bytes_at = cum_dict[running_max]
        over = np.flatnonzero(dict_bytes_at >= dict_size_limit)
        split = int(over[0])  # value at `split` is the first not dict-encoded
        fallback = True
        num_entries = int(running_max[split - 1]) + 1 if split > 0 else 0

    if phys == "byte_array":
        dict_vals = ba.slice_rows(uniques, 0, num_entries)
        rest_vals = ba.slice_rows(values, split, n)
    else:
        dict_vals = uniques[:num_entries]
        rest_vals = np.asarray(values)[split:]

    dict_blob = _plain_encode(dict_vals, phys)
    bw = _bit_width(num_entries)
    idx_payload = rle.encode(codes[:split], bw) if split else b""
    indices_blob = bytes([bw]) + idx_payload
    plain_blob = _plain_encode(rest_vals, phys) if fallback else b""
    return DictEncoded(dict_blob, indices_blob, num_entries, split,
                       plain_blob, n - split, fallback, codes)


def decode(enc: "DictEncoded | tuple", phys: str, *, dict_blob=None,
           indices_blob=None, num_entries=None, n_dict_values=None,
           plain_blob=b"", n_plain_values=0):
    """Decode a DictEncoded (or explicit parts) back to values.

    Mirrors ``DictionaryDecoder``: PLAIN-decode the dictionary, read the
    bit_width byte, RLE-decode indices, gather
    (``encoding-internal.h:322-434``, fused gather at ``:351``). A
    byte_array ``num_entries=None`` takes every entry in ``dict_blob``."""
    if isinstance(enc, DictEncoded):
        dict_blob, indices_blob = enc.dict_blob, enc.indices_blob
        num_entries, n_dict_values = enc.num_entries, enc.n_dict_values
        plain_blob, n_plain_values = enc.plain_blob, enc.n_plain_values

    if phys == "byte_array":
        uniques, _ = plain.decode_byte_array_view(dict_blob, num_entries)
    else:
        uniques, _ = plain.decode_fixed(dict_blob, num_entries, phys)

    head = gather(uniques, indices_blob, n_dict_values)
    if phys == "byte_array":
        if n_plain_values:
            tail, _ = plain.decode_byte_array_view(plain_blob, n_plain_values)
            head = ba.concat(head, tail)
        return head
    if n_plain_values:
        tail, _ = plain.decode_fixed(plain_blob, n_plain_values, phys)
        head = np.concatenate([head, tail])
    return head


def gather(uniques, indices, n_values: int, pos: int = 0):
    """``[u8 bit_width][RLE-hybrid codes]`` at ``pos`` -> uniques[codes]:
    an ndarray, or a ByteArrayView when ``uniques`` is one (the fused
    gather, encoding-internal.h:351)."""
    bw = indices[pos]
    codes, _ = rle.decode(indices, n_values, bw, pos + 1)
    # a bit width too narrow to reach the entry count proves every index
    # in range; otherwise one max pass finds an index the gather would
    # fault on
    num_entries = len(uniques)
    if (1 << bw) > num_entries and len(codes):
        top = int(codes.max())
        if top >= num_entries:
            raise ValueError(f"corrupt dictionary indices: index {top} "
                             f"past {num_entries} entries")
    if isinstance(uniques, ba.ByteArrayView):
        return ba.take(uniques, codes)
    return np.asarray(uniques)[codes]
