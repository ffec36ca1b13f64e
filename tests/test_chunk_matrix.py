"""Pinned blob bytes for every uncompressed (physical type, codec) pair the
chunk format takes, over every level shape: flat, list levels, flat
OPTIONAL (``valid_mask``), nullable list elements (``elem_valid``),
list-of-list (``inner_lengths``), dictionary fallback, and multi-page
chunks at data page versions 1 and 2. Compressed blobs are left to the
round-trip tests: their bytes depend on the codec library's version.

``tests/golden/chunk_matrix_hashes.json`` holds the sha256 of each blob.
Regenerate it only for a deliberate format change:
``PYTHONPATH=. python tests/test_chunk_matrix.py``."""

import hashlib
import json
import os

import numpy as np

from parquet_cpp_spark import chunk as chunkmod

PATH = os.path.join(os.path.dirname(__file__), "golden",
                    "chunk_matrix_hashes.json")

FIXED = ("int32", "int64", "uint32", "uint64")
PAGEABLE = FIXED + ("byte_array",)
C = chunkmod
CODECS = {
    **{p: (C.PLAIN, C.RLE, C.DELTA_BINARY_PACKED, C.RLE_DICTIONARY)
       for p in FIXED},
    "float": (C.PLAIN, C.RLE_DICTIONARY),
    "double": (C.PLAIN, C.RLE_DICTIONARY),
    "flba:6": (C.PLAIN, C.RLE_DICTIONARY),
    "boolean": (C.PLAIN, C.RLE),
    "byte_array": (C.PLAIN, C.DELTA_LENGTH_BYTE_ARRAY, C.DELTA_BYTE_ARRAY,
                   C.FSST, C.RLE_DICTIONARY),
}


def _values(phys, n, rng, high=False):
    """n values of ``phys``; ``high`` draws enough distinct values to push
    a small dictionary into fallback."""
    keys = rng.integers(0, 1 << 30 if high else 50, n)
    if phys in FIXED:
        return keys.astype(phys)
    if phys in ("float", "double"):
        return (keys * 0.5).astype(np.float32 if phys == "float"
                                   else np.float64)
    if phys == "boolean":
        return (keys % 2).astype(bool)
    if phys.startswith("flba"):
        return [f"{k:06d}".encode() for k in keys.tolist()]
    return [f"w{k}".encode() * (1 + k % 3) for k in keys.tolist()]


def _configs():
    """Yields (name, values, phys, codec, encode_chunk kwargs, expected)
    where ``expected`` maps DecodedChunk fields to what they must hold."""
    rng = np.random.default_rng(2024)
    rows = rng.integers(0, 6, 120).astype(np.int64)
    n = int(rows.sum())
    mask = rng.random(n) > 0.25
    inner = rng.integers(0, 4, n).astype(np.int64)   # rows = inner lists
    for phys, codecs in CODECS.items():
        for codec in codecs:
            key = f"{phys}/{chunkmod.CODEC_NAMES[codec]}"
            vals = _values(phys, n, rng)
            yield (f"{key}/flat", vals, phys, codec, {},
                   {"values": vals})
            yield (f"{key}/list", vals, phys, codec,
                   {"row_lengths": rows},
                   {"values": vals, "row_lengths": rows})
            dense = ([v for v, ok in zip(vals, mask) if ok]
                     if isinstance(vals, list) else vals[mask])
            yield (f"{key}/valid_mask", vals, phys, codec,
                   {"valid_mask": mask},
                   {"values": dense, "valid_mask": mask})
            yield (f"{key}/elem_valid", dense, phys, codec,
                   {"row_lengths": rows, "elem_valid": mask},
                   {"values": dense, "row_lengths": rows})
            nested = _values(phys, int(inner.sum()), rng)
            yield (f"{key}/inner_lengths", nested, phys, codec,
                   {"row_lengths": rows, "inner_lengths": inner},
                   {"values": nested, "row_lengths": rows,
                    "inner_lengths": inner})
            if codec == C.RLE_DICTIONARY:
                high = _values(phys, n, rng, high=True)
                yield (f"{key}/fallback", high, phys, codec,
                       {"dict_size_limit": 256}, {"values": high})
                yield (f"{key}/fallback_list", high, phys, codec,
                       {"dict_size_limit": 256, "row_lengths": rows},
                       {"values": high, "row_lengths": rows})
            if phys not in PAGEABLE:
                continue
            for version in (1, 2):
                paged = {"page_size": 256, "data_page_version": version}
                yield (f"{key}/paged_v{version}", vals, phys, codec, paged,
                       {"values": vals})
                yield (f"{key}/paged_list_v{version}", vals, phys, codec,
                       {**paged, "row_lengths": rows},
                       {"values": vals, "row_lengths": rows})
                if codec == C.RLE_DICTIONARY:
                    high = _values(phys, n, rng, high=True)
                    yield (f"{key}/paged_fallback_v{version}", high, phys,
                           codec, {**paged, "dict_size_limit": 256},
                           {"values": high})


def _hashes():
    out = {}
    for name, vals, phys, codec, kw, _expected in _configs():
        blob = chunkmod.encode_chunk(vals, phys, codec, **kw).blob
        out[name] = hashlib.sha256(blob).hexdigest()
    return out


def _same(got, want):
    if isinstance(want, list):
        return list(got) == want
    return np.array_equal(np.asarray(got), np.asarray(want))


def test_matrix_bytes_stable():
    with open(PATH) as f:
        frozen = json.load(f)
    got = _hashes()
    assert sorted(got) == sorted(frozen)
    moved = [k for k in sorted(got) if got[k] != frozen[k]]
    assert not moved, f"{len(moved)} blobs changed, e.g. {moved[:5]}"


def test_matrix_round_trips():
    for name, vals, phys, codec, kw, expected in _configs():
        enc = chunkmod.encode_chunk(vals, phys, codec, **kw)
        if "page_size" in kw:
            assert enc.blob[4] == chunkmod.VERSION_PAGED, name
        if "fallback" in name:
            assert "PLAIN" in enc.encodings, name
        dec = chunkmod.decode_chunk(enc.blob)
        for field, want in expected.items():
            assert _same(getattr(dec, field), want), (name, field)


if __name__ == "__main__":
    with open(PATH, "w") as f:
        json.dump(_hashes(), f, indent=1, sort_keys=True)
        f.write("\n")
