"""Block-split Bloom filter (Putze et al.), as in the reference.

Mirrors ``/root/reference/src/parquet/bloom_filter.h:119-240`` and the
parquet-format BloomFilter spec: 32-byte blocks of 8 u32 words, one bit set
per word chosen by SALT multipliers from the low 32 hash bits, block chosen
by the high 32 bits; hash = murmur3_x64_128 (first 64 bits), as in
``/root/reference/src/parquet/murmur3.cc``. Serialization =
[u32 num_bytes][u32 hash_id][u32 algorithm_id][bitset]
(``bloom_filter.h:214-216``, ``bloom_filter.cc``).

Insert/check are fully vectorized (numpy uint64 wrapping arithmetic): int64
keys hash as one lane; byte keys hash per distinct length as ``(n, L)``
little-endian u64 word lanes (``murmur3_64_view``), bit-identical to the
scalar ``murmur3_64_bytes``.
"""

from __future__ import annotations

import math

import numpy as np

from . import ba

# SALT constants from the parquet-format spec / reference bloom_filter.h:152
SALT = np.array([0x47b6137b, 0x44974d91, 0x8824ad5b, 0xa2b7289d,
                 0x705495c7, 0x2df1424b, 0x9efc4947, 0x5c6bfb31],
                dtype=np.uint32)

_C1 = np.uint64(0x87c37b91114253d5)
_C2 = np.uint64(0x4cf5ad432745937f)
_MASK = (1 << 64) - 1

BYTES_PER_BLOCK = 32
MIN_BYTES = 32
MAX_BYTES = 128 * 1024 * 1024


def _rotl64(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _fmix64(k: np.ndarray) -> np.ndarray:
    k = k ^ (k >> np.uint64(33))
    k = k * np.uint64(0xff51afd7ed558ccd)
    k = k ^ (k >> np.uint64(33))
    k = k * np.uint64(0xc4ceb9fe1a85ec53)
    k = k ^ (k >> np.uint64(33))
    return k


# The reference hashes bloom keys with parquet-mr's generated seed, NOT 0
# (murmur3.h:47-49 DEFAULT_SEED = 1361930890); pinned bit-for-bit against
# /root/reference/data/bloom_filter.bin in the golden cross-compat tests.
BLOOM_SEED = 1361930890


def murmur3_64_int64(keys: np.ndarray, seed: int = BLOOM_SEED) -> np.ndarray:
    """murmur3_x64_128 (first 64 bits) of each int64 key's 8 LE bytes —
    vectorized. Matches the scalar path for len=8 inputs."""
    words = np.asarray(keys).astype(np.uint64)[:, None]
    return _murmur3_64_words(words, 8, seed)


def murmur3_64_bytes(key: bytes, seed: int = BLOOM_SEED) -> int:
    """Scalar murmur3_x64_128 (first 64 bits), any length."""
    h1 = h2 = seed & _MASK
    c1, c2 = 0x87c37b91114253d5, 0x4cf5ad432745937f
    n = len(key)
    nblocks = n // 16
    for b in range(nblocks):
        k1 = int.from_bytes(key[b * 16: b * 16 + 8], "little")
        k2 = int.from_bytes(key[b * 16 + 8: b * 16 + 16], "little")
        k1 = (k1 * c1) & _MASK
        k1 = ((k1 << 31) | (k1 >> 33)) & _MASK
        k1 = (k1 * c2) & _MASK
        h1 ^= k1
        h1 = ((h1 << 27) | (h1 >> 37)) & _MASK
        h1 = (h1 + h2) & _MASK
        h1 = (h1 * 5 + 0x52dce729) & _MASK
        k2 = (k2 * c2) & _MASK
        k2 = ((k2 << 33) | (k2 >> 31)) & _MASK
        k2 = (k2 * c1) & _MASK
        h2 ^= k2
        h2 = ((h2 << 31) | (h2 >> 33)) & _MASK
        h2 = (h2 + h1) & _MASK
        h2 = (h2 * 5 + 0x38495ab5) & _MASK
    tail = key[nblocks * 16:]
    k1 = k2 = 0
    if len(tail) > 8:
        k2 = int.from_bytes(tail[8:], "little")
        k2 = (k2 * c2) & _MASK
        k2 = ((k2 << 33) | (k2 >> 31)) & _MASK
        k2 = (k2 * c1) & _MASK
        h2 ^= k2
    if tail:
        k1 = int.from_bytes(tail[:8], "little")
        k1 = (k1 * c1) & _MASK
        k1 = ((k1 << 31) | (k1 >> 33)) & _MASK
        k1 = (k1 * c2) & _MASK
        h1 ^= k1
    h1 ^= n
    h2 ^= n
    h1 = (h1 + h2) & _MASK
    h2 = (h2 + h1) & _MASK

    def fmix(k):
        k ^= k >> 33
        k = (k * 0xff51afd7ed558ccd) & _MASK
        k ^= k >> 33
        k = (k * 0xc4ceb9fe1a85ec53) & _MASK
        k ^= k >> 33
        return k

    h1 = fmix(h1)
    h2 = fmix(h2)
    h1 = (h1 + h2) & _MASK
    return h1


def _mix_k1(k1: np.ndarray) -> np.ndarray:
    return _rotl64(k1 * _C1, 31) * _C2


def _mix_k2(k2: np.ndarray) -> np.ndarray:
    return _rotl64(k2 * _C2, 33) * _C1


def _murmur3_64_words(words: np.ndarray, n: int, seed: int) -> np.ndarray:
    """murmur3_x64_128 (first 64 bits) of rows of an ``(m, W)`` u64 word
    matrix that holds keys of length ``n`` each, zero-padded to whole
    words (the tail words then read exactly as the scalar loop's)."""
    m = words.shape[0]
    h1 = np.full(m, np.uint64(seed & _MASK), dtype=np.uint64)
    h2 = h1.copy()
    nblocks = n // 16
    with np.errstate(over="ignore"):
        for b in range(nblocks):
            h1 ^= _mix_k1(words[:, 2 * b])
            h1 = (_rotl64(h1, 27) + h2) * np.uint64(5) \
                + np.uint64(0x52dce729)
            h2 ^= _mix_k2(words[:, 2 * b + 1])
            h2 = (_rotl64(h2, 31) + h1) * np.uint64(5) \
                + np.uint64(0x38495ab5)
        tail = n - nblocks * 16
        if tail > 8:
            h2 ^= _mix_k2(words[:, 2 * nblocks + 1])
        if tail:
            h1 ^= _mix_k1(words[:, 2 * nblocks])
        h1 ^= np.uint64(n)
        h2 ^= np.uint64(n)
        h1 = h1 + h2
        h2 = h2 + h1
        h1 = _fmix64(h1)
        h2 = _fmix64(h2)
        h1 = h1 + h2
    return h1


def murmur3_64_view(keys, seed: int = BLOOM_SEED) -> np.ndarray:
    """``murmur3_64_bytes`` of every key of a ``ByteArrayView`` (or list of
    bytes), with no per-key Python: keys are grouped by length, and each
    group of ``m`` keys of length ``L`` is gathered into an ``(m, L)`` byte
    matrix, zero-padded to whole u64 words and hashed lane-wise."""
    view = ba.as_view(keys)
    lengths = view.lengths
    out = np.empty(len(lengths), dtype=np.uint64)
    if not len(lengths):
        return out
    starts = view.offsets[:-1]
    uniq, inverse = np.unique(lengths, return_inverse=True)
    for g, n in enumerate(uniq.tolist()):
        sel = np.flatnonzero(inverse == g) if len(uniq) > 1 \
            else np.arange(len(lengths))
        mat = np.zeros((len(sel), max(8, -(-n // 8) * 8)), dtype=np.uint8)
        if len(uniq) == 1:    # dense view, one length: rows are contiguous
            mat[:, :n] = view.data.reshape(len(sel), n)
        elif n:
            mat[:, :n] = view.data[starts[sel][:, None]
                                   + np.arange(n, dtype=np.int64)]
        out[sel] = _murmur3_64_words(mat.view("<u8"), n, seed)
    return out


def optimal_num_bytes(ndv: int, fpp: float = 0.01) -> int:
    """OptimalNumOfBits (``bloom_filter.h:164-178``), rounded up to a power
    of two of whole blocks."""
    bits = -8.0 * ndv / math.log(1.0 - fpp ** (1.0 / 8.0))
    nbytes = int(bits) // 8 + 1
    nbytes = max(MIN_BYTES, min(nbytes, MAX_BYTES))
    return 1 << (nbytes - 1).bit_length()  # next power of two


class BlockSplitBloomFilter:
    def __init__(self, num_bytes: int = 1024):
        if num_bytes & (num_bytes - 1) or num_bytes < MIN_BYTES:
            raise ValueError("num_bytes must be a power of two >= 32")
        self.words = np.zeros(num_bytes // 4, dtype=np.uint32)
        self.num_blocks = num_bytes // BYTES_PER_BLOCK

    def _block_and_masks(self, hashes: np.ndarray):
        with np.errstate(over="ignore"):
            # block index = (hash >> 32) & (num_blocks - 1): the
            # reference's rule (bloom_filter.cc:151-154; num_bytes is
            # always a power of two here). Pinned bit-for-bit against the
            # parquet-mr-written /root/reference/data/bloom_filter.bin.
            block = (hashes >> np.uint64(32)) & \
                np.uint64(self.num_blocks - 1)
            key = hashes.astype(np.uint32)
            mul = key[:, None] * SALT[None, :]
            masks = np.uint32(1) << (mul >> np.uint32(27))
        return block.astype(np.int64), masks

    def insert_hashes(self, hashes: np.ndarray) -> None:
        block, masks = self._block_and_masks(hashes)
        idx = (block[:, None] * 8 + np.arange(8)[None, :]).ravel()
        np.bitwise_or.at(self.words, idx, masks.ravel())

    def check_hashes(self, hashes: np.ndarray) -> np.ndarray:
        block, masks = self._block_and_masks(hashes)
        idx = block[:, None] * 8 + np.arange(8)[None, :]
        return ((self.words[idx] & masks) == masks).all(axis=1)

    def insert_int64(self, keys: np.ndarray) -> None:
        self.insert_hashes(murmur3_64_int64(np.asarray(keys, dtype=np.int64)))

    def check_int64(self, keys: np.ndarray) -> np.ndarray:
        return self.check_hashes(
            murmur3_64_int64(np.asarray(keys, dtype=np.int64)))

    def insert_bytes(self, keys) -> None:
        """Insert a ``ByteArrayView`` (or list of bytes) of keys."""
        self.insert_hashes(murmur3_64_view(keys))

    def check_bytes(self, keys) -> np.ndarray:
        return self.check_hashes(murmur3_64_view(keys))

    # serialization: [u32 num_bytes][u32 hash=0 murmur3][u32 alg=0 block]
    # — the parquet-format bloom header layout, pinned bit-for-bit by the
    # golden test that deserializes the reference's own
    # /root/reference/data/bloom_filter.bin, so the hash/alg ids CANNOT be
    # repurposed as a private version. The round-4 seed/block-index change
    # aligned this implementation TO that reference file; the same
    # no-shipped-blobs rationale as chunk.VERSION applies (no deployment
    # persisted pre-alignment blobs — every fixture/golden was regenerated
    # in the same commit). If hashing semantics ever diverge from the
    # parquet-format spec again AFTER blobs have shipped, wrap the blob in
    # a versioned envelope instead of mutating this header.
    def serialize(self) -> bytes:
        bitset = self.words.tobytes()
        return (len(bitset).to_bytes(4, "little")
                + (0).to_bytes(4, "little") + (0).to_bytes(4, "little")
                + bitset)

    @classmethod
    def deserialize(cls, buf, where: str = "") -> "BlockSplitBloomFilter":
        """Parse a serialized filter. Blooms are read back from data files,
        so the header is checked against the buffer before anything is
        allocated; ``where`` (e.g. ``part_id=7``) names the source in the
        ``ValueError``."""
        mv = memoryview(buf)
        if mv.format != "B":
            mv = mv.cast("B")
        what = f"corrupt bloom{' ' + where if where else ''}"
        if len(mv) < 12:
            raise ValueError(f"{what}: {len(mv)}-byte buffer is shorter "
                             "than the 12-byte header")
        num_bytes = int.from_bytes(mv[0:4], "little")
        hash_id = int.from_bytes(mv[4:8], "little")
        alg_id = int.from_bytes(mv[8:12], "little")
        if hash_id or alg_id:
            raise ValueError(f"{what}: hash id {hash_id} / algorithm id "
                             f"{alg_id}, expected 0 / 0")
        if num_bytes < MIN_BYTES or num_bytes & (num_bytes - 1):
            raise ValueError(f"{what}: num_bytes {num_bytes} is not a "
                             f"power of two >= {MIN_BYTES}")
        if len(mv) != 12 + num_bytes:
            raise ValueError(f"{what}: header declares {num_bytes} bitset "
                             f"bytes, buffer holds {len(mv) - 12}")
        bf = cls.__new__(cls)
        bf.words = np.frombuffer(mv[12: 12 + num_bytes],
                                 dtype=np.uint32).copy()
        bf.num_blocks = num_bytes // BYTES_PER_BLOCK
        return bf


class StandardBloomFilter(BlockSplitBloomFilter):
    """The FOOTER-linked bloom the parquet-format spec standardized
    (BloomFilterHeader algorithm=BLOCK, hash=XXHASH): same Putze
    split-block bitset and SALT word masks as the reference's filter, but

    - hash = XXH64(seed 0) over the value's PLAIN encoding (4 LE bytes
      for INT32, 8 for INT64, raw bytes for BYTE_ARRAY) — ``kernels/xxh``,
      pinned against Spark's JVM XXH64;
    - block index = fixed-point ``((h >> 32) * num_blocks) >> 32``
      (num_bytes any multiple of 32, not just powers of two).

    The reference's pre-standard murmur3 variant above stays bit-frozen
    for the golden ``bloom_filter.bin``; this class is what the PAR1
    writer embeds and ``parquet_format``/``lookup_rows`` consult."""

    def __init__(self, num_bytes: int = 1024):
        if num_bytes % BYTES_PER_BLOCK or num_bytes < MIN_BYTES:
            raise ValueError("num_bytes must be a multiple of 32, >= 32")
        self.words = np.zeros(num_bytes // 4, dtype=np.uint32)
        self.num_blocks = num_bytes // BYTES_PER_BLOCK

    def _block_and_masks(self, hashes: np.ndarray):
        with np.errstate(over="ignore"):
            block = ((hashes >> np.uint64(32))
                     * np.uint64(self.num_blocks)) >> np.uint64(32)
            key = hashes.astype(np.uint32)
            mul = key[:, None] * SALT[None, :]
            masks = np.uint32(1) << (mul >> np.uint32(27))
        return block.astype(np.int64), masks

    def insert_int64(self, keys: np.ndarray) -> None:
        from . import xxh
        self.insert_hashes(xxh.xxh64_int64(keys))

    def check_int64(self, keys: np.ndarray) -> np.ndarray:
        from . import xxh
        return self.check_hashes(xxh.xxh64_int64(keys))

    def insert_int32(self, keys: np.ndarray) -> None:
        from . import xxh
        self.insert_hashes(xxh.xxh64_int32(keys))

    def check_int32(self, keys: np.ndarray) -> np.ndarray:
        from . import xxh
        return self.check_hashes(xxh.xxh64_int32(keys))

    def insert_bytes(self, keys) -> None:
        from . import xxh
        self.insert_hashes(np.array([xxh.xxh64_bytes(bytes(k))
                                     for k in keys], dtype=np.uint64))

    def check_bytes(self, keys) -> np.ndarray:
        from . import xxh
        return self.check_hashes(np.array([xxh.xxh64_bytes(bytes(k))
                                           for k in keys], dtype=np.uint64))

    def serialize(self) -> bytes:
        raise NotImplementedError(
            "standard blooms serialize as BloomFilterHeader thrift + "
            "bitset in the parquet file (sources/parquet_writer)")
