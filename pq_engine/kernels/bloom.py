"""Split-block bloom filter (parquet-format BloomFilterHeader semantics).

Reference: parquet-column's BlockSplitBloomFilter.java:72-301 — 32-byte
blocks of 8 uint32 words; each inserted value sets ONE bit per word, chosen
by the 8 SALT constants (:84); the block index is the top 32 bits of
xxHash64(value) scaled by the block count ("block index = (h >> 32) *
numBlocks >> 32"). optimalNumOfBits per :theory.

The one hash is the spec's: XxHash64 (seed 0) of each value's PLAIN bytes —
a string or binary value's bytes (no length prefix), a 4- or 8-byte
number's little-endian bytes, a FIXED_LEN_BYTE_ARRAY value's k bytes.
:func:`plain_hashes` hashes a column, batch-vectorized over rows;
:func:`literal_hash` hashes one probe value through the reference
:func:`xxhash64_bytes`. Engine bloom rows, their probes, the parquet
writer and the parquet reader all hash through these two, so an engine
bloom row is a parquet bloom filter as it is.
"""

from __future__ import annotations

import numpy as np

SALT = np.array(
    [
        0x47B6137B, 0x44974D91, 0x8824AD5B, 0xA2B7289D,
        0x705495C7, 0x2DF1424B, 0x9EFC4947, 0x5C6BFB31,
    ],
    dtype=np.uint32,
)  # BlockSplitBloomFilter.java:84

_P1 = np.uint64(0x9E3779B185EBCA87)
_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_P3 = np.uint64(0x165667B19E3779F9)
_P4 = np.uint64(0x85EBCA77C2B2AE63)
_P5 = np.uint64(0x27D4EB2F165667C5)
# the four stripe accumulators' seeds: seed + P1 + P2, seed + P2, seed, seed - P1
_V0 = np.array([0x60EA27EEADC0B5D6, 0xC2B2AE3D27D4EB4F, 0, 0x61C8864E7A143579],
               dtype=np.uint64)
_LANES = np.arange(0, 32, 8)


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _words(data: np.ndarray, width: int) -> np.ndarray:
    """The unaligned little-endian ``width``-byte word at every byte offset
    of ``data`` that has ``width`` bytes after it, as a strided view."""
    return np.ndarray((max(len(data) - width + 1, 0),), dtype=f"<u{width}",
                      buffer=data, strides=(1,))


def _round(acc: np.ndarray, lanes: np.ndarray) -> None:
    """One XXH64 round of the accumulators ``acc`` over ``lanes``, in
    place (``lanes`` is scratch)."""
    lanes *= _P2
    acc += lanes
    lanes = acc << np.uint64(31)
    acc >>= np.uint64(33)
    acc |= lanes
    acc *= _P1


def _merge(v: np.ndarray) -> np.ndarray:
    """The (n, 4) stripe accumulators ``v`` merged into each row's hash."""
    h = _rotl(v[:, 0], 1) + _rotl(v[:, 1], 7) + _rotl(v[:, 2], 12) + _rotl(v[:, 3], 18)
    for i in range(4):
        h ^= _rotl(v[:, i] * _P2, 31) * _P1
        h = h * _P1 + _P4
    return h


def _tail(h: np.ndarray, k: np.ndarray, width: int) -> np.ndarray:
    """``h`` after one ``width``-byte (8, 4 or 1) tail word ``k`` of each
    row."""
    k = k.astype(np.uint64)
    if width == 8:
        h ^= _rotl(k * _P2, 31) * _P1
        return _rotl(h, 27) * _P1 + _P4
    if width == 4:
        h ^= k * _P1
        return _rotl(h, 23) * _P2 + _P3
    h ^= k * _P5
    return _rotl(h, 11) * _P1


def _avalanche(h: np.ndarray) -> np.ndarray:
    h ^= h >> np.uint64(33)
    h *= _P2
    h ^= h >> np.uint64(29)
    h *= _P3
    h ^= h >> np.uint64(32)
    return h


_TAIL_STEPS = ((8, 3), (4, 1), (1, 3))


def _stripes(w8: np.ndarray, pos: np.ndarray, stripes: np.ndarray) -> np.ndarray:
    """XXH64's four accumulators run over ``stripes[i]`` 32-byte stripes
    from byte ``pos[i]``, then merged. One pass per stripe index, rows
    sorted longest first so each pass updates only a prefix: one long value
    among short ones costs passes, not an n x length matrix."""
    order = np.argsort(-stripes, kind="stable")
    pos = pos[order]
    active = np.searchsorted(-stripes[order], -np.arange(int(stripes.max())))
    v = np.tile(_V0, (len(pos), 1))
    for c in active:
        _round(v[:c], w8[pos[:c, None] + _LANES])
        pos[:c] += 32
    out = np.empty(len(pos), dtype=np.uint64)
    out[order] = _merge(v)
    return out


def _xxh64(data: np.ndarray, starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """XxHash64 (seed 0) of each ``data[starts[i] : starts[i] + lens[i]]``:
    the stripes (:func:`_stripes`), then at most three 8-byte words, one
    4-byte word and three single bytes, each step one pass over the rows
    that still have one."""
    h = np.full(len(lens), _P5, dtype=np.uint64)
    long_rows = np.flatnonzero(lens >= 32)
    if len(long_rows):
        h[long_rows] = _stripes(_words(data, 8), starts[long_rows], lens[long_rows] // 32)
    h += lens.astype(np.uint64)
    rem = lens & 31
    pos = starts + (lens - rem)
    for width, steps in _TAIL_STEPS:
        words = _words(data, width)
        for _ in range(steps):
            sel = rem >= width
            if not sel.any():
                break
            rows = slice(None) if sel.all() else np.flatnonzero(sel)
            h[rows] = _tail(h[rows], words[pos[rows]], width)
            pos[rows] += width
            rem[rows] -= width
    return _avalanche(h)


def _xxh64_rows(rows: np.ndarray) -> np.ndarray:
    """XxHash64 (seed 0) of each row of a C-contiguous (n, k) uint8 array.
    Every step reads its word of all rows through one view strided by k:
    no gather and no per-row bookkeeping, as the rows share one length."""
    n, k = rows.shape

    def words(offset: int, width: int) -> np.ndarray:
        return np.ndarray((n,), dtype=f"<u{width}", buffer=rows, offset=offset, strides=(k,))

    if k >= 32:
        v = np.tile(_V0, (n, 1))
        for s in range(k // 32):
            lanes = np.ndarray((n, 4), dtype="<u8", buffer=rows, offset=32 * s, strides=(k, 8))
            _round(v, lanes.astype(np.uint64))
        h = _merge(v)
    else:
        h = np.full(n, _P5, dtype=np.uint64)
    h += np.uint64(k)
    pos = k - k % 32
    for width, steps in _TAIL_STEPS:
        for _ in range(min(steps, (k - pos) // width)):
            h = _tail(h, words(pos, width), width)
            pos += width
    return _avalanche(h)


def plain_hashes(values) -> np.ndarray | None:
    """XxHash64 of each value's PLAIN bytes, for a column in kernel form:
    ``RaggedBytes`` (strings, binary), ``(n, k)`` uint8 rows (the
    FIXED_LEN_BYTE_ARRAY family) or a 1-D array of 4- or 8-byte numbers.
    None for a column without blooms (bool, list)."""
    from .ragged import RaggedBytes

    if isinstance(values, RaggedBytes):
        return _xxh64(values.data, values.offsets[:-1], values.lengths)
    if not isinstance(values, np.ndarray) or values.dtype == np.bool_:
        return None
    if values.ndim == 1:
        if values.dtype.itemsize not in (4, 8):
            return None
        values = np.ascontiguousarray(values, dtype=values.dtype.newbyteorder("<"))
        values = values.view(np.uint8).reshape(len(values), values.dtype.itemsize)
    if len(values) == 0:
        return np.empty(0, dtype=np.uint64)
    return _xxh64_rows(np.ascontiguousarray(values, dtype=np.uint8))


def literal_hash(value, ptype: str) -> int | None:
    """XxHash64 of one probe value's PLAIN bytes in a column of ``ptype``
    (its kernel type decides the bytes: a decimal64 probe is its unscaled
    int, an FLBA-family probe its stored k bytes), as :func:`plain_hashes`
    hashes the stored value. None for a type without blooms."""
    from ..pages import _NUMERIC, RAGGED_TYPES, kernel_ptype

    kp = kernel_ptype(ptype)
    if kp in RAGGED_TYPES:
        b = value.encode() if isinstance(value, str) else bytes(value)
    elif kp.startswith("fixed["):
        from .fixedlen import value_to_fixed

        b = value_to_fixed(value, ptype).tobytes()
    elif kp in _NUMERIC:
        b = np.array([value], dtype=np.dtype(_NUMERIC[kp]).newbyteorder("<")).tobytes()
    else:
        return None
    return xxhash64_bytes(b)


_M64 = (1 << 64) - 1


def _rotl_i(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def xxhash64_bytes(data: bytes, seed: int = 0) -> int:
    """Full XxHash64 over arbitrary-length bytes (python ints) — the hash
    parquet's bloom filter applies to a value's PLAIN encoding
    (XxHash.java / BlockSplitBloomFilter.hash). The reference the
    vectorized :func:`plain_hashes` is tested against, and the hash of one
    probe literal. Pinned against the public xxHash test vectors."""
    p1, p2, p3, p4, p5 = (int(_P1), int(_P2), int(_P3), int(_P4), int(_P5))
    n = len(data)
    pos = 0
    if n >= 32:
        v1 = (seed + p1 + p2) & _M64
        v2 = (seed + p2) & _M64
        v3 = seed & _M64
        v4 = (seed - p1) & _M64
        while pos + 32 <= n:
            lanes = [int.from_bytes(data[pos + 8 * i : pos + 8 * i + 8],
                                    "little") for i in range(4)]
            v1 = (_rotl_i((v1 + lanes[0] * p2) & _M64, 31) * p1) & _M64
            v2 = (_rotl_i((v2 + lanes[1] * p2) & _M64, 31) * p1) & _M64
            v3 = (_rotl_i((v3 + lanes[2] * p2) & _M64, 31) * p1) & _M64
            v4 = (_rotl_i((v4 + lanes[3] * p2) & _M64, 31) * p1) & _M64
            pos += 32
        h = (_rotl_i(v1, 1) + _rotl_i(v2, 7) + _rotl_i(v3, 12)
             + _rotl_i(v4, 18)) & _M64
        for v in (v1, v2, v3, v4):
            h = ((h ^ (_rotl_i((v * p2) & _M64, 31) * p1) & _M64) * p1
                 + p4) & _M64
    else:
        h = (seed + p5) & _M64
    h = (h + n) & _M64
    while pos + 8 <= n:
        k = int.from_bytes(data[pos : pos + 8], "little")
        h ^= (_rotl_i((k * p2) & _M64, 31) * p1) & _M64
        h = (_rotl_i(h, 27) * p1 + p4) & _M64
        pos += 8
    if pos + 4 <= n:
        k = int.from_bytes(data[pos : pos + 4], "little")
        h ^= (k * p1) & _M64
        h = (_rotl_i(h, 23) * p2 + p3) & _M64
        pos += 4
    while pos < n:
        h ^= (data[pos] * p5) & _M64
        h = (_rotl_i(h, 11) * p1) & _M64
        pos += 1
    h ^= h >> 33
    h = (h * p2) & _M64
    h ^= h >> 29
    h = (h * p3) & _M64
    h ^= h >> 32
    return h


def optimal_num_bytes(ndv: int, fpp: float = 0.01) -> int:
    """optimalNumOfBits (BlockSplitBloomFilter.java) rounded up to a
    power-of-two byte count in [32, 128 MiB]."""
    bits = -8 * ndv / np.log(1 - fpp ** (1.0 / 8))
    nbytes = int(bits) // 8
    nbytes = max(32, nbytes)
    nbytes = 1 << int(np.ceil(np.log2(nbytes)))
    return min(nbytes, 128 << 20)


class BlockSplitBloomFilter:
    def __init__(self, num_bytes: int):
        if num_bytes % 32:
            raise ValueError("bloom size must be a multiple of 32 bytes")
        self.blocks = np.zeros((num_bytes // 32, 8), dtype=np.uint32)

    @property
    def num_blocks(self) -> int:
        return len(self.blocks)

    def _addr(self, hashes: np.ndarray):
        block = ((hashes >> np.uint64(32)) * np.uint64(self.num_blocks)) >> np.uint64(32)
        low = hashes.astype(np.uint32)  # low 32 bits
        # one bit per word: bit = (low * SALT[w]) >> 27
        bits = ((low[:, None] * SALT[None, :]) >> np.uint32(27)).astype(np.uint32)
        return block.astype(np.int64), bits

    def insert_hashes(self, hashes: np.ndarray) -> None:
        block, bits = self._addr(hashes)
        masks = (np.uint32(1) << bits)  # (n, 8)
        # scatter-OR per word column (8 fixed passes)
        for w in range(8):
            np.bitwise_or.at(self.blocks[:, w], block, masks[:, w])

    def contains_hashes(self, hashes: np.ndarray) -> np.ndarray:
        block, bits = self._addr(hashes)
        masks = np.uint32(1) << bits
        got = self.blocks[block]  # (n, 8)
        return ((got & masks) == masks).all(axis=1)

    def serialize(self) -> bytes:
        return self.blocks.astype("<u4").tobytes()

    @staticmethod
    def deserialize(buf) -> "BlockSplitBloomFilter":
        arr = np.frombuffer(buf, dtype="<u4").reshape(-1, 8)
        f = BlockSplitBloomFilter(arr.size * 4)
        f.blocks = arr.copy()
        return f
