"""Width-parameterized little-endian bit-packing, vectorized with NumPy.

Replaces parquet-java's build-time-generated per-width packers
(/root/reference/parquet-generator/.../encoding/Generator.java:27-31,
 /root/reference/parquet-encoding/.../bitpacking/BytePacker.java:65-111:
 ``pack8Values`` turns 8 values into ``width`` bytes). The layout is the
parquet-format "bit-packed, LSB-first" order used by the RLE/bit-packed hybrid
(RunLengthBitPackingHybridEncoder.java:130 selects LITTLE_ENDIAN): value *i*'s
bit *j* lands at global bit position ``i*width + j``; within each byte, bit 0
is the least-significant bit.

Both directions work on groups of 8 values, which take exactly ``width``
bytes. Encoding builds each group's little-endian 64-bit words with one
shift-and-or per lane (:func:`pack`), never a bit per byte. Decoding:
for widths up to 57 every value's bits fit in the unaligned little-endian
64-bit word that starts at its first byte, so one gather of those words, a
shift by each lane's bit offset and a mask unpack every group of a stream at
once (:func:`unpack_groups`; the groups may sit anywhere in the buffer and
may each have their own width, so a DELTA miniblock is a run of groups).
Widths 58..64 expand to a bit matrix.
"""

from __future__ import annotations

import numpy as np


def pack(values: np.ndarray, width: int) -> bytes:
    """Bit-pack ``values`` at ``width`` bits each. ``len(values)`` must be a
    multiple of 8 (callers zero-pad the final group, mirroring
    RunLengthBitPackingHybridEncoder.java:255-273).

    A group of 8 values packs into ``width`` bytes, so into ``ceil(width/8)``
    little-endian 64-bit words: lane j's bits start at group bit ``j*width``,
    in one word or across two. Eight shift-and-or passes over the groups
    (one per lane, two where the lane spans words) build every word, and the
    first ``width`` bytes of each group's words are the packed group."""
    n = len(values)
    if width == 0 or n == 0:
        return b""
    if n % 8:
        raise ValueError(f"pack() needs a multiple of 8 values, got {n}")
    if width < 0 or width > 64:
        raise ValueError(f"width out of range: {width}")
    lanes = np.ascontiguousarray(values, dtype=np.uint64).reshape(-1, 8)
    words = np.zeros((len(lanes), -(-width // 8)), dtype=np.uint64)
    for j in range(8):
        word, shift = divmod(j * width, 64)
        words[:, word] |= lanes[:, j] << np.uint64(shift)
        if shift + width > 64:
            words[:, word + 1] |= lanes[:, j] >> np.uint64(64 - shift)
    return words.view(np.uint8)[:, :width].tobytes()


_MASK = np.array([(1 << w) - 1 for w in range(65)], dtype=np.uint64)
WORD_WIDTH_MAX = 57  # 7 bits of offset + 57 bits of value fill one 64-bit word


def _lane_tables(lanes: int) -> tuple[np.ndarray, np.ndarray]:
    """(byte offset, bit shift) of lane j of a ``lanes``-value group packed
    at width w, as ``(65, lanes)`` tables indexed by w."""
    bits = np.arange(65, dtype=np.int64)[:, None] * np.arange(lanes, dtype=np.int64)
    return bits >> 3, (bits & 7).astype(np.uint64)


# 8-value groups (the RLE/bit-packed hybrid) and 32-value groups (DELTA
# miniblocks hold a multiple of 32 values)
_LANE_TABLES = {lanes: _lane_tables(lanes) for lanes in (8, 32)}
_LANE_BITS = {lanes: np.arange(lanes, dtype=np.uint64) for lanes in _LANE_TABLES}


def unpack(data, width: int, count: int) -> np.ndarray:
    """Inverse of :func:`pack`. ``data`` may be longer than needed (padded
    stream tail); exactly ``count`` values are returned as uint64.
    ``ValueError`` when ``data`` holds fewer than ``count`` values."""
    if width == 0 or count == 0:
        return np.zeros(count, dtype=np.uint64)
    if width < 0 or width > 64:
        raise ValueError(f"width out of range: {width}")
    raw = np.frombuffer(data, dtype=np.uint8, count=(count * width + 7) // 8)
    groups = -(-count // 8)
    return unpack_groups(raw, np.arange(0, groups * width, width), width).reshape(-1)[:count]


def unpack_groups(raw: np.ndarray, starts: np.ndarray, width, lanes: int = 8) -> np.ndarray:
    """Unpack groups of ``lanes`` values (8 or 32) out of the uint8 array
    ``raw``: group *k* starts at byte ``starts[k]`` and is packed at
    ``width`` bits, an int or one int64 width per group. Returns a
    ``(len(starts), lanes)`` uint64 array; ``ValueError`` for a width above
    64. A group may run past the end of ``raw`` only in lanes the caller
    drops: bytes past the end read as zero."""
    wmax = width.max() if np.ndim(width) else width
    if wmax > 64:
        raise ValueError(f"bit width {wmax} above 64")
    padded = np.zeros(len(raw) + 64, dtype=np.uint8)
    padded[: len(raw)] = raw
    if np.ndim(width) == 0 and width > WORD_WIDTH_MAX:
        return _unpack_wide(padded, starts, width, lanes)
    byte, shift = _LANE_TABLES[lanes]
    # the unaligned 64-bit word at every byte offset, as a strided view;
    # ``take`` gathers from an aligned copy of it
    words = np.ndarray((len(raw) + 57,), dtype="<u8", buffer=padded, strides=(1,))
    if np.ndim(width) == 0 and width * lanes <= 64:
        # the whole group is the word at its first byte: one gather per group
        # instead of one per value. Reading the parquet_file export (both
        # files, 4-core Xeon VM, median of 40 interleaved) took 3.5% longer
        # without this branch (38.4 vs 37.1 ms): its dictionary ids have 1-6
        # bits
        out = words[starts][:, None] >> _LANE_BITS[lanes] * np.uint64(width)
        out &= _MASK[width]
        return out
    if np.ndim(width):
        out = words.take(starts[:, None] + byte.take(width, axis=0))
        out >>= shift.take(width, axis=0)
        out &= _MASK.take(width)[:, None]
    else:
        out = words.take(starts[:, None] + byte[width])
        out >>= shift[width]
        out &= _MASK[width]
    if wmax > WORD_WIDTH_MAX:
        for w in np.unique(width[width > WORD_WIDTH_MAX]):
            rows = np.flatnonzero(width == w)
            out[rows] = _unpack_wide(padded, starts[rows], int(w), lanes)
    return out


def _unpack_wide(padded: np.ndarray, starts: np.ndarray, width: int, lanes: int) -> np.ndarray:
    """:func:`unpack_groups` for one width above ``WORD_WIDTH_MAX``."""
    group_bytes = padded[starts[:, None] + np.arange(lanes * width // 8)].reshape(-1)
    return _unpack_bits(group_bytes, width, lanes * len(starts)).reshape(-1, lanes)


def _unpack_bits(raw: np.ndarray, width: int, count: int) -> np.ndarray:
    """Any width: expand every value to 64 bits, then repack as uint64."""
    bits = np.unpackbits(raw, bitorder="little")[: count * width]
    full = np.zeros((count, 64), dtype=np.uint8)
    full[:, :width] = bits.reshape(count, width)
    return np.packbits(full, axis=1, bitorder="little").reshape(count, 8).copy().view(
        np.uint64
    ).reshape(count)


def width_for_max(max_value: int) -> int:
    """Bits needed for ``max_value`` (BytesUtils.java:49 getWidthFromMaxInt)."""
    if max_value < 0:
        raise ValueError("negative max")
    return int(max_value).bit_length()
