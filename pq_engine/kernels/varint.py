"""ULEB128 varints and zigzag, as used by the parquet-format RLE and DELTA headers.

Reference semantics: /root/reference/parquet-common/src/main/java/org/apache/parquet/
bytes/BytesUtils.java:226 (writeUnsignedVarInt) and :242-243 (zigzag).
The encoders write the headers of every run or block of a column chunk at
once (:func:`uvarint_sizes`, :func:`put_uvarints`); the decoders read them
one at a time (:func:`read_uvarint`).
"""

from __future__ import annotations

import numpy as np

_POWERS64 = np.uint64(1) << np.arange(64, dtype=np.uint64)


def encode_uvarint(value: int) -> bytes:
    """ULEB128: 7 bits per byte, little-endian, high bit = continuation."""
    if value < 0:
        raise ValueError("uvarint requires non-negative input")
    out = bytearray()
    while True:
        b = value & 0x7F
        value >>= 7
        if value:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def read_uvarint(buf, pos: int) -> tuple[int, int]:
    """Return (value, new_pos); ``ValueError`` when ``buf`` ends inside
    the varint."""
    result = 0
    shift = 0
    try:
        while True:
            b = buf[pos]
            pos += 1
            result |= (b & 0x7F) << shift
            if not (b & 0x80):
                return result, pos
            shift += 7
    except IndexError:
        raise ValueError(f"varint runs past the end of a {len(buf)}-byte buffer") from None


def zigzag_encode(v: int) -> int:
    """Map signed → unsigned: 0,-1,1,-2,… → 0,1,2,3,…  (64-bit domain, but works
    for arbitrary Python ints since deltas are pre-wrapped to int64)."""
    return (v << 1) ^ (v >> 63) if v < 0 else v << 1


def zigzag_decode(u: int) -> int:
    return (u >> 1) ^ -(u & 1)


def uvarint_sizes(values: np.ndarray) -> np.ndarray:
    """Bytes of the ULEB128 of each uint64 in ``values`` (1 for 0), found
    by a search against the powers of two: float log2 is inexact past 2^53."""
    return np.maximum(1, (np.searchsorted(_POWERS64, values, side="right") + 6) // 7)


def put_uvarints(out: np.ndarray, at: np.ndarray, values: np.ndarray, sizes: np.ndarray) -> None:
    """Write the ULEB128 of each uint64 ``values[i]`` (``sizes[i]`` bytes,
    from :func:`uvarint_sizes`) into the uint8 array ``out`` at ``at[i]``,
    all of them in one scatter."""
    lanes = np.arange(int(sizes.max(initial=0)))
    groups = (values[:, None] >> (lanes * 7).astype(np.uint64)) & np.uint64(0x7F)
    groups |= (lanes < sizes[:, None] - 1).astype(np.uint64) << np.uint64(7)
    inside = lanes < sizes[:, None]
    out[(at[:, None] + lanes)[inside]] = groups[inside]
