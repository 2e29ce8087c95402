"""ULEB128 varints and zigzag, as used by the parquet-format RLE and DELTA headers.

Reference semantics: /root/reference/parquet-common/src/main/java/org/apache/parquet/
bytes/BytesUtils.java:226 (writeUnsignedVarInt) and :242-243 (zigzag).
Headers are one-per-run / one-per-block, so scalar Python here is not a hot path.
"""

from __future__ import annotations


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
