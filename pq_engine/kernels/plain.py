"""PLAIN encoding — the universal fallback.

Layouts (public parquet-format; reference writer:
/root/reference/parquet-column/.../values/plain/PlainValuesWriter.java:36-56):

* fixed-width numerics: little-endian raw values back-to-back;
* BINARY/STRING: u32 LE length prefix + bytes per value (writeBytes at :49);
* BOOLEAN: 1-bit-packed LSB-first (BooleanPlainValuesWriter.java:16);
* FIXED_LEN_BYTE_ARRAY: raw bytes, no prefix (kernels in fixedlen.py).

All pure NumPy: ``astype('<dtype').tobytes()`` / ``np.frombuffer``.
"""

from __future__ import annotations

import struct

import numpy as np

from .ragged import RaggedBytes

_LE = {
    "int32": "<i4",
    "int64": "<i8",
    "float32": "<f4",
    "float64": "<f8",
    "uint32": "<u4",
    "uint64": "<u8",
}


def encode_plain_numeric(values: np.ndarray) -> bytes:
    dt = _LE.get(values.dtype.name)
    if dt is None:
        raise TypeError(f"unsupported dtype {values.dtype}")
    return values.astype(dt, copy=False).tobytes()


def decode_plain_numeric(buf, dtype, count: int) -> np.ndarray:
    return np.frombuffer(buf, dtype=np.dtype(dtype).newbyteorder("<"), count=count).astype(dtype, copy=False)


# Mean value length (bytes) from which the PLAIN BYTE_ARRAY kernels copy
# values in one slice at a time instead of moving the whole payload through
# one boolean mask over the record bytes: the mask costs about 1 ns per
# payload byte, a slice copy about 0.4 us of Python per value. Best of 9,
# 16 MB columns with lengths uniform in [L/2, 3L/2], Intel Xeon VM, 4 cores
# (ms, mask / per-value copy):
#       L     encode        decode
#      64   38.9 / 110.5  105.0 / 140.4
#     256   23.6 /  71.6   41.4 /  61.6
#     384   18.4 /  21.9   27.5 /  33.3
#     512   19.1 /  22.8   27.2 /  26.8
#     768   19.4 /  13.9   23.2 /  16.8
#    1024   19.2 /  11.7   20.1 /  15.6
#    4096   18.8 /   8.2   17.5 /   7.8
# The crossover sits near 512 B in both directions.
LONG_VALUE_BYTES = 512
_U32 = struct.Struct("<I")


def _prefix_starts(offsets: np.ndarray) -> np.ndarray:
    """Position of each value's u32 length prefix in its PLAIN body."""
    n = len(offsets) - 1
    return offsets[:-1] - offsets[0] + 4 * np.arange(n, dtype=np.int64)


def encode_plain_bytes(col: RaggedBytes) -> bytes:
    """u32 LE length + bytes per value (PlainValuesWriter.writeBytes)."""
    return plain_bytes_after(b"", col).tobytes()


def plain_bytes_after(head, col: RaggedBytes) -> memoryview:
    """``head`` followed by the PLAIN body of ``col``, built in one new
    buffer and returned as a byte view of it: a V1 data page (levels, then
    values) with no page-sized copy.

    Short values: record starts come from the offsets (value i's prefix
    sits at ``4*i + offsets[i] - offsets[0]`` past ``head``), the 4 length
    bytes are scattered to ``starts[:, None] + arange(4)`` and the payload
    fills the remaining positions through one boolean mask. Long values
    (mean length >= ``LONG_VALUE_BYTES``) are copied in one slice at a time
    instead. Neither builds a per-byte index array."""
    n, h = len(col), len(head)
    if n == 0:
        return memoryview(bytes(head))
    offs = col.offsets
    o0, o1 = int(offs[0]), int(offs[-1])
    payload = o1 - o0
    out = np.empty(h + payload + 4 * n, dtype=np.uint8)
    out[:h] = np.frombuffer(head, dtype=np.uint8)
    starts = _prefix_starts(offs) + h
    pp = starts[:, None] + np.arange(4)
    out[pp] = col.lengths.astype("<u4").view(np.uint8).reshape(n, 4)
    if payload >= LONG_VALUE_BYTES * n:
        dst, src = memoryview(out), memoryview(col.data)
        for s, a, b in zip((starts + 4).tolist(), offs[:-1].tolist(), offs[1:].tolist()):
            dst[s : s + b - a] = src[a:b]
    elif payload:
        is_data = np.ones(len(out), dtype=bool)
        is_data[:h] = False
        is_data[pp] = False
        out[is_data] = col.data[o0:o1]
    return memoryview(out)


def decode_plain_bytes(buf, count: int) -> RaggedBytes:
    """Parse ``count`` u32-length-prefixed records from the front of
    ``buf`` (trailing bytes are ignored); ``ValueError`` when the records
    run past its end.

    * Equal lengths (every dictionary of a fixed-width string column,
      flag columns): read ``L`` from the first prefix; when ``count``
      records of ``4+L`` bytes fit and every prefix of the
      ``(count, 4+L)`` view equals ``L``, the chain walk could only land
      on those positions, so the payload columns are sliced out directly.
    * Otherwise the boundaries are a true chain (record i+1 starts after
      record i's payload), walked once with ``struct.unpack_from`` per
      record (~0.25 us each, 4 bytes read per value). The payload is then
      gathered by a boolean mask that drops the prefix bytes, or, for
      long values (see ``LONG_VALUE_BYTES``), copied one slice at a
      time."""
    raw = np.frombuffer(buf, dtype=np.uint8)
    nbuf = len(raw)
    if 4 * count > nbuf:
        raise ValueError(f"PLAIN BYTE_ARRAY body of {nbuf} bytes cannot hold {count} values")
    if count == 0:
        return RaggedBytes(np.zeros(1, dtype=np.int64), np.zeros(0, np.uint8))
    ln = int(raw[:4].view("<u4")[0])
    if count * (4 + ln) <= nbuf:
        recs = raw[: count * (4 + ln)].reshape(count, 4 + ln)
        if (np.ascontiguousarray(recs[:, :4]).view("<u4") == ln).all():
            return RaggedBytes(
                np.arange(count + 1, dtype=np.int64) * ln, recs[:, 4:].flatten()
            )
    unpack = _U32.unpack_from
    mv = memoryview(raw)
    lens = [0] * count
    pos = 0
    try:
        for i in range(count):
            n = unpack(mv, pos)[0]
            lens[i] = n
            pos += 4 + n
    except struct.error:
        pos = nbuf + 1  # a prefix cut by the end of the body
    if pos > nbuf:
        raise ValueError(
            f"PLAIN BYTE_ARRAY body of {nbuf} bytes ends inside its {count} values")
    offsets = np.zeros(count + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])
    payload = pos - 4 * count
    starts = _prefix_starts(offsets)
    if payload >= LONG_VALUE_BYTES * count:
        data = np.empty(payload, dtype=np.uint8)
        dst = memoryview(data)
        for s, a, b in zip((starts + 4).tolist(), offsets[:-1].tolist(), offsets[1:].tolist()):
            dst[a:b] = mv[s : s + b - a]
        return RaggedBytes(offsets, data)
    keep = np.ones(pos, dtype=bool)
    keep[starts[:, None] + np.arange(4)] = False
    return RaggedBytes(offsets, raw[:pos][keep])


def encode_plain_bool(values: np.ndarray) -> bytes:
    """1-bit-packed, LSB-first (matches BooleanPlainValuesWriter width-1 packing)."""
    return np.packbits(values.astype(bool), bitorder="little").tobytes()


def decode_plain_bool(buf, count: int) -> np.ndarray:
    return np.unpackbits(np.frombuffer(buf, dtype=np.uint8), bitorder="little")[:count].astype(bool)

