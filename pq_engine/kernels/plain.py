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


def encode_plain_bytes(col: RaggedBytes) -> bytes:
    """u32 length + bytes, interleaved — built without a per-value loop by
    scattering 4-byte length prefixes into the output at computed positions."""
    n = len(col)
    if n == 0:
        return b""
    lens = col.lengths
    total = int(lens.sum()) + 4 * n
    out = np.zeros(total, dtype=np.uint8)
    # output start of each record = data so far + 4 bytes per preceding prefix
    rec_starts = np.zeros(n, dtype=np.int64)
    np.cumsum(lens[:-1] + 4, out=rec_starts[1:])
    len_le = lens.astype("<u4").view(np.uint8).reshape(n, 4)
    for b in range(4):  # 4 fixed iterations, vectorized scatter each
        out[rec_starts + b] = len_le[:, b]
    # data bytes: positions = rec_starts+4 broadcast over each value's bytes
    src_total = int(lens.sum())
    if src_total:
        pos = np.repeat(rec_starts + 4 - col.offsets[:-1], lens) + np.arange(src_total, dtype=np.int64)
        # np.arange over the concatenated data domain equals offsets-based walk
        out[pos] = col.data
    return out.tobytes()


def decode_plain_bytes(buf, count: int) -> RaggedBytes:
    """Parse u32-length-prefixed records. Record boundaries are data-dependent
    (a true chain: offset[i+1] = offset[i] + 4 + len@offset[i]), so the offset
    walk is a scalar scan over *records* — kept deliberately: a pointer-
    doubling vectorization needs a jump table over every BYTE position
    (O(page_bytes·log n) DRAM traffic ≈ 120+ MB per 1 MiB page), which loses
    badly to a ~0.2 µs/record struct scan on a memory-bandwidth-bound host.
    The byte gather itself is vectorized."""
    import struct

    raw = np.frombuffer(buf, dtype=np.uint8)
    starts = np.zeros(count, dtype=np.int64)
    lens = np.zeros(count, dtype=np.int64)
    pos = 0
    data = raw.tobytes() if not isinstance(buf, (bytes, bytearray)) else bytes(buf)
    unpack = struct.unpack_from
    for i in range(count):
        ln = unpack("<I", data, pos)[0]
        starts[i] = pos + 4
        lens[i] = ln
        pos += 4 + ln
    offsets = np.zeros(count + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])
    total = int(offsets[-1])
    gather = np.repeat(starts - offsets[:-1], lens) + np.arange(total, dtype=np.int64)
    return RaggedBytes(offsets, raw[gather])


def encode_plain_bool(values: np.ndarray) -> bytes:
    """1-bit-packed, LSB-first (matches BooleanPlainValuesWriter width-1 packing)."""
    return np.packbits(values.astype(bool), bitorder="little").tobytes()


def decode_plain_bool(buf, count: int) -> np.ndarray:
    return np.unpackbits(np.frombuffer(buf, dtype=np.uint8), bitorder="little")[:count].astype(bool)

