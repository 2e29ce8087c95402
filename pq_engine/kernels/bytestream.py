"""BYTE_STREAM_SPLIT — byte-plane transpose preconditioner.

Reference scatters byte i of every k-byte value into stream i with a per-value
loop (/root/reference/parquet-column/.../bytestreamsplit/ByteStreamSplitValuesWriter.java:91-100
``scatterBytes``). In NumPy the whole codec is one transpose — inherently
vectorized, which is exactly why this engine beats a per-value port.

No size reduction alone; it groups similar-entropy bytes (exponents together,
mantissa tails together) so a downstream general-purpose compressor bites.
"""

from __future__ import annotations

import numpy as np


def encode_bss(values: np.ndarray) -> bytes:
    """values: fixed-width numeric array (float32/float64/int32/int64);
    FLBA columns use fixedlen.encode_bss_fixed."""
    mat = np.ascontiguousarray(values).view(np.uint8).reshape(len(values), values.dtype.itemsize)
    return mat.T.tobytes()


def decode_bss(buf, dtype, count: int) -> np.ndarray:
    dt = np.dtype(dtype)
    k = dt.itemsize
    mat = np.frombuffer(buf, dtype=np.uint8, count=k * count).reshape(k, count)
    out = np.ascontiguousarray(mat.T).reshape(-1).view(dt)
    return out

