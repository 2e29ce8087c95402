"""Ragged byte-array columns as (offsets:int64[n+1], data:uint8[total]).

This is exactly Arrow's variable-binary layout, which is also what
DELTA_LENGTH_BYTE_ARRAY stores (lengths + concatenated bytes) — see
/root/reference/parquet-column/.../deltalengthbytearray/DeltaLengthByteArrayValuesWriter.java:43-70.
Keeping columns in this layout means string kernels never touch Python objects.
"""

from __future__ import annotations

import numpy as np


_BYTE_MASKS = np.array(
    [(1 << (8 * i)) - 1 for i in range(8)] + [0xFFFFFFFFFFFFFFFF], dtype=np.uint64
)  # mask keeping the low i bytes of a little-endian u64 word


def padded_words(
    data: np.ndarray, offs: np.ndarray, cl: np.ndarray, nwords: int
) -> np.ndarray:
    """(k, nwords) little-endian u64 word matrix: row r holds bytes
    ``data[offs[r] : offs[r]+cl[r]]`` zero-padded to ``nwords*8`` bytes.

    Gathers whole words through an unaligned sliding view (8x fewer gathered
    elements than a byte gather); rows whose last word would read past the
    buffer end are fixed scalar-ly. Callers get bit-identical words to a
    per-byte zero-padded build."""
    k = len(offs)
    nd = len(data)
    if nd < 8:
        # degenerate buffer: per-row scalar build
        words = np.zeros((k, nwords), dtype=np.uint64)
        for i in range(k):
            for wi in range(0, int(cl[i]), 8):
                chunk = data[int(offs[i]) + wi : int(offs[i]) + int(cl[i])][:8].tobytes()
                words[i, wi // 8] = int.from_bytes(chunk, "little")
        return words
    sliding = np.ndarray((nd - 7,), dtype=np.uint64, buffer=data, strides=(1,))
    jw = np.arange(nwords, dtype=np.int64) * 8
    starts = offs[:, None] + jw
    words = sliding[np.minimum(starts, nd - 8)]
    rem = np.clip(cl[:, None] - jw, 0, 8)
    words &= _BYTE_MASKS[rem]
    nw_rows = (cl + 7) // 8
    bad = np.flatnonzero(offs + 8 * (nw_rows - 1) > nd - 8)
    for i in bad:
        for wi in range(int(nw_rows[i])):
            s = int(offs[i]) + 8 * wi
            chunk = data[s : int(offs[i]) + int(cl[i])][:8].tobytes()
            words[i, wi] = int.from_bytes(chunk, "little")
    return words


# Mean value length (bytes) from which ``RaggedBytes.take`` copies values
# one slice at a time instead of gathering every byte through one int64
# index array: the gather costs about 6 ns per payload byte, a slice copy
# about 1.5 us of Python per value. Best of 9, a 1,000-value dictionary
# with lengths uniform in [L/2, 3L/2] taken by random indices into 1 MB and
# 16 MB outputs, Intel Xeon VM, 4 cores (ms, gather / per-value copy):
#       L      1 MB out        16 MB out
#      16    6.5 / 92.5    128.8 / 1597.3
#      64    4.6 / 24.3    115.3 /  377.6
#     128    3.2 / 11.5    104.5 /  174.6
#     192    4.4 /  7.9    114.0 /  156.2
#     256    3.1 /  3.4    100.7 /  102.0
#     320    3.3 /  2.9    105.8 /   59.7
#     512    3.9 /  3.4     93.5 /   31.5
#    1024    3.9 /  1.1    108.5 /   26.6
# The crossover sits near 256 B at both sizes.
LONG_TAKE_BYTES = 256


class RaggedBytes:
    """Immutable ragged byte-string column."""

    __slots__ = ("offsets", "data", "_lengths")

    def __init__(self, offsets: np.ndarray, data: np.ndarray):
        self.offsets = np.ascontiguousarray(offsets, dtype=np.int64)
        self.data = np.ascontiguousarray(data, dtype=np.uint8)

    def __len__(self) -> int:
        return len(self.offsets) - 1

    @property
    def lengths(self) -> np.ndarray:
        # cached (the column is immutable by contract; np.diff per call was a
        # measurable share of encode wall). Read-only so a caller that would
        # have mutated the former per-call copy fails loudly instead.
        try:
            return self._lengths
        except AttributeError:
            lens = np.diff(self.offsets)
            lens.flags.writeable = False
            self._lengths = lens
            return lens

    def __getitem__(self, i: int) -> bytes:
        return self.data[self.offsets[i] : self.offsets[i + 1]].tobytes()

    def to_pylist(self) -> list[bytes]:
        o = self.offsets
        d = self.data
        return [d[o[i] : o[i + 1]].tobytes() for i in range(len(self))]

    def __eq__(self, other) -> bool:  # bit-identical comparison
        return (
            isinstance(other, RaggedBytes)
            and np.array_equal(self.offsets, other.offsets)
            and np.array_equal(self.data, other.data)
        )

    @staticmethod
    def from_pylist(values) -> "RaggedBytes":
        n = len(values)
        lens = np.fromiter((len(v) for v in values), dtype=np.int64, count=n)
        offsets = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(lens, out=offsets[1:])
        data = np.frombuffer(b"".join(values), dtype=np.uint8) if n else np.zeros(0, np.uint8)
        return RaggedBytes(offsets, data)

    @staticmethod
    def from_arrow(arr) -> "RaggedBytes":
        """Zero-copy from a pyarrow String/Binary/LargeString/LargeBinary array
        (must be null-free — nulls are stripped at the page layer)."""
        import pyarrow as pa

        if arr.null_count:
            raise ValueError("from_arrow requires null-free input")
        if pa.types.is_large_string(arr.type) or pa.types.is_large_binary(arr.type):
            off_dtype = np.int64
        else:
            off_dtype = np.int32
        arr = arr.combine_chunks() if isinstance(arr, pa.ChunkedArray) else arr
        buffers = arr.buffers()
        if len(arr) == 0 or buffers[1] is None:
            # Arrow permits empty/absent buffers for 0-length arrays
            return RaggedBytes(np.zeros(1, dtype=np.int64), np.zeros(0, np.uint8))
        offsets = np.frombuffer(buffers[1], dtype=off_dtype, count=len(arr) + 1, offset=arr.offset * np.dtype(off_dtype).itemsize)
        base = offsets[0]
        data = np.frombuffer(buffers[2], dtype=np.uint8)[base : offsets[-1]] if buffers[2] is not None else np.zeros(0, np.uint8)
        return RaggedBytes(offsets.astype(np.int64) - int(base), data)

    @staticmethod
    def from_arrow_nullable(arr) -> tuple["RaggedBytes", "np.ndarray | None"]:
        """(RaggedBytes of the non-null rows, validity bool array | None).
        When the null slots carry no bytes (the common case), the valid rows'
        bytes are already contiguous, so only the offsets are compacted and
        ``drop_null``'s full data copy is skipped."""
        import pyarrow as pa

        arr = arr.combine_chunks() if isinstance(arr, pa.ChunkedArray) else arr
        if not arr.null_count:
            return RaggedBytes.from_arrow(arr), None
        validity = np.asarray(arr.is_valid())
        if pa.types.is_large_string(arr.type) or pa.types.is_large_binary(arr.type):
            off_dtype = np.int64
        else:
            off_dtype = np.int32
        buffers = arr.buffers()
        if len(arr) == 0 or buffers[1] is None:
            return RaggedBytes(np.zeros(1, np.int64), np.zeros(0, np.uint8)), validity
        offsets = np.frombuffer(
            buffers[1], dtype=off_dtype, count=len(arr) + 1,
            offset=arr.offset * np.dtype(off_dtype).itemsize,
        ).astype(np.int64)
        lens = np.diff(offsets)
        if int(lens[~validity].sum()) == 0:
            base = int(offsets[0])
            data = (
                np.frombuffer(buffers[2], dtype=np.uint8)[base : int(offsets[-1])]
                if buffers[2] is not None
                else np.zeros(0, np.uint8)
            )
            new_off = np.zeros(int(validity.sum()) + 1, dtype=np.int64)
            np.cumsum(lens[validity], out=new_off[1:])
            return RaggedBytes(new_off, data), validity
        return RaggedBytes.from_arrow(arr.drop_null()), validity

    def to_arrow(self, large: bool = False, binary: bool = False):
        # zero-copy: py_buffer wraps the numpy arrays directly (RaggedBytes is
        # immutable by contract; the Buffer keeps the ndarray alive). The
        # int32 offsets cast is itself a fresh array, so wrapping it is safe.
        import pyarrow as pa

        if large:
            typ = pa.large_binary() if binary else pa.large_string()
            off = pa.py_buffer(self.offsets)
        else:
            typ = pa.binary() if binary else pa.string()
            off = pa.py_buffer(self.offsets.astype(np.int32))
        return pa.Array.from_buffers(typ, len(self), [None, off, pa.py_buffer(self.data)])

    def take(self, indices: np.ndarray) -> "RaggedBytes":
        """Gather rows by index, vectorized (no per-row Python for values
        under ``LONG_TAKE_BYTES`` on average; slice memcpys for longer ones
        — the per-byte int64 index array costs 8x the payload in memory
        traffic)."""
        src_lens = self.lengths
        if len(src_lens) and src_lens.min() == src_lens.max():
            # one width for every value (a dictionary of codes or flags):
            # gather whole rows, no per-byte index. 1-byte values, 16,384
            # rows: 74 vs 216 us; 10-byte values, 20,480 rows: 331 vs 778
            # us; reading the parquet_file export took 3.6% longer without
            # this branch (4-core Xeon VM, median of 40 interleaved)
            w = int(src_lens[0])
            rows = self.data[self.offsets[0] : self.offsets[-1]].reshape(-1, w) if w else \
                np.zeros((len(self), 0), dtype=np.uint8)
            return RaggedBytes(np.arange(len(indices) + 1, dtype=np.int64) * w,
                               rows[indices].reshape(-1))
        lens = src_lens[indices]
        out_off = np.zeros(len(indices) + 1, dtype=np.int64)
        np.cumsum(lens, out=out_off[1:])
        total = int(out_off[-1])
        starts = self.offsets[indices]
        if len(indices) and total >= LONG_TAKE_BYTES * len(indices):
            out = np.empty(total, dtype=np.uint8)
            data = self.data
            for i in range(len(indices)):
                o0 = out_off[i]
                s = starts[i]
                out[o0 : out_off[i + 1]] = data[s : s + lens[i]]
            return RaggedBytes(out_off, out)
        # source positions: for each output row, a contiguous range starting at offsets[idx]
        pos = np.repeat(starts - out_off[:-1], lens) + np.arange(total, dtype=np.int64)
        return RaggedBytes(out_off, self.data[pos])
