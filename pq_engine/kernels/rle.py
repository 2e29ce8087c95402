"""RLE / bit-packed hybrid codec (parquet-format <RLE> encoding).

Grammar (public parquet-format spec; mirrored from the doc comment at
/root/reference/parquet-column/.../values/rle/RunLengthBitPackingHybridEncoder.java:36-51):

    encoded        := run*
    run            := rle-run | bit-packed-run
    rle-run        := uvarint(count << 1)  value:ceil(width/8) bytes LE
    bit-packed-run := uvarint(groups << 1 | 1)  groups * width bytes
                      (each group = 8 values, at most 63 groups = 504 values per run,
                       RunLengthBitPackingHybridEncoder.java:185-235)

Writer policy (ours — any conforming stream decodes identically; the reference's
streaming repeat-detection at :146-183 triggers RLE at >=8 repeats, we do the same
from vectorized run boundaries):

* runs of a single value with length >= 8 become rle-runs;
* everything between them is bit-packed in groups of 8, <=504 values per run;
* mid-stream bit-packed spans must hold an exact multiple of 8 values, so up to
  7 leading values of an rle-eligible run are "borrowed" into the preceding
  bit-packed span to round it up (the reference achieves the same alignment by
  buffering 8-value groups);
* only the final group of the final run is zero-padded (:255-273).

Run detection is ``np.flatnonzero(np.diff(values))`` — the Python loop below
iterates over *runs*, never values. The decoder likewise walks only the run
headers in Python; one gather unpacks every bit-packed group of the stream
(the width is constant within a stream) and one ``np.repeat`` fills the RLE
runs.
"""

from __future__ import annotations

import numpy as np

from .bitpack import pack, unpack_groups, width_for_max
from .varint import encode_uvarint, read_uvarint

_MAX_GROUPS_PER_RUN = 63  # 504 values (RunLengthBitPackingHybridEncoder.java:60-66)


def _emit_rle(value: int, count: int, width: int, out: bytearray) -> None:
    out += encode_uvarint(count << 1)
    out += int(value).to_bytes((width + 7) // 8, "little")


def _emit_packed(values: np.ndarray, width: int, out: bytearray, *, final: bool) -> None:
    """Emit bit-packed run(s) for ``values``. If not ``final`` the length must be
    a multiple of 8; if final the last group is zero-padded."""
    n = len(values)
    if n == 0:
        return
    if n % 8:
        if not final:
            raise AssertionError("mid-stream packed span not group-aligned")
        padded = np.zeros(n + (-n) % 8, dtype=np.uint64)
        padded[:n] = values
        values = padded
        n = len(values)
    # ONE pack call for the whole span, sliced per <=63-group run: runs split
    # at 8-value group boundaries, which are byte boundaries in the packed
    # stream (8 values * width bits = width bytes), so slices of the span's
    # packed bytes are identical to per-run pack() output
    groups = n // 8
    blob = pack(values, width)
    start = 0
    while groups > 0:
        g = min(groups, _MAX_GROUPS_PER_RUN)
        out += encode_uvarint((g << 1) | 1)
        out += blob[start : start + g * width]
        start += g * width
        groups -= g
    return


def encode_hybrid(values: np.ndarray, width: int) -> bytes:
    """Encode non-negative ints (< 2**width) into the hybrid grammar."""
    n = len(values)
    out = bytearray()
    if n == 0:
        return bytes(out)
    v = np.ascontiguousarray(values, dtype=np.uint64)
    if width == 0:
        # single value 0 repeated n times: one rle-run, zero-byte value
        out += encode_uvarint(n << 1)
        return bytes(out)

    change = np.flatnonzero(v[1:] != v[:-1]) + 1
    starts = np.concatenate(([0], change)).astype(np.int64)
    ends = np.concatenate((change, [n])).astype(np.int64)
    lengths = ends - starts

    seg_start = 0  # start of the pending bit-packed span
    for idx in np.flatnonzero(lengths >= 8):
        s = int(starts[idx])
        run_len = int(lengths[idx])
        borrow = (-(s - seg_start)) % 8
        if run_len - borrow < 8:
            continue  # too short after alignment borrow — absorb into packed span
        _emit_packed(v[seg_start : s + borrow], width, out, final=False)
        _emit_rle(int(v[s]), run_len - borrow, width, out)
        seg_start = s + run_len
    _emit_packed(v[seg_start:], width, out, final=True)
    return bytes(out)


def decode_hybrid(buf, width: int, count: int) -> np.ndarray:
    """Decode exactly ``count`` values; returns uint64. ``ValueError`` when
    a run the count reaches is cut short (see :func:`decode_hybrid_many`)."""
    return decode_hybrid_many([(buf, count)], width)


def decode_hybrid_many(streams, width: int) -> np.ndarray:
    """The values of several streams of one ``width``, ``(buf, count)``
    each (the level or id streams of a column chunk's pages), one after
    another as uint64. ``ValueError`` when a run a count reaches is cut
    short.

    Mirrors RunLengthBitPackingHybridDecoder.readNext (:80-90), but only the
    run headers are walked in Python: every bit-packed group of every stream
    is then unpacked by one :func:`unpack_groups` call, and the RLE runs are
    filled by one ``np.repeat``, so a chunk's pages cost the NumPy calls of
    one stream."""
    byte_w = (width + 7) // 8
    takes: list[int] = []  # values each run gives, in stream order
    kinds: list[bool] = []  # True for a bit-packed run
    run_values: list[int] = []  # an RLE run's value, 0 for a bit-packed run
    packed: list[tuple[int, int]] = []  # (payload byte in ``joined``, groups taken)
    joined = []  # the bytes of every stream, up to its end
    base = 0
    for buf, count in streams:
        got = pos = 0
        while got < count:
            header, pos = read_uvarint(buf, pos)
            if header & 1:  # bit-packed run
                take = min((header >> 1) * 8, count - got)
                packed.append((base + pos, (take + 7) // 8))
                pos += (header >> 1) * width
                run_values.append(0)
            else:  # rle run
                take = min(header >> 1, count - got)
                run_values.append(int.from_bytes(buf[pos : pos + byte_w], "little"))
                pos += byte_w
            takes.append(take)
            kinds.append(bool(header & 1))
            got += take
        if pos > len(buf):
            raise ValueError(f"RLE/bit-packed stream of {len(buf)} bytes ends inside a run")
        joined.append(buf[:pos])
        base += pos
    if not packed:
        return np.repeat(np.array(run_values, dtype=np.uint64), takes)
    p, g = np.array(packed, dtype=np.int64).T
    first = p - (np.cumsum(g) - g) * width  # each run's groups continue its first
    starts = np.repeat(first, g) + np.arange(int(g.sum())) * width
    raw = np.frombuffer(buf, dtype=np.uint8, count=pos) if len(joined) == 1 else \
        np.frombuffer(b"".join(joined), dtype=np.uint8)
    vals = unpack_groups(raw, starts, width).reshape(-1)
    takes = np.array(takes)
    is_packed = np.array(kinds)
    t = takes[is_packed]
    extra = g * 8 - t  # padding values of a run the count cut short
    if extra[:-1].any():  # within the streams: keep what each run gives
        vals = vals[np.repeat(8 * (np.cumsum(g) - g) - (np.cumsum(t) - t), t)
                    + np.arange(int(t.sum()))]
    elif extra[-1]:
        vals = vals[: len(vals) - int(extra[-1])]
    if is_packed.all():
        return vals
    out = np.repeat(np.array(run_values, dtype=np.uint64), takes)
    out[np.repeat(is_packed, takes)] = vals
    return out


def encode_hybrid_length_prefixed(values: np.ndarray, width: int) -> bytes:
    """V1 framing: u32 LE byte-length prefix then the hybrid stream
    (RunLengthBitPackingHybridValuesWriter.java:66-73)."""
    body = encode_hybrid(values, width)
    return len(body).to_bytes(4, "little") + body


def decode_hybrid_length_prefixed(buf, width: int, count: int) -> tuple[np.ndarray, int]:
    """Returns (values, bytes_consumed_including_prefix)."""
    blen = int.from_bytes(bytes(buf[:4]), "little")
    return decode_hybrid(buf[4 : 4 + blen], width, count), 4 + blen


def encode_bool_rle(values: np.ndarray) -> bytes:
    """BOOLEAN as width-1 hybrid (V2 default, DefaultV2ValuesWriterFactory.java:77-84)."""
    return encode_hybrid(values.astype(np.uint64), 1)


def decode_bool_rle(buf, count: int) -> np.ndarray:
    return decode_hybrid(buf, 1, count).astype(bool)


__all__ = [
    "encode_hybrid",
    "decode_hybrid",
    "encode_hybrid_length_prefixed",
    "decode_hybrid_length_prefixed",
    "encode_bool_rle",
    "decode_bool_rle",
    "width_for_max",
]
