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

The encoder takes all the streams of one width in a column chunk at once
(``encode_hybrid_many``): run detection is one comparison of neighbours over
every stream, the Python loop iterates over the *runs of 8 or more*, never
values, and one ``pack`` call and one output buffer serve every stream. The
decoder likewise walks only the run headers in Python; one gather unpacks
every bit-packed group of every stream (the width is constant within a
stream) and one ``np.repeat`` fills the RLE runs.
"""

from __future__ import annotations

import numpy as np

from .bitpack import pack, unpack_groups, width_for_max
from .varint import encode_uvarint, put_uvarints, read_uvarint, uvarint_sizes

_MAX_GROUPS_PER_RUN = 63  # 504 values (RunLengthBitPackingHybridEncoder.java:60-66)


def encode_hybrid(values: np.ndarray, width: int) -> bytes:
    """Encode non-negative ints (< 2**width) into the hybrid grammar."""
    return encode_hybrid_many([values], width)[0]


def encode_hybrid_many(streams, width: int) -> list[bytes]:
    """The hybrid stream of each array of non-negative ints (< 2**width) in
    ``streams`` (the level or id streams of a column chunk's pages), byte
    for byte what each would get alone.

    Runs are found for all streams at once (a value change or a stream
    start opens one); the Python loop then walks only the runs of 8 or more
    to place the rle-runs (the borrow of the policy above makes each choice
    depend on the one before). Every bit-packed value of every stream is
    packed by one :func:`pack` call, and the run headers, RLE values and
    packed payloads are scattered into one output buffer."""
    arrays = [np.ascontiguousarray(v, dtype=np.uint64) for v in streams]
    ns = [len(v) for v in arrays]
    if width == 0:
        # single value 0 repeated n times: one rle-run, zero-byte value
        return [encode_uvarint(n << 1) if n else b"" for n in ns]
    total = sum(ns)
    if total == 0:
        return [b""] * len(arrays)
    v = arrays[0] if len(arrays) == 1 else np.concatenate(arrays)
    ends = np.cumsum(ns)
    opens = np.empty(total, dtype=bool)
    opens[0] = True
    np.not_equal(v[1:], v[:-1], out=opens[1:])
    opens[(ends - ns)[np.array(ns) > 0]] = True
    run_start = np.flatnonzero(opens)
    run_len = np.diff(run_start, append=total)
    long = run_len >= 8

    # the rle-runs: (first value, values) of each; the bit-packed spans are
    # the rest of each stream, so the loop only walks the runs of 8 or more
    rle_at, rle_len = [], []
    ends = ends.tolist()
    k = seg_start = 0
    for s, n in zip(run_start[long].tolist(), run_len[long].tolist()):
        while s >= ends[k]:  # a new stream starts its first span
            seg_start = ends[k]
            k += 1
        borrow = (seg_start - s) % 8
        if n - borrow < 8:
            continue  # too short after alignment borrow — absorb into packed span
        rle_at.append(s + borrow)
        rle_len.append(n - borrow)
        seg_start = s + n
    # every segment, in stream order: the rle-runs and the spans between
    # them and the stream ends; a span is cut into runs of at most 63 groups
    rle_at, rle_len = np.array([rle_at, rle_len], dtype=np.int64).reshape(2, -1)
    edges = np.unique(np.concatenate(([0], ends, rle_at, rle_at + rle_len)))
    seg_at, seg_len = edges[:-1], np.diff(edges)
    seg_rle = np.zeros(len(seg_at), dtype=bool)
    seg_rle[np.searchsorted(seg_at, rle_at)] = True
    groups = np.where(seg_rle, 0, -(-seg_len // 8))
    runs = np.where(seg_rle, 1, -(-groups // _MAX_GROUPS_PER_RUN))
    seg = np.repeat(np.arange(len(seg_at)), runs)
    nth = np.arange(len(seg)) - np.repeat(np.cumsum(runs) - runs, runs)
    is_rle = seg_rle[seg]
    at = seg_at[seg] + nth * (8 * _MAX_GROUPS_PER_RUN)  # each run's first value
    run_groups = np.minimum(groups[seg] - nth * _MAX_GROUPS_PER_RUN, _MAX_GROUPS_PER_RUN)
    header = np.where(is_rle, seg_len[seg] << 1, (run_groups << 1) | 1)
    spans = np.flatnonzero(~seg_rle)
    piece_end = np.searchsorted(at, ends).tolist()
    byte_w = (width + 7) // 8
    vlen = uvarint_sizes(header.view(np.uint64))
    plen = np.where(is_rle, byte_w, (header >> 1) * width)
    off = np.zeros(len(seg) + 1, dtype=np.int64)
    np.cumsum(vlen + plen, out=off[1:])
    out = np.empty(int(off[-1]), dtype=np.uint8)
    put_uvarints(out, off[:-1], header.view(np.uint64), vlen)
    value_at = off[:-1] + vlen
    if is_rle.any():
        rows = np.flatnonzero(is_rle)
        value = v[at[rows]]
        for j in range(byte_w):
            out[value_at[rows] + j] = (value >> np.uint64(8 * j)) & np.uint64(0xFF)
    if len(spans):
        # every bit-packed value of every span (a span's last group
        # zero-padded) packed at once, then each run's bytes to its place
        p_pos, p_len = seg_at[spans], seg_len[spans]
        if len(spans) == 1 and p_len[0] % 8 == 0:
            payload = v[p_pos[0] : p_pos[0] + p_len[0]]
        else:
            p_first = np.cumsum(groups[spans] * 8)
            payload = np.zeros(int(p_first[-1]), dtype=np.uint64)
            p_first -= groups[spans] * 8
            real = np.arange(int(p_len.sum())) + np.repeat(p_first - (np.cumsum(p_len) - p_len), p_len)
            payload[real] = v[real + np.repeat(p_pos - p_first, p_len)]
        blob = np.frombuffer(pack(payload, width), dtype=np.uint8)
        rows = np.flatnonzero(~is_rle)
        p_plen = plen[rows]
        out[np.repeat(value_at[rows] - (np.cumsum(p_plen) - p_plen), p_plen)
            + np.arange(len(blob))] = blob
    cuts = [0] + off[piece_end].tolist()
    return [out[a:b].tobytes() for a, b in zip(cuts, cuts[1:])]


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
    "encode_hybrid_many",
    "decode_hybrid",
    "decode_hybrid_many",
    "encode_hybrid_length_prefixed",
    "decode_hybrid_length_prefixed",
    "encode_bool_rle",
    "decode_bool_rle",
    "width_for_max",
]
