"""DELTA_BINARY_PACKED — frame-of-reference delta encoding for int32/int64.

Layout (public parquet-format spec; reference writer
/root/reference/parquet-column/.../values/delta/DeltaBinaryPackingValuesWriterForInteger.java:74-182
and the long variant; defaults blockSize=128, miniBlocks=4 from
DeltaBinaryPackingValuesWriter.java:48-50):

    header      := uvarint(blockSize) uvarint(numMiniBlocks)
                   uvarint(totalValueCount) zigzag-varint(firstValue)
    block       := zigzag-varint(minDelta)
                   bitWidth[numMiniBlocks] (1 byte each)
                   miniblock* (each 32 values bit-packed at its width)
    delta[i]    := value[i] - value[i-1]          (modular int64 — overflow is
                                                   well-defined, :87)
    stored[i]   := delta[i] - minDelta            (>= 0 within a block, :104-106)

The final block's missing values are zero-padded; miniblocks past the data get
width 0. The encoder takes all the streams of a column chunk (its pages) at
once (``encode_delta_many``): their blocks share one matrix, so the delta
math (int64 with wraparound), the block minimums, the miniblock widths and
the block headers are a few NumPy calls for the chunk, and bit-packing is
batched *per distinct width* across every page's miniblocks; Python touches
a stream only for its header and its slices. The decoder's Python loop runs
over blocks only (one minDelta varint and one sum of width bytes each); a
single gather then unpacks every 32-value group the count reaches, at its
miniblock's width, for all the pages of a chunk at once
(``decode_delta_many``). A header whose blocks are not a multiple of 128
values, or its miniblocks of 32 (the spec's rules), raises ``ValueError``.
"""

from __future__ import annotations

import numpy as np

from .bitpack import pack, unpack_groups
from .varint import (
    encode_uvarint,
    put_uvarints,
    read_uvarint,
    uvarint_sizes,
    zigzag_decode,
    zigzag_encode,
)

BLOCK = 128
MINIBLOCKS = 4
MINI = BLOCK // MINIBLOCKS  # 32

_POWERS64 = np.uint64(1) << np.arange(64, dtype=np.uint64)
_HEAD = encode_uvarint(BLOCK) + encode_uvarint(MINIBLOCKS)
_INT64_MAX = np.iinfo(np.int64).max


def encode_delta(values: np.ndarray) -> bytes:
    """Encode an int32/int64 array. Returns the full page body."""
    return encode_delta_many([values])[0]


def encode_delta_many(streams) -> list[bytes]:
    """The body of each int32/int64 array in ``streams`` (the pages of a
    column chunk), byte for byte what each would get alone. Mirrors
    parquet-column's DeltaBinaryPackingValuesWriterForLong
    (writeLong/flushBlockBuffer).

    The blocks of every stream are laid out one after another in one
    ``(blocks, 128)`` matrix: one ``min``, one subtraction, one width
    search and one bit-packing call per distinct width serve the whole
    chunk, and one output buffer holds every block. Python touches each
    stream only for its header, its deltas (one subtraction into its rows)
    and its output slice."""
    arrays = []
    for values in streams:
        v = np.asarray(values)
        if v.dtype not in (np.dtype(np.int32), np.dtype(np.int64)):
            raise TypeError(f"delta codec expects int32/int64, got {v.dtype}")
        arrays.append(v)
    heads, spans, nblocks = [], [], 0  # spans: (stream, first block, deltas)
    for k, v in enumerate(arrays):
        n = len(v)
        head = _HEAD + encode_uvarint(n)
        if n:
            head += encode_uvarint(zigzag_encode(int(v[0])))
        heads.append(head)
        if n > 1:
            spans.append((k, nblocks, n - 1))
            nblocks += -(-(n - 1) // BLOCK)
    if not spans:
        return heads
    padded = np.empty(nblocks * BLOCK, dtype=np.int64)
    for k, b0, nd in spans:
        v = arrays[k]
        np.subtract(v[1:], v[:-1], out=padded[b0 * BLOCK : b0 * BLOCK + nd], dtype=np.int64)
    blocks = padded.reshape(nblocks, BLOCK)
    # only the last block of a stream holds pad slots: they must not win its
    # minDelta (filled with the int64 maximum), and they pack as 0
    ends = np.array([b0 * BLOCK + nd for _, b0, nd in spans], dtype=np.int64)
    last = (ends - 1) // BLOCK
    pad = np.arange(BLOCK) >= (ends - last * BLOCK)[:, None]
    keep = pad[:, -1]
    last, pad = last[keep], pad[keep]
    if len(last):
        rows = blocks[last]
        rows[pad] = _INT64_MAX
        blocks[last] = rows
    min_delta = blocks.min(axis=1)
    adj = np.subtract(blocks, min_delta[:, None], dtype=np.int64)  # modular wrap ok
    if len(last):
        rows = adj[last]
        rows[pad] = 0
        adj[last] = rows
    flat_minis = adj.view(np.uint64).reshape(-1, MINI)
    # width per miniblock = bit_length of its max — exact via searchsorted
    # against the 64 powers of two (float log2 would be inexact past 2^53);
    # a miniblock past the data holds only pad slots, so its width is 0
    flat_widths = np.searchsorted(_POWERS64, flat_minis.max(axis=1), side="right")
    widths = flat_widths.reshape(nblocks, MINIBLOCKS)

    # ---- output assembly: per-block varint(zigzag(minDelta)) + width bytes
    # + per-width packed payloads are scattered into one output buffer, every
    # stream's blocks one after another
    pl = flat_widths * (MINI // 8)  # payload bytes per miniblock (width 0 -> 0)
    zz = ((min_delta << np.int64(1)) ^ (min_delta >> np.int64(63))).view(np.uint64)
    vlen = uvarint_sizes(zz)
    blk_pl = pl.reshape(nblocks, MINIBLOCKS)
    blk_total = vlen + MINIBLOCKS + blk_pl.sum(axis=1)
    blk_off = np.zeros(nblocks + 1, dtype=np.int64)
    np.cumsum(blk_total, out=blk_off[1:])
    body = np.empty(int(blk_off[-1]), dtype=np.uint8)
    blk_off = blk_off[:-1]
    put_uvarints(body, blk_off, zz, vlen)
    wstart = blk_off + vlen
    body[wstart[:, None] + np.arange(MINIBLOCKS)] = widths
    wcum = np.zeros((nblocks, MINIBLOCKS), dtype=np.int64)
    np.cumsum(blk_pl[:, :-1], axis=1, out=wcum[:, 1:])
    mini_off = ((wstart + MINIBLOCKS)[:, None] + wcum).reshape(-1)
    for w in np.unique(flat_widths).tolist():
        if w == 0:
            continue
        idx = np.flatnonzero(flat_widths == w)
        blob = np.frombuffer(pack(flat_minis[idx].reshape(-1), w), dtype=np.uint8)
        per = MINI * w // 8
        dst = mini_off[idx][:, None] + np.arange(per, dtype=np.int64)
        body[dst.reshape(-1)] = blob
    cuts = blk_off.tolist() + [len(body)]
    for k, b0, nd in spans:
        heads[k] += body[cuts[b0] : cuts[b0 - (-nd // BLOCK)]].tobytes()
    return heads


def decode_delta(buf, dtype=np.int64, return_consumed: bool = False):
    """Decode a full page body (self-describing count). ``return_consumed=True``
    also returns the byte position after the stream — needed when a DELTA
    stream is FOLLOWED by payload in the same body (parquet DELTA_LENGTH/
    DELTA_BYTE_ARRAY layouts). ``ValueError`` when the stream is cut short or
    its header is malformed (see :func:`decode_delta_many`)."""
    out, spans = decode_delta_many([buf], dtype)
    return (out, spans[0][1]) if return_consumed else out


def decode_delta_many(bufs, dtype=np.int64) -> tuple[np.ndarray, list[tuple[int, int]]]:
    """The values of several streams (the pages of a column chunk), one
    after another, and (count, byte position after it) of each. Mirrors
    DeltaBinaryPackingValuesReader.loadNewBlockToBuffer/unpackMiniBlock
    (/root/reference/.../delta/DeltaBinaryPackingValuesReader.java:121,150).

    Only the block headers are walked in Python (:func:`_walk`: one
    minDelta varint and one sum of width bytes each). One
    :func:`unpack_groups` call then unpacks every 32-value group the counts
    reach, each at its miniblock's width (:func:`_deltas`), so the work and
    memory follow the counts and the stream lengths, not the block size of
    a header, and a chunk's pages cost the NumPy calls of one stream."""
    walks = [_walk(buf) for buf in bufs]
    out = np.empty(sum(w[0] for w in walks), dtype=np.int64)
    # the deltas of every run of streams that share one block geometry
    deltas, i = {}, 0
    while i < len(walks):
        j = i + 1
        while j < len(walks) and walks[j][4] == walks[i][4]:
            j += 1
        if walks[i][4] is not None:
            deltas.update(_deltas(bufs[i:j], walks[i:j], i))
        i = j
    o = 0
    for k, (n, first, _, _, geo, _) in enumerate(walks):
        if n:
            out[o] = first
        if geo is not None:
            # modular int64 arithmetic: NumPy integer arrays wrap silently
            deltas[k].cumsum(out=out[o + 1 : o + n])
            out[o + 1 : o + n] += first
        o += n
    return out.astype(dtype, copy=False), [(w[0], w[5]) for w in walks]


def _walk(buf) -> tuple:
    """(count, first value, each block's minDelta and where its width bytes
    start, (block size, miniblocks) or None for fewer than 2 values, end) of
    one stream, walking its block headers only: the sum of the width bytes
    of the miniblocks the count reaches finds the next block."""
    pos = 0
    block, pos = read_uvarint(buf, pos)
    nmini, pos = read_uvarint(buf, pos)
    n, pos = read_uvarint(buf, pos)
    first = 0
    if n:
        zz, pos = read_uvarint(buf, pos)
        first = zigzag_decode(zz)
    if n < 2:
        return n, first, [], [], None, pos
    mini = block // nmini if nmini else 0
    if mini == 0 or mini * nmini != block or block % 128 or mini % 32:
        raise ValueError(f"DELTA block of {block} values in {nmini} miniblocks")
    nd = n - 1
    nblocks = (nd + block - 1) // block
    # spec: miniblocks past the data carry NO body bytes, and readers must
    # accept arbitrary width bytes for them
    tail_minis = -(-(nd - (nblocks - 1) * block) // mini)
    group_bytes = mini // 8  # payload bytes per bit of width
    mins, wstarts = [], []
    try:
        for b in range(nblocks):
            zz = buf[pos]  # the minDelta zigzag varint, read inline
            pos += 1
            if zz > 127:
                zz &= 0x7F
                shift = 7
                while True:
                    c = buf[pos]
                    pos += 1
                    zz |= (c & 0x7F) << shift
                    if c < 128:
                        break
                    shift += 7
            mins.append((zz >> 1) ^ -(zz & 1))
            wstarts.append(pos)
            pos += nmini
            minis = nmini if b + 1 < nblocks else tail_minis
            pos += sum(buf[pos - nmini : pos - nmini + minis]) * group_bytes
    except IndexError:
        raise ValueError(f"DELTA stream of {len(buf)} bytes ends inside a block header") from None
    if pos > len(buf):
        raise ValueError(f"DELTA stream of {len(buf)} bytes needs {pos}")
    return n, first, mins, wstarts, (block, nmini), pos


def _deltas(bufs, walks, k0: int) -> dict:
    """``{stream index: its n-1 deltas}`` for streams of one block geometry
    (``walks`` from :func:`_walk`; ``k0`` is the first one's index), every
    group of them unpacked by one :func:`unpack_groups` call. The groups of
    a last block past its stream's count get width 0 (no payload) and their
    values are dropped."""
    block, nmini = walks[0][4]
    per_mini, per_block = block // nmini // 32, block // 32  # groups
    if len(walks) == 1:
        raw = np.frombuffer(bufs[0], dtype=np.uint8, count=walks[0][5])
        wstart = np.array(walks[0][3], dtype=np.int64)
        mins = np.array(walks[0][2], dtype=np.int64)
    else:
        raw = np.frombuffer(b"".join(buf[: w[5]] for buf, w in zip(bufs, walks)), dtype=np.uint8)
        bases = np.cumsum([0] + [w[5] for w in walks[:-1]]).tolist()
        wstart = np.array([p + b for w, b in zip(walks, bases) for p in w[3]], dtype=np.int64)
        mins = np.array([m for w in walks for m in w[2]], dtype=np.int64)
    # (block, group): its miniblock's width, 0 past the stream's count, and
    # its start: the block's payload, then the groups before it. Blocks are
    # laid out as wide as the widest a count reaches, not as the header's
    # block size: memory follows the counts
    nblocks = [len(w[2]) for w in walks]
    last = np.cumsum(nblocks) - 1
    reach = np.array([-(-(w[0] - 1) // 32) - (nb - 1) * per_block
                      for w, nb in zip(walks, nblocks)])
    lanes = np.arange(per_block if max(nblocks) > 1 else int(reach.max()))
    widths = raw.take(wstart[:, None] + lanes // per_mini).astype(np.int64)
    widths[last] *= lanes < reach[:, None]
    step = widths * 4
    starts = (wstart + nmini)[:, None] + step.cumsum(axis=1) - step
    deltas = unpack_groups(raw, starts.reshape(-1), widths.reshape(-1), 32).reshape(len(wstart), -1)
    deltas = deltas.view(np.int64)
    deltas += mins[:, None]
    flat = deltas.reshape(-1)
    out, b0, stride = {}, 0, 32 * len(lanes)
    for i, (w, nb) in enumerate(zip(walks, nblocks)):
        out[k0 + i] = flat[b0 * stride : b0 * stride + w[0] - 1]
        b0 += nb
    return out
