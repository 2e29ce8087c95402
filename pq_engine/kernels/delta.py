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
width 0. All delta math is vectorized (``np.diff`` on int64 with wraparound);
bit-packing of miniblocks is batched *per distinct width* so the Python loop
runs over blocks (n/128) only for header assembly. The decoder's Python loop
also runs over blocks only (one minDelta varint and one sum of width bytes
each); a single gather then unpacks every 32-value group the count reaches,
at its miniblock's width, for all the pages of a chunk at once
(``decode_delta_many``). A header whose blocks are not a multiple of 128
values, or its miniblocks of 32 (the spec's rules), raises ``ValueError``.
"""

from __future__ import annotations

import numpy as np

from .bitpack import pack, unpack_groups
from .varint import encode_uvarint, read_uvarint, zigzag_decode, zigzag_encode

BLOCK = 128
MINIBLOCKS = 4
MINI = BLOCK // MINIBLOCKS  # 32

_POWERS64 = np.uint64(1) << np.arange(64, dtype=np.uint64)


def encode_delta(values: np.ndarray) -> bytes:
    """Encode an int32/int64 array. Returns the full page body."""
    v = np.asarray(values)
    if v.dtype not in (np.dtype(np.int32), np.dtype(np.int64)):
        raise TypeError(f"delta codec expects int32/int64, got {v.dtype}")
    n = len(v)
    out = bytearray()
    out += encode_uvarint(BLOCK)
    out += encode_uvarint(MINIBLOCKS)
    out += encode_uvarint(n)
    if n == 0:
        return bytes(out)
    v64 = v.astype(np.int64, copy=False)
    first = int(v64[0])
    out += encode_uvarint(zigzag_encode(first))
    if n == 1:
        return bytes(out)

    with np.errstate(over="ignore"):
        deltas = np.subtract(v64[1:], v64[:-1], dtype=np.int64)  # modular wrap ok
    nd = len(deltas)
    nblocks = (nd + BLOCK - 1) // BLOCK
    padded = np.zeros(nblocks * BLOCK, dtype=np.int64)
    padded[:nd] = deltas

    blocks = padded.reshape(nblocks, BLOCK)
    # per-block minDelta over REAL deltas only (pad values must not win the
    # min). Only the LAST block can hold pad slots: full blocks take a plain
    # row min, the last block's min is computed over its real slice alone —
    # no O(n) index mask / where passes.
    min_delta = blocks.min(axis=1)
    last_start = (nblocks - 1) * BLOCK
    if nd < nblocks * BLOCK:
        min_delta[-1] = deltas[last_start:].min()
    with np.errstate(over="ignore"):
        adj = np.subtract(blocks, min_delta[:, None], dtype=np.int64)
    flat = adj.reshape(-1)
    flat[nd:] = 0  # pad slots pack as 0
    adj = adj.view(np.uint64)

    minis = adj.reshape(nblocks, MINIBLOCKS, MINI)
    # width per miniblock = bit_length of max value — exact via searchsorted
    # against the 64 powers of two (float log2 would be inexact past 2^53)
    maxes = minis.max(axis=2)
    powers = _POWERS64
    widths = np.searchsorted(powers, maxes.reshape(-1), side="right").reshape(
        nblocks, MINIBLOCKS
    ).astype(np.int64)
    # miniblocks fully past the data: width 0 (first index past the data
    # rounds up to a miniblock boundary; all later miniblocks carry no body)
    first_past = (nd + MINI - 1) // MINI
    widths.reshape(-1)[first_past:] = 0

    # ---- fully vectorized output assembly (byte-identical layout): per-block
    # varint(zigzag(minDelta)) + width bytes + per-width packed payloads are
    # scattered into one output buffer — no per-block Python byte shuffling
    flat_minis = minis.reshape(-1, MINI)
    flat_widths = widths.reshape(-1)
    pl = flat_widths * MINI // 8  # payload bytes per miniblock (width 0 -> 0)
    with np.errstate(over="ignore"):
        zz = ((min_delta << np.int64(1)) ^ (min_delta >> np.int64(63))).view(np.uint64)
    nbits = np.searchsorted(powers, zz, side="right")
    vlen = np.maximum(1, (nbits + 6) // 7).astype(np.int64)
    vmax = int(vlen.max())
    blk_pl = pl.reshape(nblocks, MINIBLOCKS)
    blk_total = vlen + MINIBLOCKS + blk_pl.sum(axis=1)
    blk_off = np.zeros(nblocks, dtype=np.int64)
    np.cumsum(blk_total[:-1], out=blk_off[1:])
    body = np.zeros(int(blk_total.sum()), dtype=np.uint8)
    for j in range(vmax):
        rows = np.flatnonzero(vlen > j)
        byte = ((zz[rows] >> np.uint64(7 * j)) & np.uint64(0x7F)).astype(np.uint8)
        cont = (vlen[rows] > j + 1).astype(np.uint8) << 7
        body[blk_off[rows] + j] = byte | cont
    wmat = widths.astype(np.uint8)
    for m in range(MINIBLOCKS):
        body[blk_off + vlen + m] = wmat[:, m]
    wcum = np.zeros((nblocks, MINIBLOCKS), dtype=np.int64)
    np.cumsum(blk_pl[:, :-1], axis=1, out=wcum[:, 1:])
    mini_off = (blk_off + vlen + MINIBLOCKS)[:, None] + wcum
    mini_off = mini_off.reshape(-1)
    for w in np.unique(flat_widths):
        w = int(w)
        if w == 0:
            continue
        idx = np.flatnonzero(flat_widths == w)
        blob = np.frombuffer(pack(flat_minis[idx].reshape(-1), w), dtype=np.uint8)
        per = MINI * w // 8
        dst = mini_off[idx][:, None] + np.arange(per, dtype=np.int64)
        body[dst.reshape(-1)] = blob
    return bytes(out) + body.tobytes()


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
