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
at its miniblock's width. A header whose blocks are not a multiple of 128
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


def _first_counts(runs: int, size: int, total: int) -> np.ndarray:
    """``runs`` counts of ``size``, the last one cut so they sum to
    ``total``."""
    counts = np.full(runs, size, dtype=np.int64)
    counts[-1] = total - (runs - 1) * size
    return counts


def decode_delta(buf, dtype=np.int64, return_consumed: bool = False):
    """Decode a full page body (self-describing count). Mirrors
    DeltaBinaryPackingValuesReader.loadNewBlockToBuffer/unpackMiniBlock
    (/root/reference/.../delta/DeltaBinaryPackingValuesReader.java:121,150).
    ``return_consumed=True`` also returns the byte position after the block
    — needed when a DELTA stream is FOLLOWED by payload in the same body
    (parquet DELTA_LENGTH/DELTA_BYTE_ARRAY layouts). ``ValueError`` when the
    stream is cut short or its header is malformed.

    Only the block headers are walked in Python: one minDelta varint per
    block, and the sum of its width bytes finds the next block. One
    :func:`unpack_groups` call then unpacks every 32-value group the count
    reaches, each at its miniblock's width, so the work and memory follow
    the count and the stream length, not the block size of the header."""
    def _ret(arr, pos):
        return (arr, pos) if return_consumed else arr

    pos = 0
    block, pos = read_uvarint(buf, pos)
    nmini, pos = read_uvarint(buf, pos)
    n, pos = read_uvarint(buf, pos)
    if n == 0:
        return _ret(np.zeros(0, dtype=dtype), pos)
    zz, pos = read_uvarint(buf, pos)
    first = zigzag_decode(zz)
    if n == 1:
        return _ret(np.array([first], dtype=np.int64).astype(dtype), pos)
    mini = block // nmini if nmini else 0
    if mini == 0 or mini * nmini != block or block % 128 or mini % 32:
        raise ValueError(f"DELTA block of {block} values in {nmini} miniblocks")

    nd = n - 1
    nblocks = (nd + block - 1) // block
    # spec: miniblocks past the data carry NO body bytes, and readers must
    # accept arbitrary width bytes for them
    tail_minis = -(-(nd - (nblocks - 1) * block) // mini)
    min_deltas, width_bytes, skips = [], [], []
    end = 0  # where the previous block's payload ended
    for b in range(nblocks):
        zz, pos = read_uvarint(buf, pos)
        min_deltas.append(zigzag_decode(zz))
        w = buf[pos : pos + nmini]
        width_bytes.append(w)
        pos += nmini
        skips.append(pos - end)  # bytes before the block's first group
        pos += sum(w if b + 1 < nblocks else w[:tail_minis]) * (mini // 8)
        end = pos
    if pos > len(buf):
        raise ValueError(f"DELTA stream of {len(buf)} bytes needs {pos}")

    # every 32-value group the count reaches: the width of its miniblock,
    # and its start, a running sum of the group sizes and the skips
    used = (nblocks - 1) * nmini + tail_minis  # miniblocks the count reaches
    groups = -(-nd // 32)
    widths = np.frombuffer(b"".join(width_bytes), dtype=np.uint8)[:used].astype(np.int64)
    widths = np.repeat(widths, _first_counts(used, mini // 32, groups))
    step = np.empty(groups, dtype=np.int64)
    step[0] = 0
    step[1:] = widths[:-1] * 4
    step[:: block // 32] += skips
    starts = step.cumsum()
    raw = np.frombuffer(buf, dtype=np.uint8, count=int(starts[-1] + widths[-1] * 4))
    deltas = unpack_groups(raw, starts, widths, 32).view(np.int64)
    # modular int64 arithmetic: NumPy integer arrays wrap without warning
    mins = np.array(min_deltas, dtype=np.int64)
    deltas += np.repeat(mins, _first_counts(nblocks, block // 32, groups))[:, None]
    out = np.empty(n, dtype=np.int64)
    out[0] = first
    deltas.reshape(-1)[:nd].cumsum(out=out[1:])
    out[1:] += first
    return _ret(out.astype(dtype, copy=False), pos)
