"""DELTA_LENGTH_BYTE_ARRAY and DELTA_BYTE_ARRAY (incremental/prefix encoding)
— the one encoder and one decoder of each, shared by the engine's pages and
the parquet interop writer/reader.

DELTA_LENGTH_BYTE_ARRAY (parquet-column DeltaLengthByteArrayValuesWriter.java:
43-70): DELTA_BINARY_PACKED of the int32 lengths, then the concatenated raw
bytes. Arrow's string layout *is already* offsets+data, so encode/decode is
offsets arithmetic — no per-value work.

DELTA_BYTE_ARRAY (parquet-column DeltaByteArrayWriter.java:38-104): per
value, the shared-prefix length with the *previous* value
(DELTA_BINARY_PACKED) followed by the suffixes (DELTA_LENGTH_BYTE_ARRAY).
The reference finds prefixes with SIMD ``Arrays.mismatch`` (:96); we compute
all prefixes at once by comparing row i with row i-1 over a capped prefix
window — prefixes longer than CAP are truncated (costs compression, never
correctness; foreign writers' uncapped prefixes decode fine).

One layout: ``encode_dlba``/``encode_dba`` write the parquet-spec page
bodies (each DELTA_BINARY_PACKED head is self-delimiting, so nothing frames
it), and the engine's page blobs hold exactly these bodies — ``pq
to-parquet`` copies them into parquet pages as they are. The engine's page
pass (``pages.encode_runs``) builds the same bodies for all the pages of a
chunk at once: ``dba_streams`` splits the chunk's values at its page starts,
and every page's heads go through one ``encode_delta_many`` call.
"""

from __future__ import annotations

import numpy as np

from .delta import decode_delta, decode_delta_many, encode_delta, encode_delta_many
from .ragged import RaggedBytes, padded_words

PREFIX_CAP = 256  # longest shared prefix we exploit; avoids huge (n, maxlen) matrices


def encode_dlba(col: RaggedBytes) -> bytes:
    """parquet DELTA_LENGTH_BYTE_ARRAY page body (self-describing: no
    length prefix in front of the lengths stream). ``join`` reads the numpy
    buffer directly — one copy of the data, not two."""
    data = col.data[int(col.offsets[0]) : int(col.offsets[-1])]
    return b"".join((encode_delta(col.lengths), data))


def decode_dlba(buf, count: int) -> RaggedBytes:
    return decode_dlba_many([buf], [count])[0]


def decode_dlba_many(bufs, counts) -> list[RaggedBytes]:
    """The ``counts[i]`` values of each body in ``bufs`` (the pages of a
    column chunk), each as a view of its body: every lengths stream is
    decoded by one :func:`decode_delta_many` call."""
    lengths, spans = decode_delta_many(bufs, np.int64)
    firsts = np.cumsum([0] + [n for n, _ in spans]).tolist()
    if any(n < c for (n, _), c in zip(spans, counts)):
        raise ValueError("DELTA_LENGTH_BYTE_ARRAY: fewer lengths than values")
    if len(lengths) and lengths.min() < 0:
        raise ValueError("DELTA_LENGTH_BYTE_ARRAY: negative value length")
    offsets = np.zeros(len(lengths) + 1, dtype=np.int64)
    np.cumsum(lengths, out=offsets[1:])
    out = []
    for buf, (_, end), f, c in zip(bufs, spans, firsts, counts):
        page = offsets[f : f + c + 1] - offsets[f]
        out.append(RaggedBytes(page, np.frombuffer(buf, dtype=np.uint8, count=int(page[-1]),
                                                   offset=end)))
    return out


_POWERS64 = np.uint64(1) << np.arange(64, dtype=np.uint64)


def shared_prefix_lengths(col: RaggedBytes, cap: int = PREFIX_CAP) -> np.ndarray:
    """prefix[i] = len of common prefix of value i and value i-1 (prefix[0]=0),
    capped at ``cap``. Fully vectorized: adjacent rows are compared as
    zero-padded little-endian u64 WORDS (shared sliding-view gather); the
    first differing byte inside the first differing word falls out of the
    XOR's lowest set bit. Identical results to a per-byte matrix compare."""
    n = len(col)
    if n == 0:
        return np.zeros(0, dtype=np.int64)
    lens = col.lengths
    cap = min(cap, int(lens.max()) if n else 0) or 1
    nwords = (cap + 7) // 8
    cl = np.minimum(lens, cap)  # bytes beyond cap are masked: never compared
    words = padded_words(col.data, col.offsets[:-1], cl, nwords)
    dw = words[1:] ^ words[:-1]  # (n-1, nwords)
    nzw = dw != 0
    any_neq = nzw.any(axis=1)
    widx = nzw.argmax(axis=1)
    vals = dw[np.arange(n - 1), widx]
    lsb = vals & (~vals + np.uint64(1))
    bitpos = np.searchsorted(_POWERS64, lsb, side="right") - 1
    first = np.where(any_neq, widx * 8 + bitpos // 8, cap)
    pair_min = np.minimum(lens[1:], lens[:-1])
    out = np.zeros(n, dtype=np.int64)
    out[1:] = np.minimum(first, pair_min)
    return out


PREFIX_WINDOW = 1 << 14  # values per shared_prefix_lengths call in dba_streams


def dba_streams(col: RaggedBytes, firsts=(0,)) -> tuple[np.ndarray, RaggedBytes]:
    """(shared-prefix lengths, suffixes) of the values of ``col``, as
    DELTA_BYTE_ARRAY stores them: each value against the one before it,
    except the values at ``firsts`` (the first value of each page), whose
    prefix is 0. The prefixes are found ``PREFIX_WINDOW`` values at a time,
    so the word matrices follow the window, not the chunk; the suffix bytes
    are the bytes no prefix covers, picked by one mask over the data."""
    n = len(col)
    prefixes = np.empty(n, dtype=np.int64)
    for a in range(0, n, PREFIX_WINDOW):
        lo, b = max(a - 1, 0), min(a + PREFIX_WINDOW, n)
        prefixes[a:b] = shared_prefix_lengths(RaggedBytes(col.offsets[lo : b + 1], col.data))[a - lo :]
    prefixes[[f for f in firsts if f < n]] = 0
    suf_off = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(col.lengths - prefixes, out=suf_off[1:])
    o0 = int(col.offsets[0])
    data = col.data[o0 : int(col.offsets[-1])]
    # -1 where a prefix starts, +1 where it ends: the running sum is -1
    # inside a prefix (prefixes never overlap, and their starts and their
    # ends are each distinct)
    shared = prefixes > 0
    starts = col.offsets[:-1][shared] - o0
    edges = np.zeros(len(data) + 1, dtype=np.int8)
    edges[starts] = -1
    edges[starts + prefixes[shared]] += 1
    suffix = np.cumsum(edges[:-1], dtype=np.int8) == 0
    return prefixes, RaggedBytes(suf_off, data[suffix])


def encode_dba(col: RaggedBytes) -> bytes:
    """parquet DELTA_BYTE_ARRAY page body: prefix lengths, then a
    DELTA_LENGTH_BYTE_ARRAY body of the suffixes."""
    prefixes, suffixes = dba_streams(col)
    return b"".join((*encode_delta_many([prefixes, suffixes.lengths]), suffixes.data))


def decode_dba(buf, count: int) -> RaggedBytes:
    prefixes, used = decode_delta(buf, np.int64, return_consumed=True)
    return _join_prefixes(prefixes[:count], decode_dlba(memoryview(buf)[used:], count))


def _join_prefixes(prefixes: np.ndarray, suffixes: RaggedBytes) -> RaggedBytes:
    """Stateful reconstruction (needs previous value,
    RequiresPreviousReader.java:23). The prefix-copy recursion is sequential by
    nature; we resolve it vectorized by chasing prefix *provenance*: byte j of
    value i either comes from the suffix stream or from value i-1's byte j —
    which itself resolves to the nearest earlier value whose suffix covers j.
    Implemented as a per-column-position scan over the (n, maxlen) index grid.
    """
    count = len(suffixes)
    suf_lens = suffixes.lengths
    lens = prefixes + suf_lens
    # a value can only borrow bytes its predecessor has (prefix[0] borrows
    # from nothing) — checked once here, so the provenance chains below
    # never read past a value or before the first one
    prev_lens = np.zeros(count, dtype=np.int64)
    prev_lens[1:] = lens[:-1]
    if np.any((prefixes < 0) | (prefixes > prev_lens)):
        raise ValueError(
            "DELTA_BYTE_ARRAY: prefix longer than the previous value (or negative)")
    offsets = np.zeros(count + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])
    out = np.zeros(int(offsets[-1]), dtype=np.uint8)
    # place suffix bytes
    total_suf = int(suf_lens.sum())
    if total_suf:
        dst = np.repeat(offsets[:-1] + prefixes - suffixes.offsets[:-1], suf_lens) + np.arange(
            total_suf, dtype=np.int64
        )
        out[dst] = suffixes.data
    # resolve prefix bytes by provenance: byte j of value i (j < prefix[i])
    # equals byte j of the nearest earlier value a with prefix[a] <= j — and
    # for THAT value byte j is a suffix byte, already placed above. The check
    # above guarantees prefix[i] <= len(value i-1), so j < len(a) holds
    # along the chain. One maximum.accumulate per byte position j.
    maxp = int(prefixes.max()) if count else 0
    row_ids = np.arange(count, dtype=np.int64)
    for j in range(maxp):
        need = prefixes > j
        anc = np.maximum.accumulate(np.where(need, np.int64(-1), row_ids))
        rows = np.flatnonzero(need)
        out[offsets[rows] + j] = out[offsets[anc[rows]] + j]
    return RaggedBytes(offsets, out)
