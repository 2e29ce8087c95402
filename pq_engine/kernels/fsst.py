"""FSST-style string symbol-table compression.

The reference (apache/parquet-java) has **no** symbol-table string codec — the
nearest analogs are the dictionary page (symbol table stored ahead of data,
DictionaryValuesWriter.java:253-268) and DELTA_BYTE_ARRAY prefix sharing
(DeltaByteArrayWriter.java:38-104). The algorithm here follows the published
design of Boncz, Freitag & Neumann, "FSST: Fast Random Access String
Compression", PVLDB 13(9), 2020: up to 255 symbols of 1..8 bytes, greedy
longest-match encoding, escape byte 255 for uncovered bytes, table built
bottom-up over a few generations of pair-merging on a sample.

Everything is vectorized NumPy:

* the greedy parse advances every string one token per "wave"; the longest
  match is evaluated LAZILY only at wave frontiers (one combined code+len
  LUT gather for 1-/2-byte symbols, one sorted probe + split-u32 verify
  against a per-batch 4-byte prefix array for 3..8-byte symbols), so total
  match work scales with the TOKEN count, not the byte count — ~45 MB/s/core
  on web text with a prebuilt table (page encode amortizes the table build
  at chunk level, like the chunk dictionary);
* wave output reassembles to position order by SCATTER (rank-of-token ==
  wave index), not argsort;
* decode expands tokens with one ragged gather.

Matches never cross string boundaries, so any slice of encoded strings decodes
independently (the "random access" property of the paper).
"""

from __future__ import annotations

import numpy as np

from .delta import decode_delta, encode_delta
from .ragged import RaggedBytes
from .varint import encode_uvarint, read_uvarint

ESCAPE = 255
MAX_SYMBOLS = 255
MAX_SYM_LEN = 8


# ------------------------------------------------------------------ table


class SymbolTable:
    __slots__ = (
        "symbols",
        "sym_lens",
        "flat",
        "flat_off",
        "keys_by_len",
        "codes_by_len",
        "_lut",
    )

    def __init__(self, symbols: list[bytes]):
        self._lut = None
        if len(symbols) > MAX_SYMBOLS:
            raise ValueError("too many symbols")
        self.symbols = symbols
        n = len(symbols)
        self.sym_lens = np.fromiter((len(s) for s in symbols), dtype=np.int64, count=n)
        self.flat = np.frombuffer(b"".join(symbols), dtype=np.uint8) if n else np.zeros(0, np.uint8)
        self.flat_off = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(self.sym_lens, out=self.flat_off[1:])
        # per-length sorted key tables for the encoder
        self.keys_by_len = {}
        self.codes_by_len = {}
        for L in range(1, MAX_SYM_LEN + 1):
            idx = [i for i, s in enumerate(symbols) if len(s) == L]
            if not idx:
                continue
            keys = np.array(
                [int.from_bytes(symbols[i], "little") for i in idx], dtype=np.uint64
            )
            order = np.argsort(keys)
            self.keys_by_len[L] = keys[order]
            self.codes_by_len[L] = np.array(idx, dtype=np.int64)[order]

    def serialize(self) -> bytes:
        out = bytearray([len(self.symbols)])
        out += bytes(int(l) for l in self.sym_lens)
        out += self.flat.tobytes()
        return bytes(out)

    def lut(self):
        """Cached lookup tables for the fast match path (the paper's
        shortCodes + one-symbol-per-bucket idea, vectorized, tuned so a wave
        costs the fewest possible numpy calls):
        - cl12[65536]: ONE combined u32 LUT per 16-bit window — step length
          (bits 0-7), best short code + 1 (bits 8-16: 2-byte symbol if
          present, else the 1-byte code, else 0 = escape), and the
          long-symbol bucket hint + 2 (bits 17-26: 0 = multi, 1 = empty,
          else row) — one gather yields code, step AND long-probe hint;
        - code1[256] kept for the end-of-string fixup (r < 2);
        - long symbols (3..8 bytes) keyed by their first 3 bytes, at most
          one per 3-byte prefix (build_table enforces this); multi buckets
          resolve via hash24 (24-bit prefix hash; false candidates die in
          the verify), and ONE masked u64 window compare against
          key64/mask64 verifies the match with lc32 giving length+code."""
        if self._lut is None:
            code1 = np.full(256, -1, dtype=np.int16)
            two = []  # (k2, code)
            longs = []  # (k3, code)
            for i, s in enumerate(self.symbols):
                if len(s) == 1:
                    code1[s[0]] = i
                elif len(s) == 2:
                    two.append((s[0] | (s[1] << 8), i))
                else:
                    longs.append((s[0] | (s[1] << 8) | (s[2] << 16), i))
            code12 = code1[np.arange(65536, dtype=np.uint32) & 0xFF]
            len12 = np.ones(65536, dtype=np.uint8)
            for k2, c in two:
                code12[k2] = c
                len12[k2] = 2
            longs.sort()
            k3 = np.array([k for k, _ in longs], dtype=np.uint32)
            nl = len(longs)
            # packed verify tables (r5): the full 8-byte masked compare is
            # (win64 & mask64[row]) == key64[row] — ONE u64 gather per table
            # instead of split lo/hi u32 pairs; length+code pack into one
            # u32 gather. (The 24-bit k3 equality check is implied by the
            # masked compare — masks cover >= 3 bytes — so it is dropped
            # from the verify; k3 stays as the sorted probe key.)
            key64 = np.zeros(nl, np.uint64)
            mask64 = np.zeros(nl, np.uint64)
            lc32 = np.zeros(nl, np.uint32)  # len | code << 8
            for row, (_, c) in enumerate(longs):
                s = self.symbols[c]
                key64[row] = int.from_bytes(s, "little")
                mask64[row] = (1 << (8 * len(s))) - 1
                lc32[row] = len(s) | (c << 8)
            # 2-byte-prefix bucket index over the k3-sorted long table: k3 is
            # little-endian (b0 | b1<<8 | b2<<16), so rows sharing (b0,b1) are
            # NOT contiguous — bucket16 maps each 16-bit prefix to its single
            # row when unique (the overwhelmingly common case: one sorted
            # probe gather replaces a binary search), -1 = empty, -2 = multi
            # (fall back to searchsorted for just those positions)
            bucket16 = np.full(65536, -1, dtype=np.int32)
            for row in range(nl):
                k16 = int(k3[row]) & 0xFFFF
                # once a bucket holds 2+ rows it must STAY -2; comparing
                # against -1 (empty) only — `>= 0` would let a third row
                # overwrite the multi marker and shadow its bucket-mates
                bucket16[k16] = row if bucket16[k16] == -1 else -2
            # multi buckets resolve through a HASH of the full 24-bit
            # prefix (r5, replaces a per-wave searchsorted): collisions may
            # shadow a symbol (strictly a ratio concern, never correctness
            # — the masked window compare rejects any false candidate), and
            # with <= 255 rows in 65536 slots shadowing is rare
            hash24 = np.zeros(65536, dtype=np.int32)
            if nl:
                h = ((k3.astype(np.uint64) * np.uint64(0x9E3779B1))
                     >> np.uint64(16)).astype(np.uint32) & np.uint32(0xFFFF)
                hash24[h] = np.arange(nl, dtype=np.int32)
            # ONE combined 16-bit LUT (r5): len (bits 0-7) | code+1 (8-16) |
            # bucket+2 (17-26) — short code, step AND long-bucket hint come
            # from a single gather instead of three
            cl12 = (
                len12.astype(np.uint32)
                | ((code12.astype(np.int32) + 1).astype(np.uint32) << np.uint32(8))
                | ((bucket16 + 2).astype(np.uint32) << np.uint32(17))
            )
            self._lut = (code1, cl12, k3, key64, mask64, lc32, hash24)
        return self._lut

    @staticmethod
    def deserialize(buf) -> tuple["SymbolTable", int]:
        n = buf[0]
        lens = list(buf[1 : 1 + n])
        pos = 1 + n
        symbols = []
        for l in lens:
            symbols.append(bytes(buf[pos : pos + l]))
            pos += l
        return SymbolTable(symbols), pos


def _orbit(step: np.ndarray, starts: np.ndarray, n: int) -> np.ndarray:
    """Positions visited by repeatedly applying pos += step[pos] from each
    start (pointer doubling: O(n log n) vectorized, no per-token loop)."""
    if n == 0:
        return np.zeros(0, dtype=np.int64)
    jump = np.minimum(np.arange(n, dtype=np.int64) + step, n)
    jump = np.append(jump, n)  # sentinel fixpoint
    mark = np.zeros(n + 1, dtype=bool)
    mark[starts] = True
    mark[n] = True
    rounds = max(1, int(np.ceil(np.log2(max(n, 2)))) + 1)
    for _ in range(rounds):
        idx = np.flatnonzero(mark)
        new = jump[idx]
        if mark[new].all():
            break
        mark[new] = True
        jump = jump[jump]
    return np.flatnonzero(mark[:n])


def _parse(step: np.ndarray, starts: np.ndarray, ends: np.ndarray, n: int) -> np.ndarray:
    """Token start positions for a greedy parse pos += step[pos] per string.

    Two strategies: with many strings, frontier "waves" advance every string
    one token per round (total work = number of tokens, each round one small
    gather); with few long strings, pointer doubling. Both are loop-over-
    rounds, never loop-over-tokens-in-Python."""
    if n == 0 or len(starts) == 0:
        return np.zeros(0, dtype=np.int64)
    if len(starts) < 32:
        return _orbit(step, starts, n)
    waves = [starts]
    frontier = starts
    fends = ends
    while True:
        nxt = frontier + step[frontier]
        keep = nxt < fends
        if not keep.any():
            break
        frontier = nxt[keep]
        fends = fends[keep]
        waves.append(frontier)
    out = np.concatenate(waves)
    out.sort()
    return out


def _rem8(col: RaggedBytes) -> np.ndarray:
    """bytes-remaining-in-string per position, capped at MAX_SYM_LEN, as
    uint8 — built with 7 small scatters instead of 3 full int64 passes."""
    n = len(col.data)
    rem = np.full(n, MAX_SYM_LEN, dtype=np.uint8)
    ends = col.offsets[1:]
    starts = col.offsets[:-1]
    for k in range(1, MAX_SYM_LEN):
        idx = ends - k
        valid = idx >= starts
        rem[idx[valid]] = k
    return rem


def _prefix4(padded: np.ndarray, n: int) -> np.ndarray:
    """4-byte little-endian key at every position 0..n+7 (padded must hold
    n+16 bytes), precomputed ONCE per batch (4 full passes). Each wave then
    derives byte/2-byte/3-byte prefixes by masking ONE gather, and the
    long-symbol verify composes the full 8-byte window from TWO entries
    (k4[P] | k4[P+4] << 32) instead of eight byte gathers — per-wave numpy
    call count is the tokenizer's budget on a memory-bandwidth-bound host."""
    m = n + MAX_SYM_LEN
    k4 = padded[:m].astype(np.uint32)
    k4 |= padded[1 : m + 1].astype(np.uint32) << np.uint32(8)
    k4 |= padded[2 : m + 2].astype(np.uint32) << np.uint32(16)
    k4 |= padded[3 : m + 3].astype(np.uint32) << np.uint32(24)
    return k4


def _match_at(padded: np.ndarray, rem8: np.ndarray, table: SymbolTable,
              P: np.ndarray, k4_all: np.ndarray | None = None):
    """Longest symbol match at the given positions only, evaluated lazily
    (the paper's shortCodes + one-long-symbol-per-3-byte-prefix scheme,
    vectorized over the frontier): the greedy parse visits
    ~1/avg_token_len of all byte positions, so matching only at parse
    frontiers cuts the full-array passes (the budget on a memory-bandwidth-
    bound host) by that factor. Narrow dtypes (int16 codes, uint8 steps)
    keep wave temporaries cache-resident; the verify runs at every
    prefix-candidate position from two u32 gathers (prefix hit rate on web
    text is ~1, so subsetting first would cost more than it saves)."""
    (code1, cl12, k3tab, key64, mask64, lc32, hash24) = table.lut()
    r = rem8[P]
    k4 = k4_all[P]
    k16 = k4.astype(np.uint16)
    cl = cl12[k16]  # ONE gather: step | short code | long-bucket hint
    mlen = (cl & np.uint32(0xFF)).astype(np.uint8)
    code = ((cl >> np.uint32(8)) & np.uint32(0x1FF)).astype(np.int16)
    code -= 1
    bad = mlen > r  # 2-byte short match hanging over the string end
    if bad.any():
        rows = np.flatnonzero(bad)
        code[rows] = code1[k4[rows].astype(np.uint8)]
        mlen[rows] = 1
    if len(k3tab):
        # long-symbol probe: bucket hint from the combined LUT resolves
        # unique 2-byte prefixes; multi buckets (-2) resolve via the 24-bit
        # prefix hash (false candidates die in the masked compare)
        j = (cl >> np.uint32(17)).astype(np.int32)
        j -= 2
        multi = j == -2
        if multi.any():
            rows = np.flatnonzero(multi)
            p24 = (k4[rows] & np.uint32(0xFFFFFF)).astype(np.uint64)
            h = ((p24 * np.uint64(0x9E3779B1)) >> np.uint64(16)).astype(
                np.uint32
            ) & np.uint32(0xFFFF)
            j[rows] = hash24[h]
        np.maximum(j, 0, out=j)  # empty buckets probe row 0; the masked
        # window compare rejects (a full match at row 0 would imply a
        # non-empty bucket for this k16)
        # ONE masked u64 compare verifies the whole match (r5): window =
        # two u32 halves composed once; key/mask/len+code each one gather
        win64 = k4.astype(np.uint64) | (
            k4_all[P + 4].astype(np.uint64) << np.uint64(32)
        )
        lc = lc32[j]
        sl = (lc & np.uint32(0xFF)).astype(np.uint8)
        ok = ((win64 & mask64[j]) == key64[j]) & (sl <= r)
        rows = np.flatnonzero(ok)
        code[rows] = (lc[rows] >> np.uint32(8)).astype(np.int16)
        mlen[rows] = sl[rows]
    return code, mlen  # int16 codes, uint8 steps — callers widen once


def encode_fsst_tokens(col: RaggedBytes, table: SymbolTable,
                       with_string_id: bool = True):
    """Tokenize a ragged column. Returns (positions, codes, string_id) where
    codes == -1 marks escaped literal bytes.

    Wave parse with LAZY matching: every string advances one token per round
    and the matcher runs only on the round's frontier positions — total match
    work is proportional to the TOKEN count, not the byte count."""
    n = len(col.data)
    lens = col.lengths
    rem8 = _rem8(col)
    padded = np.zeros(n + 2 * MAX_SYM_LEN, dtype=np.uint8)
    padded[:n] = col.data
    k4_all = _prefix4(padded, n)
    nz = lens > 0
    frontier = col.offsets[:-1][nz]
    fends = col.offsets[1:][nz]
    if 0 < len(frontier) < 1024:
        # few long strings: the wave frontier is too small to amortize a
        # NumPy call per round (measured 90 s on 200x64 KiB blobs) — match
        # every position in ONE vectorized call and parse over the result
        code, mlen = _match_at(padded, rem8, table, np.arange(n, dtype=np.int64), k4_all)
        positions = _parse(mlen, frontier, fends, n)
        codes = code[positions].astype(np.int64)
        string_id = (
            np.searchsorted(col.offsets, positions, side="right") - 1
            if with_string_id else None
        )
        return positions, codes, string_id
    # Wave-to-sorted reassembly WITHOUT a global argsort: the frontier only
    # ever shrinks, so a string active at wave w was active at every earlier
    # wave — its token at wave w has within-string rank exactly w. Scattering
    # each token to tok_start[string] + rank yields position-sorted output in
    # a few linear passes (the argsort alone cost ~80% of a wave's budget).
    nstr = len(col)
    sid = np.flatnonzero(nz)  # string index per frontier entry
    if n < 2**31:
        # narrow wave state (r5): the per-round cost is pure memory traffic
        # over frontier-sized arrays — int32 positions halve it (chunk
        # batches are far below 2 GiB; the int64 path remains for safety)
        frontier = frontier.astype(np.int32)
        fends = fends.astype(np.int32)
        sid = sid.astype(np.int32)
    pos_waves, code_waves, sid_waves = [], [], []
    straggler = None
    while len(frontier):
        if len(frontier) < 256 and int((fends - frontier).max()) > 64:
            # the frontier has shrunk to a few LONG stragglers (e.g. blobs in
            # a mixed batch): per-round overhead would dominate — match every
            # remaining position of those strings in one call and parse over
            # a scattered step table instead of continuing the waves
            spans = fends - frontier
            total = int(spans.sum())
            P = np.repeat(frontier - np.concatenate(([0], np.cumsum(spans)[:-1])), spans) + np.arange(
                total, dtype=np.int64
            )
            c, m = _match_at(padded, rem8, table, P, k4_all)
            step = np.ones(n, dtype=np.int64)
            step[P] = m
            code_full = np.full(n, -1, dtype=np.int64)
            code_full[P] = c
            positions = _parse(step, frontier, fends, n)
            # per-straggler-string token counts + local ranks (positions are
            # sorted; string byte ranges are disjoint ascending)
            first = np.searchsorted(positions, frontier)
            cs = np.diff(np.append(first, len(positions)))
            local = np.arange(len(positions), dtype=np.int64) - np.repeat(first, cs)
            straggler = (positions, code_full[positions],
                         np.repeat(sid, cs), local)
            break
        c, m = _match_at(padded, rem8, table, frontier, k4_all)
        pos_waves.append(frontier)
        code_waves.append(c)
        sid_waves.append(sid)
        nxt = frontier + m
        keep = nxt < fends
        frontier = nxt[keep]
        fends = fends[keep]
        sid = sid[keep]
    w0 = len(pos_waves)
    if not pos_waves and straggler is None:
        e = np.zeros(0, dtype=np.int64)
        return e, e, e
    pos_cat = np.concatenate(pos_waves) if pos_waves else np.zeros(0, np.int64)
    sid_cat = np.concatenate(sid_waves) if sid_waves else np.zeros(0, np.int64)
    code_cat = (
        np.concatenate(code_waves).astype(np.int64)
        if code_waves else np.zeros(0, np.int64)
    )
    rank_cat = np.repeat(
        np.arange(w0, dtype=np.int64),
        [len(p) for p in pos_waves],
    )
    if straggler is not None:
        sp, sc, ss, sl = straggler
        pos_cat = np.concatenate((pos_cat, sp))
        code_cat = np.concatenate((code_cat, sc))
        sid_cat = np.concatenate((sid_cat, ss))
        rank_cat = np.concatenate((rank_cat, sl + w0))
    counts = np.bincount(sid_cat, minlength=nstr)
    tok_start = np.zeros(nstr + 1, dtype=np.int64)
    np.cumsum(counts, out=tok_start[1:])
    idx = tok_start[sid_cat] + rank_cat
    total_tok = len(pos_cat)
    positions = np.empty(total_tok, dtype=np.int64)
    codes = np.empty(total_tok, dtype=np.int64)
    positions[idx] = pos_cat
    codes[idx] = code_cat
    string_id = (
        np.repeat(np.arange(nstr, dtype=np.int64), counts)
        if with_string_id else None
    )
    return positions, codes, string_id


def encode_fsst(col: RaggedBytes, table: SymbolTable) -> bytes:
    """Page body: [table][uvarint n_strings][u32 len of delta(lengths)]
    [delta-packed per-string encoded byte lengths][token stream]."""
    nstr = len(col)
    positions, codes, _ = encode_fsst_tokens(col, table, with_string_id=False)
    esc = codes < 0
    out_len = np.where(esc, 2, 1).astype(np.int64)
    total = int(out_len.sum())
    stream = np.zeros(total, dtype=np.uint8)
    out_pos = np.zeros(len(codes) + 1, dtype=np.int64)
    np.cumsum(out_len, out=out_pos[1:])
    stream[out_pos[:-1][~esc]] = codes[~esc]
    if esc.any():
        e = out_pos[:-1][esc]
        stream[e] = ESCAPE
        stream[e + 1] = col.data[positions[esc]]
    # per-string encoded byte length: token ranges per string from ONE
    # small searchsorted (nstr probes into the sorted positions) — cheaper
    # than a weighted bincount + a per-token string_id searchsorted
    bounds = np.searchsorted(positions, col.offsets)
    enc_lens = out_pos[bounds[1:]] - out_pos[bounds[:-1]]
    head = encode_delta(enc_lens.astype(np.int32) if enc_lens.max(initial=0) < 2**31 else enc_lens)
    out = bytearray(table.serialize())
    out += encode_uvarint(nstr)
    out += len(head).to_bytes(4, "little")
    out += head
    out += stream.tobytes()
    return bytes(out)


def _token_starts_esc(stream: np.ndarray, enc_off: np.ndarray) -> np.ndarray:
    """Token start positions of the decode stream, closed-form (no rounds).

    The decode walk has step ∈ {1, 2}: ESCAPE consumes 2 bytes, everything
    else 1. Key fact: every maximal run of ESCAPE-VALUED bytes begins at a
    token start — the byte before the run is non-escape-valued, so it ends
    its token there whether it was a 1-byte token or an escape payload.
    Hence within a run starting at a, escapes at even (p-a) are starts and
    odd ones are payloads; a non-escape byte after a run of length L is a
    start iff L is even. String boundaries force a start and break runs.
    ~10 full-array numpy passes replace the per-token-round wave loop
    (which cost one gather per max-tokens-per-string — 10^4 rounds on
    blob-sized strings)."""
    n = len(stream)
    if n == 0:
        return np.zeros(0, dtype=np.int64)
    isE = stream == ESCAPE
    idx = np.arange(n, dtype=np.int64)
    starts0 = enc_off[:-1][np.diff(enc_off) > 0]
    prevE = np.empty(n, dtype=bool)
    prevE[0] = False
    prevE[1:] = isE[:-1]
    prevE[starts0] = False  # runs break at string boundaries
    run_start = isE & ~prevE
    start_idx = np.where(run_start, idx, np.int64(-1))
    start_cm = np.maximum.accumulate(start_idx)
    d = idx - start_cm  # distance to own run start (valid at escape positions)
    tok = np.empty(n, dtype=bool)
    # escape-valued byte: start iff even distance into its run
    tok[isE] = (d[isE] & 1) == 0
    # non-escape byte: start unless the escape run ending just before it has
    # odd length (then it is that run's last escape's payload)
    ne = ~isE
    d_prev = np.empty(n, dtype=np.int64)
    d_prev[0] = 0
    d_prev[1:] = d[:-1]
    tok[ne] = ~(prevE[ne] & ((d_prev[ne] & 1) == 0))
    tok[starts0] = True
    return np.flatnonzero(tok)


def decode_fsst(buf) -> RaggedBytes:
    table, pos = SymbolTable.deserialize(buf)
    nstr, pos = read_uvarint(buf, pos)
    hlen = int.from_bytes(bytes(buf[pos : pos + 4]), "little")
    pos += 4
    enc_lens = decode_delta(memoryview(buf)[pos : pos + hlen], np.int64)[:nstr]
    pos += hlen
    stream = np.frombuffer(buf, dtype=np.uint8, offset=pos)
    enc_off = np.zeros(nstr + 1, dtype=np.int64)
    np.cumsum(enc_lens, out=enc_off[1:])
    n = int(enc_off[-1])
    stream = stream[:n]
    positions = _token_starts_esc(stream, enc_off)
    toks = stream[positions]
    esc = toks == ESCAPE
    codes = toks.astype(np.int64)
    out_lens = np.ones(len(toks), dtype=np.int64)
    out_lens[~esc] = table.sym_lens[codes[~esc]]
    out_off = np.zeros(len(toks) + 1, dtype=np.int64)
    np.cumsum(out_lens, out=out_off[1:])
    total = int(out_off[-1])
    out = np.zeros(total, dtype=np.uint8)
    if esc.any():
        out[out_off[:-1][esc]] = stream[positions[esc] + 1]
    sym_rows = np.flatnonzero(~esc)
    if len(sym_rows):
        s_codes = codes[sym_rows]
        s_lens = table.sym_lens[s_codes]
        gtotal = int(s_lens.sum())
        gather = np.repeat(table.flat_off[s_codes] - np.cumsum(s_lens) + s_lens, s_lens) + np.arange(
            gtotal, dtype=np.int64
        )
        scatter = np.repeat(out_off[:-1][sym_rows] - np.cumsum(s_lens) + s_lens, s_lens) + np.arange(
            gtotal, dtype=np.int64
        )
        out[scatter] = table.flat[gather]
    # per-string output lengths
    tok_string = np.searchsorted(enc_off, positions, side="right") - 1
    str_lens = np.bincount(tok_string, weights=out_lens, minlength=nstr).astype(np.int64)
    offsets = np.zeros(nstr + 1, dtype=np.int64)
    np.cumsum(str_lens, out=offsets[1:])
    return RaggedBytes(offsets, out)


# ------------------------------------------------------------------ build


def build_table(sample: RaggedBytes, generations: int = 4, sample_cap: int = 1 << 14) -> SymbolTable:
    """Bottom-up pair-merge construction on a byte-capped sample (the paper's
    iterative scheme). Per generation: tokenize sample with the current table,
    count adjacent same-string token pairs whose concatenation is <= 8 bytes,
    gain = freq * concat_len, keep the best 255 candidates."""
    data = sample.data
    if len(data) > sample_cap:
        # cap by whole strings
        cut = int(np.searchsorted(sample.offsets, sample_cap))
        cut = max(1, cut)
        sample = RaggedBytes(sample.offsets[: cut + 1], data[: sample.offsets[cut]])
        data = sample.data
    if len(data) == 0:
        return SymbolTable([])

    # generation 0: frequent single bytes
    freq = np.bincount(data, minlength=256)
    order = np.argsort(freq)[::-1]
    keep = order[freq[order] > 0][:MAX_SYMBOLS]
    table = SymbolTable([bytes([int(b)]) for b in keep])

    for _ in range(generations):
        positions, codes, string_id = encode_fsst_tokens(sample, table)
        ntok = len(positions)
        if ntok < 2:
            break
        # token byte strings: symbol bytes or literal byte
        tok_lens = np.ones(ntok, dtype=np.int64)
        sym_mask = codes >= 0
        tok_lens[sym_mask] = table.sym_lens[codes[sym_mask]]
        # candidate singles: every token's own bytes; gain = freq * len
        gains: dict[bytes, int] = {}

        def _add(sym: bytes, g: int):
            if 0 < len(sym) <= MAX_SYM_LEN:
                gains[sym] = gains.get(sym, 0) + g

        # count token occurrences (vectorized) then add gains per distinct token
        tok_key = np.where(sym_mask, codes, 256 + col_literal(sample, positions, sym_mask))
        uniq, counts = np.unique(tok_key, return_counts=True)
        for k, c in zip(uniq.tolist(), counts.tolist()):
            sym = table.symbols[k] if k < 256 and k < len(table.symbols) else bytes([k - 256])
            _add(sym, int(c) * len(sym))
        # adjacent pairs within the same string
        same = string_id[1:] == string_id[:-1]
        a = tok_key[:-1][same]
        b = tok_key[1:][same]
        pair_key = a * 1024 + b
        puniq, pcounts = np.unique(pair_key, return_counts=True)
        for pk, c in zip(puniq.tolist(), pcounts.tolist()):
            ka, kb = pk // 1024, pk % 1024
            sa = table.symbols[ka] if ka < 256 else bytes([ka - 256])
            sb = table.symbols[kb] if kb < 256 else bytes([kb - 256])
            _add(sa + sb, int(c) * (len(sa) + len(sb)))
        ranked = sorted(gains.items(), key=lambda kv: (-kv[1], kv[0]))
        # the fast matcher probes ONE long symbol per 3-byte prefix, so keep
        # only the highest-gain 3..8-byte symbol per distinct first-3-bytes
        chosen: list[bytes] = []
        seen3: set[bytes] = set()
        for s, _ in ranked:
            if len(s) >= 3:
                if s[:3] in seen3:
                    continue
                seen3.add(s[:3])
            chosen.append(s)
            if len(chosen) == MAX_SYMBOLS:
                break
        table = SymbolTable(chosen)
    return table


def col_literal(col: RaggedBytes, positions: np.ndarray, sym_mask: np.ndarray) -> np.ndarray:
    """Literal byte value for escape tokens, 0 elsewhere (shape matches positions)."""
    lit = np.zeros(len(positions), dtype=np.int64)
    esc = ~sym_mask
    lit[esc] = col.data[positions[esc]]
    return lit


def encode_fsst_auto(col: RaggedBytes, generations: int = 4) -> bytes:
    """Build table from the column's own head sample, then encode."""
    table = build_table(col, generations=generations)
    return encode_fsst(col, table)
