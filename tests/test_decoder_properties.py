"""The bit-unpacking decoders against scalar decoders written from the
parquet-format spec, and the batched encoders against themselves one stream
at a time.

Streams are built here from the grammar, not by the engine's encoders, so
they cover what a foreign writer may legally emit: mixed RLE and bit-packed
runs, a ``count`` shorter than the stream, arbitrary padding bits, DELTA
widths wider than needed, any block/miniblock geometry, arbitrary width bytes
on miniblocks past the data, and minDeltas that wrap int64.

The encoders encode a column chunk's streams together
(``encode_delta_many``, ``encode_hybrid_many``, ``pages.encode_runs``): each
stream must come out byte for byte as it does alone, decode back through the
spec references and the ``decode_*_many`` kernels, and each page body as
the page's own slice would encode.
"""

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from pq_engine.kernels import bitpack, delta, rle
from pq_engine.kernels.varint import encode_uvarint, zigzag_encode

MASK64 = (1 << 64) - 1


# ------------------------------------------------------- spec references


def ref_pack(values, width: int) -> bytes:
    """LSB-first bit packing: bit j of value i is stream bit ``i*width + j``."""
    acc = 0
    for i, v in enumerate(values):
        acc |= int(v) << (i * width)
    return acc.to_bytes((len(values) * width + 7) // 8, "little")


def ref_unpack(data: bytes, width: int, count: int) -> list[int]:
    acc = int.from_bytes(data, "little")
    return [(acc >> (i * width)) & ((1 << width) - 1) for i in range(count)]


def ref_uvarint(buf: bytes, pos: int) -> tuple[int, int]:
    value = shift = 0
    while True:
        b = buf[pos]
        pos += 1
        value |= (b & 0x7F) << shift
        shift += 7
        if not b & 0x80:
            return value, pos


def ref_hybrid(buf: bytes, width: int, count: int) -> list[int]:
    """Value-at-a-time RLE/bit-packed hybrid decode."""
    out, pos = [], 0
    while len(out) < count:
        header, pos = ref_uvarint(buf, pos)
        if header & 1:
            n = (header >> 1) * 8
            out += ref_unpack(buf[pos : pos + n * width // 8], width, n)
            pos += n * width // 8
        else:
            nbytes = (width + 7) // 8
            out += [int.from_bytes(buf[pos : pos + nbytes], "little")] * (header >> 1)
            pos += nbytes
    return out[:count]


def ref_delta(buf: bytes) -> tuple[list[int], int]:
    """DELTA_BINARY_PACKED decode, one miniblock and one value at a time,
    in modular int64 arithmetic. Returns (values, bytes consumed)."""
    block, pos = ref_uvarint(buf, 0)
    nmini, pos = ref_uvarint(buf, pos)
    n, pos = ref_uvarint(buf, pos)
    if n == 0:
        return [], pos
    zz, pos = ref_uvarint(buf, pos)
    vals = [(zz >> 1) ^ -(zz & 1)]
    mini = block // nmini
    while len(vals) < n:
        zz, pos = ref_uvarint(buf, pos)
        min_delta = (zz >> 1) ^ -(zz & 1)
        widths = buf[pos : pos + nmini]
        pos += nmini
        for w in widths:
            if len(vals) == n:
                break  # no body for miniblocks past the data
            nbytes = mini * w // 8
            for d in ref_unpack(buf[pos : pos + nbytes], w, mini)[: n - len(vals)]:
                v = (vals[-1] + min_delta + d) & MASK64
                vals.append(v - (1 << 64) if v >> 63 else v)
            pos += nbytes
    return vals, pos


# ------------------------------------------------------- stream builders


@st.composite
def hybrid_streams(draw, width):
    """(stream, count) for one width; ``count`` may stop short of the
    values the stream holds."""
    hi = (1 << width) - 1
    value = st.integers(0, hi)
    out = bytearray()
    total = 0
    for _ in range(draw(st.integers(1, 6))):
        if draw(st.booleans()):
            run = draw(st.integers(1, 600))
            out += encode_uvarint(run << 1)
            out += draw(value).to_bytes((width + 7) // 8, "little")
            total += run
        else:
            groups = draw(st.integers(1, 70))
            vals = draw(st.lists(value, min_size=groups * 8, max_size=groups * 8))
            out += encode_uvarint((groups << 1) | 1)
            out += ref_pack(vals, width)
            total += groups * 8
    out += draw(st.binary(max_size=9))  # bytes past the last run are ignored
    count = draw(st.integers(1, total))
    return bytes(out), count


@st.composite
def delta_streams(draw):
    """A DELTA_BINARY_PACKED stream as a foreign writer may legally write it."""
    block = 128 * draw(st.integers(1, 3))
    mini = draw(st.sampled_from([m for m in (32, 64, 128, 256, 384) if block % m == 0]))
    nmini = block // mini
    n = draw(st.integers(0, 3 * block + 5))
    out = bytearray(encode_uvarint(block) + encode_uvarint(nmini) + encode_uvarint(n))
    if n == 0:
        return bytes(out)
    int64 = st.integers(-(2**63), 2**63 - 1)
    out += encode_uvarint(zigzag_encode(draw(int64)))
    left = n - 1
    while left > 0:
        out += encode_uvarint(zigzag_encode(draw(int64)))  # minDelta, any int64
        widths, bodies = [], bytearray()
        for _ in range(nmini):
            if left <= 0:
                widths.append(draw(st.integers(0, 255)))  # past the data: no body
                continue
            w = draw(st.integers(0, 64))
            # values past the data pad the miniblock with arbitrary bits
            stored = draw(st.lists(st.integers(0, (1 << w) - 1), min_size=mini, max_size=mini))
            widths.append(w)
            bodies += ref_pack(stored, w)
            left -= mini
        out += bytes(widths) + bodies
    return bytes(out)


# ------------------------------------------------------------- properties


@settings(max_examples=300, deadline=None)
@given(st.integers(0, 64), st.integers(0, 300), st.data())
def test_unpack_matches_spec(width, count, data):
    raw = data.draw(st.binary(min_size=(count * width + 7) // 8, max_size=(count * width + 7) // 8 + 9))
    out = bitpack.unpack(raw, width, count)
    assert out.dtype == np.uint64
    assert out.tolist() == ref_unpack(raw, width, count)


@settings(max_examples=200, deadline=None)
@given(st.integers(0, 64), st.integers(0, 40), st.data())
def test_pack_matches_spec(width, groups, data):
    vals = data.draw(st.lists(st.integers(0, (1 << width) - 1), min_size=8 * groups,
                              max_size=8 * groups))
    assert bitpack.pack(np.array(vals, dtype=np.uint64), width) == ref_pack(vals, width)


@pytest.mark.parametrize("width", [58, 61, 64])
def test_unpack_wide_widths_match_spec(width):
    rng = np.random.default_rng(width)
    raw = rng.integers(0, 256, 300 * width // 8 + 3, dtype=np.uint8).tobytes()
    for count in (1, 7, 8, 9, 300):
        assert bitpack.unpack(raw, width, count).tolist() == ref_unpack(raw, width, count)


@settings(max_examples=200, deadline=None)
@given(st.integers(0, 64).flatmap(lambda w: st.tuples(st.just(w), hybrid_streams(w))))
def test_decode_hybrid_matches_spec(case):
    width, (stream, count) = case
    out = rle.decode_hybrid(stream, width, count)
    assert out.dtype == np.uint64
    assert out.tolist() == ref_hybrid(stream, width, count)


@settings(max_examples=200, deadline=None)
@given(delta_streams(), st.binary(max_size=12))
def test_decode_delta_matches_spec(stream, trailing):
    expected, used = ref_delta(stream)
    out, consumed = delta.decode_delta(stream + trailing, np.int64, return_consumed=True)
    assert consumed == used
    assert out.dtype == np.int64
    assert out.tolist() == expected


@settings(max_examples=100, deadline=None)
@given(st.integers(0, 64).flatmap(
    lambda w: st.tuples(st.just(w), st.lists(hybrid_streams(w), min_size=1, max_size=4))))
def test_decode_hybrid_many_is_each_stream_in_turn(case):
    # a chunk's pages decode together: counts may cut any stream mid-run
    width, streams = case
    out = rle.decode_hybrid_many(streams, width)
    assert out.tolist() == [v for s, c in streams for v in ref_hybrid(s, width, c)]


@settings(max_examples=100, deadline=None)
@given(st.lists(delta_streams(), min_size=1, max_size=4))
def test_decode_delta_many_is_each_stream_in_turn(streams):
    # streams of several block geometries, and of 0 or 1 values
    out, spans = delta.decode_delta_many(streams)
    refs = [ref_delta(s) for s in streams]
    assert out.tolist() == [v for vals, _ in refs for v in vals]
    assert spans == [(len(vals), used) for vals, used in refs]


def test_decode_dlba_many_is_each_body_in_turn():
    from pq_engine.kernels import deltastrings
    from pq_engine.kernels.ragged import RaggedBytes

    rng = np.random.default_rng(7)
    cols = [RaggedBytes.from_pylist([bytes(rng.integers(0, 256, int(k), dtype=np.uint8))
                                     for k in rng.integers(0, 40, n)]) for n in (1, 0, 300, 129)]
    bodies = [deltastrings.encode_dlba(c) + b"tail" for c in cols]
    got = deltastrings.decode_dlba_many(bodies, [len(c) for c in cols])
    assert [g.to_pylist() for g in got] == [c.to_pylist() for c in cols]


def test_decode_delta_min_delta_wraparound():
    # deltas of both signs at the int64 extremes: minDelta = -2**63 and the
    # stored values need all 64 bits
    vals = np.array([2**63 - 1, -(2**63), 2**63 - 1, 0, -1, -(2**63), 5], dtype=np.int64)
    stream = delta.encode_delta(vals)
    assert ref_delta(stream)[0] == vals.tolist()
    np.testing.assert_array_equal(delta.decode_delta(stream), vals)


# ------------------------------------------------------------- truncation


@settings(max_examples=100, deadline=None)
@given(st.integers(1, 32), st.integers(1, 63), st.data())
def test_truncated_bit_packed_run_raises(width, groups, data):
    prefix = encode_uvarint(40 << 1) + b"\x01" * ((width + 7) // 8)  # one RLE run first
    body = data.draw(st.binary(min_size=groups * width, max_size=groups * width))
    stream = prefix + encode_uvarint((groups << 1) | 1) + body
    cut = data.draw(st.integers(1, groups * width))
    count = data.draw(st.integers(41, 40 + groups * 8))
    with pytest.raises(ValueError):
        rle.decode_hybrid(stream[:-cut], width, count)


@settings(max_examples=100, deadline=None)
@given(st.lists(st.integers(-(2**40), 2**40), min_size=2, max_size=600), st.data())
def test_truncated_delta_payload_raises(values, data):
    stream = delta.encode_delta(np.array(values, dtype=np.int64))
    # the last block's payload: everything after its minDelta and width bytes
    nd = len(values) - 1
    last_block = (nd - 1) // delta.BLOCK
    payload = len(stream) - _last_block_payload_start(stream, last_block)
    if payload == 0:
        return  # the last block is all width-0 miniblocks: nothing to cut
    cut = data.draw(st.integers(1, payload))
    with pytest.raises(ValueError):
        delta.decode_delta(stream[:-cut])


def _last_block_payload_start(stream: bytes, last_block: int) -> int:
    _, pos = ref_uvarint(stream, 0)
    nmini, pos = ref_uvarint(stream, pos)
    for _ in range(2):
        _, pos = ref_uvarint(stream, pos)
    for b in range(last_block + 1):
        _, pos = ref_uvarint(stream, pos)
        widths = stream[pos : pos + nmini]
        pos += nmini
        if b < last_block:
            pos += sum(w * delta.MINI // 8 for w in widths)
    return pos


def test_every_truncation_raises_value_error():
    # cuts inside headers and varints too, not only inside payloads
    stream = delta.encode_delta(np.arange(600, dtype=np.int64) ** 2)
    hybrid = rle.encode_hybrid(np.repeat(np.arange(600) % 7, 1 + np.arange(600) % 3), 3)
    for cut in range(1, len(stream)):
        with pytest.raises(ValueError):
            delta.decode_delta(stream[:-cut])
    for cut in range(1, len(hybrid)):
        with pytest.raises(ValueError):
            rle.decode_hybrid(hybrid[:-cut], 3, 1200)


# ------------------------------------------------------- header geometry


def _delta_header(block: int, nmini: int, n: int, first: int = 0) -> bytes:
    return (encode_uvarint(block) + encode_uvarint(nmini) + encode_uvarint(n)
            + encode_uvarint(zigzag_encode(first)))


def test_huge_block_decodes_in_memory_of_the_count():
    import tracemalloc

    # one block of 2**30 values in one miniblock, holding a single delta at
    # width 0: a valid stream of a few bytes whose header names a block far
    # larger than its data
    stream = _delta_header(1 << 30, 1, 2, first=7) + encode_uvarint(zigzag_encode(5)) + b"\x00"
    tracemalloc.start()
    try:
        out = delta.decode_delta(stream)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert out.tolist() == [7, 12]
    assert peak < 1 << 20
    # the same header with a non-zero width needs 2**27 payload bytes
    with pytest.raises(ValueError):
        delta.decode_delta(stream[:-1] + b"\x01" + bytes(64))


@pytest.mark.parametrize("block,nmini", [(128, 16), (128, 8), (96, 1), (160, 5), (128, 3), (128, 0)])
def test_block_geometry_outside_the_spec_raises(block, nmini):
    stream = _delta_header(block, nmini, 3) + b"\x00" * (1 + max(nmini, 1)) + bytes(64)
    with pytest.raises(ValueError):
        delta.decode_delta(stream)


# ------------------------------------------------------- batched encoders

EDGE_SIZES = [0, 1, 2, 7, 8, 9, 127, 128, 129, 257, 504, 505, 1100]


@st.composite
def int_arrays(draw):
    """An int32/int64 array of an edge size: small values, a sorted run,
    the type's extremes (deltas that wrap) or one constant."""
    n = draw(st.sampled_from(EDGE_SIZES))
    dtype = draw(st.sampled_from([np.int32, np.int64]))
    rng = np.random.default_rng(draw(st.integers(0, 2**32 - 1)))
    kind = draw(st.sampled_from(["small", "sorted", "extreme", "constant"]))
    info = np.iinfo(dtype)
    if kind == "small":
        v = rng.integers(-1000, 1000, n)
    elif kind == "sorted":
        v = np.cumsum(rng.integers(0, 1 << 20, n))
    elif kind == "extreme":
        v = rng.choice(np.array([info.min, info.max, 0, -1, 1], dtype=np.int64), n)
    else:
        v = np.full(n, rng.integers(-5, 5))
    return v.astype(dtype)


def level_array(rng, width: int, n: int, kind: str) -> np.ndarray:
    """``n`` values below 2**width: random, in runs of 1-20, one constant,
    or a sparse mask of the largest value."""
    hi = (1 << width) - 1
    if kind == "random":
        return rng.integers(0, hi, n, dtype=np.uint64, endpoint=True)
    if kind == "runs":
        vals = rng.integers(0, hi, n // 3 + 1, dtype=np.uint64, endpoint=True)
        return np.repeat(vals, rng.integers(1, 21, len(vals)))[:n]
    if kind == "constant":
        return np.full(n, rng.integers(0, hi, dtype=np.uint64, endpoint=True), np.uint64)
    return (rng.random(n) < 0.05).astype(np.uint64) * np.uint64(hi)


@st.composite
def level_arrays(draw, width):
    rng = np.random.default_rng(draw(st.integers(0, 2**32 - 1)))
    n = draw(st.sampled_from(EDGE_SIZES))
    return level_array(rng, width, n, draw(st.sampled_from(["random", "runs", "constant", "sparse"])))


@settings(max_examples=60, deadline=None)
@given(st.lists(int_arrays(), max_size=6))
def test_encode_delta_many_is_each_stream_in_turn(streams):
    bodies = delta.encode_delta_many(streams)
    assert bodies == [delta.encode_delta(s) for s in streams]
    for s, body in zip(streams, bodies):
        assert ref_delta(body) == (s.tolist(), len(body))
    if streams:
        out, spans = delta.decode_delta_many(bodies)
        assert out.tolist() == [v for s in streams for v in s.tolist()]
        assert spans == [(len(s), len(b)) for s, b in zip(streams, bodies)]


@settings(max_examples=100, deadline=None)
@given(st.integers(0, 64).flatmap(
    lambda w: st.tuples(st.just(w), st.lists(level_arrays(w), max_size=5))))
def test_encode_hybrid_many_is_each_stream_in_turn(case):
    width, streams = case
    bodies = rle.encode_hybrid_many(streams, width)
    assert bodies == [rle.encode_hybrid(s, width) for s in streams]
    for s, body in zip(streams, bodies):
        assert ref_hybrid(body, width, len(s)) == s.tolist()
    if streams:
        out = rle.decode_hybrid_many([(b, len(s)) for s, b in zip(streams, bodies)], width)
        assert out.tolist() == [v for s in streams for v in s.tolist()]


@pytest.mark.parametrize("width", range(65))
def test_encode_hybrid_many_every_width(width):
    # every width, every edge size and every kind, as one batch and alone
    rng = np.random.default_rng(width)
    streams = [level_array(rng, width, n, kind) for n in EDGE_SIZES
               for kind in ("random", "runs", "constant", "sparse")]
    bodies = rle.encode_hybrid_many(streams, width)
    assert bodies == [rle.encode_hybrid_many([s], width)[0] for s in streams]
    out = rle.decode_hybrid_many([(b, len(s)) for s, b in zip(streams, bodies)], width)
    assert out.tolist() == [v for s in streams for v in s.tolist()]


def test_encode_delta_of_int64_extremes():
    # deltas of +-(2**64 - 1) wrap, and minDelta is -2**63
    v = np.array([2**63 - 1, -(2**63)] * 70 + [0, -1, 2**63 - 1], dtype=np.int64)
    streams = [v, v[:1], v[:0], v[:128], v[:129], v[::-1]]
    bodies = delta.encode_delta_many(streams)
    assert bodies == [delta.encode_delta(s) for s in streams]
    out, _ = delta.decode_delta_many(bodies)
    np.testing.assert_array_equal(out, np.concatenate(streams))


def _runs_cases():
    from pq_engine.kernels.ragged import RaggedBytes

    rng = np.random.default_rng(15)
    words = [b"", b"a", b"ab", b"abc", b"https://example.com/", b"https://example.com/a"]
    strings = RaggedBytes.from_pylist([words[i] + bytes(rng.integers(97, 100, int(k), dtype=np.uint8))
                                       for i, k in zip(rng.integers(0, 6, 900), rng.integers(0, 9, 900))])
    return [
        ("delta", "int64", rng.integers(-(2**62), 2**62, 900)),
        ("delta", "int32", rng.integers(-1000, 1000, 900).astype(np.int32)),
        ("delta", "timestamp_us", np.cumsum(rng.integers(0, 10**6, 900))),
        ("dlba", "string", strings),
        ("dba", "string", strings),
        ("dba", "fixed[4]", rng.integers(0, 3, (900, 4), dtype=np.uint8)),
        ("rle", "bool", rng.random(900) < 0.2),
        ("plain", "float64", rng.normal(size=900)),
        ("bss", "float32", rng.normal(size=900).astype(np.float32)),
        ("plain", "string", strings),
        ("fsst", "string", strings),
    ]


@pytest.mark.parametrize("codec,ptype,values", _runs_cases(),
                         ids=[f"{c}-{p}" for c, p, _ in _runs_cases()])
def test_encode_runs_is_each_page_in_turn(codec, ptype, values):
    from pq_engine import pages

    # pages of 0, 1, 127, 128 and 129 values, and one of the rest
    bounds = [0, 0, 1, 128, 256, 385, 385, 900]
    levels = [((np.arange(b - a) % 3 == 0).astype(np.uint64), 1) for a, b in zip(bounds, bounds[1:])]
    levels.insert(2, (np.arange(40, dtype=np.uint64) % 4, 2))
    bodies, streams = pages.encode_runs(codec, ptype, values, bounds, levels)
    each = [pages._encode_values(codec, ptype, pages._slice_values(values, ptype, a, b))
            for a, b in zip(bounds, bounds[1:])]
    assert [bytes(b) for b in bodies] == each
    assert streams == [rle.encode_hybrid(lv, w) for lv, w in levels]


def test_encode_runs_dictionary_ids():
    from pq_engine import pages
    from pq_engine.kernels import dictionary

    codes = np.random.default_rng(3).integers(0, 37, 900)
    bounds = [0, 0, 1, 128, 256, 385, 900]
    bodies, _ = pages.encode_runs("dict", "string", codes, bounds, n_dict=37)
    assert list(bodies) == [dictionary.encode_dict_data_page(codes[a:b], 36)
                      for a, b in zip(bounds, bounds[1:])]
