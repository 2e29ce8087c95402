"""Split-block bloom filter tests (mirrors TestBlockSplitBloomFilter:
no false negatives ever; FPP near target; serialize round-trip), and the one
bloom hash: the vectorized XxHash64 of PLAIN bytes against the reference
``xxhash64_bytes``."""

import tracemalloc

import numpy as np
from hypothesis import given, settings, strategies as st

from pq_engine.kernels.bloom import (
    BlockSplitBloomFilter,
    literal_hash,
    optimal_num_bytes,
    plain_hashes,
    xxhash64_bytes,
)
from pq_engine.kernels.ragged import RaggedBytes

RNG = np.random.default_rng(9)


def test_xxhash64_golden():
    # XXH64(8-byte LE 0x0807060504030201, seed 0): the column hash of one
    # uint64 is the reference hash of its 8 little-endian bytes
    h = plain_hashes(np.array([0x0807060504030201], dtype=np.uint64))
    assert h[0] != 0 and h.dtype == np.uint64
    assert int(h[0]) == xxhash64_bytes(bytes(range(1, 9)))
    assert plain_hashes(np.array([1], dtype=np.uint64))[0] != h[0]


def test_no_false_negatives():
    keys = plain_hashes(RNG.integers(0, 2**63, size=50_000, dtype=np.uint64))
    f = BlockSplitBloomFilter(optimal_num_bytes(50_000, 0.01))
    f.insert_hashes(keys)
    assert f.contains_hashes(keys).all()


def test_fpp_near_target():
    keys = plain_hashes(RNG.integers(0, 2**62, size=20_000, dtype=np.uint64))
    f = BlockSplitBloomFilter(optimal_num_bytes(20_000, 0.01))
    f.insert_hashes(keys)
    probe = plain_hashes(RNG.integers(2**62, 2**63, size=50_000, dtype=np.uint64))  # disjoint
    fpp = f.contains_hashes(probe).mean()
    assert fpp < 0.03, fpp


def test_serialize_roundtrip():
    keys = plain_hashes(RNG.integers(0, 2**63, size=1000, dtype=np.uint64))
    f = BlockSplitBloomFilter(1024)
    f.insert_hashes(keys)
    g = BlockSplitBloomFilter.deserialize(f.serialize())
    assert g.contains_hashes(keys).all()
    np.testing.assert_array_equal(f.blocks, g.blocks)


def test_string_hashes_are_the_spec_hash_of_their_bytes():
    vals = [b"alpha", b"beta", b"alpha", b"", b"alphb"]
    k = plain_hashes(RaggedBytes.from_pylist(vals))
    assert k[0] == k[2]
    assert len({int(x) for x in k}) == 4
    assert [int(x) for x in k] == [xxhash64_bytes(v) for v in vals]
    assert xxhash64_bytes(b"") == 0xEF46DB3751D8E999  # public test vector
    # no length prefix: a string hashes as its raw bytes, like a probe
    assert int(k[1]) == literal_hash("beta", "string") == literal_hash(b"beta", "binary")


def test_bloom_on_urls_end_to_end():
    urls = RaggedBytes.from_pylist(
        [f"https://h{i % 97}.com/{i}".encode() for i in range(10_000)]
    )
    keys = plain_hashes(urls)
    f = BlockSplitBloomFilter(optimal_num_bytes(10_000, 0.01))
    f.insert_hashes(keys)
    assert f.contains_hashes(keys).all()
    missing = plain_hashes(RaggedBytes.from_pylist(
        [f"https://nope{i}.example/x".encode() for i in range(20_000)]))
    fpp = f.contains_hashes(missing).mean()
    assert fpp < 0.03, fpp


# lengths 0-100, with the 4-, 8- and 32-byte edges of the XxHash64 steps
_EDGES = [0, 1, 3, 4, 5, 7, 8, 9, 15, 16, 24, 31, 32, 33, 35, 36, 39, 40, 63, 64, 65, 96, 100]
_VALUE = st.one_of(st.binary(min_size=0, max_size=100),
                   st.sampled_from(_EDGES).flatmap(lambda n: st.binary(min_size=n, max_size=n)))


@settings(max_examples=200, deadline=None)
@given(st.lists(_VALUE, min_size=0, max_size=40), st.integers(0, 8))
def test_vectorized_hash_matches_reference(vals, skip):
    # a column that starts mid-buffer (offsets[0] != 0) hashes the same
    col = RaggedBytes.from_pylist([b"\xff" * skip] + vals)
    col = RaggedBytes(col.offsets[1:], col.data)
    assert [int(h) for h in plain_hashes(col)] == [xxhash64_bytes(v) for v in vals]


_FLBA = st.sampled_from([k for k in _EDGES if k]).flatmap(
    lambda k: st.lists(st.binary(min_size=k, max_size=k), min_size=1, max_size=20))


@settings(max_examples=100, deadline=None)
@given(_FLBA, st.lists(st.integers(-2**63, 2**63 - 1), min_size=1, max_size=20),
       st.lists(st.floats(width=32), min_size=1, max_size=20))
def test_fixed_width_columns_hash_their_plain_bytes(rows, ints, floats):
    # (n, k) rows and 4- and 8-byte numbers hash through strided word views;
    # a strided or big-endian column hashes its little-endian values
    flba = np.frombuffer(b"".join(rows), np.uint8).reshape(len(rows), -1)
    assert [int(h) for h in plain_hashes(flba)] == [xxhash64_bytes(r) for r in rows]
    i64 = np.array(ints, dtype=np.int64)
    f64 = np.array(floats, dtype=np.float64)
    for a, ptype in ((i64.astype("<i4"), "int32"), (i64, "int64"),
                     (f64.astype("<f4"), "float32"), (f64, "float64")):
        want = [xxhash64_bytes(v.tobytes()) for v in a]
        assert [int(h) for h in plain_hashes(a)] == want
        assert [int(h) for h in plain_hashes(a.astype(a.dtype.newbyteorder(">")))] == want
        assert [int(h) for h in plain_hashes(a[::2])] == want[::2]
        assert [literal_hash(v.item(), ptype) for v in a] == want


def test_one_long_value_among_short_ones_hashes_in_bounded_memory():
    big = bytes(RNG.integers(0, 256, 1 << 20, dtype=np.uint8))
    vals = [b"ab", b"", big[:33]] * 1000 + [big] + [b"xyz"] * 1000
    col = RaggedBytes.from_pylist(vals)
    nbytes = col.data.nbytes + col.offsets.nbytes
    tracemalloc.start()
    try:
        h = plain_hashes(col)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    # no n x max-length matrix (that would be ~4 GB here)
    assert peak < 4 * nbytes, (peak, nbytes)
    assert int(h[3000]) == xxhash64_bytes(big)
    assert int(h[2]) == xxhash64_bytes(big[:33]) and int(h[-1]) == xxhash64_bytes(b"xyz")


def test_no_bloom_hash_for_bool_or_list():
    assert plain_hashes(np.array([True, False])) is None
    assert literal_hash(True, "bool") is None
    assert literal_hash(1, "list<int64>") is None
