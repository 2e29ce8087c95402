"""Property-based round-trips (mirrors the reference's randomized layer,
SURVEY §5.2: TestStatistics RandomValues with logged seeds). Hypothesis
shrinks failures to minimal counterexamples."""

import struct

import numpy as np
from hypothesis import given, settings, strategies as st

from pq_engine import pages
from pq_engine.interop.parquet_writer import _minmax_bytes
from pq_engine.kernels import delta, fsst, plain, rle
from pq_engine.kernels.deltastrings import decode_dba, encode_dba, encode_dlba
from pq_engine.kernels.ragged import RaggedBytes

I64 = st.integers(min_value=-(2**63), max_value=2**63 - 1)
SMALL = st.integers(min_value=0, max_value=7)


@settings(max_examples=60, deadline=None)
@given(st.lists(I64, max_size=400))
def test_delta_roundtrip_any_int64(xs):
    arr = np.array(xs, dtype=np.int64)
    np.testing.assert_array_equal(delta.decode_delta(delta.encode_delta(arr)), arr)


@settings(max_examples=60, deadline=None)
@given(st.lists(SMALL, max_size=600), st.integers(min_value=3, max_value=8))
def test_rle_roundtrip_any_small_ints(xs, width):
    arr = np.array(xs, dtype=np.uint64)
    out = rle.decode_hybrid(rle.encode_hybrid(arr, width), width, len(arr))
    np.testing.assert_array_equal(out, arr)


@settings(max_examples=40, deadline=None)
@given(st.lists(st.binary(max_size=40), max_size=120))
def test_delta_byte_array_roundtrip_any_bytes(vals):
    col = RaggedBytes.from_pylist(vals)
    assert decode_dba(encode_dba(col), len(col)) == col


@settings(max_examples=60, deadline=None)
@given(st.lists(st.tuples(st.integers(0, 40), st.binary(max_size=12)), max_size=80))
def test_dba_decode_matches_sequential_reference(items):
    # any valid (prefix, suffix) stream — foreign writers need not write the
    # maximal prefixes our encoder does; the reference is the spec's
    # value-at-a-time rebuild
    prefixes, suffixes, vals, prev = [], [], [], b""
    for p, s in items:
        p = min(p, len(prev))
        prev = prev[:p] + s
        prefixes.append(p)
        suffixes.append(s)
        vals.append(prev)
    body = delta.encode_delta(np.array(prefixes, np.int32)) + encode_dlba(
        RaggedBytes.from_pylist(suffixes))
    assert decode_dba(body, len(vals)).to_pylist() == vals


LONG = plain.LONG_VALUE_BYTES
PLAIN_BYTES_CASES = st.one_of(
    st.lists(st.binary(max_size=40), max_size=120),  # short, mixed lengths
    st.integers(0, 50).map(lambda n: [b""] * n),  # all empty (and no values)
    st.integers(0, 24).flatmap(  # one length: the decoder's fast path
        lambda k: st.lists(st.binary(min_size=k, max_size=k), max_size=80)),
    st.lists(  # mean length on either side of the long-value switch
        st.one_of(st.binary(max_size=8),
                  st.integers(0, 3 * LONG).map(lambda k: (b"\x80a\xff" * k)[:k])),
        max_size=10),
)


def _spec_plain(vals):
    """PLAIN BYTE_ARRAY the spec's way: one value at a time."""
    return b"".join(struct.pack("<I", len(v)) + v for v in vals)


def _sliced(vals, head, tail):
    """``vals`` as a RaggedBytes window over a larger buffer: offsets[0] > 0
    when ``head`` is non-empty, bytes past offsets[-1] when ``tail`` is."""
    full = RaggedBytes.from_pylist(head + vals + tail)
    return RaggedBytes(full.offsets[len(head):len(head) + len(vals) + 1], full.data)


@settings(max_examples=80, deadline=None)
@given(PLAIN_BYTES_CASES, st.lists(st.binary(max_size=9), max_size=3),
       st.lists(st.binary(max_size=9), max_size=3))
def test_plain_bytes_encode_matches_spec(vals, head, tail):
    assert plain.encode_plain_bytes(RaggedBytes.from_pylist(vals)) == _spec_plain(vals)
    assert plain.encode_plain_bytes(_sliced(vals, head, tail)) == _spec_plain(vals)


@settings(max_examples=80, deadline=None)
@given(PLAIN_BYTES_CASES, st.binary(max_size=12))
def test_plain_bytes_decode_roundtrip(vals, trailing):
    want = RaggedBytes.from_pylist(vals)
    assert plain.decode_plain_bytes(_spec_plain(vals), len(vals)) == want
    # a body may carry bytes past its last value
    assert plain.decode_plain_bytes(_spec_plain(vals) + trailing, len(vals)) == want


@settings(max_examples=80, deadline=None)
@given(st.lists(st.one_of(st.binary(max_size=6),
                          st.sampled_from([b"", b"ab", b"abc", b"\x00", b"\xff",
                                           b"\x7f\x80", b"\xff\x00"])),
                min_size=1, max_size=60),
       st.lists(st.binary(max_size=4), max_size=2),
       st.sampled_from(["string", "binary"]))
def test_minmax_bytes_is_unsigned_lexicographic(vals, head, ptype):
    # Python orders bytes unsigned-lexicographically, shorter prefix first
    assert _minmax_bytes(ptype, _sliced(vals, head, head)) == (min(vals), max(vals))


@settings(max_examples=30, deadline=None)
@given(st.lists(st.binary(max_size=60), max_size=100))
def test_fsst_roundtrip_any_bytes(vals):
    col = RaggedBytes.from_pylist(vals)
    out = fsst.decode_fsst(fsst.encode_fsst_auto(col, generations=2))
    assert out == col


@settings(max_examples=30, deadline=None)
@given(
    st.lists(st.one_of(st.none(), I64), max_size=200),
    st.sampled_from(["plain", "delta", "dict", "bss", "auto"]),
)
def test_page_roundtrip_nullable_int64_any_codec(xs, codec):
    validity = np.array([x is not None for x in xs], dtype=bool)
    dense = np.array([x for x in xs if x is not None], dtype=np.int64)
    out = pages.encode_column(
        dense, "int64", validity=validity if len(xs) else None, codec=codec, page_rows=64
    )
    got, got_validity = pages.decode_column(out)
    np.testing.assert_array_equal(got, dense)
    if len(xs) and (~validity).any():
        np.testing.assert_array_equal(got_validity, validity)


@settings(max_examples=30, deadline=None)
@given(st.lists(st.text(max_size=30), max_size=150))
def test_page_roundtrip_strings_auto(vals):
    col = RaggedBytes.from_pylist([v.encode() for v in vals])
    out = pages.encode_column(col, "string", codec="auto", page_rows=48)
    got, _ = pages.decode_column(out, ptype="string")
    assert got == col


@given(
    st.lists(
        st.one_of(
            st.none(),
            st.lists(
                st.one_of(st.none(), st.integers(-2**62, 2**62)), max_size=6
            ),
        ),
        max_size=60,
    ),
    st.integers(1, 3).map(lambda k: 10 * k),
)
@settings(max_examples=40, deadline=None)
def test_list_levels_roundtrip_property(rows, page_rows):
    """Any mix of null lists / empty lists / null elements round-trips
    through the Dremel level streams at any page size."""
    import numpy as np

    from pq_engine.nested import ListColumn, decode_list_pages, encode_list_column

    lens = np.array([len(r) if r is not None else 0 for r in rows], dtype=np.int64)
    offsets = np.zeros(len(rows) + 1, np.int64)
    np.cumsum(lens, out=offsets[1:])
    lv = np.array([r is not None for r in rows]) if any(r is None for r in rows) else None
    elems = [e for r in rows if r is not None for e in r]
    cv = (
        np.array([e is not None for e in elems])
        if any(e is None for e in elems)
        else None
    )
    child = np.array([e for e in elems if e is not None], dtype=np.int64)
    col = ListColumn(offsets, lv, child, cv)
    pages = encode_list_column(col, "list<int64>", page_rows=page_rows)
    back = decode_list_pages(pages, "list<int64>")
    assert np.array_equal(back.offsets, col.offsets)
    assert (back.list_validity is None and lv is None) or np.array_equal(
        back.list_validity, lv
    )
    assert (back.child_validity is None and cv is None) or np.array_equal(
        back.child_validity, cv
    )
    assert np.array_equal(back.child_values, child)


@settings(max_examples=40, deadline=None)
@given(
    st.lists(st.binary(min_size=9, max_size=9), max_size=200),
    st.sampled_from(["plain", "bss", "dba", "dict"]),
    st.sampled_from([None, "zstd"]),
)
def test_fixed_roundtrip_any_bytes(vals, codec, compression):
    arr = (
        np.frombuffer(b"".join(vals), np.uint8).reshape(-1, 9)
        if vals
        else np.zeros((0, 9), np.uint8)
    )
    out = pages.decode_column(
        pages.encode_column(
            arr, "fixed[9]", codec=codec, page_rows=64, page_compression=compression
        ),
        "fixed[9]",
    )[0]
    np.testing.assert_array_equal(out, arr)


@settings(max_examples=40, deadline=None)
@given(st.lists(st.integers(min_value=-(10**38) + 1, max_value=10**38 - 1), max_size=150))
def test_wide_decimal_unscaled_roundtrip(unscaled):
    """Any 38-digit unscaled value survives the BE-bytes FLBA carrier."""
    from pq_engine.kernels.fixedlen import decimal_byte_width

    k = decimal_byte_width(38)
    rows = (
        np.frombuffer(
            b"".join(v.to_bytes(k, "big", signed=True) for v in unscaled), np.uint8
        ).reshape(-1, k)
        if unscaled
        else np.zeros((0, k), np.uint8)
    )
    out = pages.decode_column(
        pages.encode_column(rows, "decimal_flba[38,6]", codec="auto", page_rows=50),
        "decimal_flba[38,6]",
    )[0]
    np.testing.assert_array_equal(out, rows)
    back = [int.from_bytes(bytes(r), "big", signed=True) for r in out]
    assert back == unscaled


@settings(max_examples=40, deadline=None)
@given(st.lists(
    # the representable INT96 domain: Julian day in [0, 2^32)
    st.integers(min_value=-210_866_803_200_000_000, max_value=2**62),
    max_size=120,
))
def test_int96_us_roundtrip_property(us_list):
    from pq_engine.kernels import fixedlen as fl

    us = np.array(us_list, dtype=np.int64)
    np.testing.assert_array_equal(fl.int96_to_us(fl.us_to_int96(us)), us)


def test_int96_out_of_range_raises():
    import pytest

    from pq_engine.kernels import fixedlen as fl

    with pytest.raises(ValueError, match="Julian-day range"):
        fl.us_to_int96(np.array([-210_866_803_200_000_001], np.int64))
