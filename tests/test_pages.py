"""Page-framing + codec-selection tests: round-trips through encode_column /
decode_column with nulls, multi-page splits, byte caps, the PLAIN safety
rail, and manifest stats (FIXTURES.md F2/F3 cases)."""

import zlib

import numpy as np
import pytest

from pq_engine import pages
from pq_engine.kernels.ragged import RaggedBytes
from pq_engine.stats import choose_codec, numeric_stats, ragged_stats

RNG = np.random.default_rng(0)


def _data(out):
    """data pages only (metadata rows: bloom -1, dict -2, colindex -4)."""
    return [(m, b) for m, b in out if m["page"] >= 0]


def _roundtrip(values, ptype, validity=None, **kw):
    out = pages.encode_column(values, ptype, validity=validity, **kw)
    got_vals, got_validity = pages.decode_column(out)
    if ptype in pages.RAGGED_TYPES:
        assert got_vals == values
    elif ptype in ("float32", "float64"):
        np.testing.assert_array_equal(
            got_vals.view(np.uint8), np.asarray(values).view(np.uint8)
        )
    else:
        np.testing.assert_array_equal(got_vals, values)
    if validity is None:
        assert got_validity is None
    else:
        np.testing.assert_array_equal(got_validity, validity)
    return out


def test_int_column_multi_page():
    vals = RNG.integers(0, 10**9, size=50_000).astype(np.int64)
    out = _roundtrip(vals, "int64")
    assert len(_data(out)) == 3  # 20480+20480+9040
    assert sum(m["n_rows"] for m, _ in _data(out)) == 50_000


def test_timestamp_delta_chosen_and_small():
    ts = 1735689600_000_000 + np.cumsum(RNG.integers(0, 2_000_000, size=30_000))
    out = _roundtrip(ts.astype(np.int64), "timestamp_us")
    assert all(m["codec"] == "delta" for m, _ in _data(out))
    assert sum(m["encoded_bytes"] for m, _ in out) < 0.5 * sum(
        m["raw_bytes"] for m, _ in out
    )


def test_low_card_string_dict():
    langs = ["en", "de", "fr", "zh"]
    vals = RaggedBytes.from_pylist(
        [langs[i].encode() for i in RNG.integers(0, 4, size=30_000)]
    )
    out = _roundtrip(vals, "string")
    # chunk-level dictionary: one dict page (page = -2) + dict data pages
    assert out[0][0]["codec"] == "dictpage" and out[0][0]["page"] == -2
    assert all(m["codec"] == "dict" for m, _ in _data(out))
    assert all(m["ndv"] <= 4 for m, _ in out if m["page"] != -4)


def test_nulls_mixed():
    for frac in (0.0, 0.5, 1.0):
        validity = RNG.random(5000) >= frac
        vals = RNG.integers(0, 100, size=int(validity.sum())).astype(np.int64)
        out = _roundtrip(vals, "int64", validity=validity)
        assert sum(m["null_count"] for m, _ in _data(out)) == int((~validity).sum())


def test_nullable_strings():
    validity = RNG.random(3000) >= 0.3
    vals = RaggedBytes.from_pylist(
        [f"value-{i}".encode() for i in range(int(validity.sum()))]
    )
    _roundtrip(vals, "string", validity=validity)


def test_byte_capped_pages_for_blobs():
    # 200 x 64KiB blobs → must split well before 20480 rows/page
    blobs = [bytes([i % 256]) * 65536 for i in range(200)]
    vals = RaggedBytes.from_pylist(blobs)
    out = _roundtrip(vals, "binary")
    assert len(_data(out)) >= 12
    assert all(m["encoded_bytes"] < 2 * pages.PAGE_BYTES for m, _ in out)


def test_plain_safety_rail():
    # incompressible random binary: chosen codec must not beat PLAIN, so the
    # rail forces plain (or an equally-sized dlba beating plain on framing)
    vals = RaggedBytes.from_pylist(
        [RNG.integers(0, 256, size=50).astype(np.uint8).tobytes() for _ in range(2000)]
    )
    out = _roundtrip(vals, "binary")
    for m, _ in out:
        assert m["encoded_bytes"] <= m["raw_bytes"] + 256 + m["n_rows"] // 4


def test_bool_rle():
    vals = RNG.random(10_000) < 0.2
    out = _roundtrip(vals, "bool")
    assert all(m["codec"] == "rle" for m, _ in _data(out))


def test_float_nan_bits_through_pages():
    bits = np.array(
        [0x7FF8000000000001, 0x7FF8000000000FFF, 0x0, 0x8000000000000000],
        dtype=np.uint64,
    )
    vals = np.tile(bits, 300).view(np.float64)
    _roundtrip(vals, "float64")


def test_stats_min_max_truncation():
    long = b"x" * 100
    vals = RaggedBytes.from_pylist([long, b"a", b"z" * 80])
    out = pages.encode_column(vals, "string")
    m = out[0][0]
    assert m["min"] == "a"
    assert len(m["max"]) <= pages.STAT_TRUNC
    assert m["max"] >= "z"  # truncated max still upper-bounds


def test_crc_detects_corruption():
    vals = np.arange(100, dtype=np.int64)
    out = pages.encode_column(vals, "int64")
    meta, blob = out[0]
    bad = bytearray(blob)
    bad[len(bad) // 2] ^= 0xFF
    with pytest.raises(IOError):
        pages.decode_column([(meta, bytes(bad))])


def test_plain_string_overrun_raises_value_error():
    """A PLAIN BYTE_ARRAY body whose lengths run past its end (CRC intact)
    fails as ValueError from the kernel, not IndexError/struct.error."""
    vals = RaggedBytes.from_pylist([b"hello", b"world!", b"x"])
    meta, blob = pages.encode_column(vals, "string", codec="plain")[0]
    bad = bytearray(blob)
    assert bad[10] == 6  # u32 length of b"world!" after the level byte
    bad[10] = 60
    meta = dict(meta, crc32=zlib.crc32(bytes(bad)))
    with pytest.raises(ValueError):
        pages.decode_column([(meta, bytes(bad))])


@pytest.mark.parametrize("ptype,values", [
    ("int64", np.array([7, 3, 7, 9] * 50, dtype=np.int64)),
    ("float64", np.array([0.5, 2.0, 0.5] * 70)),
    ("string", RaggedBytes.from_pylist([b"en", b"de", b"fr"] * 70)),
])
def test_older_dictionary_page_layout_raises(ptype, values):
    """A dictionary page of the older layout (u32 count, then the PLAIN
    uniques) under a matching CRC raises ValueError instead of decoding to
    shifted values."""
    out = pages.encode_column(values, ptype, codec="dict")
    i = next(i for i, (m, _) in enumerate(out) if m["page"] == pages.DICT_PAGE)
    meta, blob = out[i]
    assert meta["compression"] == "none"
    older = blob[:1] + meta["n_rows"].to_bytes(4, "little") + blob[1:]
    out[i] = (dict(meta, crc32=zlib.crc32(older)), older)
    with pytest.raises(ValueError):
        pages.decode_column(out)


def test_empty_column():
    out = _roundtrip(np.zeros(0, dtype=np.int64), "int64")
    assert out == []


def test_single_row():
    _roundtrip(np.array([42], dtype=np.int64), "int64")
    _roundtrip(RaggedBytes.from_pylist([b"only"]), "string")


def test_zlib_page_compression():
    vals = RaggedBytes.from_pylist([b"compressible " * 20] * 1000)
    out = _roundtrip(vals, "string", page_compression="zlib")
    assert all(m["compression"] == "zlib" for m, _ in _data(out))


# ------------------------------------------------------------ codec chooser


def test_chooser_sorted_ints_delta():
    st = numeric_stats(np.arange(100_000, dtype=np.int64))
    assert choose_codec("int64", st) == "delta"


def test_chooser_low_card_dict():
    st = numeric_stats(RNG.integers(0, 5, size=100_000).astype(np.int64))
    assert choose_codec("int64", st) == "dict"


def test_chooser_text_fsst():
    # natural-language text, distinct values, no dominant shared prefix
    words = ["the", "web", "page", "has", "content", "about", "many", "topics"]
    texts = [
        (" ".join(words[(i * 7 + j) % len(words)] for j in range(25)) + str(i)).encode()
        for i in range(5000)
    ]
    st = ragged_stats(RaggedBytes.from_pylist(texts))
    assert choose_codec("string", st) == "fsst"


def test_chooser_shared_prefix_text_dba():
    texts = [b"the quick brown fox jumps over the lazy dog " * 3 + str(i).encode() for i in range(5000)]
    st = ragged_stats(RaggedBytes.from_pylist(texts))
    assert choose_codec("string", st) == "dba"


def test_chooser_sorted_urls_dba():
    urls = sorted(f"https://host{i % 20}.com/a/b/{i}".encode() for i in range(5000))
    st = ragged_stats(RaggedBytes.from_pylist(urls))
    assert choose_codec("string", st) in ("dba", "fsst")


def test_chooser_random_binary_dlba():
    vals = [RNG.integers(0, 256, size=40).astype(np.uint8).tobytes() for _ in range(3000)]
    st = ragged_stats(RaggedBytes.from_pylist(vals))
    assert choose_codec("binary", st) == "dlba"


def test_chooser_categorical_dict():
    vals = [b"en"] * 5000 + [b"de"] * 3000 + [b"fr"] * 100
    st = ragged_stats(RaggedBytes.from_pylist(vals))
    assert choose_codec("string", st) == "dict"


def test_sizestats_row_scalar_and_list():
    import json

    from pq_engine.kernels.ragged import RaggedBytes
    from pq_engine.nested import ListColumn, encode_list_column
    from pq_engine.pages import SIZESTATS_PAGE, encode_column

    vals = RaggedBytes.from_pylist([b"ab", b"", b"cdef"])
    validity = np.array([True, True, False, True])
    pages = encode_column(vals, "string", validity=validity)
    ss = [m for m, _ in pages if m["page"] == SIZESTATS_PAGE]
    assert len(ss) == 1
    s = json.loads(ss[0]["min"])
    assert s["unencoded_bytes"] == 6
    assert s["rep_hist"] == [4] and s["def_hist"] == [1, 3]
    # per-page list (PARQUET-2261 page granularity): single page == rollup
    assert s["pages"] == [
        {"page": 0, "unencoded_bytes": 6, "rep_hist": [4], "def_hist": [1, 3]}
    ]

    # list<string>: 3 rows — ["x","yy"], null list, [] ; one null element
    offs = np.array([0, 2, 2, 2], dtype=np.int64)
    lv = np.array([True, False, True])
    child = RaggedBytes.from_pylist([b"x", b"yy"])
    cv = None
    col = ListColumn(offs, lv, child, cv)
    lpages = encode_list_column(col, "list<string>", codec="plain")
    s2 = json.loads([m for m, _ in lpages if m["page"] == SIZESTATS_PAGE][0]["min"])
    assert s2["unencoded_bytes"] == 3
    assert s2["rep_hist"] == [3, 1]          # 3 records, 4 level entries
    assert s2["def_hist"] == [1, 1, 0, 2]    # 1 null list, 1 empty, 2 present
    assert s2["pages"] == [
        {"page": 0, "unencoded_bytes": 3, "rep_hist": [3, 1],
         "def_hist": [1, 1, 0, 2]}
    ]


def test_sizestats_per_page_sums_to_chunk():
    """Multi-page chunks: the per-page SizeStatistics lists must have one
    entry per data page and sum component-wise to the chunk rollup (flat
    string with nulls AND a list column)."""
    import json

    from pq_engine.kernels.ragged import RaggedBytes
    from pq_engine.nested import ListColumn, encode_list_column
    from pq_engine.pages import SIZESTATS_PAGE, encode_column

    rng = np.random.default_rng(3)
    n = 1000
    validity = rng.random(n) > 0.1
    vals = RaggedBytes.from_pylist(
        [b"v%05d" % i for i in np.arange(int(validity.sum()))]
    )
    pages = encode_column(vals, "string", validity=validity, page_rows=100)
    n_data = sum(1 for m, _ in pages if m["page"] >= 0 and m["codec"] != "dictpage")
    s = json.loads([m for m, _ in pages if m["page"] == SIZESTATS_PAGE][0]["min"])
    assert len(s["pages"]) == n_data > 1
    assert sum(p["unencoded_bytes"] for p in s["pages"]) == s["unencoded_bytes"]
    assert sum(p["rep_hist"][0] for p in s["pages"]) == s["rep_hist"][0]
    for k in range(len(s["def_hist"])):
        assert sum(p["def_hist"][k] for p in s["pages"]) == s["def_hist"][k]

    lens = rng.integers(0, 5, n)
    lv = rng.random(n) > 0.1
    lens[~lv] = 0
    offs = np.zeros(n + 1, np.int64)
    np.cumsum(lens, out=offs[1:])
    ne = int(offs[-1])
    cv = rng.random(ne) > 0.2
    child = np.arange(int(cv.sum()), dtype=np.int64)
    col = ListColumn(offs, lv, child, cv)
    lpages = encode_list_column(col, "list<int64>", codec="plain", page_rows=100)
    s2 = json.loads([m for m, _ in lpages if m["page"] == SIZESTATS_PAGE][0]["min"])
    assert len(s2["pages"]) == 10
    for k in (0, 1):
        assert sum(p["rep_hist"][k] for p in s2["pages"]) == s2["rep_hist"][k]
    for k in range(4):
        assert sum(p["def_hist"][k] for p in s2["pages"]) == s2["def_hist"][k]
    assert all(p["unencoded_bytes"] is None for p in s2["pages"])


@pytest.mark.parametrize("codec", ["none", "zlib", "zstd", "snappy", "lz4", "lz4_raw", "brotli", "gzip"])
def test_decompressed_body_reads_like_bytes(codec):
    """A decompressed page body (an Arrow buffer, not copied) indexes and
    slices as unsigned bytes, like the bytes it was made from."""
    from pq_engine import compression

    if not compression.available(codec):
        pytest.skip(f"{codec} not available")
    body = bytes(range(256)) * 40
    out = compression.decompress(compression.compress(body, codec), codec)
    assert len(out) == len(body) and bytes(out) == body
    assert out[255] == 255 and list(out[250:256]) == list(range(250, 256))


def test_delta_page_with_more_values_than_its_row_rejected():
    """A 60-value DELTA page whose row claims 50 values: the CRC covers
    only ``data``, so the stream's own count is checked against the row."""
    out = pages.encode_column(np.arange(60, dtype=np.int64) * 7, "int64", codec="delta")
    assert [m["codec"] for m, _ in _data(out)] == ["delta"]
    out = [({**m, "n_rows": 50} if m["page"] >= 0 else m, b) for m, b in out]
    with pytest.raises(ValueError, match="DELTA_BINARY_PACKED"):
        pages.decode_column(out)
