"""From-scratch parquet READER (interop/parquet_reader.py): files written
by pyarrow (v1 + v2 pages, dict/delta/DLBA encodings, snappy/gzip/zstd,
multi row group, nulls), DuckDB, and our own interop writer all decode
through the NumPy kernels with no parquet library in the loop."""

import os
import tempfile
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pq_engine.interop.parquet_reader import (
    read_footer,
    read_parquet,
    read_parquet_pandas,
)
from pq_engine.kernels.ragged import RaggedBytes

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _same(x, y):
    def _nullish(v):
        return v is None or (isinstance(v, float) and v != v)

    if _nullish(x) or _nullish(y):
        return _nullish(x) and _nullish(y)
    if isinstance(x, float) and isinstance(y, float):
        return abs(x - y) < 1e-12
    return x == y


@pytest.fixture(scope="module")
def tbl():
    n = 5000
    return pa.table({
        "id": pa.array(range(n), pa.int64()),
        "lang": pa.array([["en", "fr", "de", None][i % 4] for i in range(n)]),
        "score": pa.array([None if i % 7 == 0 else i / 3.0 for i in range(n)]),
        "flag": pa.array([bool(i % 2) for i in range(n)]),
        "payload": pa.array(
            [b"\x00\xffbin%d" % (i % 50) for i in range(n)], pa.binary()
        ),
    })


def _check(df, tbl, cols=None):
    ref = tbl.to_pandas()
    for c in cols or tbl.column_names:
        bad = [
            (x, y) for x, y in zip(df[c].tolist(), ref[c].tolist())
            if not _same(x, y)
        ]
        assert not bad, (c, bad[:3])


def test_pyarrow_v1_mixed_encodings_snappy(tbl, tmp_path):
    p = str(tmp_path / "v1.parquet")
    pq.write_table(
        tbl, p, compression="snappy", use_dictionary=["lang"],
        column_encoding={"id": "DELTA_BINARY_PACKED",
                         "payload": "DELTA_LENGTH_BYTE_ARRAY",
                         "score": "PLAIN", "flag": "PLAIN"},
        data_page_version="1.0",
    )
    _check(read_parquet_pandas(p), tbl)
    meta = read_footer(open(p, "rb").read())
    assert meta["num_rows"] == 5000
    assert [c["name"] for c in meta["schema"]] == tbl.column_names


def test_pyarrow_v2_pages_zstd(tbl, tmp_path):
    p = str(tmp_path / "v2.parquet")
    pq.write_table(tbl, p, compression="zstd", data_page_version="2.0")
    _check(read_parquet_pandas(p), tbl)


def test_multi_row_group_gzip_and_column_projection(tbl, tmp_path):
    p = str(tmp_path / "rg.parquet")
    pq.write_table(tbl, p, row_group_size=1000, compression="gzip")
    df = read_parquet_pandas(p, columns=["id", "lang"])
    assert list(df.columns) == ["id", "lang"]
    _check(df, tbl, cols=["id", "lang"])


def test_duckdb_written_file(tbl, tmp_path):
    import duckdb

    src = str(tmp_path / "src.parquet")
    pq.write_table(tbl, src)
    p = str(tmp_path / "duck.parquet")
    duckdb.sql(
        f"COPY (SELECT * FROM read_parquet('{src}')) TO '{p}' "
        "(FORMAT PARQUET, COMPRESSION ZSTD)"
    )
    _check(read_parquet_pandas(p), tbl)


def test_our_interop_writer_files_round_trip(tmp_path):
    from pq_engine.interop.parquet_writer import write_parquet

    p = str(tmp_path / "ours.parquet")
    write_parquet(p, [
        {"name": "a", "ptype": "int64", "codec": "delta",
         "values": np.arange(100, dtype=np.int64)},
        {"name": "s", "ptype": "string", "codec": "dba",
         "values": RaggedBytes.from_pylist([b"pref%03d" % i for i in range(100)])},
        {"name": "f", "ptype": "float64", "codec": "bss",
         "values": np.linspace(0, 1, 100)},
    ], 100, compression="zstd")
    df = read_parquet_pandas(p)
    assert df["a"].tolist() == list(range(100))
    assert df["s"].tolist() == ["pref%03d" % i for i in range(100)]
    assert df["f"].tolist() == pytest.approx(np.linspace(0, 1, 100).tolist())


@pytest.mark.parametrize("page_version", ["1.0", "2.0"])
def test_pyarrow_delta_byte_array_file(page_version, tmp_path):
    """A foreign writer's DELTA_BYTE_ARRAY pages: nulls, empty strings and
    shared prefixes far longer than our encoder's PREFIX_CAP (256)."""
    from pq_engine.interop.parquet_reader import to_arrow
    from pq_engine.kernels.deltastrings import PREFIX_CAP

    stem = "s" * (PREFIX_CAP + 200)
    vals = []
    for i in range(3000):
        if i % 11 == 0:
            vals.append(None)
        elif i % 7 == 0:
            vals.append("")
        elif i // 100 % 2 == 0:  # runs sharing a PREFIX_CAP+ prefix
            vals.append(stem + str(i))
        else:
            vals.append("https://example.com/%d/page" % (i // 9))
    tbl = pa.table({"s": pa.array(vals, pa.string())})
    p = str(tmp_path / "dba.parquet")
    pq.write_table(tbl, p, use_dictionary=False, compression="snappy",
                   column_encoding={"s": "DELTA_BYTE_ARRAY"},
                   data_page_version=page_version, data_page_size=4096)
    md = pq.ParquetFile(p).metadata.row_group(0).column(0)
    assert "DELTA_BYTE_ARRAY" in md.encodings
    assert to_arrow(p).column("s").to_pylist() == vals


def test_malformed_delta_byte_array_page_rejected(tmp_path):
    """A prefix longer than the previous value cannot be honoured; the page
    is rejected instead of silently truncated."""
    from pq_engine.interop.format import ENC_DBA, PAGE_DATA
    from pq_engine.interop.parquet_writer import _page_header, write_parquet
    from pq_engine.interop.thrift_compact import read_struct
    from pq_engine.kernels import delta

    p = tmp_path / "bad.parquet"
    write_parquet(str(p), [{"name": "s", "ptype": "string", "codec": "dba",
                            "values": RaggedBytes.from_pylist([b"ab", b"abc"])}], 2)
    buf = p.read_bytes()
    off = read_footer(buf)["row_groups"][0]["chunks"][0]["data_off"]
    hdr, body_pos = read_struct(buf, off)
    # same page with prefixes [0, 5]: value 1 borrows 5 bytes from "ab"
    bad = (delta.encode_delta(np.array([0, 5], np.int32))
           + delta.encode_delta(np.array([2, 1], np.int32)) + b"abc")
    assert len(bad) == hdr[3]
    page = _page_header(PAGE_DATA, 2, ENC_DBA, len(bad), len(bad), body=bad) + bad
    p.write_bytes(buf[:off] + page + buf[body_pos + hdr[3]:])
    with pytest.raises(ValueError, match="prefix longer than the previous"):
        read_parquet(str(p))


def test_delta_page_with_more_values_than_its_header_rejected(tmp_path):
    """A required int64 column of 50 rows whose one V1 page (no CRC, as
    pyarrow writes by default) holds a 60-value DELTA_BINARY_PACKED body:
    the stream's count must match the page's, not give 60 rows."""
    p = tmp_path / "delta.parquet"
    pq.write_table(
        pa.table([pa.array(np.arange(50), pa.int64())],
                 schema=pa.schema([pa.field("x", pa.int64(), nullable=False)])),
        p, use_dictionary=False, column_encoding={"x": "DELTA_BINARY_PACKED"},
        data_page_version="1.0", compression="none", write_statistics=False)
    # header: block size 256, 4 miniblocks, 50 values, first value 0, then
    # min delta 1 and all-zero widths: the count is one byte, 0x32 -> 0x3c
    buf = p.read_bytes()
    head = b"\x80\x02\x04\x32\x00\x02"
    assert buf.count(head) == 1
    p.write_bytes(buf.replace(head, b"\x80\x02\x04\x3c\x00\x02"))
    assert pq.read_table(p).num_rows == 50
    with pytest.raises(ValueError, match="DELTA_BINARY_PACKED"):
        read_parquet(str(p))


def _logical(t):
    """An Arrow type with offset widths and list field names dropped:
    ``to_arrow`` returns large strings and lists, pyarrow small ones."""
    if pa.types.is_large_string(t):
        return pa.string()
    if pa.types.is_large_binary(t):
        return pa.binary()
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return pa.list_(_logical(t.value_type))
    return t


def _assert_reads_as_pyarrow(path):
    """``to_arrow`` gives pyarrow's values and logical types, column by
    column."""
    from pq_engine.interop.parquet_reader import to_arrow

    ours, theirs = to_arrow(path), pq.read_table(path)
    assert ours.column_names == theirs.column_names
    for name in theirs.column_names:
        got, want = ours[name], theirs[name]
        assert _logical(got.type) == _logical(want.type), name
        assert got.to_pylist() == want.to_pylist(), name


@pytest.mark.parametrize("nulls", [False, True])
@pytest.mark.parametrize("page_version", ["1.0", "2.0"])
def test_fixed_len_delta_byte_array(page_version, nulls, tmp_path):
    """DELTA_BYTE_ARRAY over FIXED_LEN_BYTE_ARRAY: a ``binary(4)`` and a
    ``decimal128(20,2)`` column read back as their own types, not as raw
    variable-length bytes."""
    n = 2000
    keep = [not (nulls and i % 7 == 0) for i in range(n)]
    tbl = pa.table({
        "b4": pa.array([(i % 300).to_bytes(4, "big") if k else None
                        for i, k in enumerate(keep)], pa.binary(4)),
        "dec": pa.array([Decimal(i * 7919 - 5000) / 100 if k else None
                         for i, k in enumerate(keep)], pa.decimal128(20, 2)),
    })
    p = str(tmp_path / "flba_dba.parquet")
    pq.write_table(tbl, p, use_dictionary=False, data_page_version=page_version,
                   column_encoding={"b4": "DELTA_BYTE_ARRAY", "dec": "DELTA_BYTE_ARRAY"},
                   data_page_size=1024, write_batch_size=256)
    md = pq.ParquetFile(p).metadata.row_group(0)
    assert all("DELTA_BYTE_ARRAY" in md.column(i).encodings for i in range(2))
    _assert_reads_as_pyarrow(p)


@pytest.mark.parametrize("encoding", ["PLAIN", "RLE_DICTIONARY", "DELTA_BYTE_ARRAY",
                                      "BYTE_STREAM_SPLIT"])
def test_list_of_decimal_keeps_its_annotation(encoding, tmp_path):
    """LIST elements carry their DECIMAL precision and scale: a
    ``list<decimal128(20,2)>`` column reads back as decimals."""
    rows = [[Decimal(i * 131 - 900) / 100] * (i % 4) if i % 9 else None
            for i in range(600)]
    tbl = pa.table({"v": pa.array(rows, pa.list_(pa.decimal128(20, 2)))})
    p = str(tmp_path / "list_dec.parquet")
    kw = (dict(use_dictionary=True) if encoding == "RLE_DICTIONARY" else
          dict(use_dictionary=False, column_encoding={"v.list.element": encoding}))
    pq.write_table(tbl, p, data_page_size=512, write_batch_size=64, **kw)
    _assert_reads_as_pyarrow(p)


_MATRIX_TYPES = {  # physical type -> (Arrow type, value of row i)
    "bool": (pa.bool_(), lambda i: i % 3 == 0),
    "int32": (pa.int32(), lambda i: (i * 7919) % 1000 - 500),
    "int64": (pa.int64(), lambda i: i * 1_000_003 - 7),
    "float": (pa.float32(), lambda i: i / 4),
    "double": (pa.float64(), lambda i: i / 3),
    "string": (pa.string(), lambda i: f"s{i % 37}"),
    "binary4": (pa.binary(4), lambda i: (i % 50).to_bytes(4, "big")),
    "decimal": (pa.decimal128(20, 2), lambda i: Decimal(i * 1234567 - 100000) / 100),
}


@pytest.mark.parametrize("nested", [False, True], ids=["flat", "list"])
@pytest.mark.parametrize("nullable", [False, True], ids=["required", "nullable"])
@pytest.mark.parametrize("page_version", ["1.0", "2.0"])
@pytest.mark.parametrize("encoding", [
    "PLAIN", "RLE_DICTIONARY", "DELTA_BINARY_PACKED", "DELTA_LENGTH_BYTE_ARRAY",
    "DELTA_BYTE_ARRAY", "BYTE_STREAM_SPLIT", "RLE"])
@pytest.mark.parametrize("kind", list(_MATRIX_TYPES))
def test_encoding_matrix_matches_pyarrow(kind, encoding, page_version, nullable,
                                         nested, tmp_path):
    """Every encoding pyarrow writes for each physical type, on small pages
    of both versions, required and nullable, flat and as LIST elements:
    the one value decoder (``pages.decode_runs``) reads what pyarrow reads."""
    typ, value = _MATRIX_TYPES[kind]
    vals = [None if nullable and i % 7 == 0 else value(i) for i in range(300)]
    if nested:
        arr = pa.array([None if nullable and i % 11 == 0 else vals[i : i + i % 4]
                        for i in range(300)],
                       pa.list_(pa.field("element", typ, nullable)))
    else:
        arr = pa.array(vals, typ)
    tbl = pa.table([arr], schema=pa.schema([pa.field("c", arr.type, nullable)]))
    p = str(tmp_path / "m.parquet")
    kw = (dict(use_dictionary=True) if encoding == "RLE_DICTIONARY" else
          dict(use_dictionary=False,
               column_encoding={"c.list.element" if nested else "c": encoding}))
    try:
        pq.write_table(tbl, p, data_page_version=page_version, data_page_size=512,
                       write_batch_size=64, **kw)
    except (pa.ArrowException, OSError, ValueError) as e:
        pytest.skip(f"pyarrow does not write {encoding} for {kind}: {e}")
    _assert_reads_as_pyarrow(p)


def test_driver_testdata_matches_duckdb():
    import duckdb

    path = "/root/testdata/sf0.001/documents.parquet"
    df = read_parquet_pandas(path, ["doc_id", "lang", "n_chars"])
    want = duckdb.sql(
        f"SELECT doc_id, lang, n_chars FROM read_parquet('{path}')"
    ).fetchall()
    assert list(zip(df["doc_id"], df["lang"], df["n_chars"])) == want


def test_kernel_form_and_validity_contract(tbl, tmp_path):
    p = str(tmp_path / "k.parquet")
    pq.write_table(tbl, p)
    schema, data = read_parquet(p, ["lang", "id"])
    vals, validity = data["lang"]
    assert isinstance(vals, RaggedBytes)
    assert validity is not None and len(validity) == 5000
    assert int(validity.sum()) == len(vals)  # non-null kernel form
    ivals, ivalid = data["id"]
    assert ivalid is None and ivals.dtype == np.int64


def test_errors(tbl, tmp_path):
    with pytest.raises(ValueError, match="magic"):
        read_parquet(b"nope" * 4)
    # struct-of-struct (two nesting levels) is out of declared scope
    deep = pa.table({"m": pa.array([{"a": {"b": 1}}, {"a": {"b": 2}}])})
    p = str(tmp_path / "deep.parquet")
    pq.write_table(deep, p)
    with pytest.raises(ValueError, match="nested|supported"):
        read_parquet(p)


def test_cli_from_parquet_import(tmp_path):
    """from-parquet: external file -> page table via OUR reader, decoded
    back by the CLI without Spark."""
    import subprocess
    import sys as _sys

    out = str(tmp_path / "pages")
    r = subprocess.run(
        [_sys.executable, "-m", "pq_engine.cli", "from-parquet",
         "/root/testdata/sf0.001/documents.parquet", "--out", out],
        capture_output=True, text=True, timeout=120, cwd=ROOT,
    )
    assert r.returncode == 0, r.stderr[-500:]
    r2 = subprocess.run(
        [_sys.executable, "-m", "pq_engine.cli", "scan", out],
        capture_output=True, text=True, timeout=120, cwd=ROOT,
    )
    assert r2.returncode == 0 and "records=500" in r2.stdout, r2.stdout


def test_cli_from_parquet_list_and_map(tmp_path, capsys):
    """from-parquet imports a LIST column through its element leaf and
    skips a MAP group with a message, not a KeyError."""
    from argparse import Namespace

    from pq_engine.cli import _load, cmd_from_parquet
    from pq_engine.pages import decode_column
    from pq_engine.pagetable import Chunks

    src = str(tmp_path / "nested.parquet")
    pq.write_table(pa.table({
        "tags": pa.array([["a", "bb"], None, []] * 10, pa.list_(pa.string())),
        "m": pa.array([[("k", 1)], None, []] * 10, pa.map_(pa.string(), pa.int64())),
    }), src)
    cmd_from_parquet(Namespace(path=src, out=str(tmp_path / "pages")))
    assert "skipping column m" in capsys.readouterr().out
    chunks = Chunks(_load(str(tmp_path / "pages")))
    assert chunks.columns == ["tags"]
    (split, batch), = chunks.keys
    lists, _ = decode_column(chunks.pages(split, batch, "tags"))
    assert np.diff(lists.offsets).tolist() == [2, 0, 0] * 10
    assert lists.list_validity.tolist() == [True, False, True] * 10
    assert lists.child_values.to_pylist() == [b"a", b"bb"] * 10


# ------------------------------------------------------------ property test
try:
    from hypothesis import given, settings, strategies as st

    @settings(max_examples=40, deadline=None)
    @given(
        st.lists(
            st.one_of(st.none(), st.integers(-(2**62), 2**62 - 1)),
            min_size=1, max_size=300,
        ),
        st.lists(
            st.one_of(st.none(), st.text(max_size=20)),
            min_size=1, max_size=300,
        ),
        st.sampled_from(["none", "snappy", "zstd", "gzip"]),
        st.sampled_from(["1.0", "2.0"]),
    )
    def test_reader_property_random_tables(ints, strs, compression, page_ver):
        """Any pyarrow-written flat table (random ints/strings with nulls,
        any codec, both page versions) decodes identically through our
        from-scratch reader."""
        n = max(len(ints), len(strs))
        ints = (ints * (n // len(ints) + 1))[:n]
        strs = (strs * (n // len(strs) + 1))[:n]
        tbl = pa.table({
            "i": pa.array(ints, pa.int64()),
            "s": pa.array(strs, pa.string()),
        })
        with tempfile.NamedTemporaryFile(suffix=".parquet") as f:
            pq.write_table(
                tbl, f.name,
                compression=None if compression == "none" else compression,
                data_page_version=page_ver,
            )
            _, data = read_parquet(f.name)
        # kernel-form comparison (exact — no pandas float coercion of
        # nullable int columns)
        for c in ("i", "s"):
            values, validity = data[c]
            lst = values.to_pylist() if isinstance(values, RaggedBytes) \
                else values.tolist()
            if c == "s":
                lst = [v.decode("utf-8") for v in lst]
            if validity is not None:
                full, vi = [], 0
                for ok in validity:
                    full.append(lst[vi] if ok else None)
                    vi += ok
                lst = full
            assert lst == tbl[c].to_pylist(), c
except ImportError:
    pass


def test_list_columns_from_pyarrow(tmp_path):
    """3-level LIST groups (null/empty lists, null elements, dict-encoded
    elements, v1+v2 pages, multi row group) decode via rep/def level
    inversion (nested.levels_to_structure)."""
    rows = [[1, 2, 3], [], None, [4, None, 6], [7], None, []]
    strs = [["a", "bb"], None, [], ["x", None], ["yy"], ["z"], None]
    tbl2 = pa.table({
        "ids": pa.array(rows * 100, pa.list_(pa.int64())),
        "tags": pa.array(strs * 100, pa.list_(pa.string())),
        "flat": pa.array(list(range(700)), pa.int64()),
    })
    want = tbl2.to_pydict()
    for i, kw in enumerate((
        dict(compression="snappy"),
        dict(compression="zstd", data_page_version="2.0"),
        dict(row_group_size=150, compression="gzip"),
        dict(use_dictionary=True),
    )):
        p = str(tmp_path / f"l{i}.parquet")
        pq.write_table(tbl2, p, **kw)
        df = read_parquet_pandas(p)
        assert df["flat"].tolist() == want["flat"]
        assert [x if x is None else list(x) for x in df["ids"]] == want["ids"], kw
        assert [x if x is None else list(x) for x in df["tags"]] == want["tags"], kw


def test_list_from_our_interop_writer(tmp_path):
    from pq_engine.interop.parquet_writer import write_parquet
    from pq_engine.nested import ListColumn

    lens = np.array([2, 0, 3, 1], dtype=np.int64)
    offsets = np.zeros(5, dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])
    lc = ListColumn(offsets, None, np.arange(6, dtype=np.int64) * 10, None)
    p = str(tmp_path / "ourlist.parquet")
    write_parquet(p, [
        {"name": "v", "ptype": "list<int64>", "codec": "plain", "values": lc},
    ], 4, compression="zstd")
    df = read_parquet_pandas(p)
    assert [list(x) for x in df["v"]] == [[0, 10], [], [20, 30, 40], [50]]


def test_required_list_shapes(tmp_path):
    """The r5 ADVICE-high case: pyarrow files with REQUIRED list groups or
    REQUIRED elements have max_def 2 (or 1), not 3 — levels must be
    interpreted from the parsed optionality, not assumed."""
    sch = pa.schema([
        pa.field("req_list", pa.list_(pa.field("item", pa.int64(),
                                               nullable=False)),
                 nullable=False),
        pa.field("req_elems", pa.list_(pa.field("item", pa.int64(),
                                                nullable=False)),
                 nullable=True),
        pa.field("opt_all", pa.list_(pa.int64()), nullable=True),
    ])
    tbl = pa.table({
        "req_list": pa.array([[1, 2], [3], [], [4, 5, 6]],
                             sch.field("req_list").type),
        "req_elems": pa.array([[1, 2], None, [], [7]],
                              sch.field("req_elems").type),
        "opt_all": pa.array([[1, None], None, [], [9]], pa.list_(pa.int64())),
    }, schema=sch)
    for ver in ("1.0", "2.0"):
        p = str(tmp_path / f"reqlist_{ver}.parquet")
        pq.write_table(tbl, p, data_page_version=ver)
        df = read_parquet_pandas(p)
        assert [list(x) for x in df["req_list"]] == [[1, 2], [3], [], [4, 5, 6]]
        assert [x if x is None else list(x) for x in df["req_elems"]] == \
            [[1, 2], None, [], [7]]
        got = [x if x is None else
               [None if v is None or v != v else int(v) for v in x]
               for x in df["opt_all"]]
        assert got == [[1, None], None, [], [9]]


def test_struct_columns(tmp_path):
    """One-level STRUCT groups of primitives (any optionality) decode via
    the generalized definition-level alphabet."""
    rows = [{"a": 1, "s": "x"}, None, {"a": None, "s": "y"},
            {"a": 4, "s": None}, {"a": 5, "s": "zz"}]
    tbl = pa.table({
        "st": pa.array(rows * 50,
                       pa.struct([("a", pa.int64()), ("s", pa.string())])),
        "flat": pa.array(range(250), pa.int64()),
    })
    for kw in (dict(), dict(data_page_version="2.0", compression="zstd"),
               dict(row_group_size=60, compression="snappy")):
        p = str(tmp_path / f"st{len(kw)}.parquet")
        pq.write_table(tbl, p, **kw)
        df = read_parquet_pandas(p)
        assert df["flat"].tolist() == list(range(250))
        assert df["st"].tolist() == rows * 50, kw


def test_map_columns(tmp_path):
    """MAP groups (standard key_value shape) decode as per-row dicts."""
    rows = [{"a": 1, "b": 2}, {}, None, {"c": None}, {"d": 4, "e": 5}]
    tbl = pa.table({
        "m": pa.array(rows * 40, pa.map_(pa.string(), pa.int64())),
        "flat": pa.array(range(200), pa.int64()),
    })
    for kw in (dict(), dict(compression="zstd"),
               dict(row_group_size=70, compression="gzip")):
        p = str(tmp_path / f"map{len(kw)}.parquet")
        pq.write_table(tbl, p, **kw)
        df = read_parquet_pandas(p)
        got = [x if x is None else dict(x) for x in df["m"]]
        assert got == rows * 40, kw
        assert df["flat"].tolist() == list(range(200))


def test_struct_map_from_our_interop_writer(tmp_path):
    from pq_engine.interop.parquet_writer import write_parquet
    from pq_engine.nested import ListColumn

    p = str(tmp_path / "ours_nested.parquet")
    sv = np.array([True, True, False, True], dtype=bool)
    fa = np.array([1, 2, 4], dtype=np.int64)          # non-null-struct rows
    fa_valid = np.array([True, False, True], dtype=bool)
    fs = RaggedBytes.from_pylist([b"x", b"y", b"z"])
    klens = np.array([2, 0, 0, 1], dtype=np.int64)
    koff = np.zeros(5, dtype=np.int64)
    np.cumsum(klens, out=koff[1:])
    keys = ListColumn(koff, np.array([True, True, False, True]),
                      RaggedBytes.from_pylist([b"k1", b"k2", b"k3"]), None)
    items = ListColumn(koff.copy(), keys.list_validity,
                       np.array([10, 30], dtype=np.int64),  # non-null only
                       np.array([True, False, True]))
    write_parquet(p, [
        {"name": "st", "ptype": "struct", "validity": sv, "fields": [
            {"name": "a", "ptype": "int64", "values": fa[fa_valid],
             "validity": fa_valid},
            {"name": "s", "ptype": "string", "values": fs, "validity": None},
        ]},
        {"name": "m", "ptype": "map<string,int64>", "values": (keys, items)},
    ], 4)
    # our own reader round-trips it
    df = read_parquet_pandas(p)
    assert df["st"].tolist() == [
        {"a": 1, "s": "x"}, {"a": None, "s": "y"}, None, {"a": 4, "s": "z"},
    ]
    assert [x if x is None else dict(x) for x in df["m"]] == [
        {"k1": 10, "k2": None}, {}, None, {"k3": 30},
    ]
    # and pyarrow (independent reader) agrees on the same bytes
    ext = pq.read_table(p).to_pylist()
    assert [r["st"] for r in ext] == df["st"].tolist()
    assert [r["m"] if r["m"] is None else dict(r["m"]) for r in ext] == \
        [x if x is None else dict(x) for x in df["m"]]


def test_filtered_scan_prunes_row_groups_and_pages(tmp_path):
    """readNextFilteredRowGroup analog: sorted file, small pages, page
    index on — a selective predicate must skip row groups (stats) AND
    pages (ColumnIndex row ranges), and still return exact rows."""
    from pq_engine.interop.parquet_reader import read_parquet_filtered_pandas

    n = 40_000
    tbl = pa.table({
        "k": pa.array(np.arange(n), pa.int64()),
        "s": pa.array(["s%06d" % i for i in range(n)]),
        "v": pa.array(np.arange(n) * 0.5, pa.float64()),
    })
    p = str(tmp_path / "sorted.parquet")
    pq.write_table(tbl, p, row_group_size=8000, data_page_size=4096,
                   write_page_index=True, compression="snappy",
                   column_encoding={"k": "PLAIN", "s": "PLAIN", "v": "PLAIN"},
                   use_dictionary=False)
    pred = ("and", ("ge", "k", 12_100), ("lt", "k", 12_400))
    df, rep = read_parquet_filtered_pandas(p, pred)
    assert df["k"].tolist() == list(range(12_100, 12_400))
    assert df["s"].tolist() == ["s%06d" % i for i in range(12_100, 12_400)]
    assert rep["row_groups_scanned"] == 1 and rep["row_groups_total"] == 5
    assert 0 < rep["pages_scanned"] < rep["pages_total"]
    # string predicate + or
    df2, rep2 = read_parquet_filtered_pandas(
        p, ("or", ("eq", "s", "s000123"), ("gt", "k", 39_990)), ["k", "s"]
    )
    assert df2["k"].tolist() == [123] + list(range(39_991, 40_000))
    assert rep2["pages_scanned"] < rep2["pages_total"]
    # no match at all: zero row groups decoded
    df3, rep3 = read_parquet_filtered_pandas(p, ("gt", "k", 10**9))
    assert len(df3) == 0 and rep3["pages_scanned"] == 0


def test_filtered_scan_with_nulls_and_dict(tmp_path):
    """Filtered path over dictionary-encoded strings with nulls: record-
    level evaluation stays exact (NULL compares false) even when pages
    cannot be pruned."""
    from pq_engine.interop.parquet_reader import read_parquet_filtered_pandas

    n = 5000
    langs = [None if i % 11 == 0 else ["en", "fr", "de"][i % 3]
             for i in range(n)]
    tbl = pa.table({
        "id": pa.array(range(n), pa.int64()),
        "lang": pa.array(langs),
    })
    p = str(tmp_path / "nulls.parquet")
    pq.write_table(tbl, p, row_group_size=1000, write_page_index=True)
    df, rep = read_parquet_filtered_pandas(
        p, ("and", ("eq", "lang", "fr"), ("lt", "id", 600))
    )
    want = [i for i in range(600) if langs[i] == "fr"]
    assert df["id"].tolist() == want
    assert set(df["lang"]) == {"fr"}
    assert rep["rows_matched"] == len(want)


def test_corrupt_file_fuzz_controlled_failure(tmp_path):
    """Adversarial-input contract (ParquetDecodingException analog): for
    ANY corruption — bit flips, truncation, random splices — the reader
    either decodes (mutation hit a don't-care byte) or raises ValueError.
    Never a raw struct.error/KeyError/IndexError/codec exception, never a
    hang, never an unbounded allocation (page decompress is capped at
    MAX_PAGE_UNCOMPRESSED). 300 deterministic trials."""
    import random

    from pq_engine.interop.parquet_reader import read_parquet_pandas
    from pq_engine.interop.parquet_writer import write_parquet
    from pq_engine.kernels.ragged import RaggedBytes

    n = 500
    tags = [f"t{i % 7}".encode() for i in range(n)]
    offs = np.zeros(n + 1, np.int64)
    for i, s in enumerate(tags):
        offs[i + 1] = offs[i] + len(s)
    p = str(tmp_path / "f.parquet")
    write_parquet(p, [
        {"name": "id", "ptype": "int64", "codec": "delta",
         "values": np.arange(n, dtype=np.int64)},
        {"name": "s", "ptype": "string", "codec": "dict",
         "values": RaggedBytes(offs, np.frombuffer(b"".join(tags),
                                                   np.uint8))},
    ], n, compression="zstd", row_group_size=100)
    base = open(p, "rb").read()
    rng = random.Random(20260817)
    ok = err = 0
    for trial in range(300):
        buf = bytearray(base)
        mode = trial % 3
        if mode == 0:  # bit flips
            for _ in range(rng.randint(1, 4)):
                buf[rng.randrange(len(buf))] ^= 1 << rng.randrange(8)
            data = bytes(buf)
        elif mode == 1:  # truncation
            data = bytes(buf[: rng.randrange(8, len(buf))])
        else:  # random splice
            i = rng.randrange(len(buf))
            j = min(len(buf), i + rng.randint(1, 64))
            data = (bytes(buf[:i])
                    + bytes(rng.randrange(256) for _ in range(j - i))
                    + bytes(buf[j:]))
        try:
            df = read_parquet_pandas(data)
            assert len(df) <= n * 2  # decoded => sane shape
            ok += 1
        except ValueError:
            err += 1
        # any OTHER exception type propagates and fails the test
    assert err > 200  # most corruptions must be detected


def test_page_crc_write_and_verify(tmp_path):
    """PageHeader.crc both directions (parquet-mr default-on behavior —
    ParquetFileWriter CRC32 + ParquetFileReader.verifyCrc): our writer
    emits CRCs that pyarrow VERIFIES; our reader verifies CRCs in
    pyarrow-written files; a flipped body byte in either file fails with
    one clear error instead of decoding garbage."""
    import pyarrow as pa
    import pyarrow.parquet as papq

    from pq_engine.interop.parquet_writer import write_parquet
    from pq_engine.kernels.ragged import RaggedBytes

    n = 1000
    tags = [f"t{i % 7}".encode() for i in range(n)]
    offs = np.zeros(n + 1, np.int64)
    for i, s in enumerate(tags):
        offs[i + 1] = offs[i] + len(s)
    ours = str(tmp_path / "ours.parquet")
    write_parquet(ours, [
        {"name": "id", "ptype": "int64", "codec": "delta",
         "values": np.arange(n, dtype=np.int64)},
        {"name": "s", "ptype": "string", "codec": "dict",
         "values": RaggedBytes(offs, np.frombuffer(b"".join(tags),
                                                   np.uint8))},
    ], n, compression="zstd")
    # pyarrow verifies OUR checksums
    t = papq.read_table(ours, page_checksum_verification=True)
    assert t.num_rows == n
    # flip one data byte -> pyarrow's verification AND ours both fail
    buf = bytearray(open(ours, "rb").read())
    buf[40] ^= 0xFF
    bad = str(tmp_path / "bad.parquet")
    open(bad, "wb").write(bytes(buf))
    with pytest.raises(Exception, match="CRC|corrupt"):
        papq.read_table(bad, page_checksum_verification=True)
    with pytest.raises(ValueError, match="CRC32 mismatch|corrupt"):
        read_parquet_pandas(bytes(buf))

    # our reader verifies PYARROW's checksums
    pa_file = str(tmp_path / "pa.parquet")
    papq.write_table(
        pa.table({"id": pa.array(range(n), pa.int64()),
                  "s": [f"t{i % 7}" for i in range(n)]}),
        pa_file, write_page_checksum=True, compression="snappy")
    assert len(read_parquet_pandas(pa_file)) == n
    buf2 = bytearray(open(pa_file, "rb").read())
    buf2[60] ^= 0xFF
    with pytest.raises(ValueError, match="CRC32 mismatch|corrupt"):
        read_parquet_pandas(bytes(buf2))


def test_page_crc_checks_a_memoryview_body():
    """The CRC check hashes the body buffer it is given, without a copy:
    one flipped bit in a memoryview body still fails it."""
    import zlib

    from pq_engine.interop.parquet_reader import _verify_crc

    body = bytearray(b"page body " * 100)
    hdr = {4: zlib.crc32(body)}
    _verify_crc(hdr, memoryview(body))
    body[517] ^= 0x08
    with pytest.raises(ValueError, match="CRC32 mismatch"):
        _verify_crc(hdr, memoryview(body)[0:])


# --------------------------------------------------------------------------
# predicate-first filtered reads: the predicate's columns are decoded first,
# the other columns only over the pages that hold a matching row

PF_ROWS = 6000


def _pf_table():
    rng = np.random.default_rng(5)
    n = PF_ROWS

    def nulls(p):
        return rng.random(n) < p

    s = [None if z else "s%05d" % (2 * v)
         for z, v in zip(nulls(0.1), rng.integers(0, 10_000, n))]
    b = [None if z else bytes(rng.integers(0, 256, int(k), dtype=np.uint8))
         for z, k in zip(nulls(0.2), rng.integers(0, 40, n))]
    k = [None if z else int(v)
         for z, v in zip(nulls(0.15), rng.integers(-50_000, 50_000, n))]
    ts = np.int64(1_600_000_000_000_000) + np.arange(n, dtype=np.int64) * 1_000_000
    return pa.table({
        "id": pa.array(np.arange(n), pa.int64()),
        "s": pa.array(s, pa.string()),
        "b": pa.array(b, pa.binary()),
        "k": pa.array(k, pa.int64()),
        "ts": pa.array(np.where(nulls(0.05), None, ts).tolist(),
                       pa.timestamp("us")),
    })


def _pf_files(tmp_path, tbl):
    """The same table as an interop-writer file (row groups of 2000 rows,
    pages of 250, so a page index), and as pyarrow files with and without
    one."""
    from pq_engine.interop.parquet_writer import write_parquet
    from pq_engine.spark.engine import _arrow_to_values, arrow_type_to_ptype

    cols = []
    for f in tbl.schema:
        ptype = arrow_type_to_ptype(f.type)
        values, validity = _arrow_to_values(tbl[f.name], ptype)
        cols.append({"name": f.name, "ptype": ptype, "codec": "plain",
                     "values": values, "validity": validity})
    ours = str(tmp_path / "interop.parquet")
    write_parquet(ours, cols, tbl.num_rows, row_group_size=2000,
                  data_page_rows=250, compression="zstd")
    indexed = str(tmp_path / "pa_index.parquet")
    pq.write_table(tbl, indexed, row_group_size=2000, data_page_size=2048,
                   write_page_index=True, use_dictionary=False,
                   compression="snappy")
    whole = str(tmp_path / "pa_whole.parquet")
    pq.write_table(tbl, whole, row_group_size=2000, use_dictionary=False)
    return {"interop": ours, "pa_index": indexed, "pa_whole": whole}


def _pf_read(path, pred, columns=None):
    from pq_engine.interop.parquet_reader import _arrow_flat, read_parquet_filtered

    schema, data, report = read_parquet_filtered(path, pred, columns)
    by_name = {c["name"]: c for c in schema}
    got = {name: _arrow_flat(v, val, by_name[name]).to_pylist()
           for name, (v, val) in data.items()}
    return got, report


TS0 = 1_600_000_000_000_000
PF_PREDICATES = {
    # "s" holds only even numbers: inside every page's min/max, never equal
    "miss": (("eq", "s", "s10001"), None),
    "sparse_eq": (("eq", "k", -48_387), None),  # the k of row 4321 only
    "range": (("and", ("ge", "ts", TS0 + 3_100 * 1_000_000),
               ("lt", "ts", TS0 + 3_160 * 1_000_000)), None),
    "and": (("and", ("gt", "k", 40_000), ("lt", "s", "s02000")), None),
    "or": (("or", ("eq", "s", "s06714"), ("ge", "id", PF_ROWS - 30)), None),
    "outside_projection": (("le", "k", -49_000), ["b", "ts"]),
    "all_rows": (None, ["s", "k"]),
}


def _pf_expected(tbl, pred):
    import pyarrow.compute as pc

    if pred is None:
        return tbl
    ops = {"eq": pc.equal, "ne": pc.not_equal, "lt": pc.less,
           "le": pc.less_equal, "gt": pc.greater, "ge": pc.greater_equal}

    def mask(p):
        if p[0] == "and":
            return pc.and_kleene(mask(p[1]), mask(p[2]))
        if p[0] == "or":
            return pc.or_kleene(mask(p[1]), mask(p[2]))
        op, name, val = p
        col = tbl[name]
        if pa.types.is_timestamp(col.type):
            col = col.cast(pa.int64())
        return ops[op](col, val)

    return tbl.filter(mask(pred))  # null keeps no row, the SQL rule


@pytest.mark.parametrize("name", list(PF_PREDICATES))
@pytest.mark.parametrize("kind", ["interop", "pa_index", "pa_whole"])
def test_predicate_first_rows_match_pyarrow(tmp_path, kind, name):
    """Every predicate kind returns exactly pyarrow's filter of the same
    table, whatever the file carries (a page index or none)."""
    tbl = _pf_table()
    path = _pf_files(tmp_path, tbl)[kind]
    pred, columns = PF_PREDICATES[name]
    got, report = _pf_read(path, pred, columns)
    exp = _pf_expected(tbl, pred)
    cols = columns or tbl.column_names
    assert list(got) == cols
    for c in cols:
        col = exp[c]
        if pa.types.is_timestamp(col.type):
            col = col.cast(pa.int64())  # the reader returns the raw int64
        assert got[c] == col.to_pylist(), c
    assert report["rows_matched"] == exp.num_rows
    if name == "sparse_eq":
        assert exp.num_rows == 1


@pytest.mark.parametrize("kind", ["interop", "pa_index", "pa_whole"])
def test_predicate_first_miss_decodes_only_predicate_pages(tmp_path, kind):
    """A miss the indexes cannot disprove decodes the predicate column's
    pages and nothing else; ``pages_total`` still counts every page of
    every read column, as an unfiltered read of the same file does."""
    tbl = _pf_table()
    path = _pf_files(tmp_path, tbl)[kind]
    _, full = _pf_read(path, None)
    _, s_only = _pf_read(path, None, ["s"])
    assert full["pages_scanned"] == full["pages_total"]
    got, miss = _pf_read(path, PF_PREDICATES["miss"][0])
    assert all(v == [] for v in got.values())
    assert miss["row_groups_scanned"] == miss["row_groups_total"] == 3
    assert miss["rows_after_prune"] == PF_ROWS and miss["rows_matched"] == 0
    assert miss["pages_total"] == full["pages_total"]
    assert miss["pages_scanned"] == s_only["pages_total"]
    assert miss["pages_scanned"] < miss["pages_total"]


def test_predicate_first_decodes_only_pages_with_a_match(tmp_path):
    """An eq the page index cannot narrow (random ``s`` values) decodes the
    predicate column's surviving pages, then in each other column only the
    pages that hold a matching row."""
    tbl = _pf_table()
    path = _pf_files(tmp_path, tbl)["interop"]
    value = tbl["s"][4321].as_py()
    pred = ("eq", "s", value)
    _, s_only = _pf_read(path, pred, ["s"])
    got, report = _pf_read(path, pred)
    rows = [i for i, v in enumerate(tbl["s"].to_pylist()) if v == value]
    assert got["id"] == rows
    # every column pages at the same 250-row boundaries
    match_pages = len({r // 250 for r in rows})
    assert s_only["pages_scanned"] > 2 * match_pages
    assert report["pages_total"] == 5 * s_only["pages_total"]
    assert report["pages_scanned"] == s_only["pages_scanned"] + 4 * match_pages


def test_predicate_first_offset_index_missing_a_matching_row(tmp_path, monkeypatch):
    """An OffsetIndex whose pages do not reach a matching row (a corrupt
    file) raises instead of returning a column shorter than the others."""
    from pq_engine.interop import parquet_reader as R

    path = _pf_files(tmp_path, _pf_table())["interop"]
    real = R._parse_offset_index

    def drop_first_page(buf, off, ln, chunk=None, crypto=None):
        locs = real(buf, off, ln, chunk, crypto)
        return locs[1:] if chunk["path"] == ["b"] else locs

    monkeypatch.setattr(R, "_parse_offset_index", drop_first_page)
    with pytest.raises(ValueError, match="does not cover"):
        R.read_parquet_filtered(path, ("eq", "id", 3))
