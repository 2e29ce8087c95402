"""Cross-implementation interop goldens (mirrors the reference's
TestInterOp* suite, SURVEY.md §5 item 4 — but in reverse: WE write the file,
independent readers of the public format decode it).

If pyarrow and DuckDB both read files whose pages were produced by our
kernels and see bit-identical values, our encoders are byte-compatible with
the format parquet-java decodes."""

import numpy as np
import pyarrow.parquet as pq
import pytest

from pq_engine.interop.parquet_writer import write_parquet
from pq_engine.kernels.ragged import RaggedBytes

RNG = np.random.default_rng(5)


def _write_and_read(tmp_path, columns, n_rows):
    path = str(tmp_path / "t.parquet")
    write_parquet(path, columns, n_rows)
    table = pq.read_table(path)
    assert table.num_rows == n_rows
    return path, table


def test_plain_numerics_roundtrip_via_pyarrow(tmp_path):
    i32 = RNG.integers(-(2**31), 2**31, size=1000).astype(np.int32)
    i64 = RNG.integers(-(2**62), 2**62, size=1000).astype(np.int64)
    f64 = RNG.standard_normal(1000)
    path, t = _write_and_read(
        tmp_path,
        [
            {"name": "a", "ptype": "int32", "codec": "plain", "values": i32},
            {"name": "b", "ptype": "int64", "codec": "plain", "values": i64},
            {"name": "c", "ptype": "float64", "codec": "plain", "values": f64},
        ],
        1000,
    )
    np.testing.assert_array_equal(t.column("a").to_numpy(), i32)
    np.testing.assert_array_equal(t.column("b").to_numpy(), i64)
    np.testing.assert_array_equal(
        t.column("c").to_numpy().view(np.uint64), f64.view(np.uint64)
    )


def test_delta_binary_packed_read_by_pyarrow(tmp_path):
    ts = (1735689600_000_000 + np.cumsum(RNG.integers(0, 10**6, size=5000))).astype(np.int64)
    ramp = np.arange(5000, dtype=np.int32) * 3 - 1000
    path, t = _write_and_read(
        tmp_path,
        [
            {"name": "ts", "ptype": "int64", "codec": "delta", "values": ts},
            {"name": "ramp", "ptype": "int32", "codec": "delta", "values": ramp},
        ],
        5000,
    )
    np.testing.assert_array_equal(t.column("ts").to_numpy(), ts)
    np.testing.assert_array_equal(t.column("ramp").to_numpy(), ramp)


def test_dictionary_rle_read_by_pyarrow(tmp_path):
    langs = np.array([b"en", b"de", b"fr", b"zh-hans"], dtype=object)
    vals = RaggedBytes.from_pylist([langs[i] for i in RNG.integers(0, 4, size=3000)])
    ints = RNG.integers(0, 5, size=3000).astype(np.int64) * 1000
    path, t = _write_and_read(
        tmp_path,
        [
            {"name": "lang", "ptype": "string", "codec": "dict", "values": vals},
            {"name": "v", "ptype": "int64", "codec": "dict", "values": ints},
        ],
        3000,
    )
    assert t.column("lang").to_pylist() == [v.decode() for v in vals.to_pylist()]
    np.testing.assert_array_equal(t.column("v").to_numpy(), ints)


def test_delta_length_and_delta_byte_array_read_by_pyarrow(tmp_path):
    texts = RaggedBytes.from_pylist(
        [f"document number {i} with words".encode() for i in range(2000)]
    )
    urls = RaggedBytes.from_pylist(
        sorted(f"https://host{i % 9}.com/p/{i}".encode() for i in range(2000))
    )
    path, t = _write_and_read(
        tmp_path,
        [
            {"name": "text", "ptype": "string", "codec": "dlba", "values": texts},
            {"name": "url", "ptype": "string", "codec": "dba", "values": urls},
        ],
        2000,
    )
    assert t.column("text").to_pylist() == [v.decode() for v in texts.to_pylist()]
    assert t.column("url").to_pylist() == [v.decode() for v in urls.to_pylist()]


def test_byte_stream_split_read_by_pyarrow(tmp_path):
    f32 = RNG.standard_normal(4000).astype(np.float32)
    f64 = RNG.standard_normal(4000) * 1e9
    path, t = _write_and_read(
        tmp_path,
        [
            {"name": "x", "ptype": "float32", "codec": "bss", "values": f32},
            {"name": "y", "ptype": "float64", "codec": "bss", "values": f64},
        ],
        4000,
    )
    np.testing.assert_array_equal(
        t.column("x").to_numpy().view(np.uint32), f32.view(np.uint32)
    )
    np.testing.assert_array_equal(
        t.column("y").to_numpy().view(np.uint64), f64.view(np.uint64)
    )


def test_bool_plain_read_by_pyarrow(tmp_path):
    b = RNG.random(777) < 0.3
    path, t = _write_and_read(
        tmp_path, [{"name": "flag", "ptype": "bool", "codec": "plain", "values": b}], 777
    )
    np.testing.assert_array_equal(np.asarray(t.column("flag")), b)


def test_nullable_column_with_def_levels(tmp_path):
    validity = RNG.random(2500) >= 0.25
    dense = RNG.integers(0, 10**9, size=int(validity.sum())).astype(np.int64)
    path, t = _write_and_read(
        tmp_path,
        [
            {
                "name": "v",
                "ptype": "int64",
                "codec": "plain",
                "values": dense,
                "validity": validity,
            }
        ],
        2500,
    )
    col = t.column("v")
    assert col.null_count == int((~validity).sum())
    np.testing.assert_array_equal(
        np.asarray(col.drop_null()), dense
    )


def test_duckdb_reads_our_file_too(tmp_path):
    import duckdb

    ts = (10**15 + np.cumsum(RNG.integers(0, 10**6, size=1000))).astype(np.int64)
    vals = RaggedBytes.from_pylist([f"r{i % 7}".encode() for i in range(1000)])
    path = str(tmp_path / "d.parquet")
    write_parquet(
        path,
        [
            {"name": "ts", "ptype": "int64", "codec": "delta", "values": ts},
            {"name": "tag", "ptype": "string", "codec": "dict", "values": vals},
        ],
        1000,
    )
    got = duckdb.sql(f"SELECT sum(ts)::HUGEINT, count(distinct tag) FROM read_parquet('{path}')").fetchone()
    assert got[0] == int(ts.astype(object).sum())
    assert got[1] == 7


def test_fsst_not_in_format(tmp_path):
    # FSST has no parquet encoding id — the writer must refuse, not corrupt
    vals = RaggedBytes.from_pylist([b"x"])
    with pytest.raises((ValueError, KeyError)):
        write_parquet(
            str(tmp_path / "bad.parquet"),
            [{"name": "v", "ptype": "string", "codec": "fsst", "values": vals}],
            1,
        )


@pytest.mark.parametrize("compression", ["snappy", "gzip", "zstd"])
def test_compressed_file_decodes_in_pyarrow_and_duckdb(tmp_path, compression):
    """In-file page compression codecs (CompressionCodecName analog): both
    independent readers must decode our compressed pages bit-identically."""
    import duckdb
    import numpy as np
    import pyarrow.parquet as pq

    from pq_engine.interop.parquet_writer import write_parquet
    from pq_engine.kernels.ragged import RaggedBytes

    rng = np.random.default_rng(9)
    n = 5000
    ints = rng.integers(-10**9, 10**9, size=n).astype(np.int64)
    langs = ["en", "de", "fr", "zh"]
    texts = RaggedBytes.from_pylist(
        [f"value {langs[i % 4]} {i}".encode() for i in range(n)]
    )
    path = str(tmp_path / f"c_{compression}.parquet")
    write_parquet(
        path,
        [
            {"name": "v", "ptype": "int64", "codec": "delta", "values": ints},
            {"name": "t", "ptype": "string", "codec": "dict", "values": texts},
        ],
        n,
        compression=compression,
    )
    t = pq.read_table(path)
    assert t["v"].to_pylist() == ints.tolist()
    assert t["t"].to_pylist() == [b.decode() for b in texts.to_pylist()]
    rows = duckdb.sql(f"SELECT count(*), sum(v) FROM read_parquet('{path}')").fetchone()
    assert rows[0] == n and rows[1] == int(ints.sum())


def test_list_column_decodes_in_pyarrow_and_duckdb(tmp_path):
    """3-level LIST group with true Dremel rep/def level streams
    (MessageColumnIO semantics): both independent readers must reassemble
    null lists, empty lists, and null elements bit-identically."""
    import duckdb
    import numpy as np
    import pyarrow.parquet as pq

    from pq_engine.interop.parquet_writer import write_parquet
    from pq_engine.nested import ListColumn

    expected = [[1, 2, 3], None, [], [4, None], [5]]
    lens = np.array([3, 0, 0, 2, 1], dtype=np.int64)
    offsets = np.zeros(6, np.int64)
    np.cumsum(lens, out=offsets[1:])
    lv = np.array([True, False, True, True, True])
    cv = np.array([True, True, True, True, False, True])
    child = np.array([1, 2, 3, 4, 5], dtype=np.int64)
    lc = ListColumn(offsets, lv, child, cv)
    path = str(tmp_path / "lists.parquet")
    write_parquet(
        path,
        [{"name": "v", "ptype": "list<int64>", "codec": "plain", "values": lc}],
        5,
    )
    got = pq.read_table(path)["v"].to_pylist()
    assert got == expected
    dd = duckdb.sql(f"SELECT v FROM read_parquet('{path}')").fetchall()
    assert [r[0] for r in dd] == expected


def test_list_string_column_compressed(tmp_path):
    import duckdb
    import numpy as np
    import pyarrow.parquet as pq

    from pq_engine.interop.parquet_writer import write_parquet
    from pq_engine.kernels.ragged import RaggedBytes
    from pq_engine.nested import ListColumn

    rng = np.random.default_rng(4)
    lens = rng.integers(0, 4, size=300).astype(np.int64)
    offsets = np.zeros(301, np.int64)
    np.cumsum(lens, out=offsets[1:])
    words = [f"w{i % 17}".encode() for i in range(int(lens.sum()))]
    lc = ListColumn(offsets, None, RaggedBytes.from_pylist(words), None)
    path = str(tmp_path / "slists.parquet")
    write_parquet(
        path,
        [{"name": "s", "ptype": "list<string>", "codec": "plain", "values": lc}],
        300,
        compression="zstd",
    )
    got = pq.read_table(path)["s"].to_pylist()
    expected, k = [], 0
    for ln in lens:
        expected.append([words[k + j].decode() for j in range(ln)])
        k += int(ln)
    assert got == expected
    n = duckdb.sql(f"SELECT sum(len(s)) FROM read_parquet('{path}')").fetchone()[0]
    assert n == int(lens.sum())


@pytest.mark.parametrize("compression", [None, "zstd"])
def test_data_page_v2_decodes_in_pyarrow_and_duckdb(tmp_path, compression):
    """DataPageV2: uncompressed def levels outside the compressed value
    region, explicit num_nulls (DataPageV2.java semantics)."""
    import duckdb
    import numpy as np
    import pyarrow.parquet as pq

    from pq_engine.interop.parquet_writer import write_parquet
    from pq_engine.kernels.ragged import RaggedBytes

    n = 3000
    rng = np.random.default_rng(6)
    validity = rng.random(n) >= 0.2
    ints = rng.integers(-10**6, 10**6, size=int(validity.sum())).astype(np.int64)
    texts = RaggedBytes.from_pylist([f"s{i % 13}".encode() for i in range(n)])
    path = str(tmp_path / f"v2_{compression}.parquet")
    write_parquet(
        path,
        [
            {"name": "v", "ptype": "int64", "codec": "delta", "values": ints,
             "validity": validity},
            {"name": "t", "ptype": "string", "codec": "dict", "values": texts},
        ],
        n,
        compression=compression,
        page_version=2,
    )
    t = pq.read_table(path)
    expected, k = [], 0
    for ok in validity:
        expected.append(int(ints[k]) if ok else None)
        k += ok
    assert t["v"].to_pylist() == expected
    assert t["t"].to_pylist() == [b.decode() for b in texts.to_pylist()]
    got = duckdb.sql(
        f"SELECT count(v), count(*) FROM read_parquet('{path}')"
    ).fetchone()
    assert got == (int(validity.sum()), n)


def test_typed_logical_columns_interop(tmp_path):
    """FLBA family + date/timestamp/decimal annotations: independent readers
    (pyarrow + DuckDB) must see the right logical types and values."""
    import duckdb
    import numpy as np
    import pyarrow.parquet as pq

    from pq_engine.kernels.fixedlen import (
        float32_to_fixed16,
        interval_to_fixed,
        uuid_strings_to_fixed,
    )
    from pq_engine.interop.parquet_writer import write_parquet

    n = 50
    uuids = [f"{i:08x}-1234-5678-9abc-def012345678" for i in range(n)]
    uuid_rows = uuid_strings_to_fixed(
        np.frombuffer("".join(uuids).encode(), np.uint8).reshape(n, 36)
    )
    halves = float32_to_fixed16(np.arange(n, dtype=np.float32) / 4)
    iv_rows = interval_to_fixed(
        np.arange(n, dtype=np.int32),
        np.full(n, 3, np.int32),
        np.full(n, 7000, np.int32),
    )
    dec_unscaled = np.arange(n, dtype=np.int64) * 1000 - 5000  # decimal(12,2)
    dates = np.arange(n, dtype=np.int32) + 19000
    ts = (np.arange(n, dtype=np.int64) + 1_700_000_000_000) * 1000  # us
    path = str(tmp_path / "typed.parquet")
    write_parquet(
        path,
        [
            {"name": "u", "ptype": "uuid", "codec": "plain", "values": uuid_rows},
            {"name": "h", "ptype": "float16", "codec": "plain", "values": halves},
            {"name": "iv", "ptype": "interval", "codec": "plain", "values": iv_rows},
            {"name": "d", "ptype": "decimal64[12,2]", "codec": "plain",
             "values": dec_unscaled},
            {"name": "dt", "ptype": "date32", "codec": "plain", "values": dates},
            {"name": "t", "ptype": "timestamp_us", "codec": "delta", "values": ts},
        ],
        n,
    )
    tbl = pq.read_table(path)
    assert str(tbl.schema.field("h").type) == "halffloat"
    assert str(tbl.schema.field("d").type) == "decimal128(12, 2)"
    assert str(tbl.schema.field("dt").type) == "date32[day]"
    assert "timestamp[us" in str(tbl.schema.field("t").type)
    assert [str(v) for v in tbl["u"].to_pylist()[:2]] == uuids[:2] or \
        tbl["u"].to_pylist()[0] == bytes.fromhex(uuids[0].replace("-", ""))
    assert tbl["h"].to_pylist()[8] == 2.0
    assert str(tbl["d"].to_pylist()[0]) == "-50.00"
    r = duckdb.sql(f"SELECT typeof(u), typeof(d), typeof(dt), typeof(t), typeof(iv) FROM read_parquet('{path}') LIMIT 1").fetchone()
    assert r[0] == "UUID" and r[1] == "DECIMAL(12,2)" and r[2] == "DATE"
    assert r[3].startswith("TIMESTAMP")
    assert r[4] == "INTERVAL"
    vals = duckdb.sql(
        f"SELECT CAST(u AS VARCHAR), CAST(d AS VARCHAR), CAST(dt AS VARCHAR), CAST(iv AS VARCHAR) FROM read_parquet('{path}') WHERE CAST(dt AS VARCHAR) = '2022-01-08'"
    ).fetchone()
    assert vals is not None


def _variant_cols(n=20):
    from pq_engine.spark.variant_binary import obj_to_variant

    objs = [
        {"id": i, "lang": "en" if i % 2 else "fr", "n": i * 10,
         "tags": ["a", "b"] if i % 3 == 0 else []}
        for i in range(n)
    ]
    ms, vs = zip(*(obj_to_variant(o) for o in objs))
    return objs, [
        {"name": "doc_id", "ptype": "int64", "codec": "plain",
         "values": np.arange(n, dtype=np.int64)},
        {"name": "v", "ptype": "variant", "codec": "plain",
         "values": (RaggedBytes.from_pylist(list(ms)),
                    RaggedBytes.from_pylist(list(vs)))},
    ]


def test_variant_column_read_by_spark_natively(tmp_path, spark):
    """The interop writer emits an unshredded VARIANT group (required binary
    metadata/value + LogicalType union field 16, VariantEncoding.md shape;
    /root/reference/parquet-variant/.../Variant.java consumes this layout).
    Spark's own JVM parquet reader must see a `variant` column and
    variant_get() must extract typed paths — end-to-end interop proof that
    both our thrift footer and our variant binary bytes match the spec."""
    path = str(tmp_path / "v.parquet")
    objs, cols = _variant_cols()
    write_parquet(path, cols, len(objs))
    df = spark.read.parquet(path)
    assert df.schema["v"].dataType.typeName() == "variant"
    got = df.selectExpr(
        "doc_id",
        "variant_get(v, '$.lang', 'string') AS lang",
        "variant_get(v, '$.n', 'long') AS n",
    ).orderBy("doc_id").collect()
    for r, o in zip(got, objs):
        assert r.lang == o["lang"] and r.n == o["n"]


def test_variant_column_read_by_duckdb_structurally(tmp_path):
    """DuckDB (no variant support) skips the unknown LogicalType and exposes
    the group structurally; the raw bytes must round-trip bit-identically
    through variant_to_obj."""
    import duckdb

    from pq_engine.spark.variant_binary import variant_to_obj

    path = str(tmp_path / "v.parquet")
    objs, cols = _variant_cols()
    write_parquet(path, cols, len(objs))
    rows = duckdb.sql(
        f"SELECT doc_id, v.metadata AS m, v.value AS val FROM read_parquet('{path}') ORDER BY doc_id"
    ).fetchall()
    assert len(rows) == len(objs)
    for (doc_id, m, val), o in zip(rows, objs):
        assert variant_to_obj(bytes(m), bytes(val)) == o


def test_variant_column_unannotated_read_by_pyarrow(tmp_path):
    """annotate=False: same chunks, no LogicalType — pyarrow 16 (strict
    thrift: rejects unknown union members) reads the group as a plain
    struct<metadata: binary, value: binary>."""
    from pq_engine.spark.variant_binary import variant_to_obj

    path = str(tmp_path / "v_legacy.parquet")
    objs, cols = _variant_cols()
    cols[1]["annotate"] = False
    write_parquet(path, cols, len(objs))
    tbl = pq.read_table(path)
    assert str(tbl.schema.field("v").type).startswith("struct<metadata")
    for rec, o in zip(tbl["v"].to_pylist(), objs):
        assert variant_to_obj(rec["metadata"], rec["value"]) == o


def test_variant_column_compressed(tmp_path, spark):
    path = str(tmp_path / "v_zstd.parquet")
    objs, cols = _variant_cols(50)
    write_parquet(path, cols, len(objs), compression="zstd")
    got = spark.read.parquet(path).selectExpr(
        "variant_get(v, '$.id', 'long') AS id"
    ).orderBy("id").collect()
    assert [r.id for r in got] == [o["id"] for o in objs]


def test_multi_row_group_stats_and_pruning(tmp_path):
    """r6: row_group_size splits flat columns into banded row groups with
    chunk Statistics + column_orders; pyarrow and DuckDB see the min/max,
    and OUR filtered reader prunes row groups of OUR OWN file."""
    import duckdb
    import pyarrow.parquet as papq

    from pq_engine.interop.parquet_reader import (
        read_parquet_filtered_pandas,
        read_parquet_pandas,
    )

    n = 4000
    strs = [f"k-{i // 100:04d}".encode() for i in range(n)]
    offs = np.zeros(n + 1, np.int64)
    for i, s in enumerate(strs):
        offs[i + 1] = offs[i] + len(s)
    validity = (np.arange(n) % 11) != 0
    path = str(tmp_path / "mrg.parquet")
    write_parquet(path, [
        {"name": "id", "ptype": "int64", "codec": "delta",
         "values": np.arange(n, dtype=np.int64)},
        {"name": "k", "ptype": "string", "codec": "dict",
         "values": RaggedBytes(offs, np.frombuffer(b"".join(strs), np.uint8))},
        {"name": "v", "ptype": "float64", "codec": "plain",
         "values": (np.arange(n) * 0.5)[validity], "validity": validity},
    ], n, compression="snappy", row_group_size=500)

    pf = papq.ParquetFile(path)
    assert pf.metadata.num_row_groups == 8
    st = pf.metadata.row_group(1).column(0).statistics
    assert (st.min, st.max) == (500, 999)
    stv = pf.metadata.row_group(0).column(2).statistics
    assert stv.null_count == sum(1 for i in range(500) if i % 11 == 0)
    assert duckdb.sql(
        f"SELECT count(*), sum(id), count(v) FROM read_parquet('{path}')"
    ).fetchone() == (n, n * (n - 1) // 2, int(validity.sum()))

    df, rep = read_parquet_filtered_pandas(
        path, ("and", ("ge", "id", 1250), ("lt", "id", 1350)))
    assert list(df["id"]) == list(range(1250, 1350))
    assert rep["row_groups_scanned"] == 1 and rep["row_groups_total"] == 8
    df2, rep2 = read_parquet_filtered_pandas(path, ("eq", "k", "k-0021"))
    assert len(df2) == 100 and rep2["row_groups_scanned"] == 1

    full = read_parquet_pandas(path)
    assert len(full) == n and full["k"][150] == "k-0001"


@pytest.mark.parametrize("ptype", ["timestamp_us", "timestamp_ntz_us"])
def test_timestamp_chunk_statistics(tmp_path, ptype):
    """Timestamps carry signed INT64 min/max: pyarrow's row-group
    statistics equal the min/max pyarrow computes over each band, also
    across the sign (pre-1970 values) and with the page index on."""
    import pyarrow.compute as pc
    import pyarrow.parquet as papq

    rng = np.random.default_rng(11)
    n = 3000
    ts = rng.integers(-(10**15), 2 * 10**15, size=n).astype(np.int64)
    path = str(tmp_path / "ts.parquet")
    write_parquet(path, [{"name": "t", "ptype": ptype, "codec": "delta", "values": ts}],
                  n, row_group_size=1000, data_page_rows=250)
    pf = papq.ParquetFile(path)
    col = pf.read()["t"]
    for rg in range(pf.metadata.num_row_groups):
        st = pf.metadata.row_group(rg).column(0).statistics
        band = col.slice(rg * 1000, 1000)
        assert st.has_min_max
        assert (st.min, st.max) == (pc.min(band).as_py(), pc.max(band).as_py())


def test_row_group_size_nested_raises_and_edge_bands(tmp_path):
    from pq_engine.nested import ListColumn

    lc = ListColumn(np.array([0, 2, 3]), None,
                    np.array([1, 2, 3], dtype=np.int64), None)
    with pytest.raises(ValueError, match="row_group_size"):
        write_parquet(str(tmp_path / "x.parquet"), [
            {"name": "l", "ptype": "list<int64>", "values": lc},
            {"name": "id", "ptype": "int64", "codec": "plain",
             "values": np.arange(2, dtype=np.int64)},
        ], 2, row_group_size=1)
    # band size not dividing n_rows: last band is short
    path = str(tmp_path / "odd.parquet")
    write_parquet(path, [
        {"name": "id", "ptype": "int64", "codec": "plain",
         "values": np.arange(7, dtype=np.int64)},
    ], 7, row_group_size=3)
    import pyarrow.parquet as papq

    pf = papq.ParquetFile(path)
    assert [pf.metadata.row_group(i).num_rows for i in range(3)] == [3, 3, 1]
    assert papq.read_table(path)["id"].to_pylist() == list(range(7))


def test_encrypted_multi_row_group_roundtrip(tmp_path):
    """Modular encryption over a multi-row-group file: per-row-group
    module AAD ordinals exercised with rg > 0."""
    from pq_engine.interop.parquet_crypto import decrypt_parquet, encrypt_parquet
    from pq_engine.interop.parquet_reader import read_parquet_pandas

    n = 900
    path = str(tmp_path / "p.parquet")
    write_parquet(path, [
        {"name": "id", "ptype": "int64", "codec": "plain",
         "values": np.arange(n, dtype=np.int64)},
    ], n, row_group_size=300)
    enc = encrypt_parquet(open(path, "rb").read(), b"0123456789012345",
                          aad_mode="spec")
    df = read_parquet_pandas(decrypt_parquet(enc, b"0123456789012345"))
    assert list(df["id"]) == list(range(n))


def test_bloom_filter_write_and_probe(tmp_path):
    """r6: split-block bloom filters in the interop writer (BloomFilterHeader
    + XxHash64 bitset, ColumnMetaData fields 14/15) probed by the filtered
    reader as L3 — groups whose min/max CANNOT prune an eq literal are
    dropped by the bloom; externals still read the file."""
    import duckdb
    import pyarrow.parquet as papq

    from pq_engine.interop.parquet_reader import (
        read_parquet_filtered_pandas,
        read_parquet_pandas,
    )

    n = 1000
    # each group's tag set is distinct but spans aa<g>..zz<g>: stats keep
    # in-range groups, only the bloom can disprove membership. PLAIN
    # encoding on purpose: a dict-coded chunk would now be pruned by the
    # L2 DictionaryFilter BEFORE the bloom is ever consulted (spec order
    # stats -> dictionary -> bloom), hiding the layer under test.
    tags = [(f"aa{i // 250}" if i % 2 == 0 else f"zz{i // 250}").encode()
            for i in range(n)]
    offs = np.zeros(n + 1, np.int64)
    for i, s in enumerate(tags):
        offs[i + 1] = offs[i] + len(s)
    path = str(tmp_path / "bloom.parquet")
    write_parquet(path, [
        {"name": "id", "ptype": "int64", "codec": "plain",
         "values": np.arange(n, dtype=np.int64)},
        {"name": "tag", "ptype": "string", "codec": "plain",
         "values": RaggedBytes(offs, np.frombuffer(b"".join(tags), np.uint8))},
    ], n, row_group_size=250, bloom_columns=["tag", "id"])

    df, rep = read_parquet_filtered_pandas(path, ("eq", "tag", "aa2"))
    assert len(df) == 125 and set(df["tag"]) == {"aa2"}
    # "aa2" < "aa3" so L1 stats drop group 3; the bloom drops groups 0, 1
    assert rep["row_groups_bloom_pruned"] == 2 and rep["blooms_probed"] == 3
    assert rep["row_groups_scanned"] == 1

    df2, rep2 = read_parquet_filtered_pandas(path, ("eq", "tag", "qq9"))
    assert len(df2) == 0 and rep2["row_groups_bloom_pruned"] == 4

    df3, _ = read_parquet_filtered_pandas(path, ("eq", "id", 600))
    assert list(df3["id"]) == [600]

    assert papq.read_table(path).num_rows == n
    assert duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{path}')").fetchone()[0] == n
    assert len(read_parquet_pandas(path)) == n

    # blooms are CARRIED through encryption as their own AES-GCM modules
    # (spec types 8/9, r6): the decrypted file bloom-prunes identically
    from pq_engine.interop.parquet_crypto import decrypt_parquet, encrypt_parquet

    dec = decrypt_parquet(
        encrypt_parquet(open(path, "rb").read(), b"0123456789012345"),
        b"0123456789012345")
    fdf, frep = read_parquet_filtered_pandas(dec, ("eq", "tag", "aa2"))
    assert len(fdf) == 125
    assert frep["row_groups_bloom_pruned"] == 2 and frep["blooms_probed"] == 3


def test_xxhash64_public_vectors():
    from pq_engine.kernels.bloom import plain_hashes, xxhash64_bytes

    # public xxHash64 known-answer vectors (seed 0)
    assert xxhash64_bytes(b"abc") == 0x44BC2CF5AD770999
    assert (xxhash64_bytes(b"Nobody inspects the spammish repetition")
            == 0xFBCEA83C8A378BF1)
    # 8-byte inputs agree with the vectorized column hash
    for v in (0, 1, 2**63 + 12345, 0xDEADBEEFCAFEBABE):
        assert xxhash64_bytes(v.to_bytes(8, "little")) == int(
            plain_hashes(np.array([v], dtype=np.uint64))[0])


def _ragged(strings):
    offs = np.zeros(len(strings) + 1, np.int64)
    for i, s in enumerate(strings):
        offs[i + 1] = offs[i] + len(s)
    return RaggedBytes(offs, np.frombuffer(b"".join(strings), np.uint8))


def test_page_index_write_and_prune(tmp_path):
    """r6: data_page_rows splits flat chunks into multiple data pages and
    emits ColumnIndex + OffsetIndex (ColumnIndexBuilder/OffsetIndexBuilder
    analog); OUR filtered reader page-prunes OUR OWN files (L4), nulls and
    the shared dict page survive page slicing, and pyarrow/DuckDB still
    read the file (the index sits between data and footer, where
    parquet-mr puts it)."""
    import duckdb
    import pyarrow.parquet as papq

    from pq_engine.interop.parquet_reader import (
        read_parquet_filtered_pandas,
        read_parquet_pandas,
    )

    n = 4000
    ids = np.arange(n, dtype=np.int64)
    validity = (np.arange(n) % 11) != 0
    vals = (np.arange(n) % 97).astype(np.float64)
    tags = [f"t{i // 100:03d}".encode() for i in range(n)]
    path = str(tmp_path / "paged.parquet")
    write_parquet(path, [
        {"name": "id", "ptype": "int64", "codec": "plain", "values": ids},
        {"name": "v", "ptype": "float64", "codec": "plain",
         "values": vals[validity], "validity": validity},
        {"name": "tag", "ptype": "string", "codec": "dict",
         "values": _ragged(tags)},
    ], n, row_group_size=1000, data_page_rows=100, compression="snappy")

    df, rep = read_parquet_filtered_pandas(
        path, ("and", ("ge", "id", 2500), ("lt", "id", 2600)))
    assert list(df["id"]) == list(range(2500, 2600))
    assert rep["row_groups_scanned"] == 1 and rep["row_groups_total"] == 4
    # 3 columns x 10 pages in the surviving group; 1 page each survives
    assert rep["pages_total"] == 30 and rep["pages_scanned"] == 3
    # nullable column decodes correctly from the pruned pages
    exp = [None if i % 11 == 0 else float(i % 97) for i in range(2500, 2600)]
    got = [None if v != v else v for v in df["v"]]
    assert got == [None if e is None else e for e in exp]
    assert set(df["tag"]) == {"t025"}

    # string-eq on the dict column prunes pages through the ColumnIndex too
    df2, rep2 = read_parquet_filtered_pandas(path, ("eq", "tag", "t031"))
    assert len(df2) == 100 and set(df2["tag"]) == {"t031"}
    assert rep2["row_groups_scanned"] == 1 and rep2["pages_scanned"] == 3

    # full unfiltered read and the externals agree
    assert len(read_parquet_pandas(path)) == n
    assert papq.read_table(path).num_rows == n
    cnt, sm = duckdb.sql(
        f"SELECT count(*), sum(id) FROM read_parquet('{path}')").fetchone()
    assert cnt == n and sm == int(ids.sum())
    # duckdb sees the same filtered rows our reader decoded
    dd = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{path}') "
        "WHERE id >= 2500 AND id < 2600").fetchone()[0]
    assert dd == len(df)


def test_page_index_v2_null_pages_and_boundary_order(tmp_path):
    """V2 pages get the same index; an all-null page is marked null_pages
    and never matches; a DESCENDING column still prunes (the reader uses
    per-page min/max, boundary order is advisory)."""
    from pq_engine.interop.parquet_reader import read_parquet_filtered_pandas
    from pq_engine.interop.parquet_writer import _boundary_order

    n = 900
    desc = np.arange(n, 0, -1).astype(np.int64)
    validity = np.ones(n, dtype=bool)
    validity[300:600] = False  # middle page of 3 is ALL null
    path = str(tmp_path / "v2paged.parquet")
    write_parquet(path, [
        {"name": "d", "ptype": "int64", "codec": "delta", "values": desc},
        {"name": "x", "ptype": "int64", "codec": "plain",
         "values": np.arange(n, dtype=np.int64)[validity],
         "validity": validity},
    ], n, data_page_rows=300, page_version=2)

    df, rep = read_parquet_filtered_pandas(path, ("lt", "d", 200))
    assert list(df["d"]) == list(range(199, 0, -1))
    assert rep["pages_scanned"] == 2  # last d-page + matching x-page

    # eq inside the all-null page's row span: null page can't match
    df2, rep2 = read_parquet_filtered_pandas(path, ("eq", "x", 450))
    assert len(df2) == 0 and rep2["pages_scanned"] == 0

    assert _boundary_order({
        "ptype": "int64", "null_pages": [False, False],
        "mins": [np.int64(601).tobytes(), np.int64(1).tobytes()],
        "maxs": [np.int64(900).tobytes(), np.int64(600).tobytes()],
    }) == 2
    assert _boundary_order({
        "ptype": "string", "null_pages": [False, False, False],
        "mins": [b"a", b"c", b"b"], "maxs": [b"a", b"c", b"b"],
    }) == 0
    assert _boundary_order({
        "ptype": "int32", "null_pages": [False, True, False],
        "mins": [np.int32(1).tobytes(), b"", np.int32(5).tobytes()],
        "maxs": [np.int32(4).tobytes(), b"", np.int32(9).tobytes()],
    }) == 1


def test_dictionary_filter_pruning(tmp_path):
    """r6: L2 dictionary pruning (DictionaryFilter.canDrop analog) — a
    chunk whose encoding_stats PROVE all data pages are dict-encoded is
    dropped by decoding ONLY its dictionary page when the literal is
    absent from the dictionary but inside the min/max range (where stats
    cannot help). Works on OUR files (we now emit encoding_stats, field
    13) and on pyarrow-written dict files; a PLAIN chunk without the
    proof is never dict-pruned."""
    import pyarrow as pa
    import pyarrow.parquet as papq

    from pq_engine.interop.parquet_reader import read_parquet_filtered_pandas

    n = 1000
    # group g holds {aa<g>, zz<g>}: "mm2" is inside every [min,max]
    tags = [(f"aa{i // 250}" if i % 2 == 0 else f"zz{i // 250}").encode()
            for i in range(n)]
    path = str(tmp_path / "dictprune.parquet")
    write_parquet(path, [
        {"name": "id", "ptype": "int64", "codec": "plain",
         "values": np.arange(n, dtype=np.int64)},
        {"name": "tag", "ptype": "string", "codec": "dict",
         "values": _ragged(tags)},
    ], n, row_group_size=250)

    df, rep = read_parquet_filtered_pandas(path, ("eq", "tag", "mm2"))
    assert len(df) == 0
    assert rep["row_groups_dict_pruned"] == 4 and rep["dicts_probed"] == 4
    assert rep["row_groups_scanned"] == 0

    # a present literal survives L2 in its own group (stats drop group 3,
    # dictionaries drop the other in-range groups)
    df2, rep2 = read_parquet_filtered_pandas(path, ("eq", "tag", "aa2"))
    assert len(df2) == 125 and set(df2["tag"]) == {"aa2"}
    assert rep2["row_groups_dict_pruned"] == 2

    # ordered comparisons evaluate over the dictionary set too (with
    # exact min/max stats L1 subsumes them — the dict path matters for
    # truncated/absent stats — so only the result is asserted here)
    df3, _rep3 = read_parquet_filtered_pandas(path, ("lt", "tag", "aa0"))
    assert len(df3) == 0

    # pyarrow-written dict file: encoding_stats are present -> same prune
    t = pa.table({
        "id": list(range(n)),
        "tag": [("aa" if i % 2 == 0 else "zz") + str(i // 250)
                for i in range(n)],
    })
    pa_path = str(tmp_path / "pa_dict.parquet")
    papq.write_table(t, pa_path, row_group_size=250, use_dictionary=True)
    df4, rep4 = read_parquet_filtered_pandas(pa_path, ("eq", "tag", "mm2"))
    assert len(df4) == 0 and rep4["row_groups_dict_pruned"] == 4

    # PLAIN chunks carry no all-dict proof: never dict-pruned (decoded)
    plain_path = str(tmp_path / "plainprune.parquet")
    write_parquet(plain_path, [
        {"name": "tag", "ptype": "string", "codec": "plain",
         "values": _ragged(tags)},
    ], n, row_group_size=250)
    df5, rep5 = read_parquet_filtered_pandas(plain_path, ("eq", "tag", "mm2"))
    assert len(df5) == 0 and "row_groups_dict_pruned" not in rep5
    assert rep5["row_groups_scanned"] == 4


def test_spark_jvm_reads_our_full_feature_files(tmp_path, spark):
    """Spark's JVM parquet reader IS parquet-java — this is the reference
    implementation decoding OUR writer's output directly: every string/
    numeric encoding, nullable columns, logical types, multi-row-group
    layout with page index + blooms + page CRCs, zstd pages. Values are
    compared cell-by-cell; checksum verification is switched on so the
    CRCs are actually checked by the JVM."""
    import datetime

    n = 2000
    validity = (np.arange(n) % 11) != 0
    tags = [f"tag-{i % 5}".encode() for i in range(n)]
    urls = [f"https://ex.com/{i:06d}".encode() for i in range(n)]
    path = str(tmp_path / "full.parquet")
    write_parquet(path, [
        {"name": "id_delta", "ptype": "int64", "codec": "delta",
         "values": np.arange(n, dtype=np.int64)},
        {"name": "f_bss", "ptype": "float64", "codec": "bss",
         "values": np.arange(n) * 0.5},
        {"name": "s_dict", "ptype": "string", "codec": "dict",
         "values": RaggedBytes.from_pylist(tags)},
        {"name": "s_dlba", "ptype": "string", "codec": "dlba",
         "values": RaggedBytes.from_pylist(urls)},
        {"name": "s_dba", "ptype": "string", "codec": "dba",
         "values": RaggedBytes.from_pylist(urls)},
        {"name": "b", "ptype": "bool", "codec": "plain",
         "values": (np.arange(n) % 3 == 0)},
        {"name": "d", "ptype": "date32", "codec": "plain",
         "values": np.arange(n, dtype=np.int32) + 19000},
        {"name": "nullable_f", "ptype": "float64", "codec": "plain",
         "values": (np.arange(n) * 0.25)[validity], "validity": validity},
    ], n, compression="zstd", row_group_size=500, data_page_rows=100,
        bloom_columns=["s_dict"])
    # full read through parquet-mr's record reader (Spark's vectorized
    # reader predates BYTE_STREAM_SPLIT; the row path is parquet-java's
    # own ColumnReader machinery)
    spark.conf.set("spark.sql.parquet.enableVectorizedReader", "false")
    try:
        df = (spark.read
              .option("parquet.page.verify-checksum.enabled", "true")
              .parquet(path).orderBy("id_delta").collect())
    finally:
        spark.conf.set("spark.sql.parquet.enableVectorizedReader", "true")
    assert len(df) == n
    for i in (0, 1, 499, 500, 1234, n - 1):
        r = df[i]
        assert r.id_delta == i
        assert r.f_bss == i * 0.5
        assert r.s_dict == f"tag-{i % 5}"
        assert r.s_dlba == r.s_dba == f"https://ex.com/{i:06d}"
        assert r.b == (i % 3 == 0)
        assert r.d == datetime.date(1970, 1, 1) + datetime.timedelta(
            days=19000 + i)
        if i % 11 == 0:
            assert r.nullable_f is None
        else:
            assert r.nullable_f == i * 0.25
    # vectorized reader path too (column pruning skips the BSS chunk):
    # JVM-side predicate pushdown over OUR stats still returns the band
    cnt = (spark.read.parquet(path)
           .select("id_delta", "s_dict")
           .where("id_delta >= 600 and id_delta < 700").count())
    assert cnt == 100
