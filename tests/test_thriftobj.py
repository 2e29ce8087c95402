"""From-scratch thrift compact-protocol object model (interop/thriftobj.py)
— spec-level wire checks (cross-checked against the independent
thrift_compact.StructWriter that writes our parquet footers), round-trips,
presence semantics, header-form compatibility, CLI to-thrift/from-thrift."""

import os
import subprocess
import sys
import tempfile

import numpy as np
import pytest

from pq_engine.interop.thrift_compact import StructWriter
from pq_engine.interop.thriftobj import (
    parse_thrift_schema,
    read_thrift,
    thrift_schema,
    write_thrift,
)
from pq_engine.kernels.ragged import RaggedBytes

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_wire_value_bytes_match_structwriter():
    """Value encodings (zigzag varints, uvarint-prefixed strings) must be
    byte-identical to StructWriter's — the writer that produces our parquet
    footers, independently proven by pyarrow/DuckDB reading them."""
    cols = [{"name": "id", "ptype": "int64",
             "values": np.array([-300], dtype=np.int64)}]
    with tempfile.NamedTemporaryFile() as f:
        write_thrift(f.name, "M", cols, 1)
        ours = open(f.name, "rb").read()
    # ours: long-form header (type 6, zigzag fid 1 = 0x02) + zigzag(-300) + STOP
    sw = StructWriter().i64(1, -300).finish()  # short-form header + zigzag + STOP
    # same value bytes after their respective headers
    assert ours[:2] == bytes([0x06, 0x02]) and sw[:1] == bytes([0x16])
    assert ours[2:] == sw[1:]  # zigzag varint payload + STOP identical


def test_reader_accepts_short_form_headers():
    """A struct written with StructWriter's DELTA headers (the common
    compact form) must decode identically — both header forms are spec."""
    raw = (StructWriter().i64(1, 77).string(3, "hey").finish())
    with tempfile.NamedTemporaryFile() as f, \
         tempfile.NamedTemporaryFile("w", suffix=".thrift") as sf:
        f.write(raw)
        f.flush()
        sf.write("struct S {\n  1: required i64 a;\n  3: optional string s;\n}\n")
        sf.flush()
        _, _, recs = read_thrift(f.name, schema_path=sf.name)
    assert recs == [{"a": 77, "s": "hey"}]


def test_roundtrip_all_types_with_nulls():
    n = 40
    rng = np.random.default_rng(9)
    validity = rng.random(n) > 0.3
    nn = int(validity.sum())
    cols = [
        {"name": "i64", "ptype": "int64",
         "values": rng.integers(-(2**62), 2**62, n)},
        {"name": "i32", "ptype": "int32",
         "values": rng.integers(-(2**31), 2**31, n)},
        {"name": "d", "ptype": "float64", "values": rng.standard_normal(n)},
        {"name": "b", "ptype": "bool", "values": rng.random(n) > 0.5},
        {"name": "s", "ptype": "string",
         "values": RaggedBytes.from_pylist([f"v{i}".encode() for i in range(nn)]),
         "validity": validity},
        {"name": "raw", "ptype": "binary",
         "values": RaggedBytes.from_pylist([bytes([i % 256, 0]) for i in range(n)])},
        {"name": "ts", "ptype": "timestamp_us", "values": rng.integers(0, 2**50, n)},
    ]
    with tempfile.NamedTemporaryFile() as f:
        write_thrift(f.name, "T", cols, n)
        name, fields, recs = read_thrift(f.name)
    assert name == "T" and len(recs) == n
    assert [r["i64"] for r in recs] == cols[0]["values"].tolist()
    assert [r["d"] for r in recs] == pytest.approx(cols[2]["values"].tolist())
    assert [r["b"] for r in recs] == cols[3]["values"].tolist()
    vi = 0
    for i, r in enumerate(recs):
        if validity[i]:
            assert r["s"] == f"v{vi}"
            vi += 1
        else:
            assert r["s"] is None
        assert r["raw"] == bytes([i % 256, 0])


def test_presence_empty_string_vs_null_and_required_missing():
    cols = [{
        "name": "s", "ptype": "string",
        "values": RaggedBytes.from_pylist([b"", b"x"]),
        "validity": np.array([True, False, True], dtype=bool),
    }]
    with tempfile.NamedTemporaryFile() as f:
        write_thrift(f.name, "P", cols, 3)
        _, _, recs = read_thrift(f.name)
        assert [r["s"] for r in recs] == ["", None, "x"]
        # a REQUIRED schema over the same bytes must reject absent fields
        with tempfile.NamedTemporaryFile("w", suffix=".thrift") as sf:
            sf.write("struct P {\n  1: required string s;\n}\n")
            sf.flush()
            with pytest.raises(ValueError, match="required"):
                read_thrift(f.name, schema_path=sf.name)


def test_schema_generation_and_parse():
    src = thrift_schema("Doc", [
        {"name": "id", "ptype": "int64"},
        {"name": "price", "ptype": "decimal64[12,2]"},
        {"name": "day", "ptype": "date32", "nullable": True},
    ])
    assert "1: required i64 id;" in src
    assert "2: required i64 price;  // decimal(12,2) unscaled" in src
    assert "3: optional i32 day;" in src
    name, fields = parse_thrift_schema(src)
    assert name == "Doc"
    assert fields[2] == {"number": 3, "optional": True, "thrift_type": "i32",
                         "name": "day"}


def test_unknown_field_skipped_and_truncation_raises():
    cols = [
        {"name": "a", "ptype": "int64", "values": np.array([7, 8], dtype=np.int64)},
        {"name": "extra", "ptype": "string",
         "values": RaggedBytes.from_pylist([b"xx", b"yyy"])},
        {"name": "z", "ptype": "float64", "values": np.array([1.5, 2.5])},
    ]
    with tempfile.NamedTemporaryFile() as f:
        write_thrift(f.name, "V2", cols, 2)
        with tempfile.NamedTemporaryFile("w", suffix=".thrift") as sf:
            sf.write("struct V1 {\n  1: required i64 a;\n  3: required double z;\n}\n")
            sf.flush()
            _, _, recs = read_thrift(f.name, schema_path=sf.name)
            assert recs == [{"a": 7, "z": 1.5}, {"a": 8, "z": 2.5}]
        raw = open(f.name, "rb").read()
        f2 = tempfile.NamedTemporaryFile(delete=False)
        f2.write(raw[:-4])
        f2.close()
        with pytest.raises(ValueError, match="truncated"):
            read_thrift(f2.name, schema_path=f.name + ".thrift")


def test_cli_to_thrift_and_back(spark, tmp_path):
    from pq_engine.datagen import webpages_df
    from pq_engine.spark.engine import decode_table, encode_table

    pages_dir = str(tmp_path / "pages")
    df = webpages_df(spark, 250, partitions=1, seed=17).select("url", "lang", "text")
    encode_table(df).write.parquet(pages_dir)
    tc_path = str(tmp_path / "t.tc")
    back_dir = str(tmp_path / "back")
    for cmd in (["to-thrift", pages_dir, "--out", tc_path],
                ["from-thrift", tc_path, "--out", back_dir]):
        r = subprocess.run(
            [sys.executable, "-m", "pq_engine.cli", *cmd],
            capture_output=True, text=True, timeout=180, cwd=ROOT,
        )
        assert r.returncode == 0, (cmd, r.stderr[-800:])
    name, fields, recs = read_thrift(tc_path)
    assert name == "PqTable" and len(recs) == 250
    back = decode_table(spark.read.parquet(back_dir), ["url", "lang", "text"],
                        ptypes={"url": "string", "lang": "string", "text": "string"})
    got = {r2["url"]: (r2["lang"], r2["text"]) for r2 in back.collect()}
    want = {r2["url"]: (r2["lang"], r2["text"]) for r2 in df.collect()}
    assert got == want
