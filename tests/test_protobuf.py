"""From-scratch proto3 wire format (interop/protobuf.py) — spec-level checks
(uvarint batch, tag layout, field presence), round-trips, forward-compat
unknown-field skipping, and the CLI to-protobuf / from-protobuf pair."""

import os
import subprocess
import sys
import tempfile

import numpy as np
import pytest

from pq_engine.interop.protobuf import (
    _scalar_uvarint,
    parse_proto_schema,
    proto_schema,
    read_protobuf,
    read_uvarint,
    uvarint_batch,
    write_protobuf,
)
from pq_engine.kernels.ragged import RaggedBytes

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_uvarint_batch_matches_scalar():
    vals = [0, 1, 127, 128, 300, 2**21 - 1, 2**21, 2**63 - 1, 2**64 - 1]
    lens, data = uvarint_batch(np.array(vals, dtype=np.uint64))
    pos = 0
    for v, ln in zip(vals, lens):
        assert data[pos : pos + ln].tobytes() == _scalar_uvarint(v)
        got, newpos = read_uvarint(data.tobytes(), pos)
        assert got == v and newpos == pos + ln
        pos += ln


def test_wire_golden_simple_message():
    """Hand-checked wire bytes: sint64 id=1 value 3 -> tag 0x08, zigzag 6;
    string s=2 'hi' -> tag 0x12, len 2. Spec-level, not round-trip."""
    cols = [
        {"name": "id", "ptype": "int64", "values": np.array([3], dtype=np.int64)},
        {"name": "s", "ptype": "string", "values": RaggedBytes.from_pylist([b"hi"])},
    ]
    with tempfile.NamedTemporaryFile() as f:
        write_protobuf(f.name, "M", cols, 1)
        raw = open(f.name, "rb").read()
    # delimited: msg len 6, then 08 06 12 02 68 69
    assert raw == bytes([6, 0x08, 0x06, 0x12, 0x02, 0x68, 0x69])


def test_roundtrip_all_types_with_nulls():
    n = 50
    rng = np.random.default_rng(5)
    validity = rng.random(n) > 0.3
    nn = int(validity.sum())
    cols = [
        {"name": "i64", "ptype": "int64",
         "values": rng.integers(-(2**62), 2**62, n)},
        {"name": "i32", "ptype": "int32",
         "values": rng.integers(-(2**31), 2**31, n)},
        {"name": "d", "ptype": "float64", "values": rng.standard_normal(n)},
        {"name": "f", "ptype": "float32",
         "values": rng.standard_normal(n).astype(np.float32)},
        {"name": "b", "ptype": "bool", "values": rng.random(n) > 0.5},
        {"name": "s", "ptype": "string",
         "values": RaggedBytes.from_pylist(
             [f"v{i}".encode() for i in range(nn)]),
         "validity": validity},
        {"name": "raw", "ptype": "binary",
         "values": RaggedBytes.from_pylist(
             [bytes([i % 256, 0xFF]) for i in range(n)])},
        {"name": "ts", "ptype": "timestamp_us",
         "values": rng.integers(0, 2**50, n)},
    ]
    with tempfile.NamedTemporaryFile() as f:
        write_protobuf(f.name, "T", cols, n)
        name, fields, recs = read_protobuf(f.name)
    assert name == "T" and len(recs) == n
    assert [r["i64"] for r in recs] == cols[0]["values"].tolist()
    assert [r["i32"] for r in recs] == cols[1]["values"].tolist()
    assert [r["d"] for r in recs] == pytest.approx(cols[2]["values"].tolist())
    assert [r["b"] for r in recs] == cols[4]["values"].tolist()
    vi = 0
    for i, r in enumerate(recs):
        if validity[i]:
            assert r["s"] == f"v{vi}"
            vi += 1
        else:
            assert r["s"] is None
        assert r["raw"] == bytes([i % 256, 0xFF])


def test_proto3_presence_empty_string_vs_null():
    """proto3 explicit presence: null = absent field, empty string = present
    zero-length field — they must NOT collapse."""
    cols = [{
        "name": "s", "ptype": "string",
        "values": RaggedBytes.from_pylist([b"", b"x"]),
        "validity": np.array([True, False, True], dtype=bool),
    }]
    with tempfile.NamedTemporaryFile() as f:
        write_protobuf(f.name, "P", cols, 3)
        _, _, recs = read_protobuf(f.name)
    assert [r["s"] for r in recs] == ["", None, "x"]


def test_schema_generation_and_parse():
    src = proto_schema("Doc", [
        {"name": "id", "ptype": "int64"},
        {"name": "price", "ptype": "decimal64[12,2]"},
        {"name": "day", "ptype": "date32", "nullable": True},
        {"name": "u", "ptype": "uuid"},
    ])
    assert 'syntax = "proto3";' in src
    assert "sint64 price = 2;  // decimal(12,2) unscaled" in src
    assert "optional sint32 day = 3;" in src
    name, fields = parse_proto_schema(src)
    assert name == "Doc"
    assert fields[2] == {"name": "day", "proto_type": "sint32", "number": 3,
                         "optional": True}


def test_unknown_field_skipped_forward_compat():
    """A reader with an OLDER schema must skip unknown field numbers by wire
    type (the protobuf compat rule)."""
    cols = [
        {"name": "a", "ptype": "int64", "values": np.array([7, 8], dtype=np.int64)},
        {"name": "extra", "ptype": "string",
         "values": RaggedBytes.from_pylist([b"xx", b"yyy"])},
        {"name": "z", "ptype": "float64", "values": np.array([1.5, 2.5])},
    ]
    with tempfile.NamedTemporaryFile() as f:
        write_protobuf(f.name, "V2", cols, 2)
        # old schema: only fields 1 and 3
        old = 'syntax = "proto3";\nmessage V1 {\n  sint64 a = 1;\n  double z = 3;\n}\n'
        with tempfile.NamedTemporaryFile("w", suffix=".proto") as sf:
            sf.write(old)
            sf.flush()
            _, _, recs = read_protobuf(f.name, schema_path=sf.name)
    assert recs == [{"a": 7, "z": 1.5}, {"a": 8, "z": 2.5}]


def test_truncated_stream_raises():
    cols = [{"name": "s", "ptype": "string",
             "values": RaggedBytes.from_pylist([b"hello world"])}]
    with tempfile.NamedTemporaryFile() as f:
        write_protobuf(f.name, "T", cols, 1)
        raw = open(f.name, "rb").read()
        f2 = tempfile.NamedTemporaryFile(delete=False)
        f2.write(raw[:-3])
        f2.close()
        with pytest.raises(ValueError, match="truncated"):
            read_protobuf(f2.name, schema_path=f.name + ".proto")


def test_cli_to_protobuf_and_back(spark, tmp_path):
    """to-protobuf then from-protobuf: the re-encoded page table decodes to
    the original values (ProtoParquetWriter direction + its inverse)."""
    from pq_engine.datagen import webpages_df
    from pq_engine.spark.engine import decode_table, encode_table

    pages_dir = str(tmp_path / "pages")
    df = webpages_df(spark, 300, partitions=1, seed=13).select("url", "lang", "text")
    encode_table(df).write.parquet(pages_dir)
    pb_path = str(tmp_path / "t.pb")
    back_dir = str(tmp_path / "back")
    for cmd in (["to-protobuf", pages_dir, "--out", pb_path],
                ["from-protobuf", pb_path, "--out", back_dir]):
        r = subprocess.run(
            [sys.executable, "-m", "pq_engine.cli", *cmd],
            capture_output=True, text=True, timeout=180, cwd=ROOT,
        )
        assert r.returncode == 0, (cmd, r.stderr[-800:])
    name, fields, recs = read_protobuf(pb_path)
    assert name == "PqTable" and len(recs) == 300
    back = decode_table(spark.read.parquet(back_dir), ["url", "lang", "text"],
                        ptypes={"url": "string", "lang": "string", "text": "string"})
    got = {r2["url"]: (r2["lang"], r2["text"]) for r2 in back.collect()}
    want = {r2["url"]: (r2["lang"], r2["text"]) for r2 in df.collect()}
    assert got == want
