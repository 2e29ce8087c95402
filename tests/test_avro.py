"""From-scratch Avro OCF writer/reader (interop/avro.py) — spec-level checks
(zigzag varints, container layout) + round-trips + CLI to-avro."""

import os
import struct
import subprocess
import sys

import numpy as np
import pytest

from pq_engine.interop.avro import (
    MAGIC,
    SYNC,
    read_avro,
    read_zigzag,
    write_avro,
    zigzag_varint_batch,
)
from pq_engine.kernels.ragged import RaggedBytes

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_zigzag_batch_matches_scalar():
    rng = np.random.default_rng(0)
    vals = np.concatenate([
        np.array([0, -1, 1, -2, 2, 63, 64, -64, -65, 2**31, -(2**31),
                  2**62, -(2**62), np.iinfo(np.int64).max,
                  np.iinfo(np.int64).min], dtype=np.int64),
        rng.integers(-(2**62), 2**62, 500, dtype=np.int64),
    ])
    lens, data = zigzag_varint_batch(vals)
    pos = 0
    for i, v in enumerate(vals):
        got, npos = read_zigzag(data, pos)
        assert got == v, (i, v, got)
        assert npos - pos == lens[i]
        pos = npos
    assert pos == len(data)


def test_container_layout():
    import tempfile

    with tempfile.NamedTemporaryFile(suffix=".avro") as f:
        write_avro(f.name, "t", [
            {"name": "a", "ptype": "int64",
             "values": np.arange(5, dtype=np.int64), "validity": None},
        ], 5)
        buf = open(f.name, "rb").read()
        assert buf[:4] == MAGIC
        assert buf.count(SYNC) == 2  # header + one block
        schema, recs = read_avro(f.name)
        assert schema["fields"][0]["type"] == "long"
        assert [r["a"] for r in recs] == [0, 1, 2, 3, 4]


def test_roundtrip_all_types_with_nulls():
    import tempfile

    n = 200
    rng = np.random.default_rng(1)
    valid = rng.random(n) > 0.2
    nz = int(valid.sum())
    strs = RaggedBytes.from_pylist([b"s%d" % i * (i % 5) for i in range(nz)])
    cols = [
        {"name": "i64", "ptype": "int64",
         "values": rng.integers(-(2**40), 2**40, n, dtype=np.int64), "validity": None},
        {"name": "i32", "ptype": "int32",
         "values": rng.integers(-(2**31), 2**31, n, dtype=np.int64), "validity": None},
        {"name": "d", "ptype": "float64", "values": rng.random(n), "validity": None},
        {"name": "f", "ptype": "float32",
         "values": rng.random(n).astype(np.float32), "validity": None},
        {"name": "b", "ptype": "bool", "values": rng.random(n) > 0.5, "validity": None},
        {"name": "s", "ptype": "string", "values": strs, "validity": valid},
        {"name": "ts", "ptype": "timestamp_us",
         "values": rng.integers(0, 2**48, n, dtype=np.int64), "validity": None},
        {"name": "dt", "ptype": "date32",
         "values": rng.integers(0, 30000, n, dtype=np.int64), "validity": None},
        {"name": "dec", "ptype": "decimal64[10,2]",
         "values": rng.integers(-(10**9), 10**9, n, dtype=np.int64), "validity": None},
    ]
    with tempfile.NamedTemporaryFile(suffix=".avro") as f:
        write_avro(f.name, "t", cols, n, block_rows=64)  # multi-block
        schema, recs = read_avro(f.name)
        assert len(recs) == n
        assert [fl["name"] for fl in schema["fields"]] == [c["name"] for c in cols]
        # nullable string: union branch + correct interleave
        vi = 0
        for i, r in enumerate(recs):
            if valid[i]:
                assert r["s"] == ("s%d" % vi) * (vi % 5)
                vi += 1
            else:
                assert r["s"] is None
            assert r["i64"] == cols[0]["values"][i]
            assert struct.pack("<d", r["d"]) == struct.pack("<d", cols[2]["values"][i])
            assert r["dec"] == cols[8]["values"][i]
        assert vi == nz


def test_deflate_codec_roundtrip():
    import tempfile

    n = 1000
    col = RaggedBytes.from_pylist([b"hello avro %d" % (i % 7) for i in range(n)])
    with tempfile.NamedTemporaryFile(suffix=".avro") as f:
        write_avro(f.name, "t", [
            {"name": "s", "ptype": "string", "values": col, "validity": None},
        ], n, codec="deflate")
        _, recs = read_avro(f.name)
        assert len(recs) == n and recs[13]["s"] == "hello avro 6"


def test_cli_to_avro(spark, tmp_path):
    from pq_engine.datagen import webpages_df
    from pq_engine.spark.engine import encode_table

    out = str(tmp_path / "pages")
    df = webpages_df(spark, 500, partitions=1, seed=9).select(
        "url", "warc_ts", "text", "lang"
    )
    encode_table(df).write.parquet(out)
    avro_path = str(tmp_path / "out.avro")
    r = subprocess.run(
        [sys.executable, "-m", "pq_engine.cli", "to-avro", out, "--out", avro_path],
        capture_output=True, text=True, timeout=180, cwd=ROOT,
    )
    assert r.returncode == 0, r.stderr[-800:]
    schema, recs = read_avro(avro_path)
    assert len(recs) == 500
    want = {r2["url"]: r2["text"] for r2 in df.collect()}
    got = {r2["url"]: r2["text"] for r2 in recs}
    assert got == want


def test_cli_from_avro_roundtrip(spark, tmp_path):
    """to-avro then from-avro: the re-encoded page table decodes to the
    original values (the parquet-avro import direction)."""
    from pq_engine.datagen import webpages_df
    from pq_engine.spark.engine import encode_table

    pages_dir = str(tmp_path / "pages")
    df = webpages_df(spark, 300, partitions=1, seed=11).select("url", "lang", "text")
    encode_table(df).write.parquet(pages_dir)
    avro_path = str(tmp_path / "t.avro")
    back_dir = str(tmp_path / "back")
    for cmd in (["to-avro", pages_dir, "--out", avro_path],
                ["from-avro", avro_path, "--out", back_dir]):
        r = subprocess.run(
            [sys.executable, "-m", "pq_engine.cli", *cmd],
            capture_output=True, text=True, timeout=180, cwd=ROOT,
        )
        assert r.returncode == 0, (cmd, r.stderr[-800:])
    back = spark.read.parquet(back_dir)
    from pq_engine.spark.engine import decode_table

    out = decode_table(back, ["url", "lang", "text"],
                       ptypes={"url": "string", "lang": "string", "text": "string"})
    got = {r2["url"]: (r2["lang"], r2["text"]) for r2 in out.collect()}
    want = {r2["url"]: (r2["lang"], r2["text"]) for r2 in df.collect()}
    assert got == want


def test_variant_encode_binary_bridge(spark):
    """JSON column -> binary variant columns -> decode back: both Spark-side
    bridges compose to identity on JSON-expressible values."""
    from pyspark.sql import functions as F

    from pq_engine.spark.variant_binary import (
        variant_decode_json,
        variant_encode_binary,
    )

    df = spark.range(40).select(
        "id",
        F.to_json(F.struct(
            F.col("id").alias("i"),
            (F.col("id") * 0.5).alias("x"),
            F.concat(F.lit("n"), F.col("id")).alias("s"),
        )).alias("js"),
    )
    enc = variant_encode_binary(df, "js")
    dec = variant_decode_json(enc, "vm", "vv", out="js2")
    got = dec.select(
        "id",
        F.get_json_object("js2", "$.i").cast("long").alias("i"),
        F.get_json_object("js2", "$.x").cast("double").alias("x"),
        F.get_json_object("js2", "$.s").alias("s"),
    ).orderBy("id").collect()
    assert got[7]["i"] == 7 and got[7]["x"] == 3.5 and got[7]["s"] == "n7"
    assert len(got) == 40
