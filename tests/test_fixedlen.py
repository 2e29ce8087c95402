"""FIXED_LEN_BYTE_ARRAY physical type + wide logical types (DECIMAL p>18,
UUID, FLOAT16, legacy INT96) — kernel-level and Spark end-to-end.

Reference semantics: PrimitiveType.java:48-69 (FLBA),
LogicalTypeAnnotation.java:547 (Decimal FLBA widths), :1068 (UUID),
:1104 (Float16); INT96 legacy-timestamp read convention."""

import uuid as uuidlib
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from pq_engine.kernels import fixedlen as fl
from pq_engine.pages import decode_column, encode_column, kernel_ptype


# ------------------------------------------------------------------ kernels


def test_decimal_byte_width_table():
    # the reference's precision→bytes mapping (TypeUtil semantics)
    assert fl.decimal_byte_width(1) == 1
    assert fl.decimal_byte_width(2) == 1
    assert fl.decimal_byte_width(3) == 2
    assert fl.decimal_byte_width(18) == 8
    assert fl.decimal_byte_width(19) == 9
    assert fl.decimal_byte_width(38) == 16


def test_uuid_kernel_roundtrip():
    us = [str(uuidlib.uuid5(uuidlib.NAMESPACE_DNS, str(i))) for i in range(64)]
    chars = np.frombuffer("".join(us).encode(), np.uint8).reshape(-1, 36)
    fx = fl.uuid_strings_to_fixed(chars)
    assert fx.shape == (64, 16)
    assert bytes(fx[7]) == uuidlib.UUID(us[7]).bytes
    assert np.array_equal(fl.fixed_to_uuid_strings(fx), chars)


def test_uuid_rejects_malformed():
    bad = np.frombuffer(b"x" * 36, np.uint8).reshape(1, 36)
    with pytest.raises(ValueError):
        fl.uuid_strings_to_fixed(bad)


def test_float16_and_int96_kernels():
    v = np.array([1.5, -0.25, 65504.0, 0.0, -2048.0], np.float32)
    assert np.array_equal(fl.fixed16_to_float32(fl.float32_to_fixed16(v)), v)
    us = np.array([0, 1, -1, 1723800000_000_000, -86400_000_001], np.int64)
    i96 = fl.us_to_int96(us)
    assert i96.shape == (5, 12)
    assert np.array_equal(fl.int96_to_us(i96), us)
    # epoch day sanity: 1970-01-01 00:00:00 → julian 2440588, nanos 0
    row0 = fl.us_to_int96(np.array([0], np.int64))[0]
    assert int.from_bytes(bytes(row0[8:]), "little") == fl.EPOCH_JULIAN_DAY
    assert int.from_bytes(bytes(row0[:8]), "little") == 0


def test_decimal128_conversion_extremes():
    vals = [
        Decimal("9" * 32 + "." + "9" * 6),   # max 38-digit unscaled
        Decimal("-" + "9" * 32 + "." + "9" * 6),
        Decimal("0.000000"),
        Decimal("-0.000001"),
    ]
    arr = pa.array(vals, pa.decimal128(38, 6))
    raw = np.frombuffer(arr.buffers()[1], np.uint8).reshape(-1, 16)
    k = fl.decimal_byte_width(38)
    fx = fl.decimal128_to_fixed(raw, k)
    le = fl.fixed_to_decimal128(fx)
    back = pa.Array.from_buffers(pa.decimal128(38, 6), len(vals), [None, pa.py_buffer(le.tobytes())])
    assert back.to_pylist() == vals


def test_kernel_ptype_mapping():
    assert kernel_ptype("decimal_flba[38,6]") == "fixed[16]"
    assert kernel_ptype("decimal_flba[19,0]") == "fixed[9]"
    assert kernel_ptype("uuid") == "fixed[16]"
    assert kernel_ptype("float16") == "fixed[2]"
    assert kernel_ptype("int96_ts") == "fixed[12]"
    assert kernel_ptype("fixed[7]") == "fixed[7]"


# ------------------------------------------------------------------ pages


@pytest.mark.parametrize("codec", ["plain", "bss", "dba", "dict", "auto"])
@pytest.mark.parametrize("compression", [None, "zstd"])
def test_fixed_page_roundtrip(codec, compression):
    rng = np.random.default_rng(3)
    vals = rng.integers(0, 256, (900, 9)).astype(np.uint8)
    vals[rng.integers(0, 900, 400)] = vals[1]  # duplicates for the dict path
    validity = rng.random(1000) > 0.15
    vals = vals[: int(validity.sum())]
    pages = encode_column(
        vals, "fixed[9]", validity=validity, codec=codec,
        page_rows=128, page_compression=compression,
    )
    v2, va2 = decode_column(pages)
    assert np.array_equal(v2, vals)
    assert np.array_equal(va2, validity)


def test_fixed_empty_decode():
    v, va = decode_column([], "uuid")
    assert v.shape == (0, 16) and va is None


def test_fixed_dict_chunk_page_shared():
    # low-NDV FLBA column → one dict page (page=-2) + dict data pages
    vals = np.tile(np.arange(4 * 9, dtype=np.uint8).reshape(4, 9), (250, 1))
    pages = encode_column(vals, "fixed[9]", codec="auto", page_rows=100)
    codecs = {m["codec"] for m, _ in pages}
    assert "dictpage" in codecs and "dict" in codecs
    v2, _ = decode_column(pages)
    assert np.array_equal(v2, vals)


_SLICED_FIXED = """
import sys
import numpy as np, pyarrow as pa
from pq_engine.spark.engine import _arrow_to_values
nulls = sys.argv[1] == "nulls"
rows = [None if nulls and i % 5 == 0 else bytes([i % 251]) * 16 for i in range(50_000)]
arr = pa.array(rows, pa.binary(16)).slice(30_000)
values, validity = _arrow_to_values(arr, "fixed[16]")
want = [r for r in rows[30_000:] if r is not None]
assert values.shape == (len(want), 16)
assert [bytes(v) for v in values] == want
assert (validity is not None) == nulls
"""


@pytest.mark.parametrize("nulls", ["nulls", "dense"])
def test_sliced_fixed_column_to_values(nulls):
    """A ``fixed_size_binary`` array with a non-zero offset (a table split
    by ``to_batches``) converts to the values of its own rows. Run in a
    child process: casting such an array crashes pyarrow 16."""
    import subprocess
    import sys
    from pathlib import Path

    r = subprocess.run([sys.executable, "-c", _SLICED_FIXED, nulls],
                       cwd=Path(__file__).resolve().parents[1],
                       capture_output=True, text=True, timeout=300)
    assert r.returncode == 0, (r.returncode, r.stderr[-2000:])


# ------------------------------------------------------------------ spark e2e


def test_spark_wide_decimal_decode_table(spark):
    from pq_engine.spark.engine import decode_table, encode_table, table_ptypes

    df = spark.range(500).select(
        F.col("id"),
        (
            F.col("id").cast("decimal(19,0)")
            * F.lit("999999999999999937").cast("decimal(19,0)")
        ).alias("dv"),
    )
    assert df.schema["dv"].dataType.precision == 38
    back = decode_table(encode_table(df), ["id", "dv"], ptypes=table_ptypes(df))
    assert back.orderBy("id").collect() == df.orderBy("id").collect()


def test_spark_uuid_float16_int96_roundtrip(spark):
    from pq_engine.spark.engine import roundtrip_column

    df = spark.range(300).select(
        "id",
        F.concat_ws(
            "-",
            F.substring(F.md5(F.col("id").cast("string")), 1, 8),
            F.substring(F.md5(F.col("id").cast("string")), 9, 4),
            F.substring(F.md5(F.col("id").cast("string")), 13, 4),
            F.substring(F.md5(F.col("id").cast("string")), 17, 4),
            F.substring(F.md5(F.col("id").cast("string")), 21, 12),
        ).alias("u"),
        (F.col("id") % 1024).cast("float").alias("h"),
        F.timestamp_micros(F.col("id") * 1_000_003).alias("ts"),
    )
    for col, ptype in [("u", "uuid"), ("h", "float16"), ("ts", "int96_ts")]:
        rt = roundtrip_column(df, col, codec="plain", ptype=ptype)
        assert rt.orderBy("id").collect() == df.orderBy("id").collect(), ptype


def test_worker_read_flba_parquet(spark, tmp_path):
    """encode_parquet_files consumes FLBA-bearing parquet (decimal128 wide,
    fixed_size_binary, float16) via arrow_type_to_ptype."""
    import pyarrow.parquet as pq

    from pq_engine.spark.engine import arrow_type_to_ptype, decode_table, encode_parquet_files

    n = 200
    tbl = pa.table(
        {
            "id": pa.array(range(n), pa.int64()),
            "dec": pa.array(
                [Decimal(i * 10**20 + 7) / 10**2 for i in range(n)], pa.decimal128(38, 2)
            ),
            "fsb": pa.array([i.to_bytes(8, "big") for i in range(n)], pa.binary(8)),
            "half": pa.array(np.arange(n, dtype=np.float16)),
        }
    )
    pq.write_table(tbl, str(tmp_path / "flba.parquet"))
    assert arrow_type_to_ptype(tbl.schema.field("dec").type) == "decimal_flba[38,2]"
    assert arrow_type_to_ptype(tbl.schema.field("fsb").type) == "fixed[8]"
    assert arrow_type_to_ptype(tbl.schema.field("half").type) == "float16"
    pages = encode_parquet_files(spark, str(tmp_path / "flba.parquet"))
    ptypes = {
        "id": "int64", "dec": "decimal_flba[38,2]", "fsb": "fixed[8]", "half": "float16"
    }
    back = decode_table(pages, ["id", "dec", "fsb", "half"], ptypes=ptypes).orderBy("id")
    rows = back.collect()
    assert len(rows) == n
    assert rows[5]["dec"] == Decimal(5 * 10**20 + 7) / 10**2
    assert rows[5]["fsb"] == (5).to_bytes(8, "big")
    assert rows[5]["half"] == 5.0


# --------------------------------------------------------- pushdown probes


def test_fixed_bloom_keys_match_probe():
    from pq_engine.kernels.bloom import literal_hash, plain_hashes
    from pq_engine.kernels.fixedlen import float32_to_fixed16, value_to_fixed

    u = "6fa459ea-ee8a-3ca4-894e-db77e160355e"
    col_keys = plain_hashes(value_to_fixed(u, "uuid"))
    assert int(col_keys[0]) == literal_hash(u, "uuid")
    stored = plain_hashes(value_to_fixed("123.45", "decimal_flba[38,6]"))
    assert literal_hash("123.45", "decimal_flba[38,6]") == literal_hash(
        "123.450000", "decimal_flba[38,6]"
    ) == int(stored[0])
    halves = plain_hashes(float32_to_fixed16(np.array([1.5, 2.5], np.float32)))
    assert literal_hash(1.5, "float16") == int(halves[0]) != int(halves[1])


def test_uuid_bloom_pushdown_end_to_end(spark):
    """UUID point lookup: bloom rows prune chunks that can't contain the id."""
    from pyspark.sql import functions as F

    from pq_engine.spark.engine import (
        decode_table, encode_table, prune_pages_by_bloom, table_ptypes,
    )

    m = F.md5(F.col("id").cast("string"))
    df = spark.range(4000).select(
        "id",
        F.concat_ws(
            "-", F.substring(m, 1, 8), F.substring(m, 9, 4),
            F.substring(m, 13, 4), F.substring(m, 17, 4), F.substring(m, 21, 12),
        ).alias("u"),
    ).repartition(8)
    probe = df.filter(F.col("id") == 1234).collect()[0]["u"]
    pages = encode_table(
        df, with_bloom=True, ptype_overrides={"u": "uuid"}, codec="plain"
    )
    pruned = prune_pages_by_bloom(pages, "u", probe)
    n_all = pages.filter(F.col("page") >= 0).count()
    n_kept = pruned.filter(F.col("page") >= 0).count()
    assert n_kept < n_all  # most chunks disproved by their blooms
    ptypes = table_ptypes(df)
    ptypes["u"] = "uuid"
    back = decode_table(pruned, ["id", "u"], ptypes=ptypes)
    rows = back.filter(F.col("u") == probe).collect()
    assert [r["id"] for r in rows] == [1234]  # never prunes the true hit


def test_fixed_dictionary_pushdown(spark):
    from pyspark.sql import functions as F

    from pq_engine.spark.engine import encode_table, prune_pages_by_dictionary

    # low-NDV fixed[8] column: 4 distinct ids
    df = spark.range(2000).select(
        "id", F.unhex(F.lpad(F.hex(F.col("id") % 4), 16, "0")).alias("fx")
    ).repartition(4)
    pages = encode_table(df, codec={"fx": "dict", "id": "auto"},
                         ptype_overrides={"fx": "fixed[8]"})
    absent = (99).to_bytes(8, "big")
    pruned = prune_pages_by_dictionary(pages, "fx", absent)
    assert pruned.count() == 0  # every chunk's dict disproves the probe
    present = (2).to_bytes(8, "big")
    kept = prune_pages_by_dictionary(pages, "fx", present)
    assert kept.count() == pages.count()


def test_interval_flba12_roundtrip(spark):
    """INTERVAL logical type (FLBA(12) months/days/millis LE triple) —
    LogicalTypeAnnotation.java IntervalLogicalTypeAnnotation."""
    from pyspark.sql import functions as F

    from pq_engine.spark.engine import decode_table, encode_table

    df = spark.createDataFrame(
        [
            (1, (14, 3, 72_000_000)),
            (2, (-2, 0, 500)),
            (3, None),
            (4, (0, 31, 0)),
        ],
        "id long, iv struct<months:int, days:int, millis:int>",
    ).coalesce(1)
    pages = encode_table(df, ptype_overrides={"iv": "interval"}).cache()
    assert {r["ptype"] for r in pages.filter(F.col("column") == "iv").collect()} == {"interval"}
    back = decode_table(pages, ["id", "iv"], ptypes={"id": "int64", "iv": "interval"})
    got = {r["id"]: (tuple(r["iv"]) if r["iv"] is not None else None) for r in back.collect()}
    assert got == {1: (14, 3, 72_000_000), 2: (-2, 0, 500), 3: None, 4: (0, 31, 0)}


def test_interval_value_to_fixed_probe():
    import numpy as np

    from pq_engine.kernels.fixedlen import fixed_to_interval, interval_to_fixed, value_to_fixed

    rows = value_to_fixed((14, 3, 500), "interval")
    assert rows.shape == (1, 12)
    m, d, ms = fixed_to_interval(rows)
    assert (m[0], d[0], ms[0]) == (14, 3, 500)
    many = interval_to_fixed(
        np.array([1, -5], np.int32), np.array([2, 6], np.int32), np.array([3, 7], np.int32)
    )
    m, d, ms = fixed_to_interval(many)
    assert m.tolist() == [1, -5] and d.tolist() == [2, 6] and ms.tolist() == [3, 7]
