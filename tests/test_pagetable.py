"""One implementation of each page-table rewrite: the Arrow functions of
``pq_engine.pagetable``, called in process by the CLI and run by
``spark/rewrite.py`` and ``spark/crypto.py``. The two forms give the same
page rows, and a rewrite refuses a page whose CRC no longer matches."""

import argparse

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from pq_engine.cli import _load, cmd_mask, cmd_trans_compression
from pq_engine.datagen import webpages_df
from pq_engine import pagetable
from pq_engine.pages import BLOOM_PAGE, PAGE_BYTES, PAGE_ROWS, decode_column, encode_column
from pq_engine.pagetable import Chunks, page_rows
from pq_engine.spark import crypto
from pq_engine.spark.engine import PAGE_SCHEMA, _encode_arrow_batch, encode_table
from pq_engine.spark.rewrite import mask_hash, mask_nullify, transcode_compression

KEY = bytes(range(16))


@pytest.fixture(scope="module")
def pages_dir(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("pagetable") / "pages")
    df = webpages_df(spark, 3000, partitions=2, seed=6)
    encode_table(df, page_rows=500, with_bloom=True, page_compression="zstd").write.parquet(out)
    return out


def _rows(tbl: pa.Table) -> list[dict]:
    rows = tbl.select(PAGE_SCHEMA.fieldNames()).to_pylist()
    return sorted(rows, key=lambda r: (r["split_id"], r["batch_id"], r["column"], r["page"]))


@pytest.mark.parametrize("rewrite", ["transcode", "nullify", "hash"])
def test_cli_and_spark_give_the_same_page_rows(spark, pages_dir, rewrite, tmp_path):
    pages, tbl, out = spark.read.parquet(pages_dir), _load(pages_dir), str(tmp_path / "out")
    if rewrite == "transcode":
        ours = transcode_compression(pages, "zlib")
        cmd_trans_compression(tbl, argparse.Namespace(out=out, to="zlib"))
    elif rewrite == "nullify":
        ours = mask_nullify(pages, "text")
        cmd_mask(tbl, argparse.Namespace(out=out, column="text", mode="nullify"))
    else:
        ours = mask_hash(pages, "url")
        cmd_mask(tbl, argparse.Namespace(out=out, column="url", mode="hash"))
    assert _rows(ours.toArrow()) == _rows(_load(out))


def test_nullify_keeps_one_all_null_page_per_data_page(spark, pages_dir):
    pages = spark.read.parquet(pages_dir)
    text = mask_nullify(pages, "text").filter(F.col("column") == "text")
    assert text.count() == pages.filter("column = 'text' and page >= 0").count()
    assert text.agg(F.sum("raw_bytes")).first()[0] == 0
    assert text.filter(F.col("null_count") != F.col("n_rows")).count() == 0


def _corrupt_pages(tmp_path) -> str:
    """A page-table directory of one PLAIN int64 chunk whose page 0 had one
    value byte flipped after its CRC was taken."""
    out = encode_column(np.arange(100, dtype=np.int64), "int64", codec="plain")
    tbl = pa.Table.from_batches([page_rows(0, 0, [("c", out)])])
    data = tbl["data"].to_pylist()
    i = tbl["page"].to_pylist().index(0)
    blob = bytearray(data[i])
    blob[9] ^= 1  # [flag 0][value 0: 8 bytes][value 1 ...]
    data[i] = bytes(blob)
    tbl = tbl.set_column(tbl.schema.get_field_index("data"), "data",
                         pa.array(data, pa.large_binary()))
    with pytest.raises(IOError, match="page 0 CRC mismatch"):
        decode_column(Chunks(tbl).pages(0, 0, "c"))
    path = tmp_path / "corrupt"
    path.mkdir()
    pq.write_table(tbl, str(path / "part-0.parquet"))
    return str(path)


def test_cli_transcode_refuses_a_corrupt_page(tmp_path):
    src = _corrupt_pages(tmp_path)
    with pytest.raises(IOError, match="page 0 CRC mismatch"):
        cmd_trans_compression(_load(src), argparse.Namespace(out=str(tmp_path / "z"), to="zstd"))


def test_spark_transcode_refuses_a_corrupt_page(spark, tmp_path):
    pages = spark.read.parquet(_corrupt_pages(tmp_path))
    with pytest.raises(Exception, match="page 0 CRC mismatch"):
        transcode_compression(pages, "zstd").collect()


@pytest.mark.skipif(not crypto.available(), reason="AES-GCM backend not available")
def test_encrypt_refuses_a_corrupt_page(spark, tmp_path):
    pages = spark.read.parquet(_corrupt_pages(tmp_path))
    with pytest.raises(Exception, match="page 0 CRC mismatch"):
        crypto.encrypt_pages(pages, {"c": KEY}).collect()


def _int64_chunk_with_bloom() -> pa.Table:
    """The page rows of one 1,000-row int64 chunk, bloom row included."""
    batch = pa.record_batch({"c": np.arange(1000, dtype=np.int64)})
    rows = _encode_arrow_batch(batch, ["c"], {"c": "int64"}, lambda c: "auto", 0, 0,
                               PAGE_ROWS, PAGE_BYTES, "zstd", True)
    tbl = pa.Table.from_batches([rows])
    assert BLOOM_PAGE in tbl["page"].to_pylist()
    return tbl


@pytest.mark.skipif(not crypto.available(), reason="AES-GCM backend not available")
def test_transcode_refuses_a_sealed_page():
    sealed = pagetable.encrypt(_int64_chunk_with_bloom(), {"c": KEY})
    with pytest.raises(ValueError, match="column 'c' is encrypted: decrypt it"):
        pagetable.transcode(sealed, "zlib")


@pytest.mark.skipif(not crypto.available(), reason="AES-GCM backend not available")
def test_decrypt_gives_back_every_field_of_every_row():
    """Bloom rows included: their CRC is checked before sealing and
    recomputed after authentication, as a data page's is."""
    tbl = _int64_chunk_with_bloom()
    back = pagetable.decrypt(pagetable.encrypt(tbl, {"c": KEY}), {"c": KEY})
    assert back.to_pylist() == tbl.to_pylist()
