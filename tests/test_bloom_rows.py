"""Engine bloom rows hold the spec's hash (XxHash64 of each value's PLAIN
bytes) under ``BLOOM_CODEC`` with a real CRC32, checked before every use:
the chunk pruner, the CLI probe, the export and encryption raise on a
corrupt row. Rows of the earlier hash scheme (codec ``"bloom"``, crc32 0)
are never used to disprove a chunk nor copied into an export, so an old
page table still returns every matching row."""

import argparse
import contextlib
import io
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from pq_engine import pagetable
from pq_engine.cli import cmd_bloom_filter, cmd_to_parquet
from pq_engine.interop.parquet_reader import read_parquet_filtered
from pq_engine.kernels.bloom import (
    BlockSplitBloomFilter,
    literal_hash,
    optimal_num_bytes,
    plain_hashes,
)
from pq_engine.pages import BLOOM_CODEC, BLOOM_PAGE, PAGE_BYTES, PAGE_ROWS
from pq_engine.spark import crypto, filterapi as P
from pq_engine.spark.engine import _encode_arrow_batch, bloom_disproved, decode_table

N_CHUNKS, ROWS = 4, 500
PTYPES = {"s": "string", "i": "int32", "u": "uuid", "k": "int64"}
COLUMNS = list(PTYPES)


def _ints(split: int) -> np.ndarray:
    # chunk j holds the multiples of 7 that are 7j mod 28: every chunk spans
    # the same range, so only the bloom level tells them apart
    return ((np.arange(ROWS) * N_CHUNKS + split) * 7).astype(np.int32)


def _value(column: str, i: int):
    return {"s": f"key-{i}", "i": i, "u": str(uuid.UUID(int=i)), "k": i}[column]


def _table() -> pa.Table:
    """N_CHUNKS chunks of PLAIN pages (no dictionary level) with blooms."""
    batches = []
    for split in range(N_CHUNKS):
        ints = _ints(split)
        batch = pa.record_batch({
            "s": [_value("s", int(i)) for i in ints],
            "i": ints,
            "u": [_value("u", int(i)) for i in ints],
            "k": ints.astype(np.int64),
        })
        batches.append(_encode_arrow_batch(batch, COLUMNS, PTYPES, lambda c: "plain", split, 0,
                                           PAGE_ROWS, PAGE_BYTES, "zstd", True))
    return pa.Table.from_batches(batches)


def _rows(tbl: pa.Table, column: str):
    return pc.and_(pc.equal(tbl["column"], column), pc.equal(tbl["page"], BLOOM_PAGE))


def _fnv(rows) -> np.ndarray:
    """The earlier scheme's FNV-1a u64 key of each byte string."""
    out = []
    for b in rows:
        h = 0xCBF29CE484222325
        for x in b:
            h = ((h ^ x) * 0x100000001B3) & (2**64 - 1)
        out.append(h)
    return np.array(out, dtype=np.uint64)


def _old_scheme(tbl: pa.Table) -> pa.Table:
    """``tbl`` with every bloom row rebuilt the earlier way: 4-byte values
    widened to 8, strings and FLBA rows keyed by FNV-1a, XxHash64 over the
    8-byte key; codec ``"bloom"`` and crc32 0."""
    data, codec, crc = (tbl[k].to_pylist() for k in ("data", "codec", "crc32"))
    for r, (split, column, page) in enumerate(zip(*(tbl[k].to_pylist() for k in (
            "split_id", "column", "page")))):
        if page != BLOOM_PAGE:
            continue
        ints = _ints(split)
        if column == "s":
            keys = _fnv([_value("s", int(i)).encode() for i in ints])
        elif column == "u":
            keys = _fnv([uuid.UUID(int=int(i)).bytes for i in ints])
        else:
            keys = ints.astype(np.int64).view(np.uint64)
        bf = BlockSplitBloomFilter(optimal_num_bytes(len(np.unique(keys)), 0.01))
        bf.insert_hashes(plain_hashes(keys))  # XxHash64 of the 8-byte key
        data[r], codec[r], crc[r] = bf.serialize(), "bloom", 0
    return pagetable._replace(tbl, data=data, codec=codec, crc32=crc)


def _cli_probe(tbl: pa.Table, column: str, value) -> list[str]:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        cmd_bloom_filter(tbl, argparse.Namespace(column=column, value=str(value)))
    return buf.getvalue().splitlines()


def _export(tbl: pa.Table, out) -> str:
    with contextlib.redirect_stdout(io.StringIO()):
        cmd_to_parquet(tbl, argparse.Namespace(out=str(out), to="zstd"))
    return str(out)


ALL = {(split, 0) for split in range(N_CHUNKS)}
PRESENT = int(_ints(2)[10])  # in chunk 2 only
ABSENT = [7 * k + 3 for k in range(40, 60)]  # in every chunk's min/max range, in none


def _literal(column: str, i: int):
    """The interop reader's literal: a UUID as its 16 stored bytes."""
    return uuid.UUID(int=i).bytes if column == "u" else _value(column, i)


@pytest.mark.parametrize("column", COLUMNS)
def test_bloom_rows_disprove_the_chunks_without_the_key(column):
    tbl = _table()
    rows = tbl.filter(_rows(tbl, column))
    assert rows.num_rows == N_CHUNKS
    assert set(rows["codec"].to_pylist()) == {BLOOM_CODEC}
    assert all(crc != 0 for crc in rows["crc32"].to_pylist())
    kept_without_key = 0
    for split in range(N_CHUNKS):
        for i in _ints(split)[::50]:
            out = bloom_disproved(tbl, column, _value(column, int(i)))
            assert (split, 0) not in out  # never a false negative
            kept_without_key += N_CHUNKS - 1 - len(out)
    for i in ABSENT:
        kept_without_key += N_CHUNKS - len(bloom_disproved(tbl, column, _value(column, i)))
    # 200 (key, chunk without it) probes at a 1% false-positive target
    assert kept_without_key <= 10, kept_without_key
    assert _cli_probe(tbl, column, _value(column, PRESENT))[2].endswith("=True")


def test_bloom_row_is_a_parquet_bloom_filter(tmp_path):
    # every bloom row is copied, and the interop reader probes it with the
    # spec's hash, then finds the row of a present key (a uuid too)
    out = _export(_table(), tmp_path / "out.parquet")
    for column in COLUMNS:
        for key, matched in ((PRESENT, 1), (ABSENT[0], 0)):
            _, data, report = read_parquet_filtered(out, ("eq", column, _literal(column, key)))
            assert report["blooms_probed"] == N_CHUNKS, column
            assert report["rows_matched"] == matched, column
            assert len(data[column][0]) == matched, column
            if column == "u" and matched:
                assert bytes(data["u"][0][0]) == _literal("u", key)
    # FLBA rows compare by equality only
    with pytest.raises(ValueError, match="'lt'"):
        read_parquet_filtered(out, ("lt", "u", _literal("u", PRESENT)))


@pytest.mark.parametrize("literal", [str, uuid.UUID], ids=["str", "UUID"])
def test_uuid_literal_finds_its_row(tmp_path, literal):
    """A uuid literal given as its text or as a ``UUID`` converts to the 16
    stored bytes, for the bloom probe and the row compare alike."""
    out = _export(_table(), tmp_path / "out.parquet")
    key = uuid.UUID(int=PRESENT)
    _, data, report = read_parquet_filtered(out, ("eq", "u", literal(str(key))))
    assert report["blooms_probed"] == N_CHUNKS
    assert report["rows_matched"] == 1
    assert bytes(data["u"][0][0]) == key.bytes


def _zeroed(tbl: pa.Table, column: str) -> pa.Table:
    """``tbl`` with ``column``'s bloom rows zeroed, their CRCs kept."""
    zero = _rows(tbl, column).to_pylist()
    return pagetable._replace(tbl, data=[bytes(len(b)) if z else b for b, z in zip(
        tbl["data"].to_pylist(), zero)])


def test_a_corrupt_bloom_row_raises_before_use(tmp_path):
    bad = _zeroed(_table(), "k")
    with pytest.raises(IOError, match="CRC mismatch"):
        _export(bad, tmp_path / "out.parquet")
    with pytest.raises(IOError, match="CRC mismatch"):
        bloom_disproved(bad, "k", PRESENT)
    with pytest.raises(IOError, match="CRC mismatch"):
        _cli_probe(bad, "k", PRESENT)
    if crypto.available():
        with pytest.raises(IOError, match="CRC mismatch"):
            pagetable.encrypt(bad, {"k": bytes(range(16))})


def test_filter_pages_raises_on_a_corrupt_bloom_row(spark, tmp_path):
    path = tmp_path / "pages"
    path.mkdir()
    pq.write_table(_zeroed(_table(), "s"), str(path / "part-0.parquet"))
    pages = spark.read.parquet(str(path))
    with pytest.raises(IOError, match="CRC mismatch"):
        P.filter_pages(pages, P.eq("s", _value("s", PRESENT)))


def test_old_scheme_rows_prune_no_chunk_and_are_not_exported(tmp_path):
    old = _old_scheme(_table())
    for column in ("s", "i", "u"):
        value = _value(column, PRESENT)
        # probed with today's hash, an old row misses its own values ...
        blob = old.filter(_rows(old, column))["data"][2].as_py()
        assert not BlockSplitBloomFilter.deserialize(blob).contains_hashes(
            np.array([literal_hash(value, PTYPES[column])], dtype=np.uint64))[0]
    for column in COLUMNS:
        # ... so none disproves a chunk, nor reads as absent in the CLI
        assert bloom_disproved(old, column, _value(column, PRESENT)) == set()
        assert bloom_disproved(old, column, _value(column, ABSENT[0])) == set()
        lines = _cli_probe(old, column, _value(column, PRESENT))
        assert len(lines) == N_CHUNKS and all(line.endswith("=True") for line in lines)
    out = _export(old, tmp_path / "out.parquet")
    for column in COLUMNS:
        _, _, report = read_parquet_filtered(out, ("eq", column, _literal(column, PRESENT)))
        assert report.get("blooms_probed", 0) == 0 and report["rows_matched"] == 1, column


def test_filter_pages_on_an_old_table_keeps_every_match(spark, tmp_path):
    path = tmp_path / "pages"
    path.mkdir()
    pq.write_table(_old_scheme(_table()), str(path / "part-0.parquet"))
    pages = spark.read.parquet(str(path))
    for column in ("s", "i", "u"):
        kept = P.filter_pages(pages, P.eq(column, _value(column, PRESENT)))
        assert kept.select("split_id").distinct().count() == N_CHUNKS
        out = decode_table(kept, [column], ptypes={column: PTYPES[column]})
        assert out.filter(F.col(column) == _value(column, PRESENT)).count() == 1
