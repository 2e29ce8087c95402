"""Session-level settings and the Python worker boundary: decode shuffle
balance, worker process tuning, and the size of the Arrow batches a decode
task hands back to the JVM."""

import os
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from pq_engine.spark.engine import _RETURN_BATCH_BYTES, _bounded_batches, decode_table, encode_table
from pq_engine.spark.session import get_spark

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def equal_chunks(spark):
    """A page table of 2 x defaultParallelism chunks of equal size: one
    input partition per chunk, one Arrow batch per partition. ``s`` holds
    128 random bytes a row, so a chunk stores about 2 MiB; ``id`` stores a
    few bytes a chunk."""
    n_chunks = 2 * spark.sparkContext.defaultParallelism
    rows = 16_000
    digests = [F.sha2(F.concat(F.col("id").cast("string"), F.lit(str(k))), 256) for k in range(4)]
    df = spark.range(0, n_chunks * rows, 1, n_chunks).select(
        F.col("id"), F.unhex(F.concat(*digests)).alias("s")
    )
    pages = encode_table(df).cache()
    assert pages.select("split_id", "batch_id").distinct().count() == n_chunks
    yield pages, rows
    pages.unpersist()


@pytest.mark.parametrize("cols", [["id", "s"], ["id"]], ids=["full", "one_column"])
def test_decode_spreads_chunks_evenly(spark, equal_chunks, cols):
    """Decode is one groupBy(split_id, batch_id) shuffle whose reduce work
    is the decoded bytes, not the page bytes AQE sees. Every task must get
    at most two of the equal chunks, whatever the projection."""
    pages, rows = equal_chunks
    ptypes = {"id": "int64", "s": "binary"}
    out = decode_table(
        pages.filter(F.col("column").isin(cols)), cols, {c: ptypes[c] for c in cols}
    )
    per_task = [
        r["count"]
        for r in out.withColumn("p", F.spark_partition_id()).groupBy("p").count().collect()
    ]
    assert sum(per_task) == 2 * spark.sparkContext.defaultParallelism * rows
    assert all(n % rows == 0 for n in per_task)
    assert max(per_task) // rows <= 2, sorted(n // rows for n in per_task)


def test_zipimport_guard_survives_malloc_opt_out():
    """Opting out of malloc tuning keeps the zipimporter mtime guard on
    Pythons that lack it (< 3.12); 3.12+ has the guard built in and is left
    unpatched."""
    env = dict(os.environ, PQ_ENGINE_NO_MALLOC_TUNE="1")
    code = (
        "import zipimport, pq_engine; "
        "print(getattr(zipimport.zipimporter, '_pq_mtime_guard', False))"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], env=env, cwd=ROOT,
        capture_output=True, text=True, check=True,
    ).stdout.strip()
    assert out == str(sys.version_info < (3, 12))


def test_python_workers_use_the_system_pool_and_the_driver_does_not(spark, monkeypatch):
    """Workers allocate from the malloc-tuned glibc heap; the driver's
    environment is left alone, so in-process paths keep pyarrow's default
    pool."""
    monkeypatch.delenv("ARROW_DEFAULT_MEMORY_POOL", raising=False)
    get_spark(cores=8, app="pq_engine_tests")  # the session fixture's call, again
    assert "ARROW_DEFAULT_MEMORY_POOL" not in os.environ

    def pool(it):
        import pyarrow as pa

        for _ in it:
            yield pa.record_batch({"pool": [pa.default_memory_pool().backend_name]})

    got = spark.range(0, 2, 1, 2).mapInArrow(pool, "pool string").collect()
    assert [r["pool"] for r in got] == ["system", "system"]


def _ragged_table(lengths) -> pa.Table:
    """Rows ``i`` (int64) and ``b`` (binary of the given lengths, row i's
    bytes all ``i % 251``)."""
    offsets = np.zeros(len(lengths) + 1, dtype=np.int64)
    np.cumsum(lengths, out=offsets[1:])
    data = np.repeat(np.arange(len(lengths)) % 251, lengths).astype(np.uint8)
    b = pa.Array.from_buffers(
        pa.large_binary(), len(lengths), [None, pa.py_buffer(offsets), pa.py_buffer(data)]
    )
    return pa.table({"i": np.arange(len(lengths), dtype=np.int64), "b": b})


def test_bounded_batches_cut_a_wide_chunk_under_the_bound():
    """~110 MB of ~4 KB rows of uneven size, with one 9 MiB row: every batch
    is at most the bound unless it is that one row, rows and order kept."""
    lengths = np.random.default_rng(0).integers(2048, 6144, 25_000)
    lengths[12_345] = 9 << 20
    tbl = _ragged_table(lengths)
    assert tbl.nbytes > 100 << 20
    out = _bounded_batches(tbl)
    batches = out.to_batches()
    assert len(batches) > 12
    for b in batches:
        assert b.nbytes <= _RETURN_BATCH_BYTES or b.num_rows == 1, (b.num_rows, b.nbytes)
    assert [b.num_rows for b in batches if b.nbytes > _RETURN_BATCH_BYTES] == [1]
    assert out.schema == tbl.schema
    assert out.equals(tbl)


def test_bounded_batches_keep_a_small_chunk_and_an_empty_one_whole():
    """A ~4.5 MB numeric chunk (a lineitem/events decode) stays one batch;
    an empty result keeps its schema."""
    n = 95_000
    tbl = pa.table({f"c{k}": np.arange(n, dtype=np.int64) * k for k in range(6)})
    assert 4 << 20 < tbl.nbytes < _RETURN_BATCH_BYTES
    out = _bounded_batches(tbl)
    assert len(out.to_batches()) == 1 and out.equals(tbl)
    empty = _bounded_batches(tbl.schema.empty_table())
    assert empty.schema == tbl.schema and empty.num_rows == 0


def test_decode_of_a_chunk_over_the_bound_returns_every_row(spark):
    """One ~10 MB chunk decodes in several returned batches to exactly the
    input rows."""
    digests = [F.sha2(F.concat(F.col("id").cast("string"), F.lit(str(k))), 256) for k in range(16)]
    df = spark.range(0, 20_000, 1, 1).select(F.col("id"), F.unhex(F.concat(*digests)).alias("s"))
    pages = encode_table(df)
    assert pages.select("split_id", "batch_id").distinct().count() == 1
    out = decode_table(pages, ["id", "s"], {"id": "int64", "s": "binary"})
    assert out.count() == 20_000
    assert out.exceptAll(df).count() == 0
