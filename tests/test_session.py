"""Session-level settings: decode shuffle balance and worker process tuning."""

import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from pq_engine.spark.engine import decode_table, encode_table

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
