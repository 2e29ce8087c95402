"""The leaf of ``decode_table``: the scan's own partitions when the footers
prove that every chunk lies whole in one of them, a repartition by
(split_id, batch_id) otherwise. Each input below must decode to exactly
the rows that were encoded."""

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from pq_engine.spark.engine import _chunk_local, decode_table, encode_table, run_encode_job

PTYPES = {"id": "int64", "s": "string"}


@pytest.fixture(scope="module")
def table(spark):
    """Four input partitions, so four chunks (split_id 0-3, batch_id 0)."""
    df = spark.range(0, 2000, 1, 4).select("id", F.col("id").cast("string").alias("s"))
    return df, sorted(df.collect())


@pytest.fixture(scope="module")
def sink(spark, table, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("decode_leaf") / "pages")
    encode_table(table[0]).write.parquet(path)
    return path


def _decoded(pages) -> list:
    return sorted(decode_table(pages, ["id", "s"], PTYPES).collect())


def test_engine_sink_maps_its_scan(spark, table, sink):
    pages = spark.read.parquet(sink)
    assert _chunk_local(pages)
    assert _decoded(pages) == table[1]


def _one_file_per_chunk(sink, out, moved_split: int = 0) -> None:
    """The sink rewritten as one file per chunk, with chunk (0, 0)'s ``s``
    pages moved to a file of their own under split_id ``moved_split``.
    Every file holds one key, so only the footers' boxes can tell."""
    tbl = pq.read_table(sink)
    moved = pa.compute.and_(pa.compute.equal(tbl["split_id"], 0), pa.compute.equal(tbl["column"], "s"))
    rest = tbl.filter(pa.compute.invert(moved))
    for split in range(4):
        pq.write_table(rest.filter(pa.compute.equal(rest["split_id"], split)), str(out / f"{split}.parquet"))
    part = tbl.filter(moved)
    part = part.set_column(0, "split_id", pa.array([moved_split] * part.num_rows, pa.int32()))
    pq.write_table(part, str(out / "moved.parquet"))


def test_chunk_split_across_two_files(spark, table, sink, tmp_path):
    """Chunk (0, 0) has its ``id`` pages in one file and its ``s`` pages
    in another: the footers' boxes overlap, so the decode repartitions."""
    _one_file_per_chunk(sink, tmp_path)
    pages = spark.read.parquet(str(tmp_path))
    assert not _chunk_local(pages)
    assert _decoded(pages) == table[1]


def test_chunk_key_computed_over_the_scan(spark, table, sink, tmp_path):
    """The footers see split_id 99 in one file, but a projection maps it
    onto chunk (0, 0), whose other pages are in another file."""
    _one_file_per_chunk(sink, tmp_path, moved_split=99)
    pages = spark.read.parquet(str(tmp_path)).withColumn(
        "split_id", F.when(F.col("split_id") == 99, 0).otherwise(F.col("split_id")))
    assert not _chunk_local(pages)
    assert _decoded(pages) == table[1]


def test_run_encode_job_output(spark, table, tmp_path):
    """``partitionBy("column")`` puts each chunk's columns in different
    directories."""
    run_encode_job(spark, table[0], str(tmp_path))
    pages = spark.read.parquet(str(tmp_path / "pages"))
    assert not _chunk_local(pages)
    assert _decoded(pages) == table[1]


def test_cached_page_table(spark, table, sink):
    pages = spark.read.parquet(sink).cache()
    try:
        assert not _chunk_local(pages)
        assert _decoded(pages) == table[1]
    finally:
        pages.unpersist()


def test_one_file_of_many_chunks_decodes_on_every_core(spark, tmp_path):
    """One file of 2 x defaultParallelism equal chunks: the scan would run
    one task, so the decode repartitions and AQE spreads the chunks."""
    par = spark.sparkContext.defaultParallelism
    rows = 4000
    df = spark.range(0, 2 * par * rows, 1, 2 * par).select(
        "id", F.sha2(F.col("id").cast("string"), 256).alias("s"))
    encode_table(df).write.parquet(str(tmp_path / "many"))
    spark.read.parquet(str(tmp_path / "many")).coalesce(1).write.parquet(str(tmp_path / "one"))
    pages = spark.read.parquet(str(tmp_path / "one"))
    assert len(pages.inputFiles()) == 1 and not _chunk_local(pages)
    out = decode_table(pages, ["id", "s"], PTYPES)
    tasks = out.groupBy(F.spark_partition_id()).count().collect()
    assert len(tasks) == par
    assert sorted(out.collect()) == sorted(df.collect())
