"""Distributed engine tests: encode/decode through Spark with Arrow batches,
lineage records, idempotent resume, skew salting. Mirrors the reference's
end-to-end layer (SURVEY.md §5 item 3: TestParquetWriter / writer-abort
semantics) on the Spark execution model."""

import shutil
import tempfile

import numpy as np
import pytest
from pyspark.sql import functions as F

from pq_engine.datagen import webpages_df
from pq_engine.kernels.ragged import RaggedBytes
from pq_engine.spark.engine import (
    _values_to_arrow,
    decode_table,
    encode_table,
    lineage_from_pages,
    repartition_for_encode,
    run_encode_job,
)


@pytest.fixture(scope="module")
def webpages(spark):
    df = webpages_df(spark, 8000, partitions=4, seed=7).cache()
    df.count()
    yield df
    df.unpersist()


def _content_hash(df):
    return df.selectExpr(
        "sum(hash(url, text, lang, cast(warc_ts as string), html)) h"
    ).collect()[0].h


def test_roundtrip_bit_identical(spark, webpages):
    pages = encode_table(webpages)
    back = decode_table(pages)
    assert back.count() == webpages.count()
    assert _content_hash(back) == _content_hash(webpages)


def test_compression_beats_plain(spark, webpages):
    pages = encode_table(webpages).cache()
    agg = pages.groupBy("column").agg(
        F.sum("raw_bytes").alias("raw"), F.sum("encoded_bytes").alias("enc")
    ).collect()
    for r in agg:
        assert r["enc"] < r["raw"], f"{r['column']} did not compress"
    pages.unpersist()


def test_manifest_null_counts(spark, webpages):
    pages = encode_table(webpages, columns=["html"])
    nulls = pages.agg(F.sum("null_count")).collect()[0][0]
    expected = webpages.filter(F.col("html").isNull()).count()
    assert nulls == expected


def test_lineage_covers_all_splits(spark, webpages):
    pages = encode_table(webpages)
    lin = lineage_from_pages(pages).collect()
    assert len(lin) == 4  # one per input partition
    assert all(r["pages_written"] > 0 for r in lin)


def test_salted_repartition_spreads_hot_key(spark, webpages):
    # all rows share one hot domain value → without salt, 1 partition gets all
    hot = webpages.withColumn("url", F.lit("https://hot.example.com/x"))
    sizes = (
        repartition_for_encode(hot, 8, key="url", salt_buckets=8)
        .withColumn("p", F.spark_partition_id())
        .groupBy("p")
        .count()
        .collect()
    )
    assert len(sizes) >= 4, f"hot key not spread: {sizes}"


def test_run_encode_job_and_resume(spark, webpages):
    out = tempfile.mkdtemp(prefix="pq_job_")
    try:
        # phase 1: encode only a subset of splits by limiting input, simulating
        # a job that died after 2 of 4 splits were committed
        part = webpages.limit(4000)
        r1 = run_encode_job(spark, part, out, num_partitions=4)
        assert r1["pages"] > 0
        lin1 = spark.read.parquet(r1["lineage_path"])
        done1 = {r["split_id"] for r in lin1.collect()}

        # phase 2 (resume): full input, same partitioning → already-done splits
        # are skipped, the rest are encoded; decode must equal the full input
        r2 = run_encode_job(spark, part, out, num_partitions=4)
        pages = spark.read.parquet(r2["pages_path"])
        # no duplicated splits after resume
        dup = (
            pages.groupBy("split_id", "batch_id", "column", "page")
            .count()
            .filter("count > 1")
            .count()
        )
        assert dup == 0
        back = decode_table(pages)
        assert back.count() == part.count()
        assert _content_hash(back) == _content_hash(part)
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_text_pure_function_of_url_preserved(spark, webpages):
    """north rule invariant: byte-identical extracted text per url after
    encode→decode."""
    pages = encode_table(webpages, columns=["url", "text"])
    back = decode_table(pages)
    joined = back.alias("a").join(webpages.alias("b"), "url")
    mismatches = joined.filter(F.col("a.text") != F.col("b.text")).count()
    assert mismatches == 0


@pytest.mark.parametrize("ptype,want", [("string", ["ab", None, "c"]),
                                        ("binary", [b"ab", None, b"c"])])
def test_nullable_ragged_to_arrow_nonzero_offset_base(ptype, want):
    """Dense offsets that start past 0 (a sliced column) must not reach the
    fast path that reuses the data buffer under offsets rebuilt from 0."""
    vals = RaggedBytes(np.array([3, 5, 6]), np.frombuffer(b"xxxabc", np.uint8))
    got = _values_to_arrow(vals, np.array([True, False, True]), ptype)
    assert got.to_pylist() == want
