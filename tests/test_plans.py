"""Physical-plan quality gates: the declarative parts of the engine must let
Catalyst do its job — filters reach the parquet scan (PushedFilters), column
pruning shrinks ReadSchema, small joins broadcast, the encode pass adds no
shuffle. These mirror the reference's read-side pushdown stack (SURVEY §2.5:
RowGroupFilter / ColumnIndexFilter) which Spark supplies for free ON our
manifest/page tables — but only if our plans keep it reachable."""

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def pages_path(spark, tmp_path_factory):
    from pq_engine.datagen import webpages_df
    from pq_engine.spark.engine import encode_table

    out = str(tmp_path_factory.mktemp("plans") / "pages")
    df = webpages_df(spark, 4000, partitions=4, seed=3)
    encode_table(df).write.parquet(out)
    return out


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_manifest_filter_pushdown(spark, pages_path):
    pages = spark.read.parquet(pages_path)
    q = pages.filter(F.col("column") == "lang").select("codec", "encoded_bytes")
    plan = _plan(q)
    assert "PushedFilters" in plan and "column" in plan.split("PushedFilters")[1][:200]


def test_manifest_column_pruning(spark, pages_path):
    pages = spark.read.parquet(pages_path)
    q = pages.select("column", "encoded_bytes")
    plan = _plan(q)
    read_schema = plan.split("ReadSchema")[1][:300]
    assert "data" not in read_schema, "blob column must be pruned from stats scans"


def test_encode_adds_no_shuffle(spark):
    from pq_engine.datagen import webpages_df
    from pq_engine.spark.engine import encode_table

    df = webpages_df(spark, 2000, partitions=2, seed=4)
    plan = _plan(encode_table(df))
    assert "Exchange" not in plan, "encode must be a single map-side pass"


def test_lineage_antijoin_broadcasts(spark, pages_path):
    from pq_engine.spark.engine import lineage_from_pages

    pages = spark.read.parquet(pages_path)
    done = lineage_from_pages(pages).select("split_id")
    big = pages.withColumnRenamed("split_id", "__split")
    joined = big.join(
        F.broadcast(done.withColumnRenamed("split_id", "__split")),
        on="__split",
        how="left_anti",
    )
    plan = _plan(joined)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


@pytest.mark.parametrize("rewrite, exchanges", [
    ("transcode_compression", 0), ("mask_nullify", 0), ("encrypt_pages", 0),
    ("decrypt_pages", 0), ("mask_hash", 2),
])
def test_rewrites_shuffle_only_to_hash(spark, pages_path, rewrite, exchanges):
    """The page-row rewrites run as one map over the page table; only
    mask-hash, whose md5 runs between a chunk's decode and its re-encode,
    groups (twice)."""
    from pq_engine.spark import crypto, rewrite as rw

    pages = spark.read.parquet(pages_path)
    if rewrite in ("encrypt_pages", "decrypt_pages"):
        if not crypto.available():
            pytest.skip("AES-GCM backend not available")
        q = getattr(crypto, rewrite)(pages, {"text": bytes(16)})
    elif rewrite == "transcode_compression":
        q = rw.transcode_compression(pages, "zstd")
    else:
        q = getattr(rw, rewrite)(pages, "url")
    assert _plan(q).count("Exchange") <= exchanges


@pytest.mark.parametrize("row_groups, units", [(12, 12), (1, 10)])
def test_encode_files_runs_at_most_one_task_per_core(spark, tmp_path, row_groups, units):
    """``encode_parquet_files`` hands its units (row groups, or the batches
    of fewer row groups than cores) to at most ``defaultParallelism`` tasks
    of a range leaf: no literal-array lookup and no Exchange."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pq_engine.spark.engine import encode_parquet_files

    pq.write_table(pa.table({"id": pa.array(range(1200), pa.int64())}),
                   str(tmp_path / "in.parquet"), row_group_size=1200 // row_groups)
    pages = encode_parquet_files(spark, str(tmp_path / "in.parquet"), batch_rows=120)
    assert pages.rdd.getNumPartitions() == min(units, spark.sparkContext.defaultParallelism)
    plan = _plan(pages)
    assert "element_at" not in plan and "Exchange" not in plan


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(0, 10**6), min_size=1, max_size=60), st.integers(1, 16))
def test_runs_are_contiguous_and_balanced(weights, n_tasks):
    """Each task's run is non-empty and contiguous, the runs cover every
    unit once, and no run outweighs its share of the total by more than
    one unit."""
    from pq_engine.spark.engine import _pack_runs

    runs = _pack_runs(weights, n_tasks)
    assert len(runs) == min(len(weights), n_tasks)
    assert runs[0][0] == 0 and runs[-1][1] == len(weights)
    assert all(lo < hi for lo, hi in runs)
    assert all(a[1] == b[0] for a, b in zip(runs, runs[1:]))
    share = sum(weights) / len(runs)
    assert all(sum(weights[lo:hi]) <= share + max(weights[lo:hi]) for lo, hi in runs)


def _sink(spark, tmp_path, row_groups: int, batch_rows: int, n: int = 1200) -> str:
    """An engine-written page table of an ``n``-row table of ``row_groups``
    row groups, encoded by ``encode_parquet_files`` and written by Spark."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pq_engine.spark.engine import encode_parquet_files

    src, sink = str(tmp_path / "in.parquet"), str(tmp_path / "pages")
    ids = pa.array(range(n), pa.int64())
    pq.write_table(pa.table({"id": ids, "s": pa.compute.cast(ids, pa.string())}),
                   src, row_group_size=n // row_groups)
    encode_parquet_files(spark, src, batch_rows=batch_rows).write.parquet(sink)
    return sink


def test_decode_of_an_engine_sink_maps_the_scan(spark, tmp_path):
    """The encode writes every chunk whole into one file, so the decode of
    its sink runs over the scan's partitions: no Exchange, no Sort."""
    from pq_engine.spark.engine import decode_table

    sink = _sink(spark, tmp_path, row_groups=12, batch_rows=100)
    out = decode_table(spark.read.parquet(sink), ["id", "s"], {"id": "int64", "s": "string"})
    plan = _plan(out)
    assert "Exchange" not in plan and "Sort" not in plan, plan
    assert sorted(out.collect()) == [(i, str(i)) for i in range(1200)]


def test_one_row_group_table_decodes_in_one_task_per_file(spark, tmp_path):
    """One row group of 10 batches (``tables_pushdown``'s lineitem shape):
    the encode spreads the batches over min(10, cores) files, and the
    decode runs one task per file with no Exchange, where AQE's greedy
    coalescing of a shuffle left one task too many."""
    from pyspark.sql import functions as F

    from pq_engine.spark.engine import decode_table

    sink = _sink(spark, tmp_path, row_groups=1, batch_rows=120)
    out = decode_table(spark.read.parquet(sink), ["id"], {"id": "int64"})
    assert "Exchange" not in _plan(out)
    tasks = out.groupBy(F.spark_partition_id()).count().collect()
    assert len(tasks) == min(10, spark.sparkContext.defaultParallelism)
    assert sum(r["count"] for r in tasks) == 1200


def test_decode_of_no_chunk_runs_no_task(spark, pages_path):
    """``select_chunks`` of no key folds to an empty relation; the decode
    over it adds no Exchange and has no partition."""
    from pq_engine.spark.engine import decode_table, select_chunks

    out = decode_table(select_chunks(spark.read.parquet(pages_path), set()), ["lang"], {"lang": "string"})
    assert "Exchange" not in _plan(out)
    assert out.rdd.getNumPartitions() == 0
