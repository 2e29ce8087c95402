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
