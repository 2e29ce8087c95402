"""Rewrite ops (ParquetRewriter analog) + CLI smoke tests."""

import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from pq_engine.datagen import webpages_df
from pq_engine.spark.engine import decode_table, encode_table, prune_pages_by_stats
from pq_engine.spark.rewrite import (
    mask_hash,
    mask_nullify,
    merge_page_tables,
    prune_columns,
    transcode_compression,
)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def pages(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("rw") / "pages")
    df = webpages_df(spark, 3000, partitions=2, seed=6)
    encode_table(df).write.parquet(out)
    return spark.read.parquet(out).cache()


def test_prune_columns(spark, pages):
    pruned = prune_columns(pages, ["url", "lang"])
    back = decode_table(pruned)
    assert sorted(back.columns) == ["lang", "url"]
    assert back.count() == 3000


def test_mask_nullify(spark, pages):
    masked = mask_nullify(pages, "text")
    back = decode_table(masked)
    assert back.filter(F.col("text").isNotNull()).count() == 0
    assert back.filter(F.col("url").isNull()).count() == 0
    assert back.count() == 3000


def test_mask_hash(spark, pages):
    masked = mask_hash(pages, "url")
    back = decode_table(masked)
    r = back.select("url").first()["url"]
    assert len(r) == 32 and all(c in "0123456789abcdef" for c in r)
    # hashing is deterministic per value: same #distinct as original
    orig = decode_table(pages)
    assert back.select("url").distinct().count() == orig.select("url").distinct().count()


def test_transcode_roundtrip(spark, pages):
    z = transcode_compression(pages, "zlib")
    # page-framed rows only: index/metadata rows (bloom -1, colindex -4)
    # are page-level copied with their own labels
    assert z.filter(
        (F.col("compression") != "zlib") & (F.col("page") >= -2)
    ).count() == 0
    assert decode_table(z).count() == 3000
    # back to none → page bytes decode identically
    n = transcode_compression(z, None)
    a = decode_table(n).selectExpr("sum(hash(url, text, lang)) h").collect()[0].h
    b = decode_table(pages).selectExpr("sum(hash(url, text, lang)) h").collect()[0].h
    assert a == b
    # zlib shrinks the total
    assert (
        z.agg(F.sum("encoded_bytes")).collect()[0][0]
        < pages.agg(F.sum("encoded_bytes")).collect()[0][0]
    )


def test_merge_page_tables(spark, pages):
    merged = merge_page_tables([pages, pages])
    assert decode_table(merged).count() == 6000
    dup = merged.groupBy("split_id", "batch_id", "column", "page").count().filter("count>1").count()
    assert dup == 0


def test_prune_pages_by_stats(spark, pages):
    # lang pages are dict-encoded with real min/max; a predicate outside the
    # alphabet must prune everything
    none_left = prune_pages_by_stats(pages, "lang", lo="zz", hi="zzz")
    assert none_left.count() == 0
    all_kept = prune_pages_by_stats(pages, "lang", lo="aa", hi="zz")
    assert all_kept.count() == pages.count()


def test_cli_smoke(spark, pages, tmp_path):
    out = str(tmp_path / "cli_pages")
    pages.write.parquet(out)
    for cmd in (["meta"], ["schema"], ["pages", "--limit", "5"], ["stats", "--limit", "5"],
                ["dictionary", "--column", "lang"], ["cat", "--limit", "3"],
                ["size-stats", "--pages"]):
        r = subprocess.run(
            [sys.executable, "-m", "pq_engine.cli", cmd[0], out, *cmd[1:]],
            capture_output=True, text=True, timeout=120, cwd=ROOT,
        )
        assert r.returncode == 0, (cmd, r.stderr[-500:])
        assert r.stdout.strip(), cmd


def test_bloom_pushdown_prunes_without_decode(spark):
    from pq_engine.spark.engine import encode_table, prune_pages_by_bloom

    df = webpages_df(spark, 3000, partitions=2, seed=8).select("url", "lang")
    pages = encode_table(df, page_rows=256, with_bloom=True).cache()
    n_bloom = pages.filter("page = -1").count()
    assert n_bloom > 0
    # value that exists → its chunks survive; garbage value → all pruned
    present = df.select("lang").first()["lang"]
    kept = prune_pages_by_bloom(pages, "lang", present)
    assert kept.count() > 0
    gone = prune_pages_by_bloom(pages, "lang", "xx-not-a-lang")
    assert gone.count() == 0
    # decode of a bloom-carrying table ignores the index rows
    back = decode_table(kept)
    assert (
        back.filter(F.col("lang") == present).count()
        == df.filter(F.col("lang") == present).count()
    )


def test_dictionary_pushdown(spark):
    from pq_engine.spark.engine import encode_table, prune_pages_by_dictionary

    df = webpages_df(spark, 3000, partitions=2, seed=8).select("url", "lang")
    pages = encode_table(df).cache()
    assert pages.filter("column='lang' and codec='dict'").count() > 0
    present = df.select("lang").first()["lang"]
    kept = prune_pages_by_dictionary(pages, "lang", present)
    assert kept.count() > 0
    gone = prune_pages_by_dictionary(pages, "lang", "xx-nope")
    assert gone.count() == 0
    back = decode_table(kept)
    assert (
        back.filter(F.col("lang") == present).count()
        == df.filter(F.col("lang") == present).count()
    )


def test_rename_columns_metadata_only(spark):
    from pq_engine.spark.engine import decode_table, encode_table
    from pq_engine.spark.rewrite import rename_columns

    df = spark.createDataFrame(
        [(i, f"u{i}") for i in range(100)], "id long, user string"
    ).coalesce(1)
    pages = encode_table(df).cache()
    ren = rename_columns(pages, {"user": "login"})
    back = decode_table(ren, ["id", "login"], ptypes={"id": "int64", "login": "string"})
    rows = {r["id"]: r["login"] for r in back.collect()}
    assert rows[7] == "u7" and len(rows) == 100
    # page bytes untouched
    a = {(r["column"], r["page"], r["crc32"]) for r in pages.collect()}
    b = {(r["column"], r["page"], r["crc32"]) for r in ren.collect()}
    assert {(c if c != "user" else "login", p, x) for c, p, x in a} == b
    import pytest as _pt

    with _pt.raises(ValueError):
        rename_columns(pages, {"nope": "x"})
    with _pt.raises(ValueError):
        rename_columns(pages, {"user": "id"})


def test_cli_rewrite_rename(spark, pages, tmp_path):
    from pq_engine.cli import _load

    src = str(tmp_path / "pages")
    out = str(tmp_path / "renamed")
    pages.write.parquet(src)
    r = subprocess.run(
        [sys.executable, "-m", "pq_engine.cli", "rewrite", src,
         "--rename", "lang=language", "--out", out],
        capture_output=True, text=True, timeout=120, cwd=ROOT,
    )
    assert r.returncode == 0, r.stderr[-500:]
    cols = set(_load(out)["column"].to_pylist())
    assert "language" in cols and "lang" not in cols
