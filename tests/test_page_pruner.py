"""Pinned kept-chunk sets of ``filterapi.filter_pages`` for every predicate
kind, over page tables of the sf0.01 ``lineitem``/``events`` files (with
blooms), a seeded webpages slice and a small list/map table.

The sets were computed by the Spark-job pruner (a stats semi-join, then one
dictionary and one bloom job per eq/in leaf); the driver-side pruner must
keep exactly the same chunks. Each set is written ``split.batch`` joined by
spaces, in sorted order.
"""

import os

import pytest
from pyspark.sql import functions as F

from pq_engine.spark import filterapi as P
from tools.check_oracle import SF_DIR as SF  # the sf0.01 tables the oracle gate reads

# table -> predicate name -> pinned kept set
PINNED = {
    "lineitem": {
        "eq_dict_miss": "",
        "eq_hit": "0.0 0.1 0.2 0.3 0.4 0.5 0.6 0.7 0.8 0.9",
        "eq_int_absent": "0.0 0.5 0.7 0.9",
        "eq_int_present": "0.0 0.1 0.4 0.5 0.6",
        "eq_float": "",
        "noteq": "0.0 0.1 0.2 0.3 0.4 0.5 0.6 0.7 0.8 0.9",
        "lt_int": "0.0 0.1 0.2 0.3 0.4 0.5 0.6 0.7 0.8 0.9",
        "lteq_double": "0.0 0.1 0.2 0.3 0.4 0.5 0.6 0.7 0.8 0.9",
        "gt_str": "0.0 0.1 0.2 0.3 0.4 0.5 0.6 0.7 0.8 0.9",
        "gteq_int_on_double": "0.0 0.1 0.2 0.3 0.4 0.5 0.6 0.7 0.8 0.9",
        "in_miss": "",
        "in_mixed": "0.0 0.1 0.4 0.5 0.6 0.7 0.9",
        "notin": "0.0 0.1 0.2 0.3 0.4 0.5 0.6 0.7 0.8 0.9",
        "isnull": "",
        "notnull": "0.0 0.1 0.2 0.3 0.4 0.5 0.6 0.7 0.8 0.9",
        "udp": "",
        "always": "0.0 0.1 0.2 0.3 0.4 0.5 0.6 0.7 0.8 0.9",
        "never": "",
        "and_or": "0.0 0.1 0.2 0.3 0.4 0.5 0.6 0.7 0.8 0.9",
        "not": "0.0 0.1 0.2 0.3 0.4 0.5 0.6 0.7 0.8 0.9",
        "or_always": "0.0 0.1 0.2 0.3 0.4 0.5 0.6 0.7 0.8 0.9",
        "and_always": "0.0 0.1 0.2 0.3 0.4 0.5 0.6 0.7 0.8 0.9",
        "and_never": "",
        "two_columns": "0.0 0.1 0.2 0.3 0.4 0.5 0.6 0.7 0.8 0.9",
        "same_leaf_or": "0.0 0.1 0.4 0.5 0.6",
    },
    "events": {
        "eq_dict_miss": "",
        "eq_hit": "0.0 0.1 0.2 0.3 0.4 0.5 0.6 0.7 0.8 0.9",
        "eq_int": "0.0 0.1 0.2 0.3 0.4 0.5 0.6 0.7 0.8 0.9",
        "eq_int_absent": "",
        "noteq": "0.0 0.1 0.2 0.3 0.4 0.5 0.6 0.7 0.8 0.9",
        "lt_ts": "0.0 0.1",
        "gt_double": "0.0 0.1 0.2 0.3 0.4 0.5 0.6 0.7 0.8 0.9",
        "in_users": "0.0 0.1 0.2 0.3 0.4 0.5 0.6 0.7 0.8 0.9",
        "in_types": "0.0 0.1 0.2 0.3 0.4 0.5 0.6 0.7 0.8 0.9",
        "notin": "0.0 0.1 0.2 0.3 0.4 0.5 0.6 0.7 0.8 0.9",
        "isnull": "",
        "notnull": "0.0 0.1 0.2 0.3 0.4 0.5 0.6 0.7 0.8 0.9",
        "udp_ts": "0.0",
        "and_or": "0.0 0.1 0.2 0.9",
        "not_and": "0.0 0.1 0.8 0.9",
        "same_leaf_twice": "0.0 0.1 0.2 0.9",
    },
    "webpages": {
        "lang_miss": "",
        "lang_rare": "1.0 4.0 5.0 7.0",
        "lang_in": "0.0 1.0 2.0 3.0 5.0 6.0 7.0",
        "url_eq": "0.0",
        "url_absent": "",
        "lang_noteq": "0.0 1.0 2.0 3.0 4.0 5.0 6.0 7.0",
        "text_gt": "0.0 1.0 2.0 3.0 5.0 7.0",
        "ts_lt": "",
        "or": "0.0",
        "same_leaf_twice": "1.0 5.0 7.0",
    },
    "nested": {
        "contains_miss": "",
        "contains_range_miss": "",
        "contains_hit": "1.0",
        "contains_key_miss": "",
        "contains_key_hit": "3.0",
        "contains_and": "0.0",
    },
}


def _cases(url: str = "") -> dict:
    """``url`` is the first url of the webpages slice (known once built)."""
    # one Leaf object used twice in a tree
    orderkey, click, rare = P.eq("l_orderkey", 5979), P.eq("event_type", "click"), P.eq("lang", "sl")
    return {
        "lineitem": {
            "eq_dict_miss": P.eq("l_returnflag", "B"),
            "eq_hit": P.eq("l_returnflag", "N"),
            "eq_int_absent": P.eq("l_orderkey", 7),
            "eq_int_present": P.eq("l_orderkey", 5979),
            "eq_float": P.eq("l_quantity", 23.5),
            "noteq": P.noteq("l_returnflag", "A"),
            "lt_int": P.lt("l_orderkey", 40),
            "lteq_double": P.ltEq("l_quantity", 1.0),
            "gt_str": P.gt("l_returnflag", "N"),
            "gteq_int_on_double": P.gtEq("l_quantity", 50),
            "in_miss": P.in_("l_returnflag", ["B", "C"]),
            "in_mixed": P.in_("l_orderkey", [5979, 7, 14999]),
            "notin": P.notin("l_returnflag", ["N", "R"]),
            "isnull": P.isnull("l_quantity"),
            "notnull": P.notnull("l_quantity"),
            "udp": P.udp(
                "l_orderkey",
                F.col("max").cast("decimal(20,0)") < 3000,
                F.col("l_orderkey") < 3000,
            ),
            "always": P.notin("l_returnflag", []),
            "never": P.in_("l_returnflag", []),
            "and_or": (P.eq("l_returnflag", "R") & P.lt("l_orderkey", 2000))
            | P.gtEq("l_orderkey", 14990),
            "not": ~(P.lt("l_orderkey", 7000) | P.eq("l_returnflag", "N")),
            "or_always": P.notin("l_returnflag", []) | P.eq("l_returnflag", "B"),
            "and_always": P.notin("l_returnflag", []) & P.eq("l_returnflag", "A"),
            "and_never": P.in_("l_returnflag", []) & P.eq("l_returnflag", "A"),
            "two_columns": P.eq("l_returnflag", "A") & P.eq("l_linestatus", "O"),
            "same_leaf_or": orderkey | orderkey,
        },
        "events": {
            "eq_dict_miss": P.eq("event_type", "refund"),
            "eq_hit": P.eq("event_type", "signup"),
            "eq_int": P.eq("user_id", 149),
            "eq_int_absent": P.eq("user_id", 1000),
            "noteq": P.noteq("event_type", "view"),
            "lt_ts": P.lt("event_id", 1500),
            "gt_double": P.gt("value", 99.5),
            "in_users": P.in_("user_id", [3, 77, 500]),
            "in_types": P.in_("event_type", ["refund", "purchase"]),
            "notin": P.notin("event_id", [0, 1, 2]),
            "isnull": P.isnull("props"),
            "notnull": P.notnull("props"),
            "udp_ts": P.udp(
                "ts",
                F.col("min").cast("decimal(20,0)") < 1704153600000000,
                F.col("ts") < F.lit("2024-01-02").cast("timestamp_ntz"),
            ),
            "and_or": (P.eq("event_type", "click") & P.lt("event_id", 3000))
            | (P.gtEq("event_id", 9000) & ~P.eq("user_id", 5)),
            "not_and": ~(P.gtEq("event_id", 2000) & P.lt("event_id", 8000)),
            "same_leaf_twice": (click & P.lt("event_id", 3000)) | (click & P.gtEq("event_id", 9000)),
        },
        "webpages": {
            "lang_miss": P.eq("lang", "qq"),
            "lang_rare": P.eq("lang", "sl"),
            "lang_in": P.in_("lang", ["qq", "da", "hr"]),
            "url_eq": P.eq("url", url),
            "url_absent": P.eq("url", "https://nowhere.invalid/"),
            "lang_noteq": P.noteq("lang", "zh"),
            "text_gt": P.gt("text", "tok98"),
            "ts_lt": P.lt("warc_ts", 0),
            "or": P.eq("lang", "qq") | P.eq("url", url),
            "same_leaf_twice": (rare & P.gt("text", "tok98")) | (rare & P.eq("url", url)),
        },
        "nested": {
            "contains_miss": P.contains_eq("tags", "bz"),
            "contains_range_miss": P.contains_eq("tags", "zzz"),
            "contains_hit": P.contains_eq("tags", "gamma"),
            "contains_key_miss": P.contains_key_eq("m", "bz"),
            "contains_key_hit": P.contains_key_eq("m", "delta"),
            "contains_and": P.contains_eq("tags", "alpha") & P.lt("id", 100),
        },
    }


@pytest.fixture(scope="module")
def tables(spark):
    from pq_engine.datagen import webpages_df
    from pq_engine.spark.engine import encode_parquet_files, encode_table
    from pq_engine.spark.shred import encode_shredded

    if not os.path.isdir(SF):
        pytest.skip("sf0.01 test data not present")
    li = encode_parquet_files(
        spark, f"{SF}/lineitem.parquet",
        columns=["l_orderkey", "l_quantity", "l_returnflag", "l_linestatus"],
        with_bloom=True, batch_rows=6000, page_rows=1500,
    ).cache()
    ev = encode_parquet_files(
        spark, f"{SF}/events.parquet", with_bloom=True, batch_rows=1000, page_rows=250,
    ).cache()
    wdf = webpages_df(spark, 2000, partitions=8, seed=7)
    wp = encode_table(
        wdf.select("url", "warc_ts", "text", "lang"), with_bloom=True, page_rows=200,
    ).cache()
    url = wdf.select("url").first()["url"]
    rows = [
        (i, [["alpha", "beta"], ["gamma", "delta"], ["mu", "nu"], ["x", "y"]][i // 250],
         {["alpha", "beta", "gamma", "delta"][i // 250]: i})
        for i in range(1000)
    ]
    nested_df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 4), "id long, tags array<string>, m map<string,bigint>"
    )
    nested, _ = encode_shredded(nested_df, page_rows=100)
    nested = nested.cache()
    return {"lineitem": li, "events": ev, "webpages": wp, "nested": nested}, url


def kept_set(pages, pred) -> str:
    keys = P.filter_pages(pages, pred).select("split_id", "batch_id").distinct().collect()
    return " ".join(f"{s}.{b}" for s, b in sorted((r[0], r[1]) for r in keys))


@pytest.mark.parametrize(
    "table,name", [(t, n) for t, cases in PINNED.items() for n in cases]
)
def test_kept_keys_pinned(tables, table, name):
    pages, url = tables
    assert kept_set(pages[table], _cases(url)[table][name]) == PINNED[table][name]


# ------------------------------------------------------------ edge cases


@pytest.fixture(scope="module")
def langs(spark):
    from pq_engine.datagen import webpages_df
    from pq_engine.spark.engine import encode_table

    df = webpages_df(spark, 800, partitions=4, seed=3).select("url", "lang")
    pages = encode_table(
        df, codec={"lang": "dict", "url": "auto"}, with_bloom=True, page_rows=100
    ).cache()
    assert pages.filter("column = 'lang' AND page = -2").count() > 0
    assert pages.filter("column = 'lang' AND page = -1").count() > 0
    return pages


def _keys(pages) -> set:
    return {(r[0], r[1]) for r in pages.select("split_id", "batch_id").distinct().collect()}


def test_encrypted_dict_and_bloom_rows_keep_their_chunks(langs):
    """An AES-GCM dictionary or bloom row cannot be read without the key,
    so it cannot disprove a value: every chunk stays (the stats level
    already keeps encrypted pages, whose min/max are withheld)."""
    from pq_engine.spark.crypto import available, encrypt_pages

    if not available():
        pytest.skip("cryptography not available")
    enc = encrypt_pages(langs, {"lang": b"k" * 16}).cache()
    every = _keys(langs)
    assert _keys(P.filter_pages(enc, P.eq("lang", "fr"))) == every
    assert _keys(P.filter_pages(enc, P.eq("lang", "qq"))) == every
    assert _keys(P.filter_pages(enc, P.in_("lang", ["qq", "fr"]))) == every
    # the plaintext column still prunes
    assert _keys(P.filter_pages(enc, P.eq("url", "https://nowhere.invalid/"))) == set()


def test_eq_on_column_without_data_pages_keeps_no_chunk(langs):
    """Every stats-level leaf keeps no chunk for a column the page table
    has no data pages of; eq/in answer the same instead of failing."""
    other = langs.filter(F.col("column") != "lang")
    assert _keys(P.filter_pages(other, P.lt("lang", "zz"))) == set()
    assert _keys(P.filter_pages(other, P.eq("lang", "fr"))) == set()
    assert _keys(P.filter_pages(other, P.in_("lang", ["fr", "de"]))) == set()
    assert _keys(P.filter_pages(other, P.eq("lang", "fr") | P.eq("url", "x"))) == set()


def test_lang_miss_scan_runs_at_most_two_jobs(spark, tmp_path):
    """filter_pages + decode_table + collect of a proved miss: one metadata
    job, and no data task."""
    from pq_engine.datagen import webpages_df
    from pq_engine.spark.engine import decode_table, encode_table, table_ptypes

    df = webpages_df(spark, 2000, partitions=4, seed=1)
    sink = str(tmp_path / "pages")
    encode_table(df, page_compression="zstd").write.parquet(sink)
    proj = ["url", "warc_ts", "lang"]
    pages = spark.read.parquet(sink).filter(F.col("column").isin(proj))
    pred = P.eq("lang", "qq")
    sc = spark.sparkContext
    sc.setJobGroup("lang_miss_scan", "lang_miss_scan")
    try:
        kept = P.filter_pages(pages, pred)
        out = decode_table(kept, proj, table_ptypes(df, proj))
        rows = out.filter(P.residual_expr(pred)).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert rows == []
    assert len(sc.statusTracker().getJobIdsForGroup("lang_miss_scan")) <= 2


def test_broadcast_key_frame_matches_literal_filter(langs, monkeypatch):
    """Above LITERAL_KEYS_MAX keys the kept (or dropped) chunks are joined
    as a broadcast key frame; the rows must be the literal filter's."""
    from pq_engine.spark import engine

    pred = P.in_("lang", ["zh", "fr"]) | P.isnull("url")
    rows = lambda df: sorted(map(tuple, df.select("split_id", "batch_id", "column", "page").collect()))
    kept = rows(P.filter_pages(langs, pred))
    # "sl" is absent from two of the four chunks' dictionaries
    dropped = rows(engine.prune_pages_by_dictionary(langs, "lang", "sl"))
    assert 0 < len(dropped) < len(rows(langs)) and 0 < len(kept)
    monkeypatch.setattr(engine, "LITERAL_KEYS_MAX", 1)
    assert rows(P.filter_pages(langs, pred)) == kept
    assert rows(engine.prune_pages_by_dictionary(langs, "lang", "sl")) == dropped


def test_dictionary_never_disproves_a_chunk_with_non_dict_pages(langs):
    """hasNonDictionaryPages: a chunk whose data pages are not all
    dictionary-encoded keeps its rows, whatever its dictionary holds."""
    from pq_engine.spark.engine import prune_pages_by_dictionary

    # "sl" is absent from the dictionaries of chunks (0, 0) and (1, 0)
    assert _keys(langs) - _keys(prune_pages_by_dictionary(langs, "lang", "sl")) == {(0, 0), (1, 0)}
    fallback = (F.col("split_id") == 0) & (F.col("column") == "lang") & (F.col("page") == 1)
    mixed = langs.withColumn("codec", F.when(fallback, "plain").otherwise(F.col("codec")))
    assert _keys(langs) - _keys(prune_pages_by_dictionary(mixed, "lang", "sl")) == {(1, 0)}
