"""Driver-contract regression guard: entry() and a representative query per
operator family must run on a plain SparkSession at sf0.001 and return sane
shapes. The full value-hash compare lives in tools/check_oracle.py (sf0.01);
this keeps `python -m pytest` sensitive to contract breakage."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod

SF = "/root/testdata/sf0.001"


def test_entry_smoke(spark):
    rows = entrymod.entry(spark).collect()
    assert len(rows) >= 5
    cols = {r["column"] for r in rows}
    assert {"text", "lang", "doc_id"} <= cols
    assert all(r["encoded_bytes"] > 0 for r in rows)


def test_oracle_keys_subset_of_queries():
    qs = set(entrymod.queries())
    os_ = set(entrymod.oracle_sql())
    assert os_ <= qs
    # every non-oracle query is a documented approximate/rows-only op
    assert qs - os_ == {
        "ann_lsh_top10", "ann_ivf_top10", "encode_summary", "minhash_pairs",
        "simhash_pairs", "media_features",
    }


@pytest.mark.parametrize(
    "name,min_rows",
    [
        ("rt_fsst_text", 500),
        ("rt_delta_ts", 1000),
        ("manifest_stats", 4),  # stats-bearing columns only (text omits NDV at scale)
        ("pushdown_stats", 1),
        ("bloom_pushdown", 1),
        ("dict_pushdown", 1),
        ("analytics_on_decoded", 1),
        ("sessionize_events", 1),
        ("dedup_exact", 1),
        ("ann_top10", 10),
    ],
)
def test_query_runs_at_smoke_scale(spark, name, min_rows):
    df = entrymod.queries()[name](spark, SF)
    assert df.count() >= min_rows
