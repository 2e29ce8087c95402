"""Every field of every page-table row, pinned.

``test_page_table_digests.py`` hashes each row's key, codec, CRC and data; a
change that moved ``first_row``, ``n_rows``, ``null_count``, ``raw_bytes``,
``encoded_bytes``, ``min``, ``max`` or ``ndv`` would pass it. Here the sha256
runs over every ``PAGE_ARROW`` field of every row, for

* the same six inputs (sf0.01 ``lineitem``/``events`` with blooms and the
  seeded ``gen_webpages`` slice, page compression none and zstd), and
* one seeded table of page-edge layouts built below: nulls straddling page
  boundaries, all-null pages, a value larger than ``PAGE_BYTES`` (a one-row
  page), a dictionary over many pages, strings forced to ``dba`` and
  ``fsst``, LIST columns over many pages and int64 DELTA values that wrap
  around 2^63.
"""

import hashlib

import numpy as np
import pyarrow as pa
import pytest

from pq_engine.pages import PAGE_BYTES
from pq_engine.pagetable import PAGE_ARROW
from pq_engine.spark.engine import _codec_of, _encode_arrow_batch, arrow_type_to_ptype
from test_page_table_digests import page_table, source

# (input, page_compression) -> sha256 over every field of its page table
PINNED_ROWS = {
    ("lineitem", None):
        "224f62ed40451e48d0aa932039cd626fe8bb09003ec1205b180d433f4129b77b",
    ("lineitem", "zstd"):
        "738c0f5bb4808524e248471c9099deb7c56394f4a1ab126f47e21c8559c4c6f5",
    ("events", None):
        "c74d21bdb52615d2a2d7a543ba45963333c56ccb51f706c2c49398aaf43546ce",
    ("events", "zstd"):
        "5980613a08fdde6f7c062b469620106541884f21781931399abf28926bf20ddf",
    ("webpages", None):
        "4f43b52cc088ed4be5a81268366c3a0ff33683e0d2fb8bc37c55fc35a41e6acd",
    ("webpages", "zstd"):
        "9099669ba230a0a60a3369e5e122ae909074b0c7fbf66f827d68b2014dab902d",
}

EDGE_ROWS = 3_000
EDGE_PAGE_ROWS = 300
EDGE_CODECS = {"i64_delta": "delta", "i64_wrap": "delta", "i64_dict": "dict",
               "s_dict": "dict", "s_dba": "dba", "s_fsst": "fsst", "li64": "delta"}
PINNED_EDGES = {
    None: "f1d844f7fb9ca0e64285417619f6a4481bdce534c8baa45275da1b8dd7e3e172",
    "zstd": "caec4030f3c7e0f973ff4828266ecc7e3e77de2ba2ea29c6f16d4954010757ce",
}


def _digest_rows(tbl: pa.Table) -> str:
    """sha256 over every field of every row, rows in key order."""
    assert tbl.schema.names == PAGE_ARROW.names
    d = tbl.to_pydict()
    rows = sorted(zip(*(d[k] for k in PAGE_ARROW.names)), key=lambda r: r[:4])
    h = hashlib.sha256()
    for row in rows:
        *fields, data = row
        h.update(repr(fields).encode())
        h.update(len(data).to_bytes(8, "little"))
        h.update(data)
    return h.hexdigest()


def edge_batch() -> pa.RecordBatch:
    """One seeded batch whose pages (``EDGE_PAGE_ROWS`` rows each) sit on
    the edges the page loop must get right."""
    rng = np.random.default_rng(15)
    n = EDGE_ROWS
    rows = np.arange(n)
    # nulls in runs that cross page boundaries, and pages 4 and 7 all null
    null = (rows % EDGE_PAGE_ROWS > EDGE_PAGE_ROWS - 40) | (rows % EDGE_PAGE_ROWS < 25)
    null |= rng.random(n) < 0.1
    null[4 * EDGE_PAGE_ROWS : 5 * EDGE_PAGE_ROWS] = True
    all_null = np.zeros(n, bool)
    all_null[7 * EDGE_PAGE_ROWS : 8 * EDGE_PAGE_ROWS] = True

    ints = np.cumsum(rng.integers(-50, 1000, n))
    # deltas of both signs that carry the values across 2^63 and back
    steps = rng.integers(-3, 2**50, n)
    steps[n // 2 :] = -steps[n // 2 :]
    with np.errstate(over="ignore"):
        wrap = np.cumsum(steps) + np.int64(2**63 - 2**55)
    words = [f"w{k:03d}" for k in range(40)]
    text = [" ".join(rng.choice(words, int(rng.integers(1, 12)))) for _ in range(n)]
    urls = sorted(f"https://example.com/{rng.choice(words)}/{k}" for k in range(n))
    blobs = [bytes(rng.integers(0, 256, int(rng.integers(0, 64)), dtype=np.uint8))
             for _ in range(n)]
    # the first row of page 2 is larger than PAGE_BYTES: a page of its own
    blobs[2 * EDGE_PAGE_ROWS] = bytes(rng.integers(0, 256, PAGE_BYTES + 4096, dtype=np.uint8))

    def masked(values, mask):
        return [None if m else v for v, m in zip(values, mask)]

    lens = rng.integers(0, 5, n)
    lint = [None if k % 97 == 3 else rng.integers(-(2**40), 2**40, int(m)).tolist()
            for k, m in enumerate(lens)]
    lstr = [None if k % 89 == 5 else [None if rng.random() < 0.2 else str(rng.choice(words))
                                      for _ in range(int(m))]
            for k, m in enumerate(lens)]
    return pa.RecordBatch.from_pydict({
        "i64_delta": pa.array(masked(ints.tolist(), null), pa.int64()),
        "i64_wrap": pa.array(wrap, pa.int64()),
        "i64_dict": pa.array(masked((ints % 37).tolist(), null), pa.int64()),
        "i64_all_null_page": pa.array(masked(ints.tolist(), all_null), pa.int64()),
        "i32": pa.array(masked((ints % 1000).tolist(), null), pa.int32()),
        "f64": pa.array(masked(rng.normal(size=n).tolist(), null), pa.float64()),
        "flag": pa.array(masked((rng.random(n) < 0.3).tolist(), null), pa.bool_()),
        "s_all_null_page": pa.array(masked(text, all_null), pa.string()),
        "s_text": pa.array(masked(text, null), pa.string()),
        "s_dict": pa.array(masked([str(rng.choice(words)) for _ in range(n)], null),
                           pa.string()),
        "s_dba": pa.array(masked(urls, null), pa.string()),
        "s_fsst": pa.array(masked(text, null), pa.string()),
        "blob": pa.array(blobs, pa.binary()),
        "li64": pa.array(lint, pa.list_(pa.int64())),
        "lstr": pa.array(lstr, pa.list_(pa.string())),
    })


def edge_table(page_compression) -> pa.Table:
    batch = edge_batch()
    cols = batch.schema.names
    ptypes = {c: arrow_type_to_ptype(batch.schema.field(c).type) for c in cols}
    return pa.Table.from_batches([
        _encode_arrow_batch(batch, cols, ptypes, _codec_of(EDGE_CODECS), 0, 0,
                            EDGE_PAGE_ROWS, PAGE_BYTES, page_compression, False)
    ])


@pytest.mark.parametrize("name,page_compression", list(PINNED_ROWS))
def test_page_row_digest(name, page_compression, tmp_path):
    path, with_bloom = source(name, tmp_path)
    got = _digest_rows(page_table(path, page_compression, with_bloom))
    assert got == PINNED_ROWS[(name, page_compression)]


@pytest.mark.parametrize("page_compression", list(PINNED_EDGES))
def test_page_edge_digest(page_compression):
    assert _digest_rows(edge_table(page_compression)) == PINNED_EDGES[page_compression]


def test_page_edges_are_on_the_edges():
    # the layouts the edge pin is meant to hold are really in its table
    tbl = edge_table(None).to_pylist()
    data = {}
    for r in tbl:
        if r["page"] >= 0:
            data.setdefault(r["column"], []).append(r)
    assert any(r["n_rows"] == 1 for r in data["blob"])
    assert any(r["null_count"] == r["n_rows"] for r in data["i64_all_null_page"])
    assert any(r["null_count"] == r["n_rows"] for r in data["s_all_null_page"])
    for col, codec in EDGE_CODECS.items():
        assert len(data[col]) >= 10 and codec in {r["codec"] for r in data[col]}, col
    assert len(data["lstr"]) >= 10 and len(data["flag"]) >= 10
